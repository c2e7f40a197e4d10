package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.TextFunctions.tokensFused
import graft.operators.Search

/** Continuously-maintained full-text index over a document stream, on
  * the registry protocol (exactly-once per batch dir, bounded reads via
  * LSM-style fold compaction — the same machinery as the IVF ANN index
  * sink, streaming/StreamingPipelines.scala ivfIndexSink).
  *
  * Each micro-batch tokenizes its documents MAP-SIDE into one row per
  * doc: (doc_id, posts: array<(term, tf)>, __b). A re-ingested doc_id
  * supersedes its earlier row ENTIRELY — per-doc last-write-wins, not
  * per-(term, doc): a revised document that dropped a term must stop
  * matching that term, which per-term upserts would get wrong. The fold
  * is argmax of (__b, posts) per doc — associative (max of max), so
  * re-folding a snapshot with later dirs is exact, and read-time and
  * fold-time dedup share one function and cannot drift.
  *
  * Serve-time scoring explodes the live doc rows into postings and runs
  * the SAME scoreTopK kernel as batch [[graft.operators.Search]] — the
  * spec proves stream-served results ≡ searchTopK over the equivalent
  * batch corpus, including across re-ingests and fold boundaries.
  *
  * Scale: per-batch work is one tokenize + doc-keyed partial agg of
  * the BATCH (never the accumulated corpus); registry state is one row
  * per live doc (it IS the index); reads touch the snapshot +
  * ≤ compactEvery-ish recent dirs. */
object SearchStream {

  private def table(registryPath: String) = s"$registryPath/docposts"

  /** Tokenized per-doc postings rows for one batch: (doc, term)-keyed
    * partial-agged count, collapsed to one SORTED array per doc (sorted
    * so the row is deterministic and argmax-comparable — MapType is not
    * orderable). NULL text ⇒ empty posts array (the doc is live but
    * matches nothing — distinct from absent). */
  private def docPosts(batch: DataFrame): DataFrame =
    batch
      .select(col("doc_id"),
        explode_outer(tokensFused(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        when(col("term").isNotNull, struct(col("term"), col("tf"))))).as("posts"))

  /** Newest doc row per doc_id: argmax (__b, posts) — associative. */
  private def latestDocs(df: DataFrame): DataFrame =
    df.groupBy(col("doc_id"))
      .agg(max(struct(col("__b"), col("posts"))).as("m"))
      .select(col("doc_id"), col("m").getField("posts").as("posts"),
        col("m").getField("__b").as("__b"))

  /** The continuous index sink. Re-delivered batches overwrite their own
    * dir (exactly-once); compaction folds superseded doc rows away. */
  def searchIndexSink(docs: DataFrame, registryPath: String,
      compactEvery: Int = 16): DataStreamWriter[Row] =
    Registry.sink(docs, compactEvery, Registry.Group(registryPath,
        Seq(table(registryPath)), Map(table(registryPath) -> (latestDocs _)))) {
      (batch, batchId) =>
        Seq(table(registryPath) -> docPosts(batch).withColumn("__b", lit(batchId)))
    }

  /** The live postings: snapshot + committed dirs, collapsed to the
    * newest row per doc, exploded to (term, doc_id, tf). */
  def currentPostings(spark: SparkSession, registryPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    val post = StructType(Seq(StructField("term", StringType), StructField("tf", LongType)))
    latestDocs(Registry.read(spark, registryPath, table(registryPath), StructType(Seq(
        StructField("doc_id", LongType), StructField("posts", ArrayType(post)),
        StructField("__b", LongType)))))
      .select(col("doc_id"), explode(col("posts")).as("p"))
      .select(col("p.term").as("term"), col("doc_id"),
        col("p.tf").cast("long").as("tf"))
  }

  /** Serve a disjunctive top-k search from the live index: candidate
    * postings filtered to the query terms, df aggregated from those
    * same candidates — the exact batch kernel, no corpus scalar. */
  def currentTopK(spark: SparkSession, registryPath: String,
      query: Seq[String], k: Int = 10): DataFrame = {
    val terms = Search.queryTerms(query)
    // persisted (cache-registry-tracked) like batch searchTopK's tf: the
    // frame feeds BOTH the scoring side and the df agg — unpersisted,
    // every query would read the registry and re-run the argmax dedup
    // twice
    val tf = graft.operators.Dedup.track(currentPostings(spark, registryPath)
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf"))
      .persist())
    Search.scoreTopK(tf, tf.groupBy(col("term")).agg(count(lit(1)).as("df")), k)
  }
}
