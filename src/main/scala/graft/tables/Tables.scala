package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-provided parquet testdata (TESTDATA.md).
  *
  * All engine pipelines are functions of these DataFrames; at cluster scale
  * the same loaders would point at a distributed store — the parquet reader
  * already gives vectorized scans, predicate pushdown and column pruning.
  */
object Tables {
  /** Each table's inferred schema (a footer-reading job, ~80 ms even for
    * nation) and scan split count (~35 ms of planning), resolved once per
    * path, file length and modification time, and the settings that change
    * inference or splitting. Every load still builds a fresh relation: one
    * DataFrame shared by two loads would trip the ambiguous self-join check. */
  private val resolved = scala.collection.concurrent.TrieMap.empty[Seq[Any], (StructType, Int)]
  private val keyConfs = Seq("legacy.parquet.nanosAsLong", "parquet.inferTimestampNTZ.enabled",
    "parquet.binaryAsString", "parquet.int96AsTimestamp", "parquet.mergeSchema",
    "files.maxPartitionBytes", "files.openCostInBytes", "files.minPartitionNum",
    "files.maxPartitionNum", "leafNodeDefaultParallelism").map("spark.sql." + _)

  private def read(spark: SparkSession, sfDir: String, name: String): (DataFrame, Int) = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(path).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    val (schema, splits) = resolved.getOrElseUpdate(Seq(fs.makeQualified(path), files,
        keyConfs.map(spark.conf.getOption), spark.sparkContext.defaultParallelism), {
      val inferred = spark.read.parquet(path.toString).schema
      (inferred, spark.read.schema(inferred).parquet(path.toString).rdd.getNumPartitions)
    })
    (spark.read.schema(schema).parquet(path.toString), splits)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = read(spark, sfDir, name)._1

  /** FACT/corpus loaders spread an under-split scan (round-15): the test
    * SFs are single-row-group parquet files, so every scan above them
    * planned as ONE task and the per-row work of whole pipelines
    * (decimal aggregation, tokenize/hash, codec passes) ran on one core
    * of local[32] — guide §2.5's unsplittable-input skew. SkewOps.
    * spreadScan hash-repartitions on the table's dominant join/group
    * key ONLY when the scan has fewer partitions than the session's
    * parallelism: at cluster scale (thousands of splits) it is a no-op,
    * and locally the deterministic key (never rand — retry-safe) means
    * joins/aggregations keyed the same way reuse the exchange instead
    * of adding one. Dimension tables stay unspread (they broadcast). */
  private def spread(spark: SparkSession, sfDir: String, name: String, key: String,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val (df, splits) = read(spark, sfDir, name)
    graft.operators.SkewOps.spreadScan(prepare(df), key, factor = 4, splits)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = spread(s, d, "orders", "o_orderkey")
  def lineitem(s: SparkSession, d: String): DataFrame   = spread(s, d, "lineitem", "l_orderkey")
  /** events.parquet stores `ts` as TIMESTAMP(NANOS), which Spark's parquet
    * reader only accepts as a long (spark.sql.legacy.parquet.nanosAsLong=true,
    * set by GraftSession). Normalize to TimestampType (µs, truncating ns) so
    * every pipeline sees a plain event-time column.
    */
  def events(s: SparkSession, d: String): DataFrame =
    spread(s, d, "events", "event_id", normalizeEvents)

  /** ns-long `ts` -> TimestampType (µs, truncating). Shared by the batch
    * loader and streaming file sources (which must read the raw schema).
    * `div` (integer division), NOT `/`: epoch-ns longs exceed double's
    * 53-bit mantissa, and `(ts / 1000).cast("long")` routes through double
    * division — measured 12.3% of real testdata rows land 1µs off the
    * exact truncation (and off DuckDB's exact ns->µs date_trunc). */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // a session without GraftSession's inferTimestampNTZ=false reads the
      // µs isAdjustedToUTC=false generation as TIMESTAMP_NTZ; the cast is
      // value-preserving under the UTC session timezone
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame  = spread(s, d, "documents", "doc_id")
  def embeddings(s: SparkSession, d: String): DataFrame = spread(s, d, "embeddings", "vec_id")
}
