package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Skew mitigation for hot-key aggregations and joins.
  *
  * AQE's skew-join splitting (on in GraftSession) handles join skew at
  * runtime; `saltedAggregate` is the explicit two-phase pattern for
  * aggregations whose key distribution is pathological (one key >> the
  * rest): phase 1 aggregates on (key, salt) spreading a hot key over
  * `buckets` partitions, phase 2 merges the partials. Correct for any
  * algebraic aggregate (sum/count/min/max); asserted ≡ direct groupBy in
  * SkewSpec.
  */
object SkewOps {

  /** Aggregation spec: phase-1 partial expression (a ready Column — it
    * aggregates the INPUT columns it closed over) and phase-2 merge (a
    * function of the phase-1 result column). The partial used to take a
    * Column argument that every constructor ignored and the call site
    * fed the OUTPUT name — a trap for custom Aggs, which would resolve
    * the wrong column or fail. */
  final case class Agg(partial: Column, merge: Column => Column, name: String)

  object Agg {
    def sumOf(c: Column, name: String): Agg = Agg(sum(c), sum(_), name)
    def countAll(name: String): Agg = Agg(count(lit(1)), sum(_), name)
    def minOf(c: Column, name: String): Agg = Agg(min(c), min(_), name)
    def maxOf(c: Column, name: String): Agg = Agg(max(c), max(_), name)
  }

  /** Salted inner equi-join for hot-key joins where the build side is too
    * large to broadcast and a few probe keys dominate: the probe side gets
    * a salt in [0, buckets), the build side is replicated `buckets`× via
    * explode, and the join key becomes (key, salt) — a hot key's rows
    * spread over `buckets` reducers instead of one straggler task. The
    * salt value itself never affects the output (every build row exists
    * under every salt), so the result is row-identical to the plain join
    * (asserted in SkewSpec and hash-matched vs DuckDB in
    * skew_salted_join). Cost = buckets× replication of the build side —
    * size `buckets` to the observed skew, not the cluster. AQE's runtime
    * skew splitting (on by default in GraftSession) is the first line of
    * defense; this is the explicit rewrite for when a single key exceeds
    * what one task can hold. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String, buckets: Int = 16): DataFrame = {
    val saltedProbe = probe.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets - 1L))))
    saltedProbe.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** INPUT-SPLIT skew fix (round-15): an unsplittable under-parallel
    * scan — one gzip file, or a single-row-group parquet like the test
    * SFs — plans as ONE task, and every per-row-CPU stage fused above
    * it (media encode/decode, hashing) runs on one core while 31 idle;
    * a persisted single-partition frame also serializes every consumer
    * on its one block's lock (t_curate_media3: 24 executor threads parked
    * in lockForReading). Hash-repartition on `key` (deterministic, so
    * task retries land rows identically — never a rand-derived key) up
    * to the session's default parallelism, ONLY when the frame is
    * under-split: on a real many-split corpus no exchange is added. Apply
    * to frames whose downstream per-row work dwarfs one row's shuffle
    * bytes (fixture id columns, small profile frames) — not to wide fact
    * scans feeding plain column-strip aggregation. Deciding runs no job:
    * `df.rdd.getNumPartitions` would, under AQE, execute every exchange
    * already in the frame and throw the shuffle away. */
  def spreadScan(df: DataFrame, key: String): DataFrame =
    if (df.isStreaming) df // a streaming frame has no partition count yet
    else spreadScan(df, key, factor = 1, df.queryExecution.executedPlan match {
      // AQE wraps exactly the plans that hold or need an exchange
      case a: AdaptiveSparkPlanExec => a.inputPlan.outputPartitioning.numPartitions
      case p => p.execute().getNumPartitions // builds the RDD, no job
    })

  /** As above, for a frame whose partition count the caller knows (the
    * Tables loaders memoize each scan's): spread only below 1/`factor` of
    * the parallelism. The whole-row loaders pass factor=4, so a scan that
    * planned a reasonable width (the 32-row-group replica fixtures) is not
    * paid a full-table shuffle for the last 2-4×: at sf3 q1 ran 4-26 s/loop
    * spread unconditionally vs ~2 s scanning 21-way. */
  def spreadScan(df: DataFrame, key: String, factor: Int, partitions: Int): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (partitions * factor < want) df.repartition(want, col(key)) else df
  }

  /** Two-phase salted aggregation over `keys`. */
  def saltedAggregate(df: DataFrame, keys: Seq[String], aggs: Seq[Agg], buckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(aggs.head.partial.as(s"p_${aggs.head.name}"),
        aggs.tail.map(a => a.partial.as(s"p_${a.name}")): _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(aggs.head.merge(col(s"p_${aggs.head.name}")).as(aggs.head.name),
        aggs.tail.map(a => a.merge(col(s"p_${a.name}")).as(a.name)): _*)
  }
}
