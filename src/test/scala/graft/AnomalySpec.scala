package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Anomaly

/** Count-anomaly semantics on hand-built streams: the cross-multiplied
  * z-test against hand-computed S/Q, direction signs, the
  * single-bucket-never-anomalous rule, and absence of missing buckets.
  */
class AnomalySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ev(rows: Seq[(String, String, Int)]) = {
    import spark.implicits._
    rows.flatMap { case (k, day, n) => Seq.fill(n)((k, s"$day 12:00:00")) }
      .toDF("event_type", "t")
      .select(col("event_type"), to_timestamp(col("t")).as("ts"))
  }

  test("spike flagged at 2 sigma, steady days not; uniform key never flags") {
    // key a: nine days of 10 then one day of 100 — n=10, S=190, Q=10900;
    // spike: (10·100−190)² = 656100 > 4·(10·10900−190²) = 291600 ✓
    // steady: (10·10−190)² = 8100 < 291600 ✗
    val days = (1 to 9).map(i => ("a", f"2024-01-$i%02d", 10)) :+ ("a", "2024-01-10", 100)
    val uniform = (1 to 10).map(i => ("b", f"2024-01-$i%02d", 7))
    val got = Anomaly.countAnomalies(ev(days ++ uniform),
        col("event_type"), col("ts"), "day", k = 2)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString.take(10)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got.size === 20) // no densification: only observed buckets appear
    assert(got(("a", "2024-01-10")) === ((100L, 1L, true)))
    assert((1 to 9).forall(i => got(("a", f"2024-01-$i%02d")) === ((10L, -1L, false))))
    assert(got.filter(_._1._1 == "b").values.forall { case (c, d, f) =>
      c == 7L && d == 0L && !f })
  }

  test("dip direction is -1 and can flag; single-bucket key never anomalous") {
    // key a: nine days of 100 then one day of 10 — the mirrored dip flags
    val days = (1 to 9).map(i => ("a", f"2024-01-$i%02d", 100)) :+ ("a", "2024-01-10", 10)
    val got = Anomaly.countAnomalies(ev(days :+ ("solo", "2024-01-01", 50)),
        col("event_type"), col("ts"), "day", k = 2)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString.take(10)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got(("a", "2024-01-10")) === ((10L, -1L, true)))
    assert(got(("solo", "2024-01-01")) === ((50L, 0L, false)))
  }

  test("continuous count sink == batch alarm at any batching, across fold boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_anomaly_reg"
    new scala.reflect.io.Directory(new java.io.File(regPath)).deleteRecursively()
    val shape = ((1 to 9).map(i => ("a", f"2024-01-$i%02d", 10)) :+ ("a", "2024-01-10", 100)) ++
      (1 to 10).map(i => ("b", f"2024-01-$i%02d", 7))
    val rows = shape.flatMap { case (k, d, n) => Seq.fill(n)((k, s"$d 12:00:00")) }
    val stream = MemoryStream[(String, String)]
    val leaks = SparkTestSession.leakCheck()
    // (job group, job description) of every job started while it runs
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(ev.properties).foreach(p => jobs.add(
          (p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description"))))
    }
    spark.sparkContext.addSparkListener(listener)
    val q = graft.streaming.StreamingPipelines.countSink(
        stream.toDF().toDF("event_type", "t")
          .select(col("event_type"), to_timestamp(col("t")).as("ts")),
        regPath, compactEvery = 2)
      .start()
    // 7 uneven chunks: days straddle batches, so per-(key, bucket) partial
    // counts land in MULTIPLE dirs and the sum-fold is actually exercised;
    // compactEvery=2 forces fold boundaries mid-stream
    rows.grouped(math.max(1, rows.size / 7)).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    leaks.assertNoLeak("countSink")
    SparkTestSession.drainListeners()
    spark.sparkContext.removeSparkListener(listener)
    // jobs per micro-batch: the stream runs every batch in the query's
    // runId job group, with "batch = <id>" in the job description. A plain
    // batch runs 2 jobs; batches 2, 4 and 6 also fold the two dirs below
    // them (compactEvery = 2). The counts are pinned: the sink's scaffold
    // must add no job to the hot path.
    import scala.jdk.CollectionConverters._
    val batchOf = "batch = (\\d+)".r
    val perBatch = jobs.asScala.toSeq
      .collect { case (g, d) if g == q.runId.toString && d != null => d }
      .flatMap(d => batchOf.findFirstMatchIn(d).map(_.group(1).toInt))
      .groupBy(identity).toSeq.sortBy(_._1).map(_._2.size)
    assert(perBatch === Seq(2, 2, 5, 2, 5, 2, 5, 2))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getTimestamp(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val got = keyed(graft.streaming.StreamingPipelines
      .currentCountAnomalies(spark, regPath, k = 2))
    val want = keyed(Anomaly.countAnomalies(ev(shape),
      col("event_type"), col("ts"), "day", k = 2))
    assert(got === want && got.size === 20)
    assert(got(("a", "2024-01-10 00:00:00.0")) === ((100L, 1L, true)))
  }

  test("topMovers: largest |delta| first, ties by bucket, first bucket excluded, k-cut") {
    val e = ev(Seq(("a", "2024-01-01", 10), ("a", "2024-01-02", 12),
      ("a", "2024-01-03", 30), ("a", "2024-01-04", 29),
      ("t", "2024-01-01", 10), ("t", "2024-01-02", 12), ("t", "2024-01-03", 10)))
    val counts = Anomaly.bucketCounts(e, col("event_type"), col("ts"), "day")
    val got = Anomaly.topMovers(counts, topN = 2)
      .collect().map(r => (r.getString(0), r.getLong(5)) ->
        (r.getTimestamp(1).toString.take(10), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(("a", 1L)) === (("2024-01-03", 30L, 12L, 18L)))
    assert(got(("a", 2L)) === (("2024-01-02", 12L, 10L, 2L))) // day4's -1 cut by topN
    // |+2| == |-2|: earlier bucket wins the tie
    assert(got(("t", 1L)) === (("2024-01-02", 12L, 10L, 2L)))
    assert(got(("t", 2L)) === (("2024-01-03", 10L, 12L, -2L)))
    assert(got.size === 4) // day-1 rows (no predecessor) never appear
  }

  test("rollup identity: day counts re-trunc'd to month == counting at month directly") {
    val rows = Seq(("a", "2024-01-05", 3), ("a", "2024-01-25", 4), ("a", "2024-02-02", 5),
      ("b", "2024-01-05", 2), ("b", "2024-03-09", 6))
    val e = ev(rows)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getTimestamp(1).toString) -> r.getLong(2)).toMap
    val rolled = keyed(Anomaly.rollupCounts(
      Anomaly.bucketCounts(e, col("event_type"), col("ts"), "day"), "month"))
    val direct = keyed(Anomaly.bucketCounts(e, col("event_type"), col("ts"), "month"))
    assert(rolled === direct && rolled(("a", "2024-01-01 00:00:00.0")) === 7L)
  }

  test("k raises the bar: the 2-sigma spike survives k=3 here but a mild bump does not") {
    // mild bump: nine days of 10, one day of 19 — flags at k=2?
    // (10·19−190)=0 ... make it asymmetric: 9 days of 10, one of 20:
    // S=110, Q=1300, n=10; spike: (200−110)²=8100 vs k²(13000−12100)=900k²
    // k=2: 8100 > 3600 ✓ flagged; k=3: 8100 ≤ 8100 ✗ (strict >)
    val days = (1 to 9).map(i => ("a", f"2024-01-$i%02d", 10)) :+ ("a", "2024-01-10", 20)
    def flags(k: Int) = Anomaly.countAnomalies(ev(days),
        col("event_type"), col("ts"), "day", k)
      .filter(col("is_anomaly")).count()
    assert(flags(2) === 1L)
    assert(flags(3) === 0L) // exactly-3-sigma is NOT anomalous: strict inequality
  }
}
