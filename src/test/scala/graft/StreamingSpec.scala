package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StatefulOps, StreamingPipelines}
import graft.tables.Tables

/** Stream ≡ batch: every stateful streaming operator must reproduce its
  * batch formulation (SURVEY §7.1) when fed the same rows in event-time
  * order across two micro-batches (cross-batch state exercised).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  import StatefulOps.UserEvent
  case class TrafficEvent(user_id: Long, event_type: String, ts: Timestamp, value: Double, event_id: Long)

  private lazy val eventRows: Seq[TrafficEvent] = {
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("value"), col("event_id"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => TrafficEvent(r.getLong(0), r.getString(1), r.getTimestamp(2), r.getDouble(3), r.getLong(4)))
      .toSeq
  }

  /** Run a streaming pipeline over the events fed as two ordered batches. */
  private def runTwoBatches(name: String)(pipeline: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TrafficEvent]
    val q = pipeline(stream.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val (h1, h2) = eventRows.splitAt(eventRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("dailyFirstVisits stream == batch distinct (user, day)") {
    val got = runTwoBatches("s_daily") { df =>
      StatefulOps.dailyFirstVisits(spark, df).toDF("user_id", "dt")
    }.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = Tables.events(spark, dir)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want)
  }

  test("dailyFirstVisits: late day older than the max is emitted exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[UserEvent]
    val q = StatefulOps.dailyFirstVisits(spark, stream.toDF())
      .toDF("user_id", "dt")
      .writeStream.format("memory").queryName("s_daily_ooo").outputMode("append").start()
    def ev(day: Int, id: Long) =
      UserEvent(1L, "view", Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), id)
    stream.addData(ev(5, 1)); q.processAllAvailable()      // Jan 5 first
    stream.addData(ev(3, 2)); q.processAllAvailable()      // LATE Jan 3
    stream.addData(ev(3, 3), ev(5, 4)); q.processAllAvailable() // repeats of both
    q.stop()
    val got = spark.table("s_daily_ooo").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.sorted === Seq((1L, "2024-01-03"), (1L, "2024-01-05")),
      s"got $got")
  }

  test("isNewRepair stream: is_new=1 exactly on each user's first date") {
    val got = runTwoBatches("s_isnew") { df =>
      StatefulOps.isNewRepair(spark, df).toDF("user_id", "event_id", "is_new")
    }
    val gotNew = got.filter(col("is_new") === 1).count()
    val want = Tables.events(spark, dir)
      .withColumn("dt", to_date(col("ts")))
      .withColumn("first_dt", min(col("dt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("dt") === col("first_dt")).count()
    assert(got.count() === eventRows.size.toLong)
    assert(gotNew === want)
  }

  test("backflowDays stream == batch lag-gap formulation") {
    val got = runTwoBatches("s_back") { df =>
      StatefulOps.backflowDays(spark, df).toDF("user_id", "dt", "is_back")
    }.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id")).orderBy(col("dt"))
    val want = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("dt")).distinct()
      .withColumn("prev", lag(col("dt"), 1).over(w))
      .select(col("user_id"), date_format(col("dt"), "yyyy-MM-dd"),
        when(datediff(col("dt"), col("prev")) > 7, 1).otherwise(0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got === want)
  }

  test("cross-batch disorder: isNewRepair lowers first-date; backflow neither regresses nor re-emits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(day: Int, id: Long) =
      UserEvent(1L, "view", java.sql.Timestamp.valueOf(f"2024-06-$day%02d 10:00:00"), id)
    // isNewRepair: a LATE earlier day must be labeled is_new=1 (it IS the
    // true first visit) — the old state kept the stale first and gave 0
    val s1 = MemoryStream[UserEvent]
    val q1 = StatefulOps.isNewRepair(spark, s1.toDF())
      .toDF("user_id", "event_id", "is_new")
      .writeStream.format("memory").queryName("s_isnew_ooo").outputMode("append").start()
    s1.addData(ev(5, 1)); q1.processAllAvailable()
    s1.addData(ev(3, 2)); q1.processAllAvailable() // late true-first day
    s1.addData(ev(3, 3)); q1.processAllAvailable() // repeat of the new first
    q1.stop()
    val nu = spark.table("s_isnew_ooo").collect()
      .map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(nu(2L) === 1 && nu(3L) === 1, s"late first-visit must be is_new=1: $nu")
    // backflow: a re-delivered day must not duplicate, and a late earlier
    // day must not regress the gap base into a spurious "return"
    val s2 = MemoryStream[UserEvent]
    val q2 = StatefulOps.backflowDays(spark, s2.toDF())
      .toDF("user_id", "dt", "is_back")
      .writeStream.format("memory").queryName("s_back_ooo").outputMode("append").start()
    s2.addData(ev(1, 10)); q2.processAllAvailable()
    s2.addData(ev(20, 11)); q2.processAllAvailable() // genuine 19-day return
    s2.addData(ev(20, 12)); q2.processAllAvailable() // re-delivery: no dup row
    s2.addData(ev(14, 13)); q2.processAllAvailable() // late older day: skipped
    s2.addData(ev(21, 14)); q2.processAllAvailable() // next day: NOT a return
    q2.stop()
    val back = spark.table("s_back_ooo").collect()
      .map(r => (r.getString(1), r.getInt(2))).toSeq.sorted
    assert(back === Seq(("2024-06-01", 0), ("2024-06-20", 1), ("2024-06-21", 0)),
      s"got $back")
  }

  test("trafficWindow stream matches batch except the still-open last window") {
    val got = runTwoBatches("s_window")(StreamingPipelines.trafficWindow)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    val want = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("pv_ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("pv_ct"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got.subsetOf(want))
    val missing = want -- got
    val maxStt = want.map(_._1).max
    assert(missing.forall(_._1 === maxStt), s"unexpected missing windows: ${missing.filter(_._1 != maxStt)}")
  }

  test("streaming session windows match batch for watermark-closed sessions") {
    val got = runTwoBatches("s_sess") { df =>
      df.withWatermark("ts", "2 seconds")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
          col("n_events"))
    }.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.subsetOf(want))
    // only sessions still open at the final watermark may be missing
    val missing = want -- got
    val maxStt = want.map(_._2).max.take(13) // the last hour bucket
    assert(missing.forall(_._2 >= maxStt), s"unexpectedly missing closed sessions: ${missing.take(3)}")
  }

  test("watermark drops late data (2s out-of-orderness bound, §2.9)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TrafficEvent]
    val q = StreamingPipelines.trafficWindow(stream.toDF())
      .writeStream.format("memory").queryName("s_late").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:05")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 11:00:00")
    val late = java.sql.Timestamp.valueOf("2024-06-01 10:00:07") // 1h late
    stream.addData(TrafficEvent(1, "view", t0, 1.0, 1)); q.processAllAvailable()
    stream.addData(TrafficEvent(1, "view", t1, 1.0, 2)); q.processAllAvailable() // watermark -> ~11:00
    stream.addData(TrafficEvent(1, "view", late, 1.0, 3)); q.processAllAvailable() // below watermark
    // one more on-time event so the 10:00 window has definitely been finalized
    stream.addData(TrafficEvent(1, "view", java.sql.Timestamp.valueOf("2024-06-01 12:00:00"), 1.0, 4))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("s_late").collect()
      .map(r => (r.getString(0), r.getLong(3))).toMap
    // the 10:00:00 window must contain ONLY the on-time event — the late
    // arrival was dropped, exactly the reference's no-allowed-lateness
    // behavior (SURVEY §2.9)
    assert(rows("2024-06-01 10:00:00") === 1L)
  }

  test("streaming upsert sink keeps the latest row per key across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = "/tmp/graft_test_upsert"
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    val stream = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.StreamingPipelines
      .upsertSink(stream.toDF().toDF("id", "payload", "version"), path, "id", "version")
      .start()
    stream.addData((1L, "a-v1", 1L), (2L, "b-v1", 1L)); q.processAllAvailable()
    stream.addData((1L, "a-v2", 2L), (3L, "c-v1", 1L)); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "a-v2", 2L), (2L, "b-v1", 1L), (3L, "c-v1", 1L)))
  }

  test("streaming upsert sink recovers the full table from a crash mid-swap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = "/tmp/graft_test_upsert_crash"
    for (p <- Seq(path, path + ".tmp"))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val s1 = MemoryStream[(Long, String, Long)]
    val q1 = graft.streaming.StreamingPipelines
      .upsertSink(s1.toDF().toDF("id", "payload", "version"), path, "id", "version")
      .start()
    s1.addData((1L, "a-v1", 1L), (2L, "b-v1", 1L)); q1.processAllAvailable()
    q1.stop()
    // simulate the crash window between delete(table) and rename(tmp):
    // the table is gone, the COMPLETE merged output sits in .tmp
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".tmp")))
    // the retry/next batch must promote the temp and keep EVERY old key
    val s2 = MemoryStream[(Long, String, Long)]
    val q2 = graft.streaming.StreamingPipelines
      .upsertSink(s2.toDF().toDF("id", "payload", "version"), path, "id", "version")
      .start()
    s2.addData((1L, "a-v2", 2L), (3L, "c-v1", 1L)); q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "a-v2", 2L), (2L, "b-v1", 1L), (3L, "c-v1", 1L)))
  }

  test("upsert crash recovery: marker-less complete temp promotes; mid-write debris rebuilds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

    // (a) complete temp WITHOUT _SUCCESS (marksuccessfuljobs=false
    // committers) + missing table -> promote, keep every earlier key
    val pa = "/tmp/graft_test_upsert_nosuccess"
    for (p <- Seq(pa, pa + ".tmp"))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val s1 = MemoryStream[(Long, String, Long)]
    val q1 = graft.streaming.StreamingPipelines
      .upsertSink(s1.toDF().toDF("id", "payload", "version"), pa, "id", "version")
      .start()
    s1.addData((1L, "a-v1", 1L), (2L, "b-v1", 1L)); q1.processAllAvailable()
    q1.stop()
    assert(fs.rename(new org.apache.hadoop.fs.Path(pa),
      new org.apache.hadoop.fs.Path(pa + ".tmp")))
    fs.delete(new org.apache.hadoop.fs.Path(pa + ".tmp", "_SUCCESS"), false)
    val s2 = MemoryStream[(Long, String, Long)]
    val q2 = graft.streaming.StreamingPipelines
      .upsertSink(s2.toDF().toDF("id", "payload", "version"), pa, "id", "version")
      .start()
    s2.addData((3L, "c-v1", 1L)); q2.processAllAvailable()
    q2.stop()
    val gotA = spark.read.parquet(pa).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(gotA === Set((1L, "a-v1", 1L), (2L, "b-v1", 1L), (3L, "c-v1", 1L)),
      "marker-less complete temp must be promoted, not dropped")

    // (b) FIRST-ever batch killed mid-temp-write (only _temporary staging
    // in tmp, no table) -> the retry clears the debris and builds from the
    // batch instead of wedging on an unrecoverable-state error
    val pb = "/tmp/graft_test_upsert_firstcrash"
    for (p <- Seq(pb, pb + ".tmp"))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val staging = new org.apache.hadoop.fs.Path(pb + ".tmp", "_temporary/0")
    fs.mkdirs(staging)
    val s3 = MemoryStream[(Long, String, Long)]
    val q3 = graft.streaming.StreamingPipelines
      .upsertSink(s3.toDF().toDF("id", "payload", "version"), pb, "id", "version")
      .start()
    s3.addData((7L, "x-v1", 1L)); q3.processAllAvailable()
    q3.stop()
    val gotB = spark.read.parquet(pb).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(gotB === Set((7L, "x-v1", 1L)),
      "first-batch mid-write debris must not wedge the stream")
  }

  test("stream-stream inner join with watermarks == batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = eventRows.filter(_.event_type == "purchase")
    val clicks = eventRows.filter(_.event_type == "click")
    val ls = MemoryStream[TrafficEvent]
    val rs = MemoryStream[TrafficEvent]
    val left = ls.toDF().select(col("user_id"), col("ts"), col("event_id"))
    val right = rs.toDF().select(col("user_id").as("r_user"),
      col("ts").as("r_ts"), col("event_id").as("r_event"))
    val cond = col("user_id") === col("r_user") &&
      col("r_ts") >= col("ts") - expr("INTERVAL 10 minutes") &&
      col("r_ts") <= col("ts") + expr("INTERVAL 10 minutes")
    val q = graft.streaming.StreamingPipelines
      .streamStreamJoin(left, "ts", right, "r_ts", cond)
      .select(col("event_id"), col("r_event"))
      .writeStream.format("memory").queryName("s_ssjoin").outputMode("append").start()
    val (l1, l2) = purchases.splitAt(purchases.size / 2)
    val (r1, r2) = clicks.splitAt(clicks.size / 2)
    ls.addData(l1); rs.addData(r1); q.processAllAvailable()
    ls.addData(l2); rs.addData(r2); q.processAllAvailable()
    q.stop()
    val got = spark.table("s_ssjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, dir)
    val bl = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val br = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_id").as("r_event"))
    val want = bl.join(br, cond).select(col("event_id"), col("r_event"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got === want)
  }

  test("stream-stream LEFT OUTER join with watermarks == batch left join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = eventRows.filter(_.event_type == "purchase")
    val clicks = eventRows.filter(_.event_type == "click")
    val ls = MemoryStream[TrafficEvent]
    val rs = MemoryStream[TrafficEvent]
    val left = ls.toDF().select(col("user_id"), col("ts"), col("event_id"))
    val right = rs.toDF().select(col("user_id").as("r_user"),
      col("ts").as("r_ts"), col("event_id").as("r_event"))
    val cond = col("user_id") === col("r_user") &&
      col("r_ts") >= col("ts") - expr("INTERVAL 10 minutes") &&
      col("r_ts") <= col("ts") + expr("INTERVAL 10 minutes")
    val q = graft.streaming.StreamingPipelines
      .streamStreamLeftJoin(left, "ts", right, "r_ts", cond)
      .select(col("event_id"), col("r_event"))
      .writeStream.format("memory").queryName("s_ssljoin").outputMode("append").start()
    val (l1, l2) = purchases.splitAt(purchases.size / 2)
    val (r1, r2) = clicks.splitAt(clicks.size / 2)
    ls.addData(l1); rs.addData(r1); q.processAllAvailable()
    ls.addData(l2); rs.addData(r2); q.processAllAvailable()
    // sentinel rows far past all data push both watermarks beyond every
    // join window, forcing the null-extended (no-match) rows to emit —
    // without this, unmatched left state near the end stays open and the
    // comparison would only be a subset check
    val flushTs = new Timestamp(eventRows.map(_.ts.getTime).max + 3600L * 1000)
    ls.addData(TrafficEvent(-1L, "purchase", flushTs, 0.0, -1L))
    rs.addData(TrafficEvent(-2L, "click", flushTs, 0.0, -2L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("s_ssljoin").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .filter(_._1 != -1L).toSet
    val ev = Tables.events(spark, dir)
    val bl = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val br = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_id").as("r_event"))
    val want = bl.join(br, cond, "left_outer").select(col("event_id"), col("r_event"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(want.exists(_._2.isEmpty), "batch oracle has no null-extended rows — test is vacuous")
    assert(got === want)
  }

  test("dedupFirstWithinWatermark keeps one row per (user, event_type)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TrafficEvent]
    val q = StatefulOps.dedupFirstWithinWatermark(stream.toDF())
      .writeStream.format("memory").queryName("s_dedup").outputMode("append").start()
    val (h1, h2) = eventRows.splitAt(eventRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    val got = spark.table("s_dedup")
    val wantKeys = Tables.events(spark, dir).select("user_id", "event_type").distinct().count()
    // dedup holds strictly within the watermark window; keys recur across
    // 30 days of event time, so re-emission after state expiry is correct —
    // assert coverage plus within-window dedup (fewer rows than input)
    assert(got.select("user_id", "event_type").distinct().count() === wantKeys)
    assert(got.count() >= wantKeys && got.count() < eventRows.size)
  }

  test("chunkDocs streams as a stateless transform: stream == batch chunks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val docRows = docs.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    // the operator is a pure per-row transform (tokenize + bounded
    // explode), so it applies directly to a streaming frame — no sink
    // machinery, no state, append mode
    val q = graft.operators.TextAnalysis
      .chunkDocs(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunks_stream")
      .outputMode("append").start()
    val (h1, h2) = docRows.splitAt(docRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    val got = spark.table("chunks_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val want = graft.operators.TextAnalysis.chunkDocs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(want.nonEmpty && got === want)
  }

  test("streaming decontamination sink == batch contaminationBloom gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outPath = "/tmp/graft_test_decontam_out"
    new scala.reflect.io.Directory(new java.io.File(outPath)).deleteRecursively()
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 23 === 0)
    val docRows = docs.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .decontaminationSink(stream.toDF().toDF("doc_id", "text"), bench, outPath)
      .start()
    val batches = docRows.grouped(math.max(1, docRows.size / 3)).toSeq
    batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    leaks.assertNoLeak("decontaminationSink")
    val got = spark.read.parquet(outPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch twin: same filter (rebuilt — deterministic), same keep rule
    val flagged = graft.operators.TextAnalysis.contaminationBloom(docs, bench)
      .filter(col("n_bf_grams") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = docRows.map(_._1).toSet -- flagged
    assert(flagged.nonEmpty, "benchmark self-matches — flagged set cannot be empty")
    assert(got === want)
  }

  test("CurateStream sink == batch Curate accounting over the corpus-so-far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_curatestream_reg"
    val outPath = "/tmp/graft_test_curatestream_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 23 === 0)
    val docRows = docs.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        graft.pipeline.Curate.Gates(benchmark = Some(bench), maxDup3Frac = 0.02))
      .start()
    val batches = docRows.grouped(math.max(1, docRows.size / 3)).toSeq
    batches.foreach { h => stream.addData(h); q.processAllAvailable() }
    q.stop()
    leaks.assertNoLeak("CurateStream.sink")
    // streaming accounting = union of per-batch labels
    val labeled = spark.read.parquet(outPath)
    val gotCounts = labeled.groupBy("drop_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotKept = labeled.filter(col("drop_reason") === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotTokens = labeled.filter(col("drop_reason") === "kept")
      .agg(sum("n_tokens")).first().getLong(0)
    // batch twin: the full Curate pipeline with the same gates
    val (curated, st) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(benchmark = Some(bench), maxDup3Frac = 0.02))
    val wantKept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st.exactDups > 0 || st.nearDups > 0, "no dups — dedup path vacuous")
    assert(st.contaminated > 0 && st.repetitive >= 0)
    assert(gotCounts.getOrElse("exact_dup", 0L) === st.exactDups)
    assert(gotCounts.getOrElse("near_dup", 0L) === st.nearDups)
    assert(gotCounts.getOrElse("contaminated", 0L) === st.contaminated)
    assert(gotCounts.getOrElse("repetitive", 0L) === st.repetitive)
    assert(gotCounts.getOrElse("low_quality", 0L) === st.lowQuality)
    assert(gotCounts.getOrElse("unknown_lang", 0L) === st.unknownLang)
    assert(gotCounts.getOrElse("kept", 0L) === st.kept)
    assert(gotKept === wantKept)
    assert(gotTokens === st.keptTokens)
  }

  test("CurateStream labeledView with no committed batch: 0 rows, the populated view's schema") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = SparkTestSession.scratch("curatestream_emptyview_reg")
    val outPath = SparkTestSession.scratch("curatestream_emptyview_out")
    // an in-flight batch dir (no _SUCCESS) does not count as committed
    new java.io.File(s"$outPath/batch=5").mkdirs()
    val empty = graft.streaming.CurateStream.labeledView(spark, outPath)
    assert(empty.count() === 0)
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath)
      .start()
    stream.addData((1L, "the cat sat on the mat and the dog ran"))
    q.processAllAvailable()
    q.stop()
    val populated = graft.streaming.CurateStream.labeledView(spark, outPath)
    assert(populated.count() === 1)
    assert(empty.schema === populated.schema)
  }

  test("CurateStream redactPii == batch Curate with the scrub; registries hold scrubbed state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_curatestream_pii_reg"
    val outPath = "/tmp/graft_test_curatestream_pii_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    // plant PII so the scrub changes fingerprints/shingles, and make two
    // docs exact duplicates ONLY after redaction (same text, different
    // leaked email) — the property that breaks if the scrub runs after
    // the registry writes instead of before
    val plain = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@x.io")))
          .otherwise(lit(""))).as("text"))
    // and markup-wrapped copies (shifted ids: they stream in the last
    // batch) that are exact dups of their originals only once stripHtml
    // has run before the registry writes — the same property for the
    // extraction pre-transform
    val docs = plain.unionByName(plain.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(lit("<div><script>var x = 1;</script><p>"), col("text"),
          lit("</p></div>")).as("text")))
    val docRows = docs.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        graft.pipeline.Curate.Gates(stripHtml = true, redactPii = true))
      .start()
    docRows.grouped(math.max(1, docRows.size / 3)).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    val labeled = spark.read.parquet(outPath)
    val gotCounts = labeled.groupBy("drop_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotKept = labeled.filter(col("drop_reason") === "kept")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val (curated, st) = graft.pipeline.Curate.runDocs(spark, docs,
        graft.pipeline.Curate.Gates(stripHtml = true, redactPii = true))
    val wantKept = curated.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    graft.pipeline.Curate.releaseCaches(spark)
    assert(gotCounts.getOrElse("exact_dup", 0L) === st.exactDups)
    assert(gotCounts.getOrElse("near_dup", 0L) === st.nearDups)
    assert(gotCounts.getOrElse("kept", 0L) === st.kept)
    assert(gotKept === wantKept)
    // the emitted corpus is scrubbed
    assert(gotKept.nonEmpty)
    assert(!gotKept.exists(_._2.contains("@x.io")))
    // every wrapped copy dedups against its (earlier-batch) original
    assert(labeled.filter(col("doc_id") >= 500000L && col("drop_reason") =!= "exact_dup")
      .count() === 0)
    // and the fingerprint registry holds scrubbed fingerprints: re-running
    // the scrub on the raw docs reproduces every registered fp
    val regFps = spark.read.parquet(s"$regPath/fps/batch=0").select("fp")
      .collect().map(_.getString(0)).toSet
    val scrubbedFps = graft.operators.TextAnalysis.redactPii(docs)
      .select(col("doc_id"), col("redacted").as("text"))
      .select(coalesce(graft.functions.TextFunctions.fingerprint(col("text")),
        lit("null:")).as("fp"))
      .collect().map(_.getString(0)).toSet
    assert(regFps.subsetOf(scrubbedFps))
    // the continuous corpus-health report over the sink's kept set equals
    // the batch profile of the same docs (pure composition)
    val pv = graft.streaming.CurateStream.profileView(spark, outPath).collect()(0)
    val want = graft.operators.TextAnalysis.profile(
      wantKept.toSeq.toDF("doc_id", "text")).collect()(0)
    graft.pipeline.Curate.releaseCaches(spark)
    assert(pv.toSeq === want.toSeq)
    assert(pv.getLong(pv.schema.fieldNames.indexOf("input")) === wantKept.size.toLong)
    // the continuous version stamp equals the batch stamp of the same
    // kept set (order-free digest => batching-independent)
    val vv = graft.streaming.CurateStream.versionView(spark, outPath).collect()(0)
    val vw = graft.operators.TextAnalysis.corpusVersion(
      wantKept.toSeq.toDF("doc_id", "text")).collect()(0)
    graft.pipeline.Curate.releaseCaches(spark)
    assert(vv.toSeq === vw.toSeq)
    assert(vv.getLong(0) === wantKept.size.toLong)
    // drift vs a frozen baseline equals the batch drift of the same kept set
    val baseline = docs.limit(50).select(col("doc_id"), col("text"))
    val dv = graft.streaming.CurateStream.driftView(spark, outPath, baseline, k = 10)
      .collect().map(_.toSeq).toSeq
    val dw = graft.operators.TextAnalysis.termDrift(baseline,
      wantKept.toSeq.toDF("doc_id", "text"), k = 10)
      .collect().map(_.toSeq).toSeq
    graft.pipeline.Curate.releaseCaches(spark)
    assert(dv === dw && dv.nonEmpty)
    // live labeler scorecard == batch metrics of langId RECOMPUTED on the
    // stored (scrubbed) kept text — proves both the composition and that
    // the sink's stored pred_lang is the langId of what it stored
    val gold = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val sv = graft.streaming.CurateStream.scorecardView(spark, outPath, gold)
      .collect().map(_.toSeq).toSet
    val repred = graft.operators.TextAnalysis.langId(
        spark.read.parquet(outPath).filter(col("drop_reason") === "kept")
          .select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("pred_lang"))
    val sw = graft.operators.Eval.classificationMetrics(
        repred.join(gold, Seq("doc_id")), col("pred_lang"), col("lang"))
      .collect().map(_.toSeq).toSet
    graft.pipeline.Curate.releaseCaches(spark)
    assert(sv === sw && sv.nonEmpty)
  }

  test("CurateStream gopher gate == batch Curate with the same rules") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_curatestream_goph_reg"
    val outPath = "/tmp/graft_test_curatestream_goph_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val gate = Some(graft.pipeline.Curate.GopherGate(minWords = 5, maxWords = 100,
      requiredStops = Seq("the", "of", "and", "to", "is", "a")))
    // pass docs, rule-failing docs (short / symbol-heavy), and a
    // later-batch exact dup of each kind — the rule gate must compose
    // with the cross-batch dedup registry
    val docRows: Seq[(Long, String)] = (0 until 4).flatMap { i =>
      Seq((10L + i, s"the barn cats and dogs w$i run with food near the gate today"),
        (20L + i, s"too short w$i"))
    } ++ Seq((30L, "the barn cats and dogs w0 run with food near the gate today"),
      (31L, "too short w1"),
      (32L, "the of and cat dog runs fine here now ### ### ### ### ###"))
    val docs = docRows.toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        graft.pipeline.Curate.Gates(minQuality = 0.0, gopher = gate))
      .start()
    docRows.sortBy(_._1).grouped(4).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    val labeled = graft.streaming.CurateStream.labeledView(spark, outPath)
    val gotLabels = labeled.select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (curated, st) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(minQuality = 0.0, gopher = gate))
    val wantKept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st.gopherDropped > 0 && st.exactDups > 0 && st.kept > 0,
      s"gate vacuous: $st")
    assert(gotLabels.size === docRows.size)
    assert(gotLabels.values.count(_ == "gopher_rules") === st.gopherDropped)
    assert(gotLabels.values.count(_ == "exact_dup") === st.exactDups)
    assert(gotLabels.values.count(_ == "kept") === st.kept)
    assert(gotLabels.filter(_._2 == "kept").keySet === wantKept)
  }

  test("CurateStream classifier gate == batch Curate with the same weights") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_curatestream_cls_reg"
    val outPath = "/tmp/graft_test_curatestream_cls_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val train = Seq(
      (1L, "good fine nice clean solid the and is", true),
      (2L, "bad ugly junk spam noise the and is", false)).toDF("doc_id", "text", "label")
    val w = graft.operators.Classify.trainTokenWeights(train, col("label"), buckets = 1024)
    val gate = Some(graft.pipeline.Curate.ClassifierGate(w, 1024))
    // 4 good + 4 bad docs, plus a later-batch exact dup of one of each —
    // the model gate must compose with the cross-batch dedup registry
    val docRows: Seq[(Long, String)] = (0 until 4).flatMap { i =>
      Seq((10L + i, s"good fine nice clean solid w$i the and is done"),
        (20L + i, s"bad ugly junk spam noise w$i the and is done"))
    } ++ Seq((30L, "good fine nice clean solid w0 the and is done"),
      (31L, "bad ugly junk spam noise w1 the and is done"))
    val docs = docRows.toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        graft.pipeline.Curate.Gates(minQuality = 0.0, classifier = gate))
      .start()
    docRows.sortBy(_._1).grouped(4).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    val labeled = graft.streaming.CurateStream.labeledView(spark, outPath)
    val gotLabels = labeled.select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (curated, st) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(minQuality = 0.0, classifier = gate))
    val wantKept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st.classifierDropped > 0 && st.exactDups > 0 && st.kept > 0,
      s"gate vacuous: $st")
    assert(gotLabels.size === docRows.size)
    assert(gotLabels.values.count(_ == "classifier") === st.classifierDropped)
    assert(gotLabels.values.count(_ == "exact_dup") === st.exactDups)
    assert(gotLabels.values.count(_ == "kept") === st.kept)
    assert(gotLabels.filter(_._2 == "kept").keySet === wantKept)
  }

  test("CurateStream LM fluency gate == batch Curate with the same model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_curatestream_lm_reg"
    val outPath = "/tmp/graft_test_curatestream_lm_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    // reference = fluent phrasing; fluent docs repeat its bigrams,
    // garbled docs share the tokens but scramble every context
    val ref = Seq((100L, "the cat sat on the mat and the dog ran to the cat"))
      .toDF("doc_id", "text")
    val model = graft.operators.TextAnalysis.trainLm(ref)
    val gate = Some(graft.pipeline.Curate.LmGate(model, 140000.0))
    val docRows: Seq[(Long, String)] = (0 until 4).flatMap { i =>
      Seq((10L + i, s"the cat sat on the mat w$i and the dog ran"),
        (20L + i, s"mat the ran cat w$i dog sat and on the to"))
    } ++ Seq((30L, "the cat sat on the mat w0 and the dog ran"), // exact dup
      (31L, "x")) // no bigram evidence: NULL average must PASS the gate
    val docs = docRows.toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        graft.pipeline.Curate.Gates(minQuality = 0.0, lm = gate))
      .start()
    docRows.sortBy(_._1).grouped(4).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    val labeled = graft.streaming.CurateStream.labeledView(spark, outPath)
    val gotLabels = labeled.select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (curated, st) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(minQuality = 0.0, lm = gate))
    val wantKept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st.lmDropped > 0 && st.exactDups > 0 && st.kept > 0, s"gate vacuous: $st")
    assert(gotLabels.size === docRows.size)
    assert(gotLabels.values.count(_ == "lm_fluency") === st.lmDropped)
    assert(gotLabels.values.count(_ == "exact_dup") === st.exactDups)
    assert(gotLabels.values.count(_ == "kept") === st.kept)
    assert(gotLabels.filter(_._2 == "kept").keySet === wantKept)
    // the zero-bigram doc passed the LM gate (landed kept or a later gate,
    // not lm_fluency)
    assert(gotLabels(31L) !== "lm_fluency")
  }

  test("CJK corpus through the full curate chain (cjk mode): dedup on bigrams, zh kept, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_curatestream_cjk_reg"
    val outPath = "/tmp/graft_test_curatestream_cjk_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val zhA = "我们可以一起去没有什么问题他们说这是一个很好的办法"
    val docRows: Seq[(Long, String)] = Seq(
      (1L, zhA), // kept, pred_lang zh (6 lexicon bigrams)
      (2L, zhA), // exact dup of 1 (fingerprint is script-agnostic)
      (3L, zhA + "呀"), // near dup: 21 of 22 CJK-bigram 3-shingles shared
      (4L, "他们没有什么可以说的今天天气很好我们都想出去走走"), // distinct zh, kept
      (5L, "the cat sat on the mat and the dog ran"), // latin control, kept
      (6L, "永")) // out-of-lexicon single char: und -> unknown_lang
    val docs = docRows.toDF("doc_id", "text")
    // batch chain, cjk mode
    val (curated, st) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(minQuality = 0.0, cjk = true))
    val keptBatch = curated.select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st.exactDups === 1L && st.nearDups === 1L && st.unknownLang === 1L
      && st.kept === 3L, s"accounting: $st")
    assert(keptBatch === Map(1L -> "zh", 4L -> "zh", 5L -> "en"))
    // the n-gram policies honor cjk mode too (review finding: they used
    // to re-tokenize latin-fused and silently miss every CJK near dup —
    // worst on the policy marketed as recall-lossless)
    val (_, stJ) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(minQuality = 0.0, cjk = true),
        nearDup = graft.pipeline.Curate.NearDupPolicy.ExactJaccard(3, 0.8))
    graft.pipeline.Curate.releaseCaches(spark)
    assert(stJ.nearDups === 1L && stJ.exactDups === 1L,
      s"ExactJaccard under cjk mode: $stJ")
    // CONTROL — without cjk the latin tokenizer strips CJK to nothing:
    // no shingles, so the near dup is MISSED (doc 3 survives); zh docs
    // still predict zh (containment evidence reads the raw text)
    val (curated0, st0) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(minQuality = 0.0, cjk = false))
    val kept0 = curated0.select("doc_id").collect().map(_.getLong(0)).toSet
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st0.nearDups === 0L && kept0.contains(3L),
      s"control: latin mode should miss the CJK near dup, got $st0")
    // streaming twin with the same flag, fed across 3 micro-batches
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        graft.pipeline.Curate.Gates(minQuality = 0.0, cjk = true))
      .start()
    docRows.sortBy(_._1).grouped(2).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    val gotLabels = graft.streaming.CurateStream.labeledView(spark, outPath)
      .select("doc_id", "drop_reason", "pred_lang").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(gotLabels.size === docRows.size)
    assert(gotLabels(2L)._1 === "exact_dup")
    assert(gotLabels(3L)._1 === "near_dup")
    assert(gotLabels(6L)._1 === "unknown_lang")
    assert(Seq(1L, 4L, 5L).forall(gotLabels(_)._1 === "kept"))
    assert(gotLabels(1L)._2 === "zh" && gotLabels(4L)._2 === "zh"
      && gotLabels(5L)._2 === "en")
  }

  test("cjk decontamination + LM gates read CJK evidence (inert in latin mode); stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tf = graft.functions.TextFunctions
    val regPath = SparkTestSession.scratch("curatestream_cjkgates_reg")
    val outPath = SparkTestSession.scratch("curatestream_cjkgates_out")
    // benchmark: an eval phrase whose CJK run (7 bigram tokens → four
    // 4-gram shingles) is embedded verbatim inside corpus doc 7
    val bench = Seq((900L, "机器学习模型训练")).toDF("doc_id", "text")
    val docRows: Seq[(Long, String)] = Seq(
      (7L, "我们使用机器学习模型训练数据完成任务"), // contaminated (shares the 4-grams)
      (9L, "我们可以一起去公园散步"), // fluent zh: every bigram pair seen in ref → kept
      (10L, "步散园公去起一以可们我"), // garbled zh (reversed): no pair seen → lm_fluency
      (11L, "the cat sat on the mat and the dog ran")) // latin, in-ref → kept
    val docs = docRows.toDF("doc_id", "text")
    // cjk-trained model (TokMode.bind-tagged reference — trainLm records
    // the mode, the cjk guard verifies it): zh and latin phrasing both
    // in-vocabulary. Exact integer scores at V=31: garbled ≈ 32258 (1e6
    // div 31 per unseen pair), fluent zh = 62500, latin ≈ 63571 —
    // threshold 50000 separates them with wide margins on both sides.
    val ref = Seq(
      (100L, "我们可以一起去公园散步他们说这是一个很好的办法"),
      (101L, "the cat sat on the mat and the dog ran to the mat"))
      .toDF("doc_id", "text")
    val model = graft.operators.TextAnalysis.trainLm(
      graft.functions.TokMode.bind(ref, cjk = true))
    val gate = Some(graft.pipeline.Curate.LmGate(model, 50000.0))
    // batch, cjk mode: both gates fire on CJK evidence
    val (_, st) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(minQuality = 0.0, benchmark = Some(bench), contaminationN = 4,
        lm = gate, cjk = true))
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st.contaminated === 1L && st.lmDropped === 1L && st.kept === 2L,
      s"cjk gates: $st")
    // CONTROL — latin mode, same corpus/benchmark: the benchmark strips
    // to zero grams, so the contamination gate is silently inert for the
    // CJK rows (the round-10 defect — doc 7 sails through). The lm side
    // of the old control is now IMPOSSIBLE to compose: the round-11 mode
    // guard refuses the cjk-trained model under the latin pipeline
    // (before, it passed silently and garbled doc 10 kept on a NULL
    // average) — pin the refusal instead.
    val eCtl = intercept[IllegalArgumentException] {
      graft.pipeline.Curate.runDocs(spark, docs, graft.pipeline.Curate.Gates(minQuality = 0.0,
          benchmark = Some(bench), contaminationN = 4, lm = gate, cjk = false))
    }
    assert(eCtl.getMessage.contains("does not match the pipeline mode 'latin'"))
    val (_, st0) = graft.pipeline.Curate.runDocs(spark, docs,
      graft.pipeline.Curate.Gates(minQuality = 0.0, benchmark = Some(bench), contaminationN = 4,
        cjk = false))
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st0.contaminated === 0L && st0.lmDropped === 0L,
      s"latin-mode control should be inert for CJK: $st0")
    // streaming twin, same flags, fed across micro-batches
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        graft.pipeline.Curate.Gates(benchmark = Some(bench), contaminationN = 4,
        minQuality = 0.0, lm = gate, cjk = true))
      .start()
    docRows.sortBy(_._1).grouped(2).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    val gotLabels = graft.streaming.CurateStream.labeledView(spark, outPath)
      .select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotLabels === Map(7L -> "contaminated", 9L -> "kept",
      10L -> "lm_fluency", 11L -> "kept"))
  }

  test("spanExcisionSink cjk == batch decontaminateSpans across micro-batches (character-offset excision)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outPath = SparkTestSession.scratch("spanexcision_out")
    // benchmark CJK run → bigrams 机器 器学 学习 习模 模型 → four 2-gram
    // shingles; docs 1 and 3 embed parts of the run (live excision),
    // doc 2 is clean CJK, doc 4 is latin-only (the mode's no-op side)
    val bench = Seq((900L, "机器学习模型")).toDF("doc_id", "text")
    val docRows: Seq[(Long, String)] = Seq(
      (1L, "AB 机器学习真好 cd!"),
      (2L, "Hello, 世界!"),
      (3L, "我们用机器学习模型做事"),
      (4L, "plain latin text only"))
    val docs = docRows.toDF("doc_id", "text")
    val want = graft.operators.TextAnalysis
      .decontaminateSpans(docs, bench, n = 2, cjk = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    graft.operators.Dedup.releaseCaches(spark)
    assert(want.exists(_._4 > 0), s"fixture must excise something: $want")
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines.spanExcisionSink(
        stream.toDF().toDF("doc_id", "text"), bench, outPath, n = 2, cjk = true)
      .start()
    // excision is per-doc against a static benchmark → batching-free
    docRows.grouped(2).foreach { h => stream.addData(h); q.processAllAvailable() }
    q.stop()
    leaks.assertNoLeak("spanExcisionSink")
    val got = spark.read.parquet(outPath)
      .select("doc_id", "text", "n_tokens", "n_removed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("CurateStream excise pre-transform == batch Curate (cjk character-offset excision across batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one arm per tokenization mode; in each, doc 7 embeds the benchmark
    // span mid-doc, doc 10 IS the benchmark, and doc 11 is in the other
    // script (untouched by the mode's excision)
    val arms: Seq[(Boolean, String, Seq[(Long, String)])] = Seq(
      (true, "机器学习模型训练", Seq(
        (7L, "我们使用机器学习模型训练数据完成任务"), // excised mid-doc, survivors keep
        (9L, "我们可以一起去公园散步"), // clean zh
        (10L, "机器学习模型训练"), // IS the benchmark → excises to empty
        (11L, "the cat sat on the mat and the dog ran"))), // latin, untouched
      (false, "the quick brown fox jumps over the lazy dog", Seq(
        (7L, "we fed it data and the quick brown fox jumps over the lazy dog then it was done"),
        (9L, "the cat and the dog went to the park for a walk"), // clean en
        (10L, "the quick brown fox jumps over the lazy dog"), // IS the benchmark
        (11L, "我们可以一起去公园散步")))) // zh, untouched
    for ((cjk, span, docRows) <- arms) {
      val arm = if (cjk) "" else "_latin"
      val regPath = SparkTestSession.scratch(s"curatestream_excise${arm}_reg")
      val outPath = SparkTestSession.scratch(s"curatestream_excise${arm}_out")
      val bench = Seq((900L, span)).toDF("doc_id", "text")
      val docs = docRows.toDF("doc_id", "text")
      val (curated, st) = graft.pipeline.Curate.runDocs(spark, docs,
        graft.pipeline.Curate.Gates(minQuality = 0.0, excise = Some(bench), cjk = cjk))
      val wantKept = curated.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      graft.pipeline.Curate.releaseCaches(spark)
      // live excision: doc 7's leaked span is gone but the doc SURVIVES
      // (the surgical point), doc 10 empties and drops
      assert(wantKept.contains(7L) && !wantKept(7L).contains(span),
        s"kept: $wantKept")
      assert(!wantKept.contains(10L), s"emptied doc must not keep: $st")
      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.CurateStream.sink(
          stream.toDF().toDF("doc_id", "text"), regPath, outPath,
          graft.pipeline.Curate.Gates(minQuality = 0.0, excise = Some(bench), cjk = cjk))
        .start()
      docRows.sortBy(_._1).grouped(2).foreach { h =>
        stream.addData(h); q.processAllAvailable()
      }
      q.stop()
      val labeled = graft.streaming.CurateStream.labeledView(spark, outPath)
        .select("doc_id", "drop_reason", "text").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
      assert(labeled.size === docRows.size)
      assert(labeled.filter(_._2._1 == "kept").view.mapValues(_._2).toMap === wantKept)
      assert(labeled.values.count(_._1 == "kept") === st.kept)
    }
  }

  test("frozen lm-bucket sink == batch lmBucketsFrozen across fold boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val T = graft.operators.TextAnalysis
    val outPath = "/tmp/graft_test_lmbucket_out"
    new scala.reflect.io.Directory(new java.io.File(outPath)).deleteRecursively()
    val ref = Seq((100L, "the cat sat on the mat and the dog ran to the cat"))
      .toDF("doc_id", "text")
    val model = T.trainLm(ref)
    // fluent docs (reference bigrams), garbled docs (scrambled contexts),
    // and a zero-bigram doc whose NULL floor must label 'none'
    val docRows: Seq[(Long, String)] = (0 until 6).flatMap { i =>
      Seq((10L + i, s"the cat sat on the mat w$i and the dog ran"),
        (30L + i, s"mat the ran cat w$i dog sat and on the to"))
    } ++ Seq(
      // pure reference phrasing (no novel token): highest floors -> head
      (50L, "the cat sat on the mat and the dog ran to the cat"),
      (51L, "the dog ran to the cat sat on the mat"),
      (90L, "x"))
    val docs = docRows.toDF("doc_id", "text")
    // the operator's own freeze protocol: exact corpus tertiles from a
    // batch profile of the reference corpus (here: the same corpus)
    val scored = T.scoreLm(docs, model)
      .withColumn("lm_floor", when(col("n_bigrams") > 0,
        org.apache.spark.sql.functions.expr("sum_micro div n_bigrams")))
    val thr = graft.operators.Sampling.boundedIntQuantiles(
      scored, col("lm_floor"), Seq((1, 3), (2, 3))).collect()(0)
    val (t0, t1) = (thr.getLong(1), thr.getLong(2))
    graft.operators.Dedup.releaseCaches(spark)
    // feed in 5 micro-batches with compactEvery=2: the view must cross
    // at least one registry fold boundary while staying label-identical
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.CurateStream.lmBucketSink(
        stream.toDF().toDF("doc_id", "text"), model, t0, t1, outPath,
        compactEvery = 2)
      .start()
    docRows.sortBy(_._1).grouped(3).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    leaks.assertNoLeak("lmBucketSink")
    val got = graft.streaming.CurateStream.lmBucketView(spark, outPath)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val want = T.lmBucketsFrozen(T.scoreLm(docs, model), t0, t1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    graft.operators.Dedup.releaseCaches(spark)
    assert(got.size === docRows.size)
    assert(got === want)
    // the fixture is non-vacuous: every label class is live
    assert(Set("tail", "middle", "head", "none").subsetOf(got.values.toSet),
      s"labels seen: ${got.values.toSet}")
    // a fold actually happened (a snapshot=<W> dir exists), so the label
    // parity above crossed at least one compaction boundary
    assert(new java.io.File(outPath).listFiles()
      .exists(_.getName.startsWith("snapshot=")),
      "expected a compaction fold under compactEvery=2")
  }

  test("incremental minhash-LSH sink == batch drop-doc_b formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_minhash_reg"
    val outPath = "/tmp/graft_test_minhash_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    // the corpus plus near-dup variants spread across batches, so pairs
    // exist BOTH within a batch and across the registry boundary
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val variants = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val corpus = docs.unionByName(variants)
    val docRows = corpus.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .minhashDedupSink(stream.toDF().toDF("doc_id", "text"), regPath, outPath)
      .start()
    val (h1, h2) = docRows.splitAt(docRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("minhashDedupSink")
    val got = spark.read.parquet(outPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val losers = graft.operators.Dedup.minhashLshPairs(corpus)
      .select(col("doc_b")).distinct().collect().map(_.getLong(0)).toSet
    graft.operators.Dedup.releaseCaches(spark)
    val want = docRows.map(_._1).toSet -- losers
    assert(losers.nonEmpty, "no minhash pairs — test is vacuous")
    // losers must exist on both sides of the batch split for the test to
    // exercise the registry path
    assert(losers.exists(_ >= 100000L), "no cross/variant losers")
    assert(got === want)
  }

  test("incremental image-dedup sink == batch drop-doc_b formulation (real ImageIO decode per batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_imgdedup_reg"
    val outPath = "/tmp/graft_test_imgdedup_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    // the deterministic PNG fixture, materialized so the stream feeds the
    // same bytes the batch formulation hashes
    val imgRows = graft.operators.Images
      .synthesize(spark, Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val stream = MemoryStream[(Long, Array[Byte])]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .imageDedupSink(stream.toDF().toDF("doc_id", "img"), regPath, outPath)
      .start()
    val (h1, h2) = imgRows.splitAt(imgRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("imageDedupSink")
    val got = spark.read.parquet(outPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch formulation: drop doc_b of every hamming <= 3 pair
    val stats = graft.operators.Images.imageStats(spark,
      graft.operators.Images.synthesize(spark, Tables.documents(spark, dir)))
      .select(col("doc_id"), col("ahash"))
    val losers = graft.operators.Images.nearDupPairs(stats)
      .select(col("doc_b")).distinct().collect().map(_.getLong(0)).toSet
    val want = imgRows.map(_._1).toSet -- losers
    assert(losers.nonEmpty, "no image near-dup pairs — test is vacuous")
    // cross-batch losers must exist (same group, variants across the
    // id split) or the registry path is untested
    assert(losers.exists(_ >= imgRows.size / 2),
      "no cross-batch losers — registry path untested")
    assert(got === want)
  }

  test("incremental audio-dedup sink == batch drop-doc_b formulation (real javax.sound decode per batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_auddedup_reg"
    val outPath = "/tmp/graft_test_auddedup_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    // the deterministic mixed-container WAV/AU/AIFF fixture, materialized
    // so the stream feeds the same bytes the batch formulation hashes
    val clipRows = graft.operators.Audio
      .synthesize(spark, Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val stream = MemoryStream[(Long, Array[Byte])]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .audioDedupSink(stream.toDF().toDF("doc_id", "audio"), regPath, outPath)
      .start()
    val (h1, h2) = clipRows.splitAt(clipRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("audioDedupSink")
    val got = spark.read.parquet(outPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch formulation: drop doc_b of every hamming <= 3 pair
    val stats = graft.operators.Audio.audioStats(spark,
      graft.operators.Audio.synthesize(spark, Tables.documents(spark, dir)))
      .select(col("doc_id"), col("afp"))
    val losers = graft.operators.Audio.nearDupPairs(stats)
      .select(col("doc_b")).distinct().collect().map(_.getLong(0)).toSet
    graft.operators.Dedup.releaseCaches(spark)
    val want = clipRows.map(_._1).toSet -- losers
    assert(losers.nonEmpty, "no audio near-dup pairs — test is vacuous")
    // cross-batch losers must exist (same group, variants across the
    // id split) or the registry path is untested
    assert(losers.exists(_ >= clipRows.size / 2),
      "no cross-batch losers — registry path untested")
    assert(got === want)
  }

  test("incremental image-curation sink == batch MediaCurate labeled frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.MediaCurate.ImageGates
    val imgRows = graft.operators.Images
      .synthesize(spark, Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    // the defaults, and a narrower brightness window off them
    val gates = Seq(ImageGates(), ImageGates(minMean = 124, maxMean = 132))
    val wants = gates.map { g =>
      val regPath = s"/tmp/graft_test_imgcurate_reg_${g.minMean}"
      val outPath = s"/tmp/graft_test_imgcurate_out_${g.minMean}"
      for (p <- Seq(regPath, outPath))
        new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
      val stream = MemoryStream[(Long, Array[Byte])]
      val q = graft.streaming.StreamingPipelines
        .mediaCurateSink(stream.toDF().toDF("doc_id", "img"), regPath, outPath, g)
        .start()
      val (h1, h2) = imgRows.splitAt(imgRows.size / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(outPath).select("doc_id", "drop_reason")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = graft.pipeline.MediaCurate.curate(spark,
        graft.operators.Images.synthesize(spark, Tables.documents(spark, dir)), g)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      graft.pipeline.Curate.releaseCaches(spark)
      assert(got.size === imgRows.size, "one label per streamed image")
      assert(got === want)
      // the registry path must have been exercised: some near-dup loser
      // sits in the second half with its keeper in the first
      val losers = want.filter(_._2 == "near_dup").keySet
      assert(losers.exists(_ >= imgRows.size / 2),
        "no cross-batch near-dup losers — registry path untested")
      want
    }
    // liveness: the non-default window fires the brightness gate on
    // images the defaults pass
    val brightness = wants.map(_.values.count(_ == "brightness"))
    assert(brightness(1) > brightness(0), s"brightness drops $brightness")
  }

  test("incremental audio-curation sink == batch MediaCurate labeled frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_audcurate_reg"
    val outPath = "/tmp/graft_test_audcurate_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val clipRows = graft.operators.Audio
      .synthesize(spark, Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val stream = MemoryStream[(Long, Array[Byte])]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .mediaCurateSink(stream.toDF().toDF("doc_id", "audio"), regPath, outPath,
        graft.pipeline.MediaCurate.AudioGates())
      .start()
    val (h1, h2) = clipRows.splitAt(clipRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("mediaCurateSink")
    val got = spark.read.parquet(outPath).select("doc_id", "drop_reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = graft.pipeline.MediaCurate.curate(spark,
      graft.operators.Audio.synthesize(spark, Tables.documents(spark, dir)),
      graft.pipeline.MediaCurate.AudioGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(got.size === clipRows.size && got === want)
    val losers = want.filter(_._2 == "near_dup").keySet
    assert(losers.exists(_ >= clipRows.size / 2),
      "no cross-batch near-dup losers — registry path untested")
  }

  test("incremental video-dedup sink == batch keyframe keeper formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_viddedup_reg"
    val outPath = "/tmp/graft_test_viddedup_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val vidRows = graft.operators.Video
      .synthesize(spark, Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val stream = MemoryStream[(Long, Array[Byte])]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .videoDedupSink(stream.toDF().toDF("doc_id", "video"), regPath, outPath)
      .start()
    val (h1, h2) = vidRows.splitAt(vidRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("videoDedupSink")
    val got = spark.read.parquet(outPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch formulation: keyframe keepers at hamming 0
    val want = graft.operators.Video.nearDupKeepers(spark,
      graft.operators.Video.synthesize(spark, Tables.documents(spark, dir)))
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    graft.operators.Dedup.releaseCaches(spark)
    assert(want.nonEmpty && got === want)
    // every doc >= 250 is a cross-batch exact keyframe dup of an
    // earlier-registered group base — the registry path is exercised
    assert(vidRows.map(_._1).filter(_ >= vidRows.size / 2)
      .forall(id => !got.contains(id)))
  }

  test("incremental video-curation sink == batch MediaCurate labeled frame (corrupt bytes quarantined)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_vidcurate_reg"
    val outPath = "/tmp/graft_test_vidcurate_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val vidRows = graft.operators.Video
      .synthesize(spark, Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    // splice corrupt scrape bytes into BOTH batches — the sink must
    // label them, never die on them (ids beyond the fixture range)
    val corrupt1 = (9001L, "not RIFF at all".getBytes("US-ASCII"))
    val corrupt2 = (9002L, vidRows.head._2.take(40))
    val stream = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.StreamingPipelines
      .mediaCurateSink(stream.toDF().toDF("doc_id", "video"), regPath, outPath,
        graft.pipeline.MediaCurate.VideoGates())
      .start()
    val (h1, h2) = vidRows.splitAt(vidRows.size / 2)
    stream.addData(h1 :+ corrupt1); q.processAllAvailable()
    stream.addData(h2 :+ corrupt2); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outPath).select("doc_id", "drop_reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = graft.pipeline.MediaCurate.curate(spark,
      graft.operators.Video.synthesize(spark, Tables.documents(spark, dir)),
      graft.pipeline.MediaCurate.VideoGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(got.size === vidRows.size + 2, "one label per streamed video")
    assert(got(9001L) === "corrupt" && got(9002L) === "corrupt",
      "crafted bad bytes must be quarantined by the streaming sink")
    assert((got - 9001L - 9002L) === want)
    // cross-batch near-dup losers must exist or the registry path is
    // untested (second-half docs whose surviving group base registered
    // in batch 0)
    val losers = want.filter(_._2 == "near_dup").keySet
    assert(losers.exists(_ >= vidRows.size / 2),
      "no cross-batch near-dup losers — registry path untested")
  }

  test("streaming decontamination == batch keep set against a static eval frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outPath = "/tmp/graft_test_decon_out"
    new scala.reflect.io.Directory(new java.io.File(outPath)).deleteRecursively()
    val docs = Tables.documents(spark, dir)
    val evalHashes = graft.operators.Images.imageStats(spark,
      graft.operators.Images.synthesize(spark, docs.filter(col("doc_id") % 10 === 0)))
      .select(col("doc_id"), col("ahash")).collect()
    val evalDf = evalHashes.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("doc_id", "ahash")
    val imgRows = graft.operators.Images.synthesize(spark, docs)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val stream = MemoryStream[(Long, Array[Byte])]
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val q = graft.streaming.StreamingPipelines
      .imageDecontaminateSink(stream.toDF().toDF("doc_id", "img"), evalDf, outPath)
      .start()
    val (h1, h2) = imgRows.splitAt(imgRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    // every micro-batch's cached frames are released by the sink itself
    // (they are tracked under the stream's session, which
    // Curate.releaseCaches(spark) never reaches)
    assert(spark.sparkContext.getPersistentRDDs.size === cachedBefore,
      "the decontamination sink leaked cached frames")
    val got = spark.read.parquet(outPath).select("doc_id", "keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val want = graft.operators.Images.decontaminate(spark,
      graft.operators.Images.synthesize(spark, docs),
      graft.operators.Images.synthesize(spark, docs.filter(col("doc_id") % 10 === 0)))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(got.size === imgRows.size && got === want)
    // live signal: contaminated docs exist in BOTH batches
    assert(want.filter(!_._2).keySet.exists(_ < imgRows.size / 2) &&
      want.filter(!_._2).keySet.exists(_ >= imgRows.size / 2))
  }

  test("incremental three-modality curation sink == batch curateMedia3 verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regRoot = "/tmp/graft_test_media3_reg"
    val outPath = "/tmp/graft_test_media3_out"
    for (p <- Seq(regRoot, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val docs = Tables.documents(spark, dir)
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Array[Byte]] =
      df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val imgs = byId(graft.operators.Images.synthesize(spark, docs))
    val clips = byId(graft.operators.Audio.synthesize(spark, docs))
    val vids = byId(graft.operators.Video.synthesize(spark, docs))
    val rows = imgs.keys.toSeq.sorted.map(id => (id, imgs(id), clips(id), vids(id)))
    val stream = MemoryStream[(Long, Array[Byte], Array[Byte], Array[Byte])]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .mediaCurate3Sink(stream.toDF().toDF("doc_id", "img", "audio", "video"),
        regRoot, outPath)
      .start()
    val (h1, h2) = rows.splitAt(rows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("mediaCurate3Sink")
    val got = spark.read.parquet(outPath)
      .select("doc_id", "image_reason", "audio_reason", "video_reason",
        "drop_reason")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    val want = graft.pipeline.MediaCurate.curateMedia3(spark,
      graft.operators.Images.synthesize(spark, docs),
      graft.operators.Audio.synthesize(spark, docs),
      graft.operators.Video.synthesize(spark, docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(got.size === rows.size && got === want)
    // all three modalities must contribute cross-batch near-dup losers
    // somewhere in the verdicts, or a registry went untested
    val reasons = want.values.flatMap(v => Seq(v._1, v._2, v._3)).toSet
    assert(reasons.contains("near_dup"))
  }

  test("video frame sampling is stream == batch (stateless flatMap on a binary stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the video arm's sampling pass is stateless map-side work, so it
    // runs unchanged on a streaming binary column — the contract a
    // continuous ingestion pipeline samples frames under
    val vids = graft.operators.Video
      .synthesize(spark, Tables.documents(spark, dir).limit(60))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val stream = MemoryStream[(Long, Array[Byte])]
    val q = graft.operators.Video
      .sampleFrames(spark, stream.toDF().toDF("doc_id", "video"), stride = 2)
      .writeStream.format("memory").queryName("video_sample_stream")
      .outputMode("append").start()
    val (h1, h2) = vids.splitAt(30)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    val got = spark.table("video_sample_stream")
      .select("doc_id", "frame_idx", "pts_us", "sum_lum")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val want = graft.operators.Video
      .sampleFrames(spark, graft.operators.Video
        .synthesize(spark, Tables.documents(spark, dir).limit(60)), stride = 2)
      .select("doc_id", "frame_idx", "pts_us", "sum_lum")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(want.nonEmpty && got === want)
  }

  test("scene cuts and A/V demux are stream == batch (stateless flatMaps on a binary stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // both passes are per-video map-side work — they run unchanged on a
    // streaming binary column, the continuous-ingestion contract
    val docs = Tables.documents(spark, dir).limit(60)
    val scenes = graft.operators.Video.synthesizeScenes(spark, docs)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val s1 = MemoryStream[(Long, Array[Byte])]
    val q1 = graft.operators.Video
      .sceneCuts(spark, s1.toDF().toDF("doc_id", "video"))
      .writeStream.format("memory").queryName("scene_cut_stream")
      .outputMode("append").start()
    s1.addData(scenes.take(30)); q1.processAllAvailable()
    s1.addData(scenes.drop(30)); q1.processAllAvailable()
    q1.stop()
    val gotCuts = spark.table("scene_cut_stream")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val wantCuts = graft.operators.Video
      .sceneCuts(spark, graft.operators.Video.synthesizeScenes(spark, docs))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(wantCuts.nonEmpty && gotCuts === wantCuts)
    val av = graft.operators.Video.synthesizeAV(spark, docs)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val s2 = MemoryStream[(Long, Array[Byte])]
    val q2 = graft.operators.Audio.audioStats(spark,
        graft.operators.Video.extractAudioTrack(spark,
          s2.toDF().toDF("doc_id", "video")))
      .writeStream.format("memory").queryName("demux_stream")
      .outputMode("append").start()
    s2.addData(av.take(30)); q2.processAllAvailable()
    s2.addData(av.drop(30)); q2.processAllAvailable()
    q2.stop()
    val gotStats = spark.table("demux_stream")
      .select("doc_id", "n_samples", "energy", "afp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val wantStats = graft.operators.Audio.audioStats(spark,
        graft.operators.Video.extractAudioTrack(spark,
          graft.operators.Video.synthesizeAV(spark, docs)))
      .select("doc_id", "n_samples", "energy", "afp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(wantStats.size === 60 && gotStats === wantStats)
  }

  test("incremental winnow-dedup sink == batch drop-doc_b formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_winnow_reg"
    val outPath = "/tmp/graft_test_winnow_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val docRows = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .winnowDedupSink(stream.toDF().toDF("doc_id", "text"), regPath, outPath)
      .start()
    val (h1, h2) = docRows.splitAt(docRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("winnowDedupSink")
    val got = spark.read.parquet(outPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch formulation: drop the larger-id side of every >=2-shared-fp pair
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val losers = graft.operators.Dedup.winnowPairs(docs)
      .select(col("doc_b")).distinct().collect().map(_.getLong(0)).toSet
    val want = docRows.map(_._1).toSet -- losers
    assert(losers.nonEmpty, "no near-dup pairs at sf0.001 — test is vacuous")
    assert(got === want)
  }

  test("incremental winnow-cluster sink == batch duplicateClusters labeling") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_cluster_reg"
    val labelsPath = "/tmp/graft_test_cluster_labels"
    for (p <- Seq(regPath, labelsPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val docRows = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .winnowClusterSink(stream.toDF().toDF("doc_id", "text"), regPath, labelsPath)
      .start()
    // three batches so the THIRD fold runs against an already-merged
    // snapshot (merge-of-merge, the incremental-CC compaction step)
    val third = docRows.size / 3
    stream.addData(docRows.take(third)); q.processAllAvailable()
    stream.addData(docRows.slice(third, 2 * third)); q.processAllAvailable()
    stream.addData(docRows.drop(2 * third)); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("winnowClusterSink")
    val got = graft.streaming.StreamingPipelines.currentClusters(spark, labelsPath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val want = graft.operators.Dedup
      .duplicateClusters(graft.operators.Dedup.winnowPairs(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "no winnow clusters at sf0.001 — test is vacuous")
    assert(got === want)
    // the equivalence is only meaningful if some cluster SPANS batches
    // (otherwise each fold was independent and merge was never exercised)
    val batchOf = docRows.map(_._1).zipWithIndex
      .map { case (id, i) => id -> (if (i < third) 0 else if (i < 2 * third) 1 else 2) }.toMap
    val spanning = got.groupBy(_._2).values
      .exists(c => c.map(p => batchOf(p._1)).size > 1)
    assert(spanning, "no cluster spans micro-batches — merge path untested")
    // keeper election off the same snapshot == the batch cluster-keeper
    // policy (Curate clusterDedup: drop every clustered doc except its
    // cluster's min-id label) over the full corpus
    val kept = graft.streaming.StreamingPipelines.keeperView(docs, labelsPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val wantKept = docRows.map(_._1).toSet -- want.filter(p => p._1 != p._2).map(_._1)
    assert(kept === wantKept && kept.size < docRows.size)
  }

  test("incremental span registry: currentSpanDedup == batch dedupSpans (retroactive)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val spanPath = "/tmp/graft_test_span_reg"
    new scala.reflect.io.Directory(new java.io.File(spanPath)).deleteRecursively()
    val docRows = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .spanDedupSink(stream.toDF().toDF("doc_id", "text"), spanPath, k = 8)
      .start()
    val third = docRows.size / 3
    stream.addData(docRows.take(third)); q.processAllAvailable()
    // mid-stream snapshot must equal the batch operator on the prefix
    val midGot = graft.streaming.StreamingPipelines.currentSpanDedup(spark, spanPath)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val midDocs = docRows.take(third).toDF("doc_id", "text")
    val midWant = graft.operators.Dedup.dedupSpans(midDocs, k = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    graft.operators.Dedup.releaseCaches(spark) // the batch twin's caches
    assert(midGot === midWant)
    stream.addData(docRows.slice(third, 2 * third)); q.processAllAvailable()
    stream.addData(docRows.drop(2 * third)); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("spanDedupSink")
    val got = graft.streaming.StreamingPipelines.currentSpanDedup(spark, spanPath)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = graft.operators.Dedup
      .dedupSpans(Tables.documents(spark, dir).select(col("doc_id"), col("text")), k = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    // retroactivity exercised: some doc from the FIRST batch lost a span
    // only once later batches pushed its count over maxOcc
    val midKept = midGot.map(r => r._1 -> r._4).toMap
    val finalKept = got.map(r => r._1 -> r._4).toMap
    assert(midKept.exists { case (id, n) => finalKept(id) < n },
      "no first-batch doc was retroactively trimmed — registry semantics untested")
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("incremental span registry cjk: currentSpanDedup == batch dedupSpans cjk (retroactive), mode marker refuses the other arm") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val spanPath = SparkTestSession.scratch("span_reg_cjk")
    // zh boilerplate block shared by docs arriving in DIFFERENT batches
    // (k=3 chunk-aligned: each doc starts with the same 7-ideograph run),
    // so retroactivity fires on live CJK chunks
    val boiler = "机器学习模型训练"
    val docRows: Seq[(Long, String)] = Seq(
      (1L, s"$boiler AB cd ef gh"),
      (2L, "我们可以一起去公园散步"),
      (3L, s"$boiler XY zz ww vv"),
      (4L, "plain latin text only here now"))
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .spanDedupSink(stream.toDF().toDF("doc_id", "text"), spanPath, k = 3,
        cjk = true)
      .start()
    stream.addData(docRows.take(2)); q.processAllAvailable()
    // mid-stream: boiler seen once → nothing banned yet
    val midGot = graft.streaming.StreamingPipelines
      .currentSpanDedup(spark, spanPath, cjk = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val midWant = graft.operators.Dedup
      .dedupSpans(docRows.take(2).toDF("doc_id", "text"), k = 3, cjk = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    graft.operators.Dedup.releaseCaches(spark) // the batch twin's caches
    assert(midGot === midWant)
    stream.addData(docRows.drop(2)); q.processAllAvailable()
    q.stop()
    leaks.assertNoLeak("spanDedupSink cjk")
    val got = graft.streaming.StreamingPipelines
      .currentSpanDedup(spark, spanPath, cjk = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = graft.operators.Dedup
      .dedupSpans(docRows.toDF("doc_id", "text"), k = 3, cjk = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    // retroactivity on CJK: doc 1 (batch 1) lost its boiler chunk only
    // after doc 3 (batch 2) pushed the count over maxOcc
    val midKept = midGot.map(r => r._1 -> r._4).toMap
    val finalKept = got.map(r => r._1 -> r._4).toMap
    assert(midKept(1L) > finalKept(1L), s"mid=$midGot final=$got")
    // the mode marker refuses the OTHER arm against this registry
    val stream2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.StreamingPipelines
      .spanDedupSink(stream2.toDF().toDF("doc_id", "text"), spanPath, k = 3)
      .start()
    stream2.addData(Seq((99L, "x y z")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(e.getMessage.contains("different row format") ||
      Option(e.getCause).exists(_.getMessage.contains("different row format")))
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("registry compaction: minhash sink == batch across fold boundaries, read set bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_minhash_compact_reg"
    val outPath = "/tmp/graft_test_minhash_compact_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // variants carry the highest ids, so they arrive in the LAST batch —
    // by then their originals are only reachable through the SNAPSHOT
    // (the folds below have already folded the early batch dirs)
    val variants = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val corpus = docs.unionByName(variants)
    val docRows = corpus.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines
      .minhashDedupSink(stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        compactEvery = 2)
      .start()
    // six batches => folds fire mid-stream (at batches 2 and 4), so the
    // final batches' registry matches cross a compaction boundary
    val batches = docRows.grouped(math.max(1, docRows.size / 6 + 1)).toSeq
    batches.foreach { h => stream.addData(h); q.processAllAvailable() }
    q.stop()
    leaks.assertNoLeak("minhashDedupSink")
    val got = spark.read.parquet(outPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val losers = graft.operators.Dedup.minhashLshPairs(corpus)
      .select(col("doc_b")).distinct().collect().map(_.getLong(0)).toSet
    graft.operators.Dedup.releaseCaches(spark)
    val want = docRows.map(_._1).toSet -- losers
    assert(losers.nonEmpty && losers.exists(_ >= 100000L),
      "no cross-batch losers — snapshot matching untested")
    assert(got === want)
    // compaction actually ran and bounded the read set
    val w = graft.streaming.Registry.watermark(spark, regPath)
    assert(w.isDefined, "no compaction committed in six batches at every=2")
    val vb = graft.streaming.Registry.view(spark, regPath, s"$regPath/bands")
    assert(vb.snapshotPath.isDefined)
    assert(vb.dirIds.size <= 3,
      s"unfolded dir set not bounded: ${vb.dirIds}")
    // on-disk batch dirs are bounded too (one-cycle grace over every=2)
    val bandDirs = new java.io.File(s"$regPath/bands").listFiles()
      .count(_.getName.startsWith("batch="))
    assert(bandDirs <= 2 * 2 + 1, s"stale batch dirs not cleaned: $bandDirs")
  }

  test("CurateStream with compaction: accounting identical across fold boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_curatecompact_reg"
    val outPath = "/tmp/graft_test_curatecompact_out"
    for (p <- Seq(regPath, outPath))
      new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val docRows = docs.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.CurateStream.sink(
        stream.toDF().toDF("doc_id", "text"), regPath, outPath,
        compactEvery = 2)
      .start()
    val batches = docRows.grouped(math.max(1, docRows.size / 6 + 1)).toSeq
    batches.foreach { h => stream.addData(h); q.processAllAvailable() }
    q.stop()
    leaks.assertNoLeak("CurateStream.sink")
    // the output folded too: read through labeledView (snapshot + recent
    // dirs, exactly-once), not a whole-dir parquet read
    val labeled = graft.streaming.CurateStream.labeledView(spark, outPath)
    val gotCounts = labeled.groupBy("drop_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotKept = graft.streaming.CurateStream.keptView(spark, outPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (curated, st) = graft.pipeline.Curate.runDocs(spark, docs)
    val wantKept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    graft.pipeline.Curate.releaseCaches(spark)
    assert(st.exactDups > 0 || st.nearDups > 0, "no dups — dedup path vacuous")
    assert(gotCounts.getOrElse("exact_dup", 0L) === st.exactDups)
    assert(gotCounts.getOrElse("near_dup", 0L) === st.nearDups)
    assert(gotCounts.getOrElse("low_quality", 0L) === st.lowQuality)
    assert(gotCounts.getOrElse("unknown_lang", 0L) === st.unknownLang)
    assert(gotCounts.getOrElse("kept", 0L) === st.kept)
    assert(gotKept === wantKept)
    assert(gotCounts.values.sum === docRows.size.toLong,
      "labeledView must serve every document exactly once")
    // all three registry tables and the output folded
    assert(graft.streaming.Registry.watermark(spark, regPath).isDefined)
    assert(graft.streaming.Registry.watermark(spark, outPath).isDefined)
    for (t <- Seq(s"$regPath/fps", s"$regPath/bands", s"$regPath/hashes", outPath)) {
      val v = graft.streaming.Registry.view(spark, if (t == outPath) outPath else regPath, t)
      assert(v.snapshotPath.isDefined && v.dirIds.size <= 3, s"$t not bounded: ${v.dirIds}")
    }
    // training-layout snapshot over the sink's kept set == the batch
    // composition (shuffleRank ⋈ packSequencesScalable over batch-kept
    // docs) — the resumable-training hand-off, derived from a compacted
    // output. Both layouts are pure functions of the kept set, so the
    // already-proven kept-set equality must carry through the layout ops.
    def layoutRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val gotLayout = layoutRows(
      graft.streaming.CurateStream.trainingView(spark, outPath, budget = 512, shards = 8))
    val keptBatch = docs.join(
      wantKept.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val rankedB = graft.operators.Sampling
      .shuffleRank(keptBatch.select(col("doc_id")), col("doc_id"))
      .select(col("doc_id"), col("shuffle_pos"))
    val packedB = graft.operators.Sampling
      .packSequencesScalable(keptBatch.select(col("doc_id"), col("text")), 512, 8)
    val wantLayout = layoutRows(packedB.join(rankedB, "doc_id")
      .select(col("doc_id"), col("shuffle_pos"), col("shard"), col("pack_id"), col("n_tokens")))
    graft.operators.Dedup.releaseCaches(spark)
    assert(gotLayout === wantLayout && gotLayout.map(_._1) === wantKept)
  }

  test("dedupDocsByFingerprint stream == Dedup.exactGroups keep set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docRows = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[(Long, String)]
    val q = StatefulOps.dedupDocsByFingerprint(spark, stream.toDF().toDF("doc_id", "text"))
      .toDF("fp", "keep_id")
      .writeStream.format("memory").queryName("s_docdedup").outputMode("append").start()
    // doc_id-ordered batches => first batch carrying a fp holds its min id,
    // so the stream's keep set must equal the batch operator's exactly
    val (h1, h2) = docRows.splitAt(docRows.size / 2)
    stream.addData(h1); q.processAllAvailable()
    stream.addData(h2); q.processAllAvailable()
    q.stop()
    val got = spark.table("s_docdedup").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = graft.operators.Dedup.exactGroups(Tables.documents(spark, dir))
      .select(col("fp"), col("keep_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want && got.nonEmpty)
  }
}
