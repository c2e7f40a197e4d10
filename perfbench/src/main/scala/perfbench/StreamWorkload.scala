package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.streaming.{StatefulOps, StreamingPipelines}

/** Open-loop DWS streaming: three queries on 1 s processing-time triggers
  * over a file source that gen.py (a separate process) fills, plus one
  * reader thread polling the live count alarm.
  *
  * Protocol with run.py: emit `streams_ready`, then wait for a `drain` line
  * on stdin (the generator has finished), process what was delivered, check
  * the outputs against the batch queries over the same events, and report. */
object StreamWorkload {
  private val trigger = Trigger.ProcessingTime("1 second")

  def run(spark: SparkSession, o: Main.Opts): Unit = {
    val tracer = new Tracer(spark)
    val base = s"${o.work}/stream"
    val sfDir = s"$base/sf" // delivered events land in sfDir/events.parquet/
    val inDir = s"$sfDir/events.parquet"
    val registry = s"$base/registry"
    new java.io.File(inDir).mkdirs()
    val setup0 = Clock.now()

    val rawSchema = StructType(
      spark.read.parquet(s"${o.data}/events.parquet").schema.fields :+
        StructField("gen_ts", LongType))
    val events = graft.tables.Tables.normalizeEvents(
      spark.readStream.schema(rawSchema).parquet(inDir))

    // window results are committed to the driver with their commit time
    val windows = ArrayBuffer.empty[(Row, Double)]
    val visits = ArrayBuffer.empty[(Long, String)]
    spark.streams.addListener(progressListener(spark, registry))
    if (o.trace) tracer.attach()

    val tw = tracer.span("streaming.trafficWindow")(StreamingPipelines.trafficWindow(events))
      .writeStream.queryName("traffic_window").trigger(trigger)
      .option("checkpointLocation", s"$base/ckpt/traffic_window")
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = b.collect()
        val t = Clock.now()
        windows.synchronized(rows.foreach(r => windows += (r -> t)))
        ()
      }.start()
    val fv = tracer.span("streaming.dailyFirstVisits")(StatefulOps.dailyFirstVisits(spark, events))
      .writeStream.queryName("first_visits").trigger(trigger)
      .option("checkpointLocation", s"$base/ckpt/first_visits")
      .foreachBatch { (b: Dataset[(Long, String)], _: Long) =>
        val rows = b.collect()
        visits.synchronized(visits ++= rows)
        ()
      }.start()
    val cs = tracer.span("streaming.countSink")(StreamingPipelines.countSink(events, registry))
      .queryName("count_sink").trigger(trigger)
      .option("checkpointLocation", s"$base/ckpt/count_sink").start()
    val queries = Seq(tw, fv, cs)
    Out.emit("setup", "start" -> setup0, "end" -> Clock.now())

    @volatile var reading = true
    val reader = new Thread(() => {
      while (reading) {
        val t0 = Clock.now()
        val ok = scala.util.Try(tracer.span("registry.read")(
          StreamingPipelines.currentCountAnomalies(spark, registry).collect())).isSuccess
        Out.emit("read", "start" -> t0, "end" -> Clock.now(), "ok" -> ok)
      }
    }, "perfbench-registry-reader")
    reader.setDaemon(true)
    Tracer.resetHeapPeak()
    val gc0 = Tracer.gcSeconds()
    val loop0 = Clock.now()
    Out.emit("streams_ready", "t" -> loop0)
    reader.start()

    // run.py sends "drain" once the generator process has exited
    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    while (Option(stdin.readLine()).exists(_.trim != "drain")) ()
    queries.foreach(_.processAllAvailable())
    reading = false
    reader.join()
    tracer.detach()
    Out.emit("loop", "start" -> loop0, "end" -> Clock.now(),
      "gc_s" -> (Tracer.gcSeconds() - gc0), "heap_peak_bytes" -> Tracer.heapPeakBytes(),
      "storage_peak_bytes" -> tracer.storagePeak.get, "callback_s" -> tracer.callbackNs.get / 1e9,
      "registry_dirs" -> registryDirs(spark, s"$registry/counts"))
    val watermark = effectiveWatermark(tw)
    queries.foreach(_.stop())
    queries.foreach(q => q.exception.foreach(e => throw e))

    check(spark, sfDir, registry, windows.toSeq, visits.toSeq, watermark)
  }

  /** The largest watermark any traffic_window batch ran under: exactly the
    * windows ending at or before it have been emitted. */
  private def effectiveWatermark(q: StreamingQuery): Option[java.sql.Timestamp] =
    q.recentProgress.toSeq.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.sql.Timestamp.from(java.time.Instant.parse(s))).maxByOption(_.getTime)

  private def registryDirs(spark: SparkSession, table: String): Int = {
    val p = new Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0 else fs.listStatus(p).count(_.isDirectory)
  }

  private def progressListener(spark: SparkSession, registry: String) = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // countSink folds the registry at the start of batch N into _w=<N-1>
      val folded = p.name == "count_sink" && p.numInputRows > 0 && {
        val m = new Path(registry, s"_w=${p.batchId - 1}")
        m.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(m)
      }
      val ev = p.eventTime.asScala
      def ts(k: String): Option[Double] =
        ev.get(k).map(s => java.time.Instant.parse(s).toEpochMilli / 1e3)
      Out.emit("progress", "name" -> p.name, "batch" -> p.batchId, "t" -> Clock.now(),
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3,
        "input_rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap,
        "watermark" -> ts("watermark"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "late_rows" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
        "folded" -> folded)
    }
  }

  /** Stream == batch over the events actually delivered. Emits one `verdict`
    * record per check and the latency samples of the window results. The
    * checks are independent jobs and run side by side. */
  private def check(spark: SparkSession, sfDir: String, registry: String,
      windows: Seq[(Row, Double)], visits: Seq[(Long, String)],
      watermark: Option[java.sql.Timestamp]): Unit = {
    import spark.implicits._
    val delivered = graft.tables.Tables.events(spark, sfDir).persist()
    Out.emit("delivered", "rows" -> delivered.count(), "t" -> Clock.now())
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val wm = watermark.map(t => new java.text.SimpleDateFormat(fmt) {
      setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    }.format(t)).getOrElse("")

    // 1. emitted trafficWindow rows == the batch a1 window aggregation
    val trafficCheck = Future {
      val expected = graft.SparkEntry.queries("a1_traffic_window")(spark, sfDir)
        .filter(col("edt") <= lit(wm))
        .select("stt", "edt", "event_type", "pv_ct", "sum_value")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      val got = windows.map { case (r, _) =>
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)) }
      verdict("traffic_window", got, expected.toSeq)
    }

    // latency: commit time minus the due time of the last contributing event
    val latencies = Future {
      val lastDue = delivered
        .groupBy(date_format(window(col("ts"), "10 minutes").getField("start"), fmt).as("stt"),
          col("event_type"))
        .agg(max(col("gen_ts")).as("due"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2) / 1e6).toMap
      val samples = windows.flatMap { case (r, commit) =>
        lastDue.get((r.getString(0), r.getString(2))).map(due => (due, commit))
      }
      Out.emit("latencies", "due" -> samples.map(_._1), "commit" -> samples.map(_._2))
    }

    // 2. dailyFirstVisits == a5_daily_uv: one first visit per (user, day)
    val visitsCheck = Future {
      val uv = graft.SparkEntry.queries("a5_daily_uv")(spark, sfDir)
        .select("dt", "uv_ct").as[(String, Long)].collect().toSeq
      val perDay = visits.groupBy(_._2).map { case (d, xs) => (d, xs.size.toLong) }.toSeq
      verdict("first_visits", perDay, uv)
    }

    // 3. the registry's live counts == batch Anomaly.bucketCounts
    val countsCheck = Future {
      def counts(df: DataFrame): Seq[(String, String, Long)] =
        df.select(col("key"), date_format(col("bucket"), fmt), col("c"))
          .as[(String, String, Long)].collect().toSeq
      verdict("count_sink", counts(StreamingPipelines.currentCounts(spark, registry)),
        counts(graft.operators.Anomaly.bucketCounts(delivered, col("event_type"), col("ts"), "day")))
    }
    Await.result(Future.sequence(Seq(trafficCheck, latencies, visitsCheck, countsCheck)), Duration.Inf)
    delivered.unpersist()
  }

  /** Multiset compare; every row present on one side only is one mismatch. */
  private def verdict[T](name: String, got: Seq[T], expected: Seq[T]): Unit = {
    def bag(xs: Seq[T]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val (g, e) = (bag(got), bag(expected))
    val mismatched = (g.keySet ++ e.keySet).toSeq
      .map(k => math.abs(g.getOrElse(k, 0) - e.getOrElse(k, 0))).sum
    if (mismatched > 0) System.err.println(
      s"[perfbench] $name mismatch: ${g.keySet.diff(e.keySet).take(3)} vs ${e.keySet.diff(g.keySet).take(3)}")
    Out.emit("verdict", "name" -> name, "rows" -> expected.size, "got" -> got.size,
      "mismatched" -> mismatched, "t" -> Clock.now())
  }
}
