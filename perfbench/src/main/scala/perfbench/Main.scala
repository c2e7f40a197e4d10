package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark (run.py starts it; see README.md).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <sfDir> --work <dir> --cpus <n>
  *
  * Prints `@@PB {json}` records; run.py turns them into metrics. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("data"), a("work"), a("cpus").toInt)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    Out.emit("jvm", "start" -> jvmStart, "main" -> Clock.now())
    val t0 = Clock.now()
    val spark = graft.GraftSession.local("perfbench", Some(o.cpus.toString))
    Out.emit("session", "start" -> t0, "end" -> Clock.now())
    try o.workload match {
      case "warehouse_batch" | "curation_batch" => BatchWorkload.run(spark, o)
      case "dws_stream" => StreamWorkload.run(spark, o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    Out.emit("done")
  }

  /** Runs `df` to a complete noop write and returns its row count. The count
    * rides the same job through an observation, so it adds no action. */
  def noopRows(df: DataFrame): Long = {
    val obs = Observation("perfbench_rows")
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}

/** Closed loop, one client: cycles of the workload's queries, each cycle in
  * a seeded order, each query ending in the noop sink. */
object BatchWorkload {
  val warehouse: Seq[String] = Seq("q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "a1_traffic_window", "dws09_dedup_enrich_window", "j1_wide_join")
  val curation: Seq[String] = Seq("t_dedup_minhash", "t_simhash", "t_ann_cosine",
    "t_token_stats", "t_decontaminate", "t_search_topk", "t_curate_media3", "t_ann_ivf_serve")
  /** Tables loaders each workload's queries read (for `tables.scan_s`). */
  val loaders: Map[String, Seq[String]] = Map(
    "warehouse_batch" -> Seq("lineitem", "orders", "customer", "supplier", "nation",
      "region", "part", "events"),
    "curation_batch" -> Seq("documents", "embeddings"))

  type Query = (SparkSession, String) => DataFrame

  def run(spark: SparkSession, o: Main.Opts): Unit = {
    val tracer = new Tracer(spark)
    val rng = new scala.util.Random(o.seed)
    val names = if (o.workload == "warehouse_batch") warehouse else curation
    val setup0 = Clock.now()
    // Correctness pre-check: each query once, all at the same time (cold
    // runs are mostly single-threaded planning and code generation), its
    // result dumped for run.py's oracle compare. The IVF centroids are
    // trained here, once; the serve query reuses them.
    val checks = together(rng.shuffle(names)) { n =>
      val fn = if (n == "t_ann_ivf_serve") ivfServe(spark, o.data) else graft.SparkEntry.queries(n)
      val path = s"${o.work}/check/$n"
      fn(spark, o.data).write.mode("overwrite").parquet(path)
      val rows = spark.read.parquet(path).count()
      Out.emit("check", "name" -> n, "rows" -> rows, "path" -> path, "t" -> Clock.now(),
        "oracle" -> graft.SparkEntry.oracleSql.get(n))
      (n, fn, rows)
    }
    graft.pipeline.Curate.releaseCaches(spark)
    val queries: Map[String, Query] = checks.map { case (n, fn, _) => n -> fn }.toMap
    val expectedRows = checks.map { case (n, _, rows) => n -> rows }.toMap
    if (names.contains("t_ann_ivf_serve")) ivfRecall(spark, o)
    // Warm-up: every query once more, again all at the same time. A query's
    // second run in a fresh JVM is still 15-45% slower than later ones while
    // the JIT compiles; side by side, this pass costs a fraction of an
    // untimed cycle.
    together(rng.shuffle(names))(n => Main.noopRows(queries(n)(spark, o.data)))
    graft.pipeline.Curate.releaseCaches(spark)

    def cycle(): Unit = tracer.span("cycle") {
      rng.shuffle(names).foreach(n => runQuery(spark, tracer, n, queries(n), o, expectedRows(n)))
    }
    Out.emit("setup", "start" -> setup0, "end" -> Clock.now())

    if (o.trace) tableScans(spark, o, tracer)

    // Timed closed loop. Whole cycles only, so every query weighs the same
    // in the latency distribution.
    val deadline = Clock.now() + o.seconds
    Tracer.resetHeapPeak()
    val gc0 = Tracer.gcSeconds()
    if (o.trace) tracer.attach()
    val loop0 = Clock.now()
    var cycles = 0
    while (Clock.now() < deadline) {
      cycle()
      cycles += 1
    }
    tracer.detach()
    Out.emit("loop", "start" -> loop0, "end" -> Clock.now(), "cycles" -> cycles,
      "gc_s" -> (Tracer.gcSeconds() - gc0), "heap_peak_bytes" -> Tracer.heapPeakBytes(),
      "storage_peak_bytes" -> tracer.storagePeak.get, "callback_s" -> tracer.callbackNs.get / 1e9)
  }

  /** Runs `f` on every name at the same time; results in `names` order. */
  private def together[T](names: Seq[String])(f: String => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    try names.map(n => pool.submit(() => f(n))).map(_.get())
    finally pool.shutdown()
  }

  private def runQuery(spark: SparkSession, tracer: Tracer, name: String, fn: Query,
      o: Main.Opts, expected: Long): Unit = {
    val t0 = Clock.now()
    val result = scala.util.Try {
      tracer.span(s"query:$name") {
        val df = tracer.span("build")(fn(spark, o.data))
        tracer.span("exec")(Main.noopRows(df))
      }
    }
    val t1 = Clock.now()
    val released = tracer.span("release")(graft.pipeline.Curate.releaseCaches(spark))
    result.failed.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    Out.emit("op", "name" -> name, "start" -> t0, "end" -> t1, "ok" -> result.isSuccess,
      "rows" -> result.getOrElse(-1L), "expected_rows" -> expected,
      "released" -> released, "traced" -> tracer.isAttached)
  }

  /** `tables.scan_s`: one standalone noop scan through each loader. */
  private def tableScans(spark: SparkSession, o: Main.Opts, tracer: Tracer): Unit = {
    val t = graft.tables.Tables
    val fns: Map[String, (SparkSession, String) => DataFrame] = Map(
      "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events, "documents" -> t.documents,
      "embeddings" -> t.embeddings)
    loaders(o.workload).foreach { n =>
      Main.noopRows(fns(n)(spark, o.data)) // warm
      tracer.span(s"scan:$n")(Main.noopRows(fns(n)(spark, o.data)))
    }
  }

  /** The t_ann_ivf_serve query of graft.Bench: serving against centroids
    * trained once, here. */
  private def ivfServe(spark: SparkSession, data: String): Query = {
    val trained = graft.operators.Ivf.trainScalable(
      graft.tables.Tables.embeddings(spark, data), 16, iters = 1, rounds = 2)
    val rows = trained.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    import spark.implicits._
    val cents = rows.toSeq.toDF("cid", "ce")
    (s, dir) => {
      val emb = graft.tables.Tables.embeddings(s, dir)
      graft.operators.Ivf.topK(graft.operators.Ivf.index(emb, cents), cents,
        emb.filter(col("vec_id") < 20), k = 10, nprobe = 12)
    }
  }

  /** The IVF serve path has no oracle SQL: check its recall@10 against the
    * exact brute-force top-k over the same vectors. */
  private def ivfRecall(spark: SparkSession, o: Main.Opts): Unit = {
    val emb = graft.tables.Tables.embeddings(spark, o.data)
    val q = emb.filter(col("vec_id") < 20)
    val exact = graft.operators.Similarity.bruteForceTopK(emb, q, 10)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = spark.read.parquet(s"${o.work}/check/t_ann_ivf_serve")
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & exact).size.toDouble / math.max(1, exact.size)
    Out.emit("recall", "name" -> "t_ann_ivf_serve", "recall" -> recall, "n" -> exact.size,
      "t" -> Clock.now())
  }
}
