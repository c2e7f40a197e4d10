package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Sketches}

/** Count-min sketch semantics: exactness without collisions, soundness
  * under maximal collision pressure, and element-wise mergeability (the
  * property that makes the sketch the distributed/incremental counter).
  */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def obs(counts: (String, Int)*) = {
    import spark.implicits._
    counts.flatMap { case (k, n) => Seq.fill(n)(k) }.toDF("k")
  }

  test("no-collision regime: estimates are exact; heavy cut keeps exactly the heavy keys") {
    val o = obs("a" -> 10, "b" -> 3, "c" -> 1, "d" -> 7)
    val got = Sketches.heavyHitters(o, col("k"), minCount = 5L, depth = 4, width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Dedup.releaseCaches(spark)
    // 4 keys in width 1024: astronomically unlikely to collide in all 4
    // rows; estimates are exact and only a, d reach the cut
    assert(got === Map("a" -> 10L, "d" -> 7L))
  }

  test("maximal collision pressure (width 1): est = total observations, still sound") {
    val o = obs("a" -> 10, "b" -> 3)
    val counters = Sketches.countMinCounters(o, col("k"), depth = 2, width = 1)
    val est = Sketches.countMinEstimate(o, col("k"), counters, depth = 2, width = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // everything lands in the one cell: every estimate is the stream size
    // (13) — inflated, never below truth
    assert(est === Map("a" -> 13L, "b" -> 13L))
  }

  test("counters merge by element-wise sum: sketch(full) == sketch(half1) + sketch(half2)") {
    val full = obs("a" -> 6, "b" -> 4, "c" -> 2)
    val h1 = obs("a" -> 4, "b" -> 1)
    val h2 = obs("a" -> 2, "b" -> 3, "c" -> 2)
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketches.countMinCounters(df, col("k"), depth = 3, width = 64)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = (cells(h1).toSeq ++ cells(h2).toSeq)
      .groupBy(_._1).map { case (cell, vs) => cell -> vs.map(_._2).sum }
    assert(merged === cells(full))
  }

  test("sketchSink: stream == batch counters across compaction; snapshot stays model-sized") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_sketch_reg"
    new scala.reflect.io.Directory(new java.io.File(regPath)).deleteRecursively()
    val keys: Seq[String] =
      (1 to 30).map(i => s"k${i % 7}") ++ Seq.fill(10)("hot")
    val stream = MemoryStream[String]
    val leaks = SparkTestSession.leakCheck()
    val q = graft.streaming.StreamingPipelines.sketchSink(
        stream.toDF().toDF("k"), "k", regPath,
        depth = 3, width = 64, compactEvery = 2)
      .start()
    keys.grouped(7).foreach { h => stream.addData(h); q.processAllAvailable() }
    q.stop()
    leaks.assertNoLeak("sketchSink")
    val got = graft.streaming.StreamingPipelines.currentSketch(spark, regPath)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Sketches.countMinCounters(keys.toDF("k"), col("k"), 3, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    Dedup.releaseCaches(spark)
    assert(got === want) // element-wise sum over batches == one-shot build
    // estimates through the registry == estimates against the batch sketch
    val est = graft.streaming.StreamingPipelines.currentEstimate(
      spark, regPath, Seq("hot", "k1", "absent").toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Dedup.releaseCaches(spark)
    assert(est("hot") >= 10L && est("k1") >= 4L)
    // compaction ran (6 batches at every=2) and the folded snapshot is
    // re-collapsed: at most depth*width rows, and bounded unfolded dirs
    val countersDir = new java.io.File(s"$regPath/counters")
    val dirs = countersDir.listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("snapshot=")), s"no snapshot in ${dirs.toSeq}")
    assert(dirs.count(_.startsWith("batch=")) <= 2 * 2 + 1, s"unbounded dirs: ${dirs.toSeq}")
    // shape drift fails loud (a 2x64 sink against the pinned 3x64 registry)
    val s2 = MemoryStream[String]
    val q2 = graft.streaming.StreamingPipelines.sketchSink(
      s2.toDF().toDF("k"), "k", regPath, depth = 2, width = 64).start()
    s2.addData(Seq("x"))
    val ex = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("shape mismatch")) || mentions(t.getCause))
    assert(mentions(ex), s"wrong failure: $ex")
  }

  test("NULL keys are excluded; empty input yields an empty sketch") {
    import spark.implicits._
    val o = Seq(Some("a"), None, Some("a")).toDF("k")
    val counters = Sketches.countMinCounters(o, col("k"), depth = 2, width = 8)
    // 2 observations × 2 rows = 4 increments across ≤ 4 cells
    assert(counters.agg(sum(col("c"))).collect()(0).getLong(0) === 4L)
    assert(Sketches.countMinCounters(
      Seq.empty[String].toDF("k"), col("k"), 2, 8).count() === 0)
  }
}
