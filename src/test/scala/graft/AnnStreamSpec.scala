package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Ivf}
import graft.streaming.StreamingPipelines

/** Continuous IVF index: stream ≡ batch postings under re-embeds and
  * mid-stream compaction, served top-k equals the batch index's, bounded
  * registry state, and loud model-drift failure.
  */
class AnnStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def vec(i: Long): Seq[Double] =
    Seq((i % 5) + 1.0, (i % 3) + 0.5, (i * 7 % 11) / 2.0, 1.0 + (i % 7) / 3.0)

  test("ivfIndexSink: stream == batch postings with re-embeds across compaction; topK served") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_ivf_reg"
    new scala.reflect.io.Directory(new java.io.File(regPath)).deleteRecursively()

    val initial = (0L until 40L).map(i => (i, vec(i)))
    val reembeds = Seq(5L, 15L, 25L).map(i => (i, vec(i + 40)))
    val truth = (initial.toMap ++ reembeds.toMap).toSeq
      .map { case (id, e) => (id, e) }.sortBy(_._1)

    val centroids = Ivf.train(initial.toDF("vec_id", "embedding"), k = 4, iters = 2)
      .persist()
    centroids.count()

    val stream = MemoryStream[(Long, Seq[Double])]
    val leaks = SparkTestSession.leakCheck()
    val q = StreamingPipelines.ivfIndexSink(
        stream.toDF().toDF("vec_id", "embedding"), centroids, regPath,
        compactEvery = 2)
      .start()
    (initial.grouped(10).toSeq :+ reembeds).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    leaks.assertNoLeak("ivfIndexSink")

    // live index == one-shot batch index over the LATEST version of each vec
    val got = StreamingPipelines.currentIvfIndex(spark, regPath)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getSeq[Double](1).toVector))).toMap
    val want = Ivf.index(truth.toDF("vec_id", "embedding"), centroids)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Number]("cid").longValue(), r.getSeq[Double](1).toVector))).toMap
    assert(got.size === 40)
    assert(got === want) // re-embedded vecs carry their NEW assignment

    // served top-k == batch Ivf.topK over the same index/model
    val queries = Seq(100L, 101L, 102L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val served = StreamingPipelines
      .currentIvfTopK(spark, regPath, centroids, queries, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val batchTopK = Ivf.topK(
      Ivf.index(truth.toDF("vec_id", "embedding"), centroids), centroids,
      queries, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(served === batchTopK && served.nonEmpty)

    // compaction ran and bounds the dir set; snapshot holds live postings only
    val dirs = new java.io.File(s"$regPath/postings").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("snapshot=")), s"no snapshot in ${dirs.toSeq}")
    assert(dirs.count(_.startsWith("batch=")) <= 2 * 2 + 1, s"unbounded dirs: ${dirs.toSeq}")

    // a sink holding a DIFFERENT model against the same registry fails loud
    val other = Ivf.train(initial.toDF("vec_id", "embedding"), k = 3, iters = 1)
    val s2 = MemoryStream[(Long, Seq[Double])]
    val q2 = StreamingPipelines.ivfIndexSink(
      s2.toDF().toDF("vec_id", "embedding"), other, regPath).start()
    s2.addData(Seq((999L, vec(999L))))
    val ex = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("model mismatch")) || mentions(t.getCause))
    assert(mentions(ex), s"wrong failure: $ex")

    centroids.unpersist(blocking = false)
    Dedup.releaseCaches(spark)
  }

  test("currentIvfIndex: empty registry serves an empty, correctly-shaped frame") {
    val regPath = "/tmp/graft_test_ivf_reg_empty"
    new scala.reflect.io.Directory(new java.io.File(regPath)).deleteRecursively()
    val df = StreamingPipelines.currentIvfIndex(spark, regPath)
    assert(df.columns.toSeq === Seq("vec_id", "e", "cid"))
    assert(df.count() === 0)
  }

  test("pqIndexSink: stream == batch residual codes; served topK == batch; codebook drift loud") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Pq
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_pq_reg"
    new scala.reflect.io.Directory(new java.io.File(regPath)).deleteRecursively()

    val initial = (0L until 40L).map(i => (i, vec(i)))
    val reembeds = Seq(5L, 15L, 25L).map(i => (i, vec(i + 40)))
    val truth = (initial.toMap ++ reembeds.toMap).toSeq.sortBy(_._1)
    val corpus = truth.toDF("vec_id", "embedding")

    // both models trained once on the initial corpus, then FROZEN
    val centroids = Ivf.train(initial.toDF("vec_id", "embedding"), k = 4, iters = 2)
      .persist(); centroids.count()
    val idx0 = Ivf.index(initial.toDF("vec_id", "embedding"), centroids)
    val codebook = Pq.trainResidual(idx0, centroids, dim = 4, m = 2, ksub = 4, iters = 2)
      .persist(); codebook.count()

    val stream = MemoryStream[(Long, Seq[Double])]
    val leaks = SparkTestSession.leakCheck()
    val q = StreamingPipelines.pqIndexSink(
        stream.toDF().toDF("vec_id", "embedding"), centroids, codebook, regPath,
        dim = 4, m = 2, compactEvery = 2)
      .start()
    (initial.grouped(10).toSeq :+ reembeds).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    leaks.assertNoLeak("pqIndexSink")

    // live compressed index == one-shot batch encode over the LATEST vecs
    val got = StreamingPipelines.currentPqIndex(spark, regPath)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Int](2).toVector))).toMap
    val batchIdx = Ivf.index(corpus, centroids)
    val want = Pq.encodeResidual(batchIdx, centroids, codebook, dim = 4, m = 2)
      .join(batchIdx.select(col("vec_id"), col("cid")), "vec_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Number]("cid").longValue(), r.getSeq[Int](1).toVector))).toMap
    assert(got.size === 40)
    assert(got === want) // re-embedded vecs carry NEW cell + NEW codes

    // served residual-PQ top-k == the batch composition on the same models
    val queries = Seq(100L, 101L, 102L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val served = StreamingPipelines.currentPqTopK(spark, regPath, centroids,
      codebook, corpus, queries, dim = 4, k = 3, nprobe = 2, m = 2, rerank = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val batchTopK = Pq.ivfPqResidualTopK(batchIdx, centroids,
      Pq.encodeResidual(batchIdx, centroids, codebook, dim = 4, m = 2), codebook,
      corpus, queries, dim = 4, k = 3, nprobe = 2, m = 2, rerank = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(served === batchTopK && served.nonEmpty)

    // a sink holding a DIFFERENT codebook (same centroids) fails loud —
    // silently mixing code spaces is the failure the joint marker exists for
    val otherCb = Pq.trainResidual(idx0, centroids, dim = 4, m = 2, ksub = 3, iters = 1)
    val s2 = MemoryStream[(Long, Seq[Double])]
    val q2 = StreamingPipelines.pqIndexSink(
      s2.toDF().toDF("vec_id", "embedding"), centroids, otherCb, regPath,
      dim = 4, m = 2).start()
    s2.addData(Seq((999L, vec(999L))))
    val ex = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("model mismatch")) || mentions(t.getCause))
    assert(mentions(ex), s"wrong failure: $ex")

    centroids.unpersist(blocking = false)
    codebook.unpersist(blocking = false)
    Dedup.releaseCaches(spark)
  }

  test("pqIndexSink: replaying a batch (at-least-once retry) leaves the index unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Ivf, Pq}
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_pq_reg_replay"
    new scala.reflect.io.Directory(new java.io.File(regPath)).deleteRecursively()
    val batch0 = (0L until 20L).map(i => (i, vec(i)))
    val corpus = batch0.toDF("vec_id", "embedding")
    val centroids = Ivf.train(corpus, k = 4, iters = 1).persist(); centroids.count()
    val codebook = Pq.trainResidual(Ivf.index(corpus, centroids), centroids,
      dim = 4, m = 2, ksub = 4, iters = 1).persist(); codebook.count()
    def deliver(): Unit = {
      val s = MemoryStream[(Long, Seq[Double])]
      val q = StreamingPipelines.pqIndexSink(
        s.toDF().toDF("vec_id", "embedding"), centroids, codebook, regPath,
        dim = 4, m = 2).start()
      s.addData(batch0); q.processAllAvailable(); q.stop()
    }
    deliver()
    def snapshot() = StreamingPipelines.currentPqIndex(spark, regPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toVector)).toSet
    val before = snapshot()
    assert(before.size === 20)
    // a fresh checkpoint-less query re-delivers the SAME rows as batchId 0
    // — foreachBatch's at-least-once contract; the batch=0 partition
    // overwrite must converge, not duplicate or corrupt
    deliver()
    assert(snapshot() === before)
    centroids.unpersist(blocking = false)
    codebook.unpersist(blocking = false)
    Dedup.releaseCaches(spark)
  }
}
