package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.streaming.StreamingPipelines
import graft.tables.Tables

/** Continuous corpus onboarding: stream ≡ batch labels against a static
  * reference at any batching, bounded registry state, reference scans
  * paid once. */
class OnboardingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  test("onboardingSink: union of batch labels == one batch dedupAgainst; bounded dirs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val outPath = "/tmp/graft_test_onboard_out"
    new scala.reflect.io.Directory(new java.io.File(outPath)).deleteRecursively()

    // reference = every 5th doc re-keyed; incoming docs hit it exactly
    // (verbatim), nearly (planted tail), or not at all
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val reference = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    val incomingDf = docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 5, concat(col("text"), lit(" tiny planted tail")))
        .otherwise(col("text")).as("text"))
    val incoming = incomingDf.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val stream = MemoryStream[(Long, String)]
    // the reference index is cached once, when the sink is built
    val sink = StreamingPipelines.onboardingSink(
      stream.toDF().toDF("doc_id", "text"), reference, outPath, compactEvery = 2)
    val leaks = SparkTestSession.leakCheck()
    val q = sink.start()
    incoming.grouped(math.max(1, incoming.size / 5)).foreach { h =>
      stream.addData(h); q.processAllAvailable()
    }
    q.stop()
    leaks.assertNoLeak("onboardingSink")

    val got = StreamingPipelines.onboardedView(spark, outPath)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Dedup.dedupAgainst(incomingDf, reference)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Dedup.releaseCaches(spark)
    assert(got.size === incoming.size)
    assert(got === want)
    // all three labels live (exact_ref for %5 non-tail, near_ref for the
    // tailed ones long enough to stay over the Jaccard threshold, kept rest)
    val byLabel = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet.contains("exact_ref") && byLabel.keySet.contains("kept"),
      s"labels: $byLabel")
    assert(byLabel.getOrElse("near_ref", 0) > 0, s"near_ref vacuous: $byLabel")
    // compaction ran and bounds the dir set
    val dirs = new java.io.File(outPath).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("snapshot=")), s"no snapshot in ${dirs.toSeq}")
    assert(dirs.count(_.startsWith("batch=")) <= 2 * 2 + 1, s"unbounded dirs: ${dirs.toSeq}")
  }
}
