package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local("graft-test", Some("4"))
  val sf0001 = "/root/testdata/sf0.001"

  /** A fresh scratch path under the self-cleaning per-process root
    * (graft.ScratchDirs — ONE lifecycle implementation, not a test-side
    * copy). Specs MUST use this instead of a bare createTempDirectory,
    * which leaked hundreds of graft_bu_*-style trees into /tmp per test
    * run — the same hazard class as the t_search_indexed leak. */
  def scratch(tag: String): String = ScratchDirs.fresh(tag)

  /** Wait until every posted listener event has been delivered
    * (LiveListenerBus.waitUntilEmpty is private[spark]). */
  def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  /** The RDDs cached on the test context, minus local checkpoints (their
    * blocks are checkpoint data that the ContextCleaner frees once the
    * checkpointed plan is unreachable, not frames anyone persisted). */
  private def cachedRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !rdd.isCheckpointed => id
    }.toSet

  /** Take one before a stream starts and call `assertNoLeak` after it
    * stops: every frame a sink caches in a micro-batch must be released
    * by the sink itself — it is tracked under the stream's own session,
    * which a test-side `releaseCaches(spark)` never reaches. */
  final class LeakCheck private[SparkTestSession] (before: Set[Int]) {
    def assertNoLeak(what: String): Unit = {
      val leaked = cachedRddIds -- before
      val rdds = spark.sparkContext.getPersistentRDDs
      org.scalatest.Assertions.assert(leaked.isEmpty,
        s"$what leaked ${leaked.size} cached frame(s): " +
          leaked.toSeq.flatMap(rdds.get).map(_.toDebugString).mkString("\n"))
    }
  }

  def leakCheck(): LeakCheck = new LeakCheck(cachedRddIds)
}
