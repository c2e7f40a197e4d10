package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.streaming.Registry

/** Crash-window unit tests for the registry compaction protocol — the
  * scenarios the streaming stream≡batch specs cannot easily stage:
  * a fold that died before its marker commit, a retry running over an
  * already-folded registry, and the one-cycle cleanup grace.
  */
class RegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshBase(tag: String): String =
    SparkTestSession.scratch(s"reg_$tag")

  /** Write batch=<id> dirs of (doc_id, v) rows; doc_id = id*10 + i. */
  private def writeBatches(table: String, ids: Seq[Long], rows: Int = 3): Unit = {
    import spark.implicits._
    ids.foreach { id =>
      (0 until rows).map(i => (id * 10 + i, s"b$id"))
        .toDF("doc_id", "v")
        .write.mode("overwrite").parquet(s"$table/batch=$id")
    }
  }

  private def servedRows(base: String, table: String, excludeId: Long = -1L): Set[Long] = {
    val v = Registry.view(spark, base, table, excludeId)
    if (v.isEmpty) Set.empty
    else spark.read.parquet(v.paths: _*).select("doc_id")
      .collect().map(_.getLong(0)).toSet
  }

  test("ensureFormat: marks new groups, passes marked ones, refuses unmarked data") {
    // new/empty group: marker created, subsequent calls no-op
    val base = freshBase("fmt")
    Registry.ensureFormat(spark, base, "hashes-sorted-v2")
    assert(new java.io.File(base, "_format=hashes-sorted-v2").exists())
    Registry.ensureFormat(spark, base, "hashes-sorted-v2") // idempotent
    writeBatches(s"$base/hashes", Seq(0L))
    Registry.ensureFormat(spark, base, "hashes-sorted-v2") // still passes with data
    // a group holding data WITHOUT the expected marker (written by an
    // older engine, or marked with a different format) fails loudly
    val old = freshBase("fmt_old")
    writeBatches(s"$old/hashes", Seq(0L))
    val e = intercept[IllegalStateException] {
      Registry.ensureFormat(spark, old, "hashes-sorted-v2")
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    val mismarked = freshBase("fmt_mis")
    Registry.ensureFormat(spark, mismarked, "hashes-sorted-v1")
    writeBatches(s"$mismarked/hashes", Seq(0L))
    val e2 = intercept[IllegalStateException] {
      Registry.ensureFormat(spark, mismarked, "hashes-sorted-v2")
    }
    assert(e2.getMessage.contains("hashes-sorted-v1"), e2.getMessage)
  }

  test("fold advances the watermark; served rows are exactly-once and unchanged") {
    val base = freshBase("fold")
    writeBatches(base, 0L to 5L)
    val before = servedRows(base, base)
    assert(before.size === 18) // 6 batches x 3 rows, no dup-serving
    // fold everything below batch 6, trigger at 2
    assert(Registry.maybeCompact(spark, base, Seq(base), upToExclusive = 6L, every = 2))
    assert(Registry.watermark(spark, base) === Some(5L))
    assert(servedRows(base, base) === before)
    val v = Registry.view(spark, base, base)
    assert(v.snapshotPath.isDefined && v.dirIds.isEmpty)
    // below-threshold foldable set => no-op
    assert(!Registry.maybeCompact(spark, base, Seq(base), upToExclusive = 7L, every = 2))
  }

  test("own-id exclusion: a fold never covers the running batch") {
    val base = freshBase("own")
    writeBatches(base, 0L to 4L)
    // batch 4 is 'running': fold with upToExclusive = 4
    assert(Registry.maybeCompact(spark, base, Seq(base), upToExclusive = 4L, every = 2))
    assert(Registry.watermark(spark, base) === Some(3L))
    // the running batch's own rows are reachable only via its dir, so the
    // standard excludeId read cannot self-match
    val v = Registry.view(spark, base, base, excludeId = 4L)
    assert(v.dirIds.isEmpty && v.snapshotPath.isDefined)
    val served = spark.read.parquet(v.paths: _*).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!served.exists(_ >= 40L), s"own batch leaked into the fold: $served")
  }

  test("crash before the marker commit leaves the old view in force") {
    val base = freshBase("crash")
    writeBatches(base, 0L to 3L)
    assert(Registry.maybeCompact(spark, base, Seq(base), upToExclusive = 3L, every = 2))
    val before = servedRows(base, base)
    // simulate a fold that wrote its snapshot but died before the marker:
    // a bare snapshot dir with no _w= file must be invisible
    import spark.implicits._
    Seq((999L, "ghost")).toDF("doc_id", "v")
      .write.mode("overwrite").parquet(s"$base/snapshot=9")
    assert(Registry.watermark(spark, base) === Some(2L))
    assert(servedRows(base, base) === before, "uncommitted snapshot was served")
    // the next successful fold recomputes deterministically and commits
    writeBatches(base, Seq(4L, 5L))
    assert(Registry.maybeCompact(spark, base, Seq(base), upToExclusive = 6L, every = 2))
    assert(Registry.watermark(spark, base) === Some(5L))
    assert(servedRows(base, base) === before ++ Set(40L, 41L, 42L, 50L, 51L, 52L))
  }

  test("multi-table group folds only jointly-committed ids") {
    val base = freshBase("joint")
    val (ta, tb) = (s"$base/a", s"$base/b")
    writeBatches(ta, 0L to 3L)
    writeBatches(tb, 0L to 3L)
    // id 2 is half-committed in table b (no _SUCCESS)
    val su = new java.io.File(s"$tb/batch=2/_SUCCESS")
    assert(su.delete(), "fixture: _SUCCESS must exist to delete")
    assert(Registry.maybeCompact(spark, base, Seq(ta, tb), upToExclusive = 4L, every = 2))
    // fold covered {0,1,3} in BOTH tables; id 2 served by neither (it was
    // never servable — the dir intersection already skipped it)
    val va = Registry.view(spark, base, ta)
    val vb = Registry.view(spark, base, tb)
    val sa = spark.read.parquet(va.paths: _*).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!sa.exists(id => id >= 20L && id < 30L), s"half-committed id folded: $sa")
    assert(va.dirIds === vb.dirIds)
  }

  test("cleanup keeps one grace cycle of folded dirs and snapshots") {
    val base = freshBase("grace")
    writeBatches(base, 0L to 3L)
    assert(Registry.maybeCompact(spark, base, Seq(base), upToExclusive = 4L, every = 2))
    writeBatches(base, Seq(4L, 5L))
    assert(Registry.maybeCompact(spark, base, Seq(base), upToExclusive = 6L, every = 2))
    val names = new java.io.File(base).listFiles().map(_.getName).toSet
    // snapshots: the new one plus the previous (grace); batch dirs <= the
    // PREVIOUS watermark (3) are gone, later ones retained
    assert(names.contains("snapshot=5") && names.contains("snapshot=3"), names)
    assert(!(0L to 3L).exists(id => names.contains(s"batch=$id")), names)
    assert(names.contains("batch=4") && names.contains("batch=5"), names)
    // a third fold drops the oldest snapshot
    writeBatches(base, Seq(6L, 7L))
    assert(Registry.maybeCompact(spark, base, Seq(base), upToExclusive = 8L, every = 2))
    val after = new java.io.File(base).listFiles().map(_.getName).toSet
    assert(!after.contains("snapshot=3") && after.contains("snapshot=5")
      && after.contains("snapshot=7"), after)
    assert(servedRows(base, base).size === 24) // 8 batches x 3, exactly-once
  }

  test("pruneKeepNewest retains the newest two committed snapshots only") {
    val base = freshBase("prune")
    writeBatches(base, 0L to 4L)
    Registry.pruneKeepNewest(spark, base, keep = 2)
    val names = new java.io.File(base).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(names === Set("batch=3", "batch=4"), names)
  }

  test("sink scaffold: a failed batch leaves no cached frame and no open Dedup scope") {
    val base = freshBase("sink_fail")
    val outer = Dedup.trackMark(spark)
    val leaks = SparkTestSession.leakCheck()
    val e = intercept[IllegalStateException] {
      Registry.runBatch(spark.range(5).toDF("doc_id"), 0L, compactEvery = 1,
          Seq(Registry.Group(base))) { (batch, _) =>
        val cached = Dedup.track(batch.persist())
        assert(cached.count() === 5)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    leaks.assertNoLeak("a failed batch")
    assert(!new java.io.File(base, "batch=0").exists())
    // the batch's scope is closed: a frame tracked now belongs to the
    // enclosing scope again, so releasing that scope releases it
    val later = Dedup.track(spark.range(3).toDF("x").persist())
    assert(later.count() === 3)
    assert(Dedup.releaseSince(spark, outer) === 1)
  }

  test("sink scaffold: re-running a batch id overwrites its batch=<id> dirs") {
    import spark.implicits._
    val base = freshBase("sink_rerun")
    val (ta, tb) = (s"$base/a", s"$base/b")
    def run(ids: Seq[Long]): Unit =
      Registry.runBatch(ids.toDF("doc_id"), 3L, compactEvery = 1,
          Seq(Registry.Group(base, Seq(ta, tb)))) { (batch, _) =>
        Seq(ta -> batch, tb -> batch.select((col("doc_id") * 10).as("doc_id")))
      }
    run(Seq(1L, 2L))
    run(Seq(1L, 2L, 5L)) // the retry of batch 3 sees one more row
    for (t <- Seq(ta, tb))
      assert(new java.io.File(t).list().filter(_.startsWith("batch=")).toSeq === Seq("batch=3"))
    assert(servedRows(base, ta) === Set(1L, 2L, 5L))
    assert(servedRows(base, tb) === Set(10L, 20L, 50L))
  }
}
