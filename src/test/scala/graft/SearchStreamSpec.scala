package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Search
import graft.streaming.SearchStream

/** Continuous full-text index: stream-served top-k ≡ batch searchTopK
  * over the latest version of each doc, including re-ingests that DROP
  * terms and fold compaction mid-stream; registry state stays bounded.
  */
class SearchStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("searchIndexSink: stream == batch search under re-ingest + compaction") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val regPath = "/tmp/graft_test_search_reg"
    new scala.reflect.io.Directory(new java.io.File(regPath)).deleteRecursively()

    val words = Seq("spark", "join", "scan", "merge", "window", "batch")
    def text(i: Long): String =
      (0 until (i % 4 + 1).toInt).map(k => words(((i + k) % words.size).toInt))
        .mkString(" ")
    val initial = (0L until 30L).map(i => (i, text(i)))
    // re-ingests REPLACE the doc: doc 3 drops every original term,
    // doc 7 becomes empty text, doc 11 gains a new rare term
    val revised = Seq(
      (3L, "quartz"), (7L, ""), (11L, "spark xylophone"))
    val truth = (initial.toMap ++ revised.toMap).toSeq.map { case (id, t) => (id, t) }

    val stream = MemoryStream[(Long, String)]
    val leaks = SparkTestSession.leakCheck()
    val q = SearchStream.searchIndexSink(
        stream.toDF().toDF("doc_id", "text"), regPath, compactEvery = 2)
      .start()
    (initial.grouped(8).toSeq :+ revised).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    leaks.assertNoLeak("searchIndexSink")

    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq.sortBy(_._4)

    // served == batch searchTopK over the latest doc versions
    val batchDocs = truth.toDF("doc_id", "text")
    for (query <- Seq(Seq("spark", "merge"), Seq("quartz"), Seq("xylophone", "scan"))) {
      val served = ranked(SearchStream.currentTopK(spark, regPath, query, k = 50))
      val want = ranked(Search.searchTopK(batchDocs, query, k = 50))
      assert(served === want && want.nonEmpty, s"query $query")
    }

    // a dropped term no longer matches its doc; the empty doc matches nothing
    val joinHits = SearchStream.currentTopK(spark, regPath, Seq("join"), k = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!joinHits.contains(3L) && !joinHits.contains(7L))

    // state is one live row per doc and the dir set is bounded
    val live = SearchStream.currentPostings(spark, regPath)
    assert(live.select("doc_id").distinct().count() === 29L) // doc 7 has no terms
    val dirs = new java.io.File(s"$regPath/docposts").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("snapshot=")), s"no snapshot in ${dirs.toSeq}")
    assert(dirs.count(_.startsWith("batch=")) <= 2 * 2 + 1, s"unbounded dirs: ${dirs.toSeq}")
  }

  test("empty registry serves an empty, well-typed frame") {
    val out = SearchStream.currentTopK(spark, "/tmp/graft_test_search_none",
      Seq("anything"), k = 5)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("doc_id", "n_terms", "score_ppb", "rank"))
  }
}
