package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SkewOps
import graft.tables.Tables

/** The Tables memo (inferred schema + split count per table file) and the
  * job-free partition count behind SkewOps.spreadScan. Jobs are counted
  * by a listener filtered to this thread's job group, so a stray job from
  * another suite cannot be credited here. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  /** (result of f, jobs f started on the calling thread). */
  private def jobs[T](s: SparkSession)(f: => T): (T, Int) = {
    val sc = s.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        if (ev.properties != null && ev.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try { val r = f; SparkTestSession.drainListeners(); (r, n.get) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  /** A session with every modifiable SQL setting of the test session. */
  private def twin(): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.") && s.conf.isModifiable(k)) s.conf.set(k, v)
    }
    s
  }

  test("a second load runs 0 jobs and yields an identical schema") {
    val dir = SparkTestSession.scratch("tables-memo")
    spark.range(20).toDF("id").write.parquet(s"$dir/t.parquet")
    val (first, j1) = jobs(spark)(Tables.load(spark, dir, "t"))
    assert(j1 > 0, "the first load infers the schema with a job")
    val (second, j2) = jobs(spark)(Tables.load(spark, dir, "t"))
    assert(j2 === 0)
    assert(second.schema === first.schema)
    assert(second.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    // fact loaders too: the spread decision reads the memoized split count
    Tables.lineitem(spark, sf)
    val (li, j3) = jobs(spark)(Tables.lineitem(spark, sf))
    assert(j3 === 0)
    assert(li.count() === spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("overwriting a table at the same path with a different schema is seen") {
    val dir = SparkTestSession.scratch("tables-overwrite")
    spark.range(5).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq === Seq("id"))
    spark.range(5).selectExpr("cast(id as string) AS name", "cast(id as int) AS n")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.schema.fieldNames.toSeq === Seq("name", "n"))
    assert(again.collect().map(_.getInt(1)).sorted.toSeq === (0 until 5))
  }

  test("sessions that differ in nanosAsLong or inferTimestampNTZ do not share an entry") {
    Tables.load(spark, sf, "events")
    val same = twin()
    assert(jobs(same)(Tables.load(same, sf, "events"))._2 === 0,
      "identical settings share the entry")
    val nanos = twin()
    nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong",
      (!spark.conf.get("spark.sql.legacy.parquet.nanosAsLong").toBoolean).toString)
    assert(jobs(nanos)(Tables.load(nanos, sf, "events"))._2 > 0,
      "a different nanosAsLong must infer afresh")
    // observable on the current testdata (TIMESTAMP(MICROS, isAdjustedToUTC=false))
    val ntz = twin()
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert(Tables.load(ntz, sf, "events").schema("ts").dataType === TimestampNTZType)
    assert(Tables.load(spark, sf, "events").schema("ts").dataType === TimestampType)
  }

  test("a self-join of two loads of one table still analyses") {
    val a = Tables.nation(spark, sf)
    val b = Tables.nation(spark, sf)
    val pairs = a.join(b, a("n_regionkey") === b("n_nationkey"))
      .select(a("n_name"), b("n_name").as("region_nation"))
    assert(pairs.count() === 25) // n_regionkey 0..4 each match one nation key
  }

  test("StreamSmoke's raw-schema path is unchanged") {
    val raw = Tables.load(spark, sf, "events").schema
    assert(raw === spark.read.parquet(s"$sf/events.parquet").schema)
    assert(Tables.normalizeEvents(Tables.load(spark, sf, "events")).schema("ts").dataType
      === TimestampType)
    assert(Tables.events(spark, sf).schema("ts").dataType === TimestampType)
  }

  test("spreadScan runs no job, with or without an exchange in the frame") {
    val docs = Tables.documents(spark, sf)
    val want = spark.sparkContext.defaultParallelism
    val wide = docs.repartition(want * 2, col("doc_id"))
    val (kept, j1) = jobs(spark)(SkewOps.spreadScan(wide, "doc_id"))
    assert(j1 === 0)
    assert(kept eq wide, "an already-wide frame is not spread again")
    val narrow = docs.repartition(1, col("doc_id"))
    val (spread, j2) = jobs(spark)(SkewOps.spreadScan(narrow, "doc_id"))
    assert(j2 === 0)
    assert(spread.rdd.getNumPartitions === want)
    // an exchange the planner adds (an aggregate) is not executed either
    val (_, j3) = jobs(spark)(SkewOps.spreadScan(docs.groupBy("doc_id").count(), "doc_id"))
    assert(j3 === 0)
    val (_, j4) = jobs(spark)(SkewOps.spreadScan(docs, "doc_id"))
    assert(j4 === 0)
  }
}
