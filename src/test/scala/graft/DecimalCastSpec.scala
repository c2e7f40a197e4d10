package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.MakeDecimal
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.DoubleToDecimal

/** DoubleToDecimal (the exact DOUBLE -> DECIMAL(p <= 18, s) cast rule)
  * against Spark's own Cast with the rule off: a second session on the
  * same SparkContext, built without GraftExtensions. Values come from
  * scalacheck generators at fixed seeds and run through a parallelized
  * frame, so the cast executes in codegen'd tasks (a local Seq would be
  * folded by ConvertToLocalRelation before the rule ever runs). */
class DecimalCastSpec extends AnyFunSuite {
  private lazy val on = SparkTestSession.spark
  private lazy val off: SparkSession = {
    on // the shared SparkContext must exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().getOrCreate()
    finally {
      SparkSession.setDefaultSession(on)
      SparkSession.setActiveSession(on)
    }
  }

  private val shapes = for (p <- Seq(10, 18); s <- Seq(0, 2, 4)) yield DecimalType(p, s)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** Doubles on the 10^-s grid, the HALF_UP edges x.xx5 with their
    * neighbours, the 2^43 fast-path limit, and arbitrary bit patterns. */
  private def values(seed: Long): Seq[Double] = {
    val grid = for (s <- Seq(0, 2, 4)) yield
      Gen.choose(-100000000000L, 100000000000L).map(_ / math.pow(10, s))
    val half = Gen.choose(-10000000000L, 10000000000L).flatMap { n =>
      val x = (10 * n + 5) / 1000.0
      Gen.oneOf(x, Math.nextUp(x), Math.nextDown(x))
    }
    val nearLimit = Gen.choose(-200, 200).map(k => DoubleToDecimal.limit(2) + k * 0.0009765625)
    val bits = Gen.long.map(java.lang.Double.longBitsToDouble)
    val any = Gen.frequency(
      (4, Gen.oneOf(grid).flatMap(identity)), (3, half), (1, nearLimit), (1, bits),
      (1, Gen.choose(-1e6, 1e6)))
    sample(Gen.listOfN(4000, any), seed) ++ specials
  }

  private val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue,
    0.005, -0.005, 0.015, 1.005, 2.675, 1e15, 123456789.125, 0.1 + 0.2)

  private def frame(s: SparkSession, xs: Seq[Double], t: DecimalType): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(xs.zipWithIndex, 4).toDF("x", "i")
      .select(col("i"), col("x").cast(t).as("d"))
  }

  private def withAnsi[T](ansi: Boolean)(f: => T): T = {
    val prev = Seq(on, off).map(_.conf.get("spark.sql.ansi.enabled"))
    Seq(on, off).foreach(_.conf.set("spark.sql.ansi.enabled", ansi.toString))
    try f finally Seq(on, off).zip(prev).foreach { case (s, v) => s.conf.set("spark.sql.ansi.enabled", v) }
  }

  private def rewritten(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[MakeDecimal]))

  /** The cast's value per input, or the error conditions it raised. */
  private def outcome(s: SparkSession, xs: Seq[Double], t: DecimalType)
      : Either[List[String], Map[Int, java.math.BigDecimal]] =
    try Right(frame(s, xs, t).collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap)
    catch { case e: Exception =>
      Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collect { case st: SparkThrowable if st.getCondition != null => st.getCondition }.toList)
    }

  test("the rule equals Spark's Cast on generated doubles (non-ANSI: overflow is null)") {
    withAnsi(ansi = false) {
      for (t <- shapes; seed <- 1L to 3L) {
        val xs = values(seed * 31 + t.precision * 7 + t.scale)
        assert(rewritten(frame(on, xs, t)) && !rewritten(frame(off, xs, t)))
        // a nondeterministic input would be drawn once per use in the If
        assert(!rewritten(on.range(3).select(org.apache.spark.sql.functions.rand(7).cast(t))))
        val got = outcome(on, xs, t)
        assert(got.isRight, s"$t seed=$seed: $got")
        val want = outcome(off, xs, t)
        val diffs = xs.indices.filter(i => got.toOption.get(i) != want.toOption.get(i))
        assert(diffs.isEmpty, s"$t seed=$seed: " +
          diffs.take(5).map(i => s"${xs(i)} -> ${got.toOption.get(i)} vs ${want.toOption.get(i)}"))
      }
    }
  }

  test("the rule equals Spark's Cast under ANSI, error conditions included") {
    withAnsi(ansi = true) {
      for (t <- shapes) {
        val top = math.pow(10, t.precision - t.scale)
        val step = math.pow(10, -t.scale)
        // the precision edge: largest fitting value, the HALF_UP round-up
        // into overflow, and their neighbours; the fast-path limit; specials
        val edges = Seq(top - step, top - step / 2, Math.nextDown(top - step / 2), top,
          Math.nextUp(top), -(top - step), -top, DoubleToDecimal.limit(t.scale),
          Math.nextDown(DoubleToDecimal.limit(t.scale)), Double.NaN,
          Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue, -0.0)
        for (x <- edges) {
          val got = outcome(on, Seq(x), t)
          assert(got === outcome(off, Seq(x), t), s"$t x=$x")
        }
        val fits = values(t.precision * 10L + t.scale).filter(x => !x.isNaN && x.abs < top - step)
        assert(outcome(on, fits, t) === outcome(off, fits, t), s"$t")
      }
      val overflow = outcome(on, Seq(1e9), DecimalType(10, 2))
      assert(overflow.swap.exists(_.nonEmpty), s"$overflow")
    }
  }
}
