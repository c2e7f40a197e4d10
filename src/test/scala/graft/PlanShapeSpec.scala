package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the STRUCTURAL plan properties the 100 TB story rests on, so a
  * refactor that quietly adds a corpus shuffle or rescans the corpus
  * fails here instead of in a bench regression three rounds later.
  * Counts come from the pre-AQE physical plan (`sparkPlan`) — the
  * planner's static decisions, deterministic at any SF.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  private def plan(name: String) =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan

  /** Planner-added shuffles only (ENSURE_REQUIREMENTS): the invariants
    * pinned here are about what the PLANNER must never do (shuffle a
    * fact pre-agg, grow a corpus shuffle). The round-15 scale-adaptive
    * scan spread (SkewOps.spreadScan) is an explicitly requested
    * repartition that plans as REPARTITION_BY_NUM, fires only when a
    * scan is under-split (a no-op on any many-split corpus, i.e. at
    * cluster scale), and is separately pinned below to never carry
    * binary payloads. */
  private def plannerShuffles(p: org.apache.spark.sql.execution.SparkPlan) =
    p.collect { case e: ShuffleExchangeExec
        if e.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e }

  /** Every deliberate spread exchange must ship narrow rows: a binary
    * (media payload) column entering a REPARTITION exchange means the
    * spread moved from the id/text scan onto decoded payload bytes —
    * the exact regression the metadata-pass pins exist to catch. */
  private def assertSpreadsNarrow(p: org.apache.spark.sql.execution.SparkPlan, name: String): Unit =
    p.collect { case e: ShuffleExchangeExec
        if e.shuffleOrigin != org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e }
      .foreach { e =>
        assert(!e.output.exists(_.dataType == org.apache.spark.sql.types.BinaryType),
          s"$name: a spread exchange carries a binary payload:\n$p")
      }

  private def shuffles(name: String) = {
    val p = plan(name)
    assertSpreadsNarrow(p, name)
    plannerShuffles(p).size
  }

  test("q5_nation_revenue: the fact never shuffles before the final agg") {
    val p = plan("q5_nation_revenue")
    // <= 1: at sf0.001 the single-partition scan satisfies the agg's
    // distribution and even the final-agg exchange disappears
    assert(plannerShuffles(p).size <= 1,
      s"expected at most the final-agg exchange:\n$p")
    assertSpreadsNarrow(p, "q5_nation_revenue")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size >= 3,
      s"dimension joins must stay broadcast:\n$p")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, s"no dimension join may shuffle the fact:\n$p")
  }

  test("warehouse headlines: every DOUBLE -> DECIMAL cast sits in the exact-cast fallback") {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, If, MakeDecimal}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // a Cast reachable other than as the else branch of DoubleToDecimal's
    // If means the money column is formatted through Double.toString
    def bare(e: Expression): Seq[Cast] = e match {
      case If(fast, exact: MakeDecimal, _: Cast) => bare(fast) ++ bare(exact)
      case c @ Cast(x, _: DecimalType, _, _) if x.dataType == DoubleType => c +: bare(x)
      case _ => e.children.flatMap(bare)
    }
    for (name <- Seq("q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
        "a1_traffic_window", "dws09_dedup_enrich_window", "j1_wide_join")) {
      val p = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      val casts = p.flatMap(_.expressions.flatMap(bare))
      assert(casts.isEmpty, s"$name: unrewritten ${casts.mkString(", ")}\n$p")
    }
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, dir).queryExecution.optimizedPlan
    assert(q1.expressions.exists(_.exists(_.isInstanceOf[MakeDecimal])), s"rule did not fire:\n$q1")
  }

  test("j1_wide_join and t_token_stats: zero shuffles above the scans") {
    assert(shuffles("j1_wide_join") === 0)
    assert(shuffles("t_token_stats") === 0)
  }

  test("classification eval reads the cached confusion matrix, not the corpus, per marginal") {
    val p = plan("t_eval_langid")
    val fileScans = p.collect { case s: FileSourceScanExec => s }
    val cacheScans = p.collect { case c: InMemoryTableScanExec => c }
    assert(fileScans.isEmpty,
      s"a marginal branch rescans the corpus:\n$p")
    assert(cacheScans.size >= 3, // pred marginal, gold marginal, diagonal
      s"expected every metric branch on the cached confusion matrix:\n$p")
  }

  test("a13_count_anomaly: one corpus-sized agg; stats join back as broadcast") {
    val p = plan("a13_count_anomaly")
    // counts agg (1 exchange) + bucket-count-sized stats agg (1) — the
    // join back must NOT be a shuffle join over the counts
    assert(plannerShuffles(p).size <= 2, s"$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size === 1, s"$p")
  }

  test("ivfPqResidualTopK: broadcast LUT/probe sides, partial-agged ADC, bounded rerank") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    val emb = graft.tables.Tables.embeddings(spark0, dir)
    val q = emb.filter(col("vec_id") < 4)
    val cents = graft.operators.Ivf.trainScalable(emb, 4, iters = 1, rounds = 1)
    val idx = graft.operators.Ivf.index(emb, cents)
    val cb = graft.operators.Pq.trainResidual(idx, cents, dim = 64, m = 8, ksub = 4, iters = 1)
    val codes = graft.operators.Pq.encodeResidual(idx, cents, cb, dim = 64, m = 8)
    val k = 3; val rerank = 2
    val served = graft.operators.Pq.ivfPqResidualTopK(idx, cents, codes, cb, emb, q,
      dim = 64, k = k, nprobe = 2, m = 8, rerank = rerank)
    val p = served.queryExecution.sparkPlan
    // 1. the per-query LUT joins back as an explicit BROADCAST hash join
    //    (codes never move toward the LUT), the query×centroid probe is
    //    a broadcast nested-loop over the tiny centroid table, and the
    //    corpus must never enter a cartesian
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"LUT join must stay broadcast:\n$p")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.nonEmpty, s"the query x centroid probe must be a broadcast nested-loop:\n$p")
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"corpus-sized cartesian crept in:\n$p")
    // 2. the ADC sum partial-aggs map-side before its exchange, on the
    //    (qid, vec_id) aggregate SPECIFICALLY (an exists() over any agg
    //    would stay green if some other Sum in the plan partial-aggs
    //    while the ADC combine is dropped — shipping one row per
    //    (probe, subspace) across the wire, the exact regression pinned)
    val adcPartial = p.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }.exists { h =>
      val groupNames = h.groupingExpressions.map(_.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.NamedExpression].name).toSet
      groupNames == Set("qid", "vec_id") &&
        h.aggregateExpressions.exists(ae =>
          ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial &&
            ae.aggregateFunction.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.aggregate.Sum])
    }
    assert(adcPartial,
      s"the (qid, vec_id) ADC sum lost its map-side partial aggregation:\n$p")
    // 3. every window is qid-partitioned (no global single-partition rank)
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"a partition-less window entered the serve path:\n$p")
    // 4. rerank stays bounded: at most k results per query, ranks 1..k,
    //    and the exact re-score never exceeds rerank·k candidates per qid
    val rows = served.collect()
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.nonEmpty && perQ.values.forall(_.length <= k), s"k-cut broke")
    assert(rows.forall(_.getInt(3) <= k))
    graft.operators.Dedup.releaseCaches(spark0)
  }

  test("media metadata passes are exchange-free; media dedup never goes cartesian") {
    // the 100 TB shape of the modality arms: decode/stats/resample
    // chains are pure map-side work (round-13 audits in PLANS.md) —
    // a refactor that adds a corpus shuffle fails here first
    for (name <- Seq("t_audio_meta", "t_audio_header", "t_audio_resample",
        "t_image_meta", "t_video_meta")) {
      assert(shuffles(name) === 0,
        s"$name grew a shuffle:\n${plan(name)}")
    }
    // round-14 additions: the scene/demux/raw-frame passes are the same
    // map-side shape (flatMap per video, zero exchanges)
    for (name <- Seq("t_video_scene_cuts", "t_video_frames_raw",
        "t_video_demux_audio")) {
      assert(shuffles(name) === 0,
        s"$name grew a shuffle:\n${plan(name)}")
    }
    // fingerprint dedup entries: band-keyed equi-joins only — never a
    // cartesian or broadcast nested loop over the corpus
    for (name <- Seq("t_image_dedup", "t_image_dedup_keepers",
        "t_audio_dedup", "t_audio_dedup_keepers", "t_video_dedup_keyframe",
        "t_curate_video", "t_curate_media3", "t_image_decontaminate",
        "t_audio_decontaminate", "t_video_decontaminate")) {
      val q = SparkEntry.queries(name)(spark, dir)
      val p = q.queryExecution.sparkPlan
      assert(p.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"$name degenerated to a cartesian:\n$p")
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"$name degenerated to a nested loop:\n$p")
      graft.pipeline.Curate.releaseCaches(spark)
      ()
    }
  }

  test("t_dedup_edit: segment index joins stay equi-join — never cartesian") {
    // the PassJoin rewrite's whole point is that candidates come from a
    // (len, ordinal, segment) EQUI-join; a refactor that degrades it to
    // a nested-loop/cartesian (e.g. by making a join key non-equi) would
    // reintroduce the quadratic candidate scan the round-15 sweep caught
    val p = SparkEntry.queries("t_dedup_edit")(spark, dir).queryExecution.sparkPlan
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"t_dedup_edit degenerated to a cartesian:\n$p")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"t_dedup_edit degenerated to a nested loop:\n$p")
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("bpeMerges word-type cap plans as TakeOrderedAndProject (bounded collect)") {
    // the driver-side merge fold is only safe because the collected
    // (word, freq) table is capped — and the cap must plan as a
    // per-partition top-k (TakeOrderedAndProject), never a global sort
    // followed by a limit on the driver; a refactor that loses the
    // limit (unbounded collect) or degrades it to Sort+CollectLimit
    // fails here before it ships
    val docs = graft.tables.Tables.documents(spark, dir)
    val capped = graft.operators.TextAnalysis.bpeWordFreqs(docs,
      graft.operators.TextAnalysis.DefaultMaxWordTypes)
    val p = capped.queryExecution.sparkPlan
    assert(p.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"the word-type cap must plan as TakeOrderedAndProject:\n$p")
    assert(p.collect { case s: org.apache.spark.sql.execution.SortExec => s }
      .isEmpty, s"no global sort may precede the cap:\n$p")
  }
}
