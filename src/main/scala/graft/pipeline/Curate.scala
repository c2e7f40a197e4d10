package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.functions.TokMode
import graft.operators.{Classify, Dedup, TextAnalysis}
import graft.tables.Tables

/** End-to-end training-corpus curation — the operators composed into the
  * pipeline they exist for:
  *
  *   ingest → exact dedup → MinHash near-dup removal → quality filter →
  *   language filter → token accounting → curated corpus + stats.
  *
  * Every stage is one of the oracle-checked operators; the composition is
  * all narrow transforms + the LSH candidate join, so it runs at scan
  * speed on a corpus that doesn't fit one machine.
  *
  * Usage: Curate <sfDir> <outDir> [minQuality]
  */
object Curate {

  /** Near-dup removal policy for step 2 of the pipeline. */
  sealed trait NearDupPolicy
  object NearDupPolicy {
    /** MinHash+LSH candidate pairs, drop the larger-id side of every pair
      * (may keep two docs that are transitively near through a third). */
    case object PairwiseDrop extends NearDupPolicy
    /** MinHash+LSH pairs closed into connected components; exactly ONE
      * keeper (the min doc_id) survives per transitive cluster. */
    case object ClusterKeeper extends NearDupPolicy
    /** Exact n-gram Jaccard join (Dedup.ngramJaccardPairs — prefix +
      * positional filtering, recall-LOSSLESS), drop-doc_b pairwise. The
      * policy for contracts/eval corpora where MinHash's probabilistic
      * recall is not acceptable; costs the gram-keyed self-join instead
      * of the banded signature join. */
    final case class ExactJaccard(n: Int = 3, threshold: Double = 0.7) extends NearDupPolicy
    /** Asymmetric containment pairs (Dedup.ngramContainmentPairs): drop
      * the CONTAINED copy, keep the superset — the "doc plus extra
      * paragraphs" family symmetric Jaccard dilutes below any usable
      * threshold. Recall-lossless like ExactJaccard. */
    final case class Containment(n: Int = 3, threshold: Double = 0.8) extends NearDupPolicy
  }

  /** Model-based selection gate (CCNet posture: a tiny static model, a
    * corpus-sized scan): docs whose Classify.scoreTokens score is <= 0
    * are dropped as `classifier`, AFTER the repetition gate and BEFORE
    * the heuristic quality score. The weight table is trained once
    * (Classify.trainTokenWeights — one aggregation over a labeled frame)
    * and broadcast into the scoring scan, so the gate costs one map-side
    * explode + broadcast join + doc-keyed agg per corpus pass. Docs with
    * zero tokens score 0 and are dropped here (they would land in
    * low_quality otherwise — precedence decides the label, not the fate). */
  final case class ClassifierGate(weights: DataFrame, buckets: Int = 1024)

  /** Bigram-LM fluency gate (the CCNet perplexity-bucket posture, via
    * TextAnalysis.scoreLm's engine-parity micro-probabilities): docs with
    * lm_micro_avg < minMicroAvg drop as `lm_fluency`, AFTER the
    * classifier gate and BEFORE the heuristic quality score. Docs with no
    * bigram evidence (< 2 tokens → NULL average) PASS — insufficient
    * evidence defers to the quality gate rather than failing a model that
    * never saw the doc. The model is static (train once via
    * TextAnalysis.trainLm), so streaming scoring is batching-independent.
    * The model tables are lazy plans over the reference: a long-running
    * stream should persist() them (or write + re-read) before starting,
    * or every micro-batch re-runs the reference aggregation — correct
    * either way (the reference is static), just wasted work. */
  final case class LmGate(model: TextAnalysis.LmModel, minMicroAvg: Double)

  /** Gopher rule-set gate (TextAnalysis.gopherRules): docs failing ANY of
    * the MassiveText heuristic rules drop as `gopher_rules`, AFTER the
    * repetition gate (both are Rae et al. §A.1.1 siblings — repetition
    * keeps its own label for attribution) and BEFORE the learned
    * classifier: cheap explainable rules run before model calls, the
    * CCNet/Gopher ordering. Map-side and per-doc, so the streaming twin
    * is batching-independent. Zero-word docs fail r_wordcount and drop
    * here when the gate is on (precedence decides the label). */
  final case class GopherGate(
      minWords: Int = 50, maxWords: Int = 100000,
      requiredStops: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"))

  final case class Stats(
      input: Long, exactDups: Long, nearDups: Long,
      contaminated: Long, repetitive: Long, gopherDropped: Long,
      classifierDropped: Long,
      lmDropped: Long,
      lowQuality: Long, unknownLang: Long, kept: Long, keptTokens: Long)

  /** Every [[Stats]] counter as one JSON object, keyed by the field name
    * in snake_case (exactDups → exact_dups). */
  private[graft] def statsJson(s: Stats): String =
    s.productElementNames.zip(s.productIterator).map { case (k, v) =>
      "\"" + k.replaceAll("([A-Z])", "_$1").toLowerCase + "\":" + v
    }.mkString("{", ",", "}")

  // the one cache that outlives runDocs (it backs the returned `curated`
  // frame); released by releaseCaches once the caller's terminal action ran.
  // Strong refs + stopped-session purge, same design (and reasons) as
  // Dedup.tracked: weak keys can't collect (a Dataset references its own
  // session) and weak values would skip live unpersists.
  private val tracked =
    scala.collection.mutable.Map.empty[SparkSession, Vector[DataFrame]]

  /** Release every cache a Curate run left on `spark` (its own surviving
    * frame + anything Dedup still tracks); call after the terminal action
    * on the returned frame. Returns how many frames were released. */
  def releaseCaches(spark: SparkSession): Int = synchronized {
    tracked.filterInPlace((s, _) => !s.sparkContext.isStopped)
    val frames = tracked.remove(spark).getOrElse(Vector.empty)
    frames.foreach(_.unpersist(blocking = false))
    frames.size + Dedup.releaseCaches(spark)
  }

  def run(spark: SparkSession, sfDir: String, minQuality: Double = 0.55,
      nearDup: NearDupPolicy = NearDupPolicy.PairwiseDrop): (DataFrame, Stats) =
    runDocs(spark, Tables.documents(spark, sfDir), Gates(minQuality = minQuality), nearDup)

  /** The gate chain's configuration — one value shared by [[runDocs]] and
    * graft.streaming.CurateStream.sink, so both run the same chain:
    *
    *   [[prepare]] (stripHtml → redactPii → excise → token binding) →
    *   exact dup → near dup → contaminated → repetitive → gopher_rules →
    *   classifier → lm_fluency → low_quality → unknown_lang → kept
    *
    * Every pre-transform and gate here is per-doc against static inputs
    * (benchmark tables, trained models, fixed thresholds), so labeling a
    * micro-batch equals labeling the corpus: only dedup depends on what
    * came before, and that is the one step each entry point owns.
    *
    * Construction enforces the model-gate mode contract, LOUDLY and in
    * BOTH directions, before any work on either entry point (the checks
    * read schema metadata only and run no Spark job):
    *  - an LM model whose training tokenization (LmModel.tokMode, written
    *    by trainLm from the TokMode.bind tag) differs from the pipeline
    *    mode scores every bigram at the +1-smoothing floor and silently
    *    drops the corpus as `lm_fluency` — latin-under-cjk AND
    *    cjk-under-latin are both wipeouts, and an untagged manual
    *    binding ("unknown") is refused because nothing proves its mode;
    *  - a classifier weight table trained in the other token space
    *    (TokMode.ofWeights, stamped by Classify.trainTokenWeights) scores
    *    a disjoint vocab through arbitrary hash buckets — same class of
    *    silent wipeout, same two-directional refusal;
    *  - the Gopher rule set is latin-lexicon BY DESIGN (MassiveText's
    *    rules: whitespace word counts, en required-stops — Rae et al.
    *    §A.1.1 target English), so under cjk mode zh prose counts as ~1
    *    "word", fails r_wordcount/r_stops, and the WHOLE zh corpus drops
    *    as `gopher_rules`: refused rather than documented-and-allowed,
    *    per the LM-gate precedent.
    *
    * @param minQuality docs whose heuristic quality score
    *   (TextAnalysis.qualityScore; zero-token docs score 0) is below this
    *   drop as `low_quality`.
    * @param benchmark when set, docs sharing any `contaminationN`-token
    *   shingle with this table drop as `contaminated`
    *   (TextAnalysis.contaminationTable — the pre-training eval-leak
    *   gate). The table is tokenized in the pipeline's mode IN BOTH MODES:
    *   both sides of the gram join must live in one token space, and a
    *   stray caller-bound `toks` of another tokenization must not leak
    *   through. Off by default.
    * @param contaminationN shingle width of the `benchmark` gate.
    * @param maxDup3Frac docs whose duplicate-3-gram fraction
    *   (TextAnalysis.repetitionScore) exceeds this drop as `repetitive`
    *   (the Gopher repetition filter). 1.0 disables (the fraction is
    *   strictly < 1). Off by default.
    * @param gopher when set, docs failing any Gopher/MassiveText rule
    *   (see [[GopherGate]]) drop as `gopher_rules` — after the repetition
    *   gate, before the learned classifier. Off by default.
    * @param classifier when set, docs the trained model scores <= 0 drop
    *   as `classifier` (see [[ClassifierGate]]) — after the gopher gate,
    *   before the heuristic quality score. Off by default.
    * @param lm when set, docs whose bigram-LM fluency score falls below
    *   the gate's minMicroAvg drop as `lm_fluency` (see [[LmGate]]) —
    *   after the classifier gate, before the heuristic quality score. Off
    *   by default.
    * @param stripHtml when true, TextAnalysis.stripHtml runs FIRST
    *   (extraction precedes scrubbing): two docs differing only in markup
    *   ARE duplicates once it's gone, and no gate or registry may see
    *   tags/entities.
    * @param redactPii when true, TextAnalysis.redactPii scrubs every doc
    *   BEFORE any gate runs (the real-world order: fingerprints, shingles
    *   and quality scores must reflect the text that ships, and two docs
    *   differing only in the PII they leak ARE duplicates after the
    *   scrub). Off by default.
    * @param excise when set, SURGICAL decontamination runs as the LAST
    *   pre-transform, before the token binding: every `exciseN`-token
    *   shingle shared with this benchmark table is EXCISED from the text
    *   (TextAnalysis.decontaminateSpans, character-offset excision in
    *   BOTH modes — `preserveStructure`, round 12: shipped text differs
    *   from lower_root(original) ONLY inside excised ranges, so
    *   punctuation/line structure survives in latin mode too), and the
    *   pipeline ingests the excised text, so fingerprints, shingles,
    *   quality and every gate see the text that ships. The table is
    *   rebound in the pipeline's mode like `benchmark`'s. The softer
    *   alternative to the doc-dropping `benchmark` gate (dropping a
    *   100-page doc for one leaked eval question wastes the other 99
    *   pages); the two compose — excise first, and still drop docs the
    *   gate finds contaminated AFTER excision. Docs differing only inside
    *   excised spans (or only by case) MAY become exact duplicates — that
    *   is the point, not an artifact.
    * @param exciseN shingle width of the `excise` pre-transform.
    * @param cjk mixed-script mode: binds `toks` ONCE on the prepared
    *   frame through the FUSED `tokenize_array_cjk` kernel
    *   (plans.TokenizeArrayCjk, one codegen'd linear scan; bit-parity
    *   with the compositional tokens(text, cjk=true) pinned in PlansSpec),
    *   and the bound-toks reuse contract (TextAnalysis.withToks /
    *   Dedup.shingleSets / contaminationGrams / scoreLm) routes that one
    *   tokenization into quality, language, decontamination, the LM gate,
    *   AND the near-dup shingle build — so MinHash/Jaccard operate on CJK
    *   character bigrams exactly as the CJK tokenizer mode pins them
    *   (u2_cjk_tokens), not on a latin tokenization that strips CJK to
    *   nothing. The quality stop-rate term gains the zhLexicon bigram arm
    *   (qualityScore cjk — the term is otherwise constant 0 for pure-zh
    *   docs). `lm` and `classifier` must be trained on TokMode.bind-bound
    *   frames of this mode, and `gopher` is refused under cjk (the mode
    *   contract above). Exact dedup (md5 fingerprint) is script-agnostic
    *   either way. */
  final case class Gates(
      minQuality: Double = 0.55,
      benchmark: Option[DataFrame] = None,
      contaminationN: Int = 4,
      maxDup3Frac: Double = 1.0,
      gopher: Option[GopherGate] = None,
      classifier: Option[ClassifierGate] = None,
      lm: Option[LmGate] = None,
      stripHtml: Boolean = false,
      redactPii: Boolean = false,
      excise: Option[DataFrame] = None,
      exciseN: Int = 4,
      cjk: Boolean = false) {
    private val want = TokMode.name(cjk)
    lm.foreach { g =>
      require(g.model.tokMode == want,
        s"LM gate tokenization mode '${g.model.tokMode}' does not match the " +
          s"pipeline mode '$want': train the model on a reference bound via " +
          "graft.functions.TokMode.bind(ref, cjk = <pipeline mode>) before trainLm")
    }
    classifier.foreach { cg =>
      val m = TokMode.ofWeights(cg.weights)
      require(m == want,
        s"classifier gate tokenization mode '$m' does not match the pipeline " +
          s"mode '$want': train the weights via Classify.trainTokenWeights on a " +
          "frame bound with graft.functions.TokMode.bind(train, cjk = <pipeline mode>)")
    }
    require(!cjk || gopher.isEmpty,
      "the Gopher rule gate is latin-only by design (whitespace word counts + " +
        "en required-stops): under cjk mode it would drop every zh doc as " +
        "gopher_rules — run it on the latin slice of a mixed corpus instead")
  }

  /** The pre-transforms in their one order — stripHtml → redactPii →
    * stripLineFreq → excise — then the mode's token binding. Extraction
    * precedes scrubbing (markup must be gone before PII patterns, line
    * identity, or any fingerprint sees the text); surgical excision comes
    * LAST, because spans must be located in the text that ships and every
    * fingerprint/gate downstream must see the excised form.
    *
    * `stripLineFreq` is batch-only: line hotness is a corpus-level count,
    * and a line can cross the threshold after earlier micro-batches
    * already shipped, so the stream passes None.
    *
    * The binding runs the FUSED kernel for the mode (one codegen'd scan,
    * null text → empty array) before the caller's persist, so it runs
    * once, not once per consumer. Latin mode binds too (round 10): the
    * bound column is exactly what every consumer would compute
    * (tokensFused(text) — quality, language, and the shingle build each
    * re-ran that scan on the cached text), so the binding is a pure
    * scan-count win: settled sf1 wall 5.6–5.9 → 4.0–4.3 s (−25–30%;
    * SCALE.md §Round-10, identical accounting; the one-off A/B main
    * that measured it was retired, see `git log --diff-filter=D --
    * src/main/scala/graft/tools/CurateCjkBench.scala`). At 100 TB
    * tokenization is the dominant map-side cost of the pipeline. */
  private[graft] def prepare(documents: DataFrame, g: Gates,
      stripLineFreq: Option[Int] = None): DataFrame = {
    val extracted =
      if (g.stripHtml) TextAnalysis.stripHtml(documents).select(col("doc_id"), col("text"))
      else documents
    val scrubbed =
      if (g.redactPii) TextAnalysis.redactPii(extracted)
        .select(col("doc_id"), col("redacted").as("text"))
      else extracted
    val stripped = stripLineFreq.fold(scrubbed)(k =>
      TextAnalysis.stripBoilerplate(scrubbed, k).select(col("doc_id"), col("text")))
    val excised = g.excise.fold(stripped)(bx =>
      TextAnalysis.decontaminateSpans(stripped, TokMode.bind(bx, g.cjk), g.exciseN,
        g.cjk, preserveStructure = true).select(col("doc_id"), col("text")))
    TokMode.bind(excised, g.cjk)
  }

  /** The one labeler: every row of `docs` ([[prepare]]d, and persisted by
    * the caller) carries the first gate that drops it, or 'kept'.
    * `exactDups` and `nearDups` are the caller's dedup outcome — the
    * doc_ids it drops as exact and as near duplicates, each id at most
    * once (they are left-joined) — because dedup is
    * the one step that depends on more than the doc: batch dedups the
    * whole corpus, the stream dedups against its Registry. Returns
    * (doc_id, text, pred_lang, quality, n_tokens, drop_reason).
    *
    * Every gate frame is computed over all of `docs` (per-row functions,
    * map-side) and LEFT-joined: a dropped doc's row is simply never
    * consulted because the precedence catches it first, and a doc with no
    * row (zero-token docs have no quality row) is coalesced — to quality
    * 0, so it lands in low_quality instead of vanishing from the
    * accounting. */
  private[graft] def label(docs: DataFrame, g: Gates, exactDups: DataFrame,
      nearDups: DataFrame): DataFrame = {
    val quality = TextAnalysis.qualityScore(docs, g.cjk)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    val lang = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang"))
    val contaminated = g.benchmark.map(b =>
      TextAnalysis.contaminationTable(docs, TokMode.bind(b, g.cjk), g.contaminationN)
        .select(col("doc_id")).withColumn("__contam", lit(1)))
    val repetition =
      if (g.maxDup3Frac < 1.0)
        Some(TextAnalysis.repetitionScore(docs).select(col("doc_id"), col("dup_3gram_frac")))
      else None
    // gopherRules and scoreTokens cover EVERY input doc (null text
    // coalesces to '', no-token scores to 0); scoreLm too (explode_outer
    // keeps zero-bigram docs), and its NULL averages pass per LmGate
    val gopher = g.gopher.map(gg =>
      TextAnalysis.gopherRules(docs, gg.minWords, gg.maxWords, gg.requiredStops)
        .select(col("doc_id"), col("keep").as("__goph_keep")))
    val classifier = g.classifier.map(cg =>
      Classify.scoreTokens(docs, cg.weights, cg.buckets)
        .select(col("doc_id"), col("pred").as("__cls_keep")))
    val lm = g.lm.map(lg =>
      TextAnalysis.scoreLm(docs, lg.model).select(col("doc_id"),
        coalesce(col("lm_micro_avg") >= lg.minMicroAvg, lit(true)).as("__lm_keep")))
    // a gate that is off drops nothing
    def drops(gate: Option[DataFrame], test: => Column): Column =
      if (gate.isDefined) test else lit(false)
    (Seq(exactDups.select(col("doc_id")).withColumn("__exact", lit(1)),
        nearDups.select(col("doc_id")).withColumn("__near", lit(1)), quality, lang) ++
      Seq(contaminated, repetition, gopher, classifier, lm).flatten)
      .foldLeft(docs.select(col("doc_id"), col("text")))(_.join(_, Seq("doc_id"), "left"))
      .withColumn("quality", coalesce(col("quality"), lit(0.0)))
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("drop_reason",
        when(col("__exact").isNotNull, lit("exact_dup"))
          .when(col("__near").isNotNull, lit("near_dup"))
          .when(drops(contaminated, col("__contam").isNotNull), lit("contaminated"))
          .when(drops(repetition,
            coalesce(col("dup_3gram_frac"), lit(0.0)) > g.maxDup3Frac), lit("repetitive"))
          .when(drops(gopher, not(coalesce(col("__goph_keep"), lit(false)))),
            lit("gopher_rules"))
          .when(drops(classifier, not(coalesce(col("__cls_keep"), lit(false)))),
            lit("classifier"))
          .when(drops(lm, not(coalesce(col("__lm_keep"), lit(true)))), lit("lm_fluency"))
          .when(col("quality") < g.minQuality, lit("low_quality"))
          .when(col("pred_lang") === "und", lit("unknown_lang"))
          .otherwise(lit("kept")))
      .select(col("doc_id"), col("text"), col("pred_lang"), col("quality"),
        col("n_tokens"), col("drop_reason"))
  }

  /** The pipeline over an arbitrary (doc_id, text) frame, with the gate
    * chain `gates` (see [[Gates]]).
    *
    * @param nearDup near-dup policy (see NearDupPolicy): PairwiseDrop
    *   (default — MinHash pairs, drop doc_b), ClusterKeeper (transitive
    *   CC, min-id keeper — the policy a production corpus dedup wants),
    *   ExactJaccard (recall-lossless n-gram join, drop doc_b — for
    *   corpora where probabilistic recall is not enough), or Containment.
    *   Oracle-checked end-to-end (t_curate_stats /
    *   t_curate_stats_clustered / t_curate_stats_exact /
    *   t_curate_contained).
    * @param stripLineFreq when set, TextAnalysis.stripBoilerplate removes
    *   lines occurring in more than this many distinct docs BEFORE any
    *   gate runs (after the PII scrub if both are on — scrub first so
    *   line identity reflects shipped text): two docs differing only in
    *   shared boilerplate ARE duplicates once it's gone, and quality /
    *   repetition scores must not be propped up (or dragged down) by nav
    *   bars. Batch-only (see [[prepare]]), which is why
    *   [[graft.streaming.CurateStream]] has no twin flag. */
  def runDocs(spark: SparkSession, documents: DataFrame, gates: Gates = Gates(),
      nearDup: NearDupPolicy = NearDupPolicy.PairwiseDrop,
      stripLineFreq: Option[Int] = None): (DataFrame, Stats) = {
    val dedupMark = Dedup.trackMark(spark)
    val docs = prepare(documents, gates, stripLineFreq).persist()
    // a mid-pipeline failure must still close the scope and drop this
    // run's caches (releaseSince after the happy-path release is a no-op)
    try runLabeled(spark, docs, gates, nearDup, dedupMark)
    catch {
      case t: Throwable =>
        Dedup.releaseSince(spark, dedupMark)
        docs.unpersist(blocking = false)
        throw t
    }
  }

  private def runLabeled(spark: SparkSession, docs: DataFrame, gates: Gates,
      nearDup: NearDupPolicy, dedupMark: Long): (DataFrame, Stats) = {
    // 1. exact dedup: keep the min doc_id of each fingerprint group
    val keepExact = Dedup.exactGroups(docs).select(col("keep_id").as("doc_id"))
    val afterExact = docs.join(keepExact, "doc_id")

    // 2. near-dup losers among the exact survivors (policy per `nearDup`);
    // the pair table MUST come from afterExact — pairing on the raw corpus
    // would match exact dups with their keepers.
    val nearDupLosers = nearDup match {
      case NearDupPolicy.PairwiseDrop =>
        Dedup.minhashLshPairs(afterExact).select(col("doc_b").as("doc_id")).distinct()
      case NearDupPolicy.ClusterKeeper =>
        Dedup.duplicateClusters(Dedup.minhashLshPairs(afterExact))
          .filter(col("doc_id") =!= col("cluster")).select(col("doc_id"))
      case NearDupPolicy.ExactJaccard(n, threshold) =>
        Dedup.ngramJaccardPairs(afterExact, n, threshold)
          .select(col("doc_b").as("doc_id")).distinct()
      case NearDupPolicy.Containment(n, threshold) =>
        // the CONTAINED side (doc_a) is the loser — keep the superset
        Dedup.ngramContainmentPairs(afterExact, n, threshold)
          .select(col("doc_a").as("doc_id")).distinct()
    }

    // 3. every gate, as ONE labeled frame over the whole input: every
    // document carries the reason it left the pipeline (or 'kept'), so the
    // ENTIRE accounting — every counter plus the kept-token sum — is one
    // groupBy, one driver action, one pass over the scored corpus. The
    // previous formulation ran six sequential driver actions (count x5 +
    // agg) over the same cached frames; at 100 TB that is six passes where
    // one does.
    val exactDups = docs.select(col("doc_id")).join(keepExact, Seq("doc_id"), "left_anti")
    val labeled = label(docs, gates, exactDups, nearDupLosers).persist()
    synchronized {
      tracked.filterInPlace((s, _) => !s.sparkContext.isStopped)
      tracked(spark) = tracked.getOrElse(spark, Vector.empty) :+ labeled
    }
    val counters = labeled.groupBy(col("drop_reason"))
      .agg(count(lit(1)).as("n"),
        // coalesce: SUM over an empty kept bucket is NULL (an
        // over-aggressive filter emptying the corpus must yield
        // kept_tokens = 0, not a crash)
        coalesce(sum(when(col("drop_reason") === "kept", col("n_tokens"))), lit(0L)).as("toks"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def n(reason: String): Long = counters.get(reason).map(_._1).getOrElse(0L)

    // labeled is persisted AND materialized by the one action above, so the
    // upstream caches — THIS run's Dedup shingle/band/candidate frames plus
    // our docs frame — are dead weight from here: release them scoped
    // (releaseSince), so a concurrent Dedup caller on the same session
    // keeps its own caches. The returned `curated` reads only from labeled.
    Dedup.releaseSince(spark, dedupMark)
    docs.unpersist(blocking = false)

    val curated = labeled.filter(col("drop_reason") === "kept")
      .select(col("doc_id"), col("text"), col("pred_lang"), col("quality"), col("n_tokens"))
    val stats = Stats(counters.values.map(_._1).sum, n("exact_dup"), n("near_dup"),
      n("contaminated"), n("repetitive"), n("gopher_rules"), n("classifier"),
      n("lm_fluency"),
      n("low_quality"), n("unknown_lang"), n("kept"),
      counters.get("kept").map(_._2).getOrElse(0L))
    // structural now (the labels partition the input), but kept as the
    // tripwire for a precedence or join-cardinality regression
    assert(stats.input == stats.exactDups + stats.nearDups + stats.contaminated
      + stats.repetitive + stats.gopherDropped + stats.classifierDropped
      + stats.lmDropped
      + stats.lowQuality + stats.unknownLang + stats.kept,
      s"curation accounting does not balance: $stats")
    (curated, stats)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val minQuality = if (args.length > 2) args(2).toDouble else 0.55
    val spark = GraftSession.local("graft-curate")
    val (curated, s) = run(spark, sfDir, minQuality)
    curated.write.mode("overwrite").parquet(outDir)
    releaseCaches(spark)
    println(statsJson(s))
    spark.stop()
  }
}
