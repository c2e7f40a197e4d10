package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.pipeline.Curate
import graft.tables.Tables

class CurateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  test("curation stats conserve the corpus and kept set is near-dup free") {
    val (curated, s) = Curate.run(spark, dir)
    assert(s.input === s.exactDups + s.nearDups + s.lowQuality + s.unknownLang + s.kept)
    assert(curated.count() === s.kept && s.kept > 0)
    // no surviving near-dup pair: re-running LSH on the curated set with
    // the same threshold finds nothing
    assert(Dedup.minhashLshPairs(curated).count() === 0)
    // determinism
    val (_, s2) = Curate.run(spark, dir)
    assert(s === s2)
  }

  test("cluster dedup policy drops transitive near-dups that pairwise keeps") {
    import spark.implicits._
    // token sequence w1..w42; doc9 = all, doc3 = first 37 tokens, doc5 =
    // last 37 — J(3,9)=J(5,9)=35/40=0.875 >= 0.8 but J(3,5)=30/40=0.75.
    // Pairwise drop-doc_b removes only 9; clustering keeps one doc (3) of
    // the {3,5,9} component.
    val words = (1 to 42).map(i => s"w$i")
    val docs = Seq(
      (3L, words.take(37).mkString(" ")),
      (5L, words.drop(5).mkString(" ")),
      (9L, words.mkString(" ")))
      .toDF("doc_id", "text")
    val (_, pairwise) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0))
    val (_, clustered) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0),
        nearDup = Curate.NearDupPolicy.ClusterKeeper)
    assert(pairwise.nearDups === 1, s"pairwise: $pairwise")   // only doc 9
    assert(clustered.nearDups === 2, s"clustered: $clustered") // docs 5 and 9
    assert(pairwise.input === pairwise.nearDups + pairwise.lowQuality
      + pairwise.unknownLang + pairwise.kept + pairwise.exactDups)
    assert(clustered.input === clustered.nearDups + clustered.lowQuality
      + clustered.unknownLang + clustered.kept + clustered.exactDups)
  }

  test("ExactJaccard policy: lossless near-dup removal inside the pipeline") {
    import spark.implicits._
    // doc 2 is a heavy-overlap variant of doc 1 (J >= 0.7 on 3-gram hash
    // sets); doc 3 is disjoint. The lossless policy must drop exactly
    // doc 2 and account for it as a near-dup.
    val words = (1 to 40).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, (words.drop(2)).mkString(" ")),
      (3L, (100 to 140).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val (_, st) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0),
        nearDup = Curate.NearDupPolicy.ExactJaccard())
    assert(st.nearDups === 1, s"exact: $st")
    assert(st.input === st.nearDups + st.lowQuality + st.unknownLang
      + st.kept + st.exactDups)
    Curate.releaseCaches(spark)
  }

  test("contamination + repetition gates: precedence order and conservation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "alpha beta gamma delta unique one two three four five six seven"), // benchmark
      (2L, "zzz alpha beta gamma delta spam spam spam spam spam spam spam"),   // contam AND repetitive
      (3L, "spam spam spam spam spam spam spam spam spam spam eggs ham"),      // repetitive only
      (4L, "the quick brown fox jumps over the lazy dog today and here"))      // clean
      .toDF("doc_id", "text")
    val (_, st) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0,
        benchmark = Some(docs.filter(col("doc_id") === 1)), maxDup3Frac = 0.2))
    // doc 1 self-contaminates; doc 2 is both contaminated and repetitive
    // but the contamination gate comes FIRST; doc 3 only repetitive
    assert(st.contaminated === 2 && st.repetitive === 1, s"stats: $st")
    assert(st.input === st.exactDups + st.nearDups + st.contaminated
      + st.repetitive + st.lowQuality + st.unknownLang + st.kept)
  }

  test("full pipeline on the corpus: conservation, contaminated slice nonempty, deterministic") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    def runFull() = Curate.runDocs(spark, docs,
      Curate.Gates(benchmark = Some(docs.filter(col("doc_id") % 23 === 0)), contaminationN = 4,
        maxDup3Frac = 0.02))._2
    val st = runFull()
    assert(st.contaminated > 0) // benchmark members self-match
    assert(st.input === st.exactDups + st.nearDups + st.contaminated
      + st.repetitive + st.lowQuality + st.unknownLang + st.kept)
    assert(st === runFull())
    Curate.releaseCaches(spark)
  }

  test("CLI stats JSON carries every Stats counter under its snake_case key") {
    val s = Curate.Stats(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
    assert(Curate.statsJson(s) === """{"input":1,"exact_dups":2,"near_dups":3,""" +
      """"contaminated":4,"repetitive":5,"gopher_dropped":6,"classifier_dropped":7,""" +
      """"lm_dropped":8,"low_quality":9,"unknown_lang":10,"kept":11,"kept_tokens":12}""")
  }

  test("accounting stats run in a single driver action") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and the cat and the bird today"),
      (2L, "the quick brown fox jumps over the lazy dog and the cat and the bird today"),
      (3L, "der hund und die katze sind nicht der fisch und das brot und der mann hier"))
      .toDF("doc_id", "text")
    @volatile var actions = 0
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions += 1
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (_, s) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.1))
      assert(s.input === 3 && s.exactDups === 1)
      // the listener bus is async — wait for the dispatch to drain
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while (System.currentTimeMillis() < deadline && actions != last) {
        last = actions; Thread.sleep(300)
      }
      // one labeled-frame groupBy collect — NOT the old six-action form
      // (count x5 + agg); <= 2 leaves room for an incidental action, the
      // regression tripwire is the six
      assert(actions <= 2, s"stats took $actions driver actions")
    } finally spark.listenerManager.unregister(listener)
  }

  test("releaseCaches drops every frame a Curate run persisted") {
    val (curated, _) = Curate.run(spark, dir)
    curated.count() // the caller's terminal action
    // a run releases Dedup's shingle/band/capped frames inside runDocs and
    // leaves only the frame backing `curated` (plus any earlier tests')
    assert(Curate.releaseCaches(spark) >= 1)
    // idempotent and empty afterwards: nothing left tracked on the session
    assert(Curate.releaseCaches(spark) === 0)
    assert(Dedup.releaseCaches(spark) === 0)
    // and a direct operator call tracks its own frames until released
    Dedup.minhashLshPairs(Tables.documents(spark, dir)).count()
    assert(Dedup.releaseCaches(spark) >= 3)
    assert(Dedup.releaseCaches(spark) === 0)
  }

  test("classifier gate: model drop labeled before quality, after exact dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (1L, "good fine nice clean solid the and is", true),
      (2L, "bad ugly junk spam noise the and is", false)).toDF("doc_id", "text", "label")
    val w = graft.operators.Classify.trainTokenWeights(train, col("label"), buckets = 1024)
    val docs = Seq(
      (10L, "good fine nice clean solid work the and is done"),
      (11L, "bad ugly junk spam noise mess the and is done"),
      (12L, "bad ugly junk spam noise mess the and is done")) // exact dup of 11
      .toDF("doc_id", "text")
    val (curated, st) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0,
        classifier = Some(Curate.ClassifierGate(w, 1024))))
    // doc 12 is an exact dup (dedup precedes the model gate); doc 11 is
    // model-dropped; doc 10 scores positive and passes the en lexicon
    assert(st.exactDups === 1 && st.classifierDropped === 1 && st.kept === 1,
      s"stats: $st")
    assert(curated.select("doc_id").collect().map(_.getLong(0)).toSet === Set(10L))
    assert(st.input === st.exactDups + st.nearDups + st.contaminated
      + st.repetitive + st.classifierDropped + st.lowQuality
      + st.unknownLang + st.kept)
    Curate.releaseCaches(spark)
  }

  test("redactPii pre-transform: scrubbed text feeds every gate; composition equals manual scrub") {
    import org.apache.spark.sql.functions._
    val raw = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" reach me at a@b.co or 10.0.0.1"))
          .otherwise(lit(""))).as("text"))
    // composition property: runDocs(redactPii = true) == runDocs over the
    // manually scrubbed frame (the pre-transform is exactly redactPii)
    val (keptA, stA) = Curate.runDocs(spark, raw, Curate.Gates(redactPii = true))
    val rowsA = keptA.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    val scrubbed = graft.operators.TextAnalysis.redactPii(raw)
      .select(col("doc_id"), col("redacted").as("text"))
    val (keptB, stB) = Curate.runDocs(spark, scrubbed)
    val rowsB = keptB.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    assert(stA === stB)
    assert(rowsA === rowsB)
    // and the kept corpus is actually scrubbed
    assert(rowsA.nonEmpty)
    assert(!rowsA.exists { case (_, t) => t.contains("a@b.co") || t.contains("10.0.0.1") })
    assert(rowsA.exists { case (_, t) => t.contains("<EMAIL>") })
  }

  test("stripLineFreq pre-transform: composition equals manual strip; scrub runs before strip") {
    import org.apache.spark.sql.functions._
    val raw = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 2 === 0, lit("\nshared boilerplate line")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit("\nmail me at u"), col("doc_id").cast("string"), lit("@b.co")))
          .otherwise(lit(""))).as("text"))
    val (keptA, stA) = Curate.runDocs(spark, raw, Curate.Gates(redactPii = true),
        stripLineFreq = Some(5))
    val rowsA = keptA.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    // manual composition in the documented order: scrub THEN strip
    val scrubbed = graft.operators.TextAnalysis.redactPii(raw)
      .select(col("doc_id"), col("redacted").as("text"))
    val stripped = graft.operators.TextAnalysis.stripBoilerplate(scrubbed, 5)
      .select(col("doc_id"), col("text"))
    val (keptB, stB) = Curate.runDocs(spark, stripped)
    val rowsB = keptB.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    assert(stA === stB)
    assert(rowsA === rowsB)
    assert(rowsA.nonEmpty)
    // boilerplate is gone from the kept corpus; the PII line was scrubbed
    // BEFORE line counting (each raw line "mail me at u<id>@b.co" is
    // doc-unique → df 1 → would survive a strip-first order, but the
    // redacted form "mail me at <EMAIL>" is identical across ~100 docs →
    // hot → stripped)
    assert(!rowsA.exists(_._2.contains("shared boilerplate line")))
    assert(!rowsA.exists(_._2.contains("<EMAIL>")))
  }

  test("zero-token docs are accounted as lowQuality, not silently dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "!!!"), // tokenless: no quality row without the left join
      (2L, "the quick brown fox jumps over the lazy dog and the cat and the bird today"),
      (3L, "der hund und die katze sind nicht der fisch und das brot und der mann hier"))
      .toDF("doc_id", "text")
    val (curated, s) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.1))
    assert(s.input === 3)
    assert(s.input === s.exactDups + s.nearDups + s.lowQuality + s.unknownLang + s.kept)
    assert(s.lowQuality >= 1) // the tokenless doc
    assert(curated.filter($"doc_id" === 1L).count() === 0)
  }

  test("stripHtml pre-transform: markup-only variants dedup together; composition equals manual strip") {
    import org.apache.spark.sql.functions._
    // every 4th doc gets a markup-wrapped COPY (shifted id): after
    // extraction the pair is an exact duplicate — the property that
    // breaks if stripping ran after the fingerprint stage
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val raw = docs.unionByName(docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(lit("<div><p>"), col("text"), lit("</p></div>")).as("text")))
    val (keptA, stA) = Curate.runDocs(spark, raw, Curate.Gates(stripHtml = true))
    val rowsA = keptA.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    val nWrapped = docs.filter(col("doc_id") % 4 === 0).count()
    assert(stA.exactDups >= nWrapped, s"wrapped copies must dedup: $stA")
    assert(!rowsA.exists { case (_, t) => t.contains("<div>") })
    // composition: the pre-transform is exactly stripHtml
    val stripped = graft.operators.TextAnalysis.stripHtml(raw)
      .select(col("doc_id"), col("text"))
    val (keptB, stB) = Curate.runDocs(spark, stripped)
    val rowsB = keptB.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    assert(stA === stB)
    assert(rowsA === rowsB)
  }

  test("excise pre-transform: composition equals manual decontaminateSpans; dedup sees the excised form") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 23 === 0)
    val (keptA, stA) = Curate.runDocs(spark, docs, Curate.Gates(excise = Some(bench)))
    val rowsA = keptA.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    // composition property: runDocs(excise = b) == runDocs over the
    // manually excised frame (the pre-transform is exactly
    // decontaminateSpans in its structure-preserving form — round 12:
    // shipped text differs from lower_root(original) ONLY inside excised
    // ranges, in latin mode too)
    val excised = graft.operators.TextAnalysis
      .decontaminateSpans(docs, bench, n = 4, preserveStructure = true)
      .select(col("doc_id"), col("text"))
    val (keptB, stB) = Curate.runDocs(spark, excised)
    val rowsB = keptB.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    assert(stA === stB)
    assert(rowsA === rowsB)
    assert(rowsA.nonEmpty)
    // benchmark docs self-match → excise to EMPTY text → they become one
    // exact-dup fingerprint group (dedup must see the excised form, not
    // the raw text — the property that breaks if excision ran after the
    // fingerprint stage)
    assert(stA.exactDups >= bench.count() - 1, s"stats: $stA")
  }

  test("latin excise is structure-preserving: separators survive, only excised ranges change") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "The intro, line one of the story!\nBAD SPAN HERE okay; the tail."),
      (2L, "Clean Doc: nothing, to excise!")).toDF("doc_id", "text")
    val bench = Seq((9L, "bad span here")).toDF("doc_id", "text")
    // the offset arm (what Curate's excise rides in BOTH modes since
    // round 12): output = lower_root(text) minus the covered character
    // ranges — punctuation, newlines and spacing SURVIVE, unlike the
    // token rebuild that joins kept tokens with single spaces
    val off = graft.operators.TextAnalysis
      .decontaminateSpans(docs, bench, n = 3, preserveStructure = true)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    Curate.releaseCaches(spark)
    // covered tokens {bad, span, here} excise by char range; the three
    // separators between/after them survive (one space each)
    assert(off(1L) ===
      (("the intro, line one of the story!\n   okay; the tail.", 3L)), s"got $off")
    assert(off(2L) === (("clean doc: nothing, to excise!", 0L)), s"got $off")
    // and THROUGH the pipeline: kept docs carry the structure-preserved
    // form (doc 1 ships with its punctuation and newline; minQuality
    // relaxed — the stop-heavy fixture scores ~0.53 on the tiny lexicons)
    val (kept, _) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.3,
        excise = Some(bench), exciseN = 3))
    val keptRows = kept.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Curate.releaseCaches(spark)
    assert(keptRows(1L) === "the intro, line one of the story!\n   okay; the tail.")
    assert(keptRows(2L) === "clean doc: nothing, to excise!")
  }

  test("excise benchmark is rebound in the pipeline's mode: a stray caller binding cannot leak") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "我们使用机器学习模型训练数据完成任务"),
      (2L, "我们可以一起去公园散步")).toDF("doc_id", "text")
    val bench = Seq((9L, "机器学习模型训练")).toDF("doc_id", "text")
    // a LATIN-bound excise benchmark in cjk mode would strip to zero
    // grams and silently never excise if the binding leaked through —
    // the pipeline entrance rebinds, so stray == raw, and excision fires
    val strayBound = bench.withColumn("toks",
      graft.functions.TextFunctions.tokensFused(col("text")))
    val (a, stA) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0,
        excise = Some(bench), cjk = true))
    val rowsA = a.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    val (b, stB) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0,
        excise = Some(strayBound), cjk = true))
    val rowsB = b.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Curate.releaseCaches(spark)
    assert(stA === stB)
    assert(rowsA === rowsB)
    assert(rowsA.exists { case (id, t) =>
      id == 1L && !t.contains("机器学习模型训练") },
      s"excision must be live: $rowsA")
  }

  test("LM gate mode contract: mismatches refused LOUDLY in BOTH directions, untagged bindings refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val T = graft.operators.TextAnalysis
    val TokMode = graft.functions.TokMode
    val docs = Seq((1L, "我们可以一起去")).toDF("doc_id", "text")
    val ref = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    // a latin-trained model in cjk mode would score every CJK bigram at
    // the +1-smoothing floor and silently wipe the zh corpus — the guard
    // must fire BEFORE any work, on both the batch and streaming entry
    val latinModel = T.trainLm(ref)
    assert(latinModel.tokMode === TokMode.Latin)
    val gate = Some(Curate.LmGate(latinModel, 33000.0))
    val e = intercept[IllegalArgumentException] {
      Curate.runDocs(spark, docs, Curate.Gates(lm = gate, cjk = true))
    }
    assert(e.getMessage.contains("does not match the pipeline mode 'cjk'"))
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.CurateStream.sink(docs, "/tmp/never", "/tmp/never",
        Curate.Gates(lm = gate, cjk = true))
    }
    assert(e2.getMessage.contains("does not match the pipeline mode 'cjk'"))
    Curate.releaseCaches(spark)
    // a cjk-bound model passes the cjk guard (TokMode.bind writes the
    // tag, trainLm records it)
    val cjkModel = T.trainLm(TokMode.bind(ref, cjk = true))
    assert(cjkModel.tokMode === TokMode.Cjk)
    val (_, st) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0,
        lm = Some(Curate.LmGate(cjkModel, 0.0)), cjk = true))
    Curate.releaseCaches(spark)
    assert(st.input === 1L)
    // ...and the OTHER direction is refused too: a cjk-trained model
    // under the latin pipeline shares no vocab with latin token streams
    // (the round-10 boolean guard passed this case silently)
    val e3 = intercept[IllegalArgumentException] {
      Curate.runDocs(spark, docs, Curate.Gates(lm = Some(Curate.LmGate(cjkModel, 0.0))))
    }
    assert(e3.getMessage.contains("does not match the pipeline mode 'latin'"))
    // an untagged manual binding proves nothing about its mode: refused
    // in BOTH pipeline modes (this exact shape — a latin kernel manually
    // bound as `toks` — passed the round-10 boolean guard under cjk)
    val unknownModel = T.trainLm(ref.withColumn("toks",
      graft.functions.TextFunctions.tokensFused(col("text"))))
    assert(unknownModel.tokMode === TokMode.Unknown)
    for (mode <- Seq(true, false)) {
      val eu = intercept[IllegalArgumentException] {
        Curate.runDocs(spark, docs,
          Curate.Gates(lm = Some(Curate.LmGate(unknownModel, 0.0)), cjk = mode))
      }
      assert(eu.getMessage.contains("'unknown'"))
    }
    Curate.releaseCaches(spark)
  }

  test("classifier gate mode contract: trainTokenWeights stamps the mode; mismatches refused both directions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val TokMode = graft.functions.TokMode
    val train = Seq(
      (1L, "good fine nice the and is", true),
      (2L, "bad ugly junk the and is", false)).toDF("doc_id", "text", "label")
    val docs = Seq((1L, "good fine nice the and is done today")).toDF("doc_id", "text")
    val latinW = graft.operators.Classify.trainTokenWeights(train, col("label"), 64)
    assert(TokMode.ofWeights(latinW) === TokMode.Latin)
    val cjkW = graft.operators.Classify.trainTokenWeights(
      TokMode.bind(train, cjk = true), col("label"), 64)
    assert(TokMode.ofWeights(cjkW) === TokMode.Cjk)
    // latin weights under cjk: refused (latin re-tokenization scores
    // pure-CJK docs 0 and silently drops the whole zh corpus)
    val e = intercept[IllegalArgumentException] {
      Curate.runDocs(spark, docs,
        Curate.Gates(classifier = Some(Curate.ClassifierGate(latinW, 64)), cjk = true))
    }
    assert(e.getMessage.contains("does not match the pipeline mode 'cjk'"))
    // cjk weights under latin: refused (disjoint token space)
    val e2 = intercept[IllegalArgumentException] {
      Curate.runDocs(spark, docs,
        Curate.Gates(classifier = Some(Curate.ClassifierGate(cjkW, 64))))
    }
    assert(e2.getMessage.contains("does not match the pipeline mode 'latin'"))
    // matched modes pass on both arms (and the streaming entry shares
    // the guard — one spot check)
    val (_, st) = Curate.runDocs(spark, docs, Curate.Gates(minQuality = 0.0,
        classifier = Some(Curate.ClassifierGate(latinW, 64))))
    assert(st.input === 1L)
    val e3 = intercept[IllegalArgumentException] {
      graft.streaming.CurateStream.sink(docs, "/tmp/never", "/tmp/never",
        Curate.Gates(classifier = Some(Curate.ClassifierGate(latinW, 64)), cjk = true))
    }
    assert(e3.getMessage.contains("does not match the pipeline mode 'cjk'"))
    Curate.releaseCaches(spark)
  }

  test("gopher gate is latin-only by design: refused LOUDLY under cjk mode") {
    import spark.implicits._
    val docs = Seq((1L, "我们可以一起去")).toDF("doc_id", "text")
    // zh prose whitespace-splits to ~1 "word" and has no en stop words:
    // every zh doc would fail r_wordcount/r_stops and drop as
    // gopher_rules — the hazard is refused, not silently allowed
    val e = intercept[IllegalArgumentException] {
      Curate.runDocs(spark, docs, Curate.Gates(gopher = Some(Curate.GopherGate()), cjk = true))
    }
    assert(e.getMessage.contains("latin-only"))
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.CurateStream.sink(docs, "/tmp/never", "/tmp/never",
        Curate.Gates(gopher = Some(Curate.GopherGate()), cjk = true))
    }
    assert(e2.getMessage.contains("latin-only"))
    Curate.releaseCaches(spark)
  }
}
