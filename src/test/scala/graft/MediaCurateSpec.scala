package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Images
import graft.pipeline.MediaCurate
import graft.pipeline.MediaCurate.{AudioGates, ImageGates, VideoGates}
import graft.tables.Tables

/** The image curation pipeline: gate liveness, precedence, the flat
  * gate on a crafted corpus, and the keeper-among-survivors rule. */
class MediaCurateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  test("labeled frame: every doc accounted, live gates, keeper set == survivors' keepers") {
    val labeled = MediaCurate.curate(spark,
      Images.synthesize(spark, Tables.documents(spark, dir)), ImageGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(labeled.size === 500, "one label per input image")
    val byReason = labeled.values.groupBy(identity).view.mapValues(_.size).toMap
    // live gates on this fixture (liveness measured before thresholds
    // were frozen: 13 undersized, 21 brightness at 500 docs)
    assert(byReason.getOrElse("undersized", 0) > 0)
    assert(byReason.getOrElse("brightness", 0) > 0)
    assert(byReason.getOrElse("near_dup", 0) > 0)
    assert(byReason.getOrElse("kept", 0) > 0)
    // the pseudo-random fixture has no flat images — the flat gate is
    // exercised by the crafted corpus below
    assert(byReason.getOrElse("flat", 0) === 0)
    // precedence: gates 1-3 are stats predicates; recompute them from
    // the formula and check each label lands on the FIRST firing gate
    for ((id, reason) <- labeled) {
      val (w, h, px) = Images.synthPixels(id)
      val n = w.toLong * h
      val sum = px.map(_.toLong).sum
      val expectedEarly =
        if (n < 128) Some("undersized")
        else if (px.max - px.min < 16) Some("flat")
        else if (sum < 120 * n || sum > 136 * n) Some("brightness")
        else None
      expectedEarly.foreach(e => assert(reason === e,
        s"doc $id: expected gate $e fired, got $reason"))
      if (expectedEarly.isEmpty)
        assert(reason === "near_dup" || reason === "kept")
    }
    // keeper-among-survivors: every near_dup loser's neighborhood min
    // must itself be a SURVIVOR (never an image dropped by gates 1-3)
    val survivors = labeled.filter(kv =>
      kv._2 == "kept" || kv._2 == "near_dup").keySet
    val kept = labeled.filter(_._2 == "kept").keySet
    assert(kept.subsetOf(survivors) && kept.nonEmpty)
  }

  test("flat gate fires on a crafted constant-pixel corpus") {
    import spark.implicits._
    val flatImgs = (0L until 8L).map { id =>
      // constant luminance 127 -> contrast 0 -> flat, regardless of dims
      (id, Images.encodePng(16, 16, Array.fill(256)(127)))
    }
    val labeled = MediaCurate.curate(spark,
        flatImgs.toDF("doc_id", "img"), ImageGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(labeled.size === 8 && labeled.values.forall(_ == "flat"),
      s"constant images must all label flat, got $labeled")
  }

  test("audio labeled frame: every clip accounted, live gates, precedence matches a reference") {
    val labeled = MediaCurate.curate(spark,
      graft.operators.Audio.synthesize(spark, Tables.documents(spark, dir)), AudioGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(labeled.size === 500)
    val byReason = labeled.values.groupBy(identity).view.mapValues(_.size).toMap
    // liveness measured before thresholds were frozen: 63 too_short,
    // 35 clipped at 500 docs; the uniform fixture has no silent clips
    assert(byReason.getOrElse("too_short", 0) > 0)
    assert(byReason.getOrElse("clipped", 0) > 0)
    assert(byReason.getOrElse("near_dup", 0) > 0)
    assert(byReason.getOrElse("kept", 0) > 0)
    assert(byReason.getOrElse("silent", 0) === 0)
    for ((id, reason) <- labeled) {
      val s = graft.operators.Audio.synthSamples(id)._2
      val n = s.length.toLong
      val clip = s.count(v => math.abs(v.toLong) >= 32700).toLong
      val sil = s.count(v => math.abs(v.toLong) < 256).toLong
      val expectedEarly =
        if (n < 512) Some("too_short")
        else if (clip * 256 > n) Some("clipped")
        else if (sil * 64 > n) Some("silent")
        else None
      expectedEarly.foreach(e => assert(reason === e,
        s"doc $id: expected gate $e, got $reason"))
      if (expectedEarly.isEmpty)
        assert(reason === "near_dup" || reason === "kept")
    }
  }

  test("silent gate fires on a crafted dead-air corpus") {
    import spark.implicits._
    val silentClips = (0L until 6L).map { id =>
      // all samples well under the silence level, length over minSamples
      (id, graft.operators.Audio.encode(8000, Array.fill(600)(3),
        javax.sound.sampled.AudioFileFormat.Type.WAVE))
    }
    val labeled = MediaCurate.curate(spark,
        silentClips.toDF("doc_id", "audio"), AudioGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(labeled.size === 6 && labeled.values.forall(_ == "silent"),
      s"dead-air clips must all label silent, got $labeled")
  }

  test("curateMedia == join of the per-modality verdicts, image precedence first") {
    val docs = Tables.documents(spark, dir)
    val media = MediaCurate.curateMedia(spark,
      Images.synthesize(spark, docs),
      graft.operators.Audio.synthesize(spark, docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    val img = MediaCurate.curate(spark, Images.synthesize(spark, docs), ImageGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val aud = MediaCurate.curate(spark,
      graft.operators.Audio.synthesize(spark, docs), AudioGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(media.size === 500)
    for ((id, (ir, ar, verdict)) <- media) {
      assert(ir === img(id) && ar === aud(id),
        s"doc $id: per-modality reasons drifted from the standalone pipelines")
      val want =
        if (ir != "kept") s"image:$ir"
        else if (ar != "kept") s"audio:$ar"
        else "kept"
      assert(verdict === want, s"doc $id: verdict $verdict != $want")
    }
    // live cross-modal signal: docs dropped by image only, audio only,
    // and kept by both must all exist
    val verdicts = media.values.map(_._3).toSet
    assert(verdicts.exists(_.startsWith("image:")) &&
      verdicts.exists(_.startsWith("audio:")) && verdicts.contains("kept"))
  }

  test("video labeled frame: every doc accounted, live gates, precedence matches synthParams") {
    val labeled = MediaCurate.curate(spark,
      graft.operators.Video.synthesize(spark, Tables.documents(spark, dir)), VideoGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(labeled.size === 500, "one label per input video")
    val byReason = labeled.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byReason.getOrElse("undersized", 0) > 0)
    assert(byReason.getOrElse("too_few_frames", 0) > 0)
    assert(byReason.getOrElse("bad_fps", 0) > 0)
    assert(byReason.getOrElse("near_dup", 0) > 0)
    assert(byReason.getOrElse("kept", 0) > 0)
    // the well-formed fixture has no corrupt containers — that gate is
    // exercised by the crafted corpus below
    assert(byReason.getOrElse("corrupt", 0) === 0)
    for ((id, reason) <- labeled) {
      val (w, h, nf, fps) = graft.operators.Video.synthParams(id)
      val expectedEarly =
        if (w.toLong * h < 512) Some("undersized")
        else if (nf < 3) Some("too_few_frames")
        else if (fps < 12 || fps > 60) Some("bad_fps")
        else None
      expectedEarly.foreach(e => assert(reason === e,
        s"doc $id: expected gate $e fired, got $reason"))
      if (expectedEarly.isEmpty) {
        // gates are group-uniform, so a surviving group's keeper is its
        // min doc_id = doc_id % 200 on the contiguous-id corpus
        val want = if (id == id % 200) "kept" else "near_dup"
        assert(reason === want, s"doc $id: keeper decision $reason != $want")
      }
    }
  }

  test("corrupt containers are LABELED and quarantined, never thrown (and never hang)") {
    import spark.implicits._
    // group 103 passes every metadata gate (64x32 px, 5 frames, 25 fps)
    val goodBytes = graft.operators.Video.synthesize(spark,
      Seq(103L).toDF("doc_id")).collect()(0).getAs[Array[Byte]]("video")
    // a huge u32 chunk length (negative as Int) — the pre-fix walker
    // looped forever on these bytes; now it must LABEL corrupt promptly
    val hugeLen = goodBytes.clone()
    hugeLen(28) = 0xf0.toByte; hugeLen(29) = 0xff.toByte
    hugeLen(30) = 0xff.toByte; hugeLen(31) = 0xff.toByte
    val vids = Seq(
      1L -> "garbage definitely not RIFF".getBytes("US-ASCII"),
      2L -> goodBytes.take(40), // truncated mid-header
      3L -> hugeLen,
      103L -> goodBytes).toDF("doc_id", "video")
    val labeled = MediaCurate.curate(spark, vids, VideoGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(labeled(1L) === "corrupt" && labeled(2L) === "corrupt" &&
      labeled(3L) === "corrupt", s"crafted bad bytes must label corrupt: $labeled")
    assert(labeled(103L) === "kept", "the intact clip must survive alongside")
  }

  test("curateMedia3 == join of the three verdicts, image > audio > video precedence") {
    val docs = Tables.documents(spark, dir)
    val media = MediaCurate.curateMedia3(spark,
      Images.synthesize(spark, docs),
      graft.operators.Audio.synthesize(spark, docs),
      graft.operators.Video.synthesize(spark, docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    val img = MediaCurate.curate(spark, Images.synthesize(spark, docs), ImageGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val aud = MediaCurate.curate(spark,
      graft.operators.Audio.synthesize(spark, docs), AudioGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val vid = MediaCurate.curate(spark,
      graft.operators.Video.synthesize(spark, docs), VideoGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(media.size === 500)
    for ((id, (ir, ar, vr, verdict)) <- media) {
      assert(ir === img(id) && ar === aud(id) && vr === vid(id),
        s"doc $id: per-modality reasons drifted from the standalone pipelines")
      val want =
        if (ir != "kept") s"image:$ir"
        else if (ar != "kept") s"audio:$ar"
        else if (vr != "kept") s"video:$vr"
        else "kept"
      assert(verdict === want, s"doc $id: verdict $verdict != $want")
    }
    val verdicts = media.values.map(_._4).toSet
    assert(verdicts.exists(_.startsWith("image:")) &&
      verdicts.exists(_.startsWith("audio:")) &&
      verdicts.exists(_.startsWith("video:")) && verdicts.contains("kept"))
  }

  test("mismatched id sets surface AT THE OPERATOR: missing_modality labels, no silent drops") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // images for docs 0..499, audio only for evens: odd docs must
    // surface as missing_modality:audio, never vanish from the frame
    val clips = graft.operators.Audio.synthesize(spark,
      docs.filter(col("doc_id") % 2 === 0))
    val media = MediaCurate.curateMedia(spark,
      Images.synthesize(spark, docs), clips)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(media.size === 500, "full outer join keeps the id union")
    for ((id, (ir, ar, verdict)) <- media if id % 2 == 1) {
      assert(ar === "missing" && verdict === "missing_modality:audio",
        s"doc $id: audio-less doc got ($ir, $ar, $verdict)")
    }
    assert(media.filter(_._1 % 2 == 0).values
      .forall(v => v._2 != "missing" && v._3 != "missing_modality:audio"))
  }

  test("corrupt image and audio bytes are quarantined as labels, never thrown") {
    import spark.implicits._
    // the round-14 posture, shared by all three modalities: a curation
    // pass over scrape bytes LABELS undecodable input; the loud-fail
    // contract stays on the analysis operators (imageStats/audioStats)
    val goodImg = Images.encodePng(16, 16, Array.tabulate(256)(i => i % 256))
    val imgs = Seq(
      1L -> "not an image at all".getBytes("US-ASCII"),
      2L -> goodImg.take(10), // truncated mid-header
      3L -> goodImg).toDF("doc_id", "img")
    val imgLabels = MediaCurate.curate(spark, imgs, ImageGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(imgLabels(1L) === "corrupt" && imgLabels(2L) === "corrupt",
      s"bad image bytes must label corrupt: $imgLabels")
    assert(imgLabels(3L) === "kept", "the intact image must survive alongside")
    // the analysis operator still fails LOUD on the same bytes
    assert(intercept[org.apache.spark.SparkException] {
      Images.imageStats(spark, imgs).collect()
    }.getCause != null)
    // samples all in [4000, 19000): never silent (|s| >= 256), never
    // clipped (< 32700), length over minSamples -> the clip is 'kept'
    val goodClip = graft.operators.Audio.encode(8000,
      Array.tabulate(600)(i => (i * 131) % 15000 + 4000),
      javax.sound.sampled.AudioFileFormat.Type.WAVE)
    val clips = Seq(
      1L -> "definitely not audio".getBytes("US-ASCII"),
      2L -> goodClip.take(12),
      3L -> goodClip).toDF("doc_id", "audio")
    val audLabels = MediaCurate.curate(spark, clips, AudioGates())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(audLabels(1L) === "corrupt" && audLabels(2L) === "corrupt",
      s"bad audio bytes must label corrupt: $audLabels")
    assert(audLabels(3L) === "kept", "the intact clip must survive alongside")
    assert(intercept[org.apache.spark.SparkException] {
      graft.operators.Audio.audioStats(spark, clips).collect()
    }.getCause != null)
  }

  test("media decontamination: keep == no eval fingerprint within the radius, per modality") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val evalDocs = docs.filter(col("doc_id") % 10 === 0)
    // video (hamming 0, group-structural): a doc is contaminated iff its
    // group contains an eval member — groups g with g % 10 == 0
    val vid = graft.operators.Video.decontaminate(spark,
      graft.operators.Video.synthesize(spark, docs),
      graft.operators.Video.synthesize(spark, evalDocs))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(vid.size === 500)
    vid.foreach { case (id, keep) =>
      assert(keep === ((id % 200) % 10 != 0), s"doc $id keep=$keep wrong")
    }
    // image (hamming 3): brute-force reference over the decoded hashes
    val hashes = graft.operators.Images.imageStats(spark,
      graft.operators.Images.synthesize(spark, docs))
      .select("doc_id", "ahash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evalHashes = hashes.filter(_._1 % 10 == 0).values.toSeq
    val img = graft.operators.Images.decontaminate(spark,
      graft.operators.Images.synthesize(spark, docs),
      graft.operators.Images.synthesize(spark, evalDocs))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    graft.pipeline.Curate.releaseCaches(spark)
    assert(img.size === 500)
    img.foreach { case (id, keep) =>
      val want = !evalHashes.exists(e =>
        java.lang.Long.bitCount(e ^ hashes(id)) <= 3)
      assert(keep === want, s"image doc $id keep=$keep want=$want")
    }
    // liveness both ways: eval members always drop; survivors exist
    assert(img.exists(!_._2) && img.exists(_._2))
    assert(img.filter(_._1 % 10 == 0).values.forall(_ == false))
  }

  test("bad thresholds and lossy hamming caps are refused") {
    // refused when the gate value is built, before any work on either path
    def refused(msg: String)(g: => MediaCurate.Gates): Unit =
      assert(intercept[IllegalArgumentException](g).getMessage.contains(msg))
    refused("bad gate thresholds")(ImageGates(minPixels = 0))
    refused("bad gate thresholds")(ImageGates(minMean = 200, maxMean = 100))
    refused("recall-lossless")(ImageGates(maxHamming = 4))
    refused("bad gate thresholds")(AudioGates(minSamples = 0))
    refused("recall-lossless")(AudioGates(maxHamming = 5))
    refused("thresholds must be positive")(AudioGates(clipLevel = 0))
    refused("bad gate thresholds")(VideoGates(minFps = 0))
    refused("bad gate thresholds")(VideoGates(minFps = 61, maxFps = 60))
    refused("bad gate thresholds")(VideoGates(minFrames = 0))
    refused("recall-lossless")(VideoGates(maxHamming = 4))
  }
}
