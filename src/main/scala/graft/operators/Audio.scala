package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL audio decode arm of the multimodal layer (round 13 — the
  * round-12 stub premise "this environment has no codec libraries for
  * audio" is refuted: JDK 17's `javax.sound.sampled.AudioSystem`
  * encodes AND decodes WAVE/AU/AIFF 16-bit PCM headlessly with zero
  * extra dependencies and a sample-exact round trip, so the decode step
  * here is a real codec, not [[Multimodal]]'s md5 fake — video stays
  * honestly stubbed there: this JDK ships only image and audio SPIs).
  *
  * Pipeline shape — the image-arm recipe ([[Images]]) applied to sound:
  *   - audio rides an opaque `binary` column ([[synthesize]] builds a
  *     deterministic mixed-format WAV/AU/AIFF fixture from doc_id since
  *     the testdata has no media column; a real corpus reads its
  *     parquet binary column);
  *   - [[audioMeta]] reads rate/bits/channels/frames/container from the
  *     codec HEADER only (no sample decode — the cheap full-corpus
  *     scan);
  *   - [[audioStats]] fully decodes and emits integer-exact sample
  *     stats (signed amplitude sum, min/max, energy = Σ s²) plus a
  *     64-bit block-energy fingerprint ([[aFinger64]]) — the acoustic
  *     analog of the image aHash;
  *   - near-dup pairs / keeper selection ride the SHARED banding
  *     machinery ([[Fingerprints]]) — one definition across image,
  *     audio, and any future 64-bit-sketch consumer.
  *
  * Scale: every stage is map-side per clip except the band join (one
  * shuffle on small (band, value) keys) and the candidate distinct.
  * Decoders initialize per PARTITION; rows stream through. AU/AIFF
  * store samples big-endian, WAVE little-endian — [[decode]] parses per
  * the stream's declared endianness, so the SAMPLES (not the container
  * bytes) are the round-trip invariant, and they round-trip exactly.
  *
  * Oracle story: the fixture's sample function is pure integer
  * arithmetic over (i, doc_id), so DuckDB recomputes the DECODED
  * samples, stats, and fingerprint from first principles while the
  * engine goes samples → encode (WAV/AU/AIFF) → decode → stats — a hash
  * match certifies the whole codec round trip (PCM in all three
  * containers is lossless) plus the fingerprint kernel, cross-engine
  * (t_audio_meta / t_audio_dedup / t_audio_dedup_keepers).
  */
object Audio {

  private lazy val init: Unit =
    System.setProperty("java.awt.headless", "true")

  /** The JDK's audio SPI instances, loaded ONCE per JVM and shared —
    * `AudioSystem.getAudioFileFormat`/`getAudioInputStream`/`write` hit
    * a SYNCHRONIZED provider registry on every call (~30-40 µs/call
    * single-threaded, worse under contention — measured 43 µs/call at
    * 32 threads, a lock convoy that made the 150k-clip decode pass
    * 7× slower than the image arm). The registry does exactly this SPI
    * loop around its lock; holding the stateless reader/writer
    * instances directly is the same semantics at ~0.2 µs/call.
    * AudioSystem shares single instances across all callers already,
    * so shared use is the supported contract. */
  private lazy val fileReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    init
    import scala.jdk.CollectionConverters._
    val loaded =
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toSeq
    // Round-15 profiling: SoftMidiAudioFileReader's accept probe calls
    // MidiSystem.getProviders — a SYNCHRONIZED static lookup
    // (JDK13Services.getProviders) — plus a full MIDI parse attempt, on
    // EVERY clip that reaches it (thread dumps over t_curate_audio put
    // those frames hottest at 32 threads: a second provider-registry
    // lock convoy behind the AudioSystem one this list exists to avoid).
    // Order MIDI-backed readers LAST: accept sets are disjoint (a stream
    // parses as WAVE/AU/AIFF or as MIDI, never both), so dispatch
    // results are identical — PCM containers now resolve before the
    // locking probe is ever consulted.
    val (midi, pcm) = loaded.partition(_.getClass.getName.contains("Midi"))
    pcm ++ midi
  }
  private lazy val fileWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    init
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala.toSeq
  }

  /** First reader that accepts the bytes (the AudioSystem dispatch
    * loop, minus its global lock): header-only parse. */
  private def parseHeader(bytes: Array[Byte]): AudioFileFormat = {
    val it = fileReaders.iterator
    while (it.hasNext) {
      try return it.next().getAudioFileFormat(new ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
    }
    throw new IllegalArgumentException(
      "no audio reader for this byte stream (not WAVE/AU/AIFF PCM?)")
  }

  private def openStream(bytes: Array[Byte]): AudioInputStream = {
    val it = fileReaders.iterator
    while (it.hasNext) {
      try return it.next().getAudioInputStream(new ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
    }
    throw new IllegalArgumentException(
      "no audio reader for this byte stream (not WAVE/AU/AIFF PCM?)")
  }

  /** The three JDK-native lossless PCM containers, picked per doc by
    * doc_id % 3 — the format column carries live signal (the
    * multi-format-fixture lesson from the image arm). Type names
    * lowercase to 'wave' / 'au' / 'aiff'. */
  private[graft] def containerOf(docId: Long): AudioFileFormat.Type =
    (docId % 3) match {
      case 0 => AudioFileFormat.Type.WAVE
      case 1 => AudioFileFormat.Type.AU
      case _ => AudioFileFormat.Type.AIFF
    }

  /** Deterministic 16-bit mono PCM fixture — pure integer arithmetic
    * over (i, doc_id), exactly reproducible in SQL (the DuckDB oracle
    * recomputes it): group g = doc_id % 200 picks sample rate and count
    * and the base waveform (a multiplicative mix in (i, g) — a linear
    * ramp would make the block-energy fingerprint shift-invariant
    * across groups, the aHash lesson from round 12); variant
    * v = doc_id / 200 perturbs ONE sample, so same-group clips are
    * near-duplicates (hamming ≤ 3 over the fingerprint — pinned in
    * AudioSpec with zero cross-group noise) and v % 7 == 0 variants are
    * exact duplicates. All terms stay positive, so Java's % and SQL's
    * % agree. */
  private[graft] def synthSamples(docId: Long): (Int, Array[Int]) = {
    val g = docId % 200
    val v = docId / 200
    val rate = sampleRateOf(g)
    val n = (256 * (1 + (g % 8))).toInt
    val s = new Array[Int](n)
    var i = 0
    while (i < n) {
      val base = ((i * 2654435761L + 40503L * (i + 3L) * (g + 7L) +
        (i + 5L) * (i + 11L) * (g + 13L) + g * 2246822519L) % 65536L).toInt
      s(i) =
        (if (i == 37) ((base + (v % 7) * 1024) % 65536).toInt else base) - 32768
      i += 1
    }
    (rate, s)
  }

  private[graft] def sampleRateOf(g: Long): Int =
    ((g / 8) % 5) match {
      case 0 => 8000
      case 1 => 11025
      case 2 => 16000
      case 3 => 22050
      case _ => 44100
    }

  /** Encode 16-bit mono PCM samples into the given container, handing
    * the writer PCM in its NATIVE byte order (WAVE little-endian,
    * AU/AIFF big-endian): a mismatched order makes the JDK writer
    * convert internally through `AudioSystem.getAudioInputStream` — the
    * same synchronized registry [[fileReaders]] exists to avoid
    * (measured: 2/3 of the 150k-clip corpus paying a locked conversion
    * lookup). Lossless either way; the order only changes who swaps. */
  private[graft] def encode(rate: Int, samples: Array[Int],
      container: AudioFileFormat.Type): Array[Byte] = {
    init
    val big = container != AudioFileFormat.Type.WAVE
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val lo = (samples(i) & 0xff).toByte
      val hi = ((samples(i) >> 8) & 0xff).toByte
      pcm(2 * i) = if (big) hi else lo
      pcm(2 * i + 1) = if (big) lo else hi
      i += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, big)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt,
      samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    // direct SPI write (not AudioSystem.write — see fileWriters): the
    // writer itself owns the endianness conversion for AU/AIFF
    val w = fileWriters.find(_.isFileTypeSupported(container, ais)).getOrElse(
      throw new IllegalArgumentException(s"no audio writer for $container"))
    try w.write(ais, container, bos) finally ais.close()
    bos.toByteArray
  }

  /** Decoded clip: container name (lowercase), sample rate, signed
    * 16-bit samples parsed per the stream's declared endianness. */
  private[graft] final case class DecodedAudio(
      container: String, rate: Int, samples: Array[Int])

  private[graft] def decode(bytes: Array[Byte]): DecodedAudio = {
    init
    val container = parseHeader(bytes)
      .getType.toString.toLowerCase(java.util.Locale.ROOT)
    val ais = openStream(bytes)
    try {
      val f = ais.getFormat
      require(f.getSampleSizeInBits == 16 &&
        f.getEncoding == AudioFormat.Encoding.PCM_SIGNED && f.getChannels == 1,
        s"audio arm handles 16-bit signed mono PCM, got ${f.getSampleSizeInBits}" +
          s"-bit ${f.getEncoding} x${f.getChannels}")
      val pcm = ais.readAllBytes()
      require(pcm.length % 2 == 0, s"odd PCM byte count ${pcm.length}")
      val big = f.isBigEndian
      val out = new Array[Int](pcm.length / 2)
      var i = 0
      while (i < out.length) {
        val hi: Int = if (big) pcm(2 * i) else pcm(2 * i + 1)
        val lo: Int = (if (big) pcm(2 * i + 1) else pcm(2 * i)) & 0xff
        out(i) = (hi << 8) | lo
        i += 1
      }
      DecodedAudio(container, f.getSampleRate.round, out)
    } finally ais.close()
  }

  /** Header-only (container, rate, bits, channels, n_frames) — NO
    * sample decode: the SPI parses a few header bytes, which is what a
    * 100 TB metadata pass can afford. */
  private[graft] def decodeHeader(bytes: Array[Byte]): (String, Int, Int, Int, Long) = {
    init
    val ff = parseHeader(bytes)
    val f = ff.getFormat
    (ff.getType.toString.toLowerCase(java.util.Locale.ROOT),
      f.getSampleRate.round, f.getSampleSizeInBits, f.getChannels,
      ff.getFrameLength.toLong)
  }

  /** 64-bit block-energy fingerprint: the clip splits into 64 blocks
    * with floor boundaries (block k covers i ∈ [⌊k·n/64⌋, ⌊(k+1)·n/64⌋)),
    * energy e(i) = s(i)², bit k set iff the block's mean energy exceeds
    * the global mean — INTEGER-EXACT as the cross-multiplied comparison
    * blockEnergy·n > totalEnergy·blockLen (no division; products stay
    * far under Long range: totalEnergy ≤ 2³⁰·n needs n < 2¹⁷ per
    * cross-multiplied side at the fixture's block widths — require
    * guards the general bound). Bit 63 rides the sign bit — two's
    * complement in both engines. The aHash recipe applied to sound:
    * same thresholding trick, same banding consumers. */
  private[graft] def aFinger64(samples: Array[Int]): Long = {
    val n = samples.length
    require(n > 0, "zero-sample clip")
    // blockEnergy·n ≤ 2^30·n·n and totalEnergy·blockLen likewise: safe
    // for n up to ~2^16 — far above any fixture clip, checked anyway
    require(n < (1 << 16),
      s"aFinger64 cross-multiplied compare needs n < 65536 samples, got $n " +
        "— chunk longer clips before fingerprinting")
    val be = new Array[Long](64)
    val bl = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val k = (i.toLong * 64 / n).toInt
      val e = samples(i).toLong * samples(i)
      be(k) += e
      bl(k) += 1
      total += e
      i += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (be(k) * n > total * bl(k)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** The deterministic mixed-format audio fixture: (doc_id, audio
    * binary) with one real encoded WAV/AU/AIFF clip per document (see
    * [[synthSamples]]/[[containerOf]]). Partition-parallel
    * mapPartitions — the batch shape a real corpus's binary column
    * arrives in. */
  def synthesize(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    SkewOps.spreadScan(docs.select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        init
        ids.map { id =>
          val (rate, s) = synthSamples(id)
          (id, encode(rate, s, containerOf(id)))
        }
      }
      .toDF("doc_id", "audio")
  }

  /** Header-only metadata over a binary audio column — container,
    * rate, bit depth, channels, frame count without decoding a sample. */
  def audioMeta(spark: SparkSession, binDf: DataFrame): DataFrame = {
    import spark.implicits._
    binDf.select(col("doc_id"), col("audio")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          val (fmt, rate, bits, ch, frames) = decodeHeader(bytes)
          (id, fmt, rate, bits, ch, frames, bytes.length.toLong)
        }
      }
      .toDF("doc_id", "format", "sample_rate", "bits", "channels",
        "n_frames", "n_bytes")
  }

  /** Full decode + integer-exact stats + acoustic fingerprint, one
    * pass: (doc_id, format, sample_rate, n_samples, sum_amp, min_amp,
    * max_amp, energy, zero_cross, afp). zero_cross is the classic
    * zero-crossing count — adjacent sample pairs whose signs differ
    * (0 counts as non-negative), integer-exact and the cheapest
    * frequency-content proxy an audio curation gate keys on. Header
    * fields are cross-checked against the decoded stream (a codec
    * disagreement is corruption — fail LOUD, not a silent wrong hash);
    * empty clips are rejected by the same rule. */
  def audioStats(spark: SparkSession, binDf: DataFrame): DataFrame = {
    import spark.implicits._
    binDf.select(col("doc_id"), col("audio")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          val (hfmt, hrate, hbits, hch, hframes) = decodeHeader(bytes)
          val d = decode(bytes)
          require(d.container == hfmt && d.rate == hrate &&
            hbits == 16 && hch == 1 && d.samples.length.toLong == hframes,
            s"doc $id: header ($hfmt $hrate Hz ${hbits}b x$hch, $hframes fr) " +
              s"disagrees with decode (${d.container} ${d.rate} Hz, " +
              s"${d.samples.length} samples) — corrupt audio")
          require(d.samples.length > 0, s"doc $id: zero-sample clip")
          var sum = 0L
          var energy = 0L
          var zcr = 0L
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var i = 0
          while (i < d.samples.length) {
            val s = d.samples(i)
            sum += s
            energy += s.toLong * s
            if (i > 0 && ((s < 0) != (d.samples(i - 1) < 0))) zcr += 1
            if (s < mn) mn = s
            if (s > mx) mx = s
            i += 1
          }
          (id, d.container, d.rate, d.samples.length.toLong, sum, mn, mx,
            energy, zcr, aFinger64(d.samples))
        }
      }
      .toDF("doc_id", "format", "sample_rate", "n_samples", "sum_amp",
        "min_amp", "max_amp", "energy", "zero_cross", "afp")
  }

  /** Audio quality gates — the audio analog of the text layer's
    * Gopher-style rules, one decode pass per clip, all integer-exact:
    *   - n_clipped: samples at or beyond ±`clipLevel` (hard-clipping
    *     detector — a clipped recording gates out of a training
    *     corpus);
    *   - longest_silence_run: the longest run of consecutive samples
    *     with |s| < `silenceLevel` (dead-air detector);
    *   - n_silent: total samples under the silence level (silence
    *     RATIO numerator; the denominator n_samples ships alongside so
    *     the ratio stays exact in any downstream predicate).
    * Thresholds are integer sample levels on the decoded 16-bit scale.
    * Map-side, no shuffle; the DuckDB oracle recomputes every field
    * from the fixture formula (runs via gaps-and-islands). */
  def audioQuality(spark: SparkSession, binDf: DataFrame,
      clipLevel: Int = 32700, silenceLevel: Int = 256): DataFrame = {
    require(clipLevel > 0 && silenceLevel > 0,
      s"thresholds must be positive, got clip=$clipLevel silence=$silenceLevel")
    import spark.implicits._
    binDf.select(col("doc_id"), col("audio")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          val d = decode(bytes)
          var clipped = 0L
          var silent = 0L
          var run = 0L
          var longest = 0L
          var i = 0
          while (i < d.samples.length) {
            val a = math.abs(d.samples(i).toLong)
            if (a >= clipLevel) clipped += 1
            if (a < silenceLevel) {
              silent += 1; run += 1
              if (run > longest) longest = run
            } else run = 0
            i += 1
          }
          (id, d.samples.length.toLong, clipped, silent, longest)
        }
      }
      .toDF("doc_id", "n_samples", "n_clipped", "n_silent",
        "longest_silence_run")
  }

  /** Integer-factor resampling (decimation): keep every `factor`-th
    * sample and re-encode as WAVE at rate / factor — the downsample
    * pass an ASR-style pipeline runs before feature extraction. No
    * low-pass filter (pure decimation), which keeps every output
    * sample an EXACT input sample: the oracle recomputes the decimated
    * clip from the formula, so the whole
    * decode → decimate → re-encode → re-decode chain is hash-gated.
    * Output (doc_id, audio) — feed [[audioStats]]/[[audioQuality]]
    * unchanged. */
  def resample(spark: SparkSession, binDf: DataFrame, factor: Int): DataFrame = {
    require(factor > 0, s"factor must be positive, got $factor")
    import spark.implicits._
    binDf.select(col("doc_id"), col("audio")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          val d = decode(bytes)
          val m = (d.samples.length + factor - 1) / factor
          val out = new Array[Int](m)
          var j = 0
          while (j < m) { out(j) = d.samples(j * factor); j += 1 }
          (id, encode(math.max(d.rate / factor, 1), out,
            AudioFileFormat.Type.WAVE))
        }
      }
      .toDF("doc_id", "audio")
  }

  /** Fused per-clip profile for the curation pipeline — ONE decode
    * pass emitting exactly what the gates need (sample count, clipping
    * count, silence count, fingerprint): [[audioStats]] +
    * [[audioQuality]] would decode every clip twice. Map-side. */
  private[graft] def profile(spark: SparkSession, binDf: DataFrame,
      clipLevel: Int, silenceLevel: Int): DataFrame = {
    require(clipLevel > 0 && silenceLevel > 0,
      s"thresholds must be positive, got clip=$clipLevel silence=$silenceLevel")
    import spark.implicits._
    binDf.select(col("doc_id"), col("audio")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          val d = decode(bytes)
          var clipped = 0L
          var silent = 0L
          var i = 0
          while (i < d.samples.length) {
            val a = math.abs(d.samples(i).toLong)
            if (a >= clipLevel) clipped += 1
            if (a < silenceLevel) silent += 1
            i += 1
          }
          (id, d.samples.length.toLong, clipped, silent, aFinger64(d.samples))
        }
      }
      .toDF("doc_id", "n_samples", "n_clipped", "n_silent", "afp")
  }

  /** Audio near-duplicate pairs — the shared banded hamming join over
    * the 64-bit fingerprint (lossless at hamming ≤ 3; see
    * [[Fingerprints.nearDupPairs]]). Input (doc_id, afp). */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    Fingerprints.nearDupPairs(hashes, "afp", maxHamming)

  /** Keeper selection without pair emission — the 100 TB form (see
    * [[Fingerprints.nearDupKeepers]]). Input (doc_id, afp); output one
    * (doc_id, afp, keep) row per doc. */
  def nearDupKeepers(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    Fingerprints.nearDupKeepers(hashes, "afp", maxHamming)

  /** CURATION-posture profile — [[profile]]'s fused decode pass with
    * corrupt scrape bytes LABELED, never thrown (the video arm's
    * gatedProfile posture extended to audio). Corrupt rows carry
    * zeroed counters and a zero fingerprint — never consulted: the
    * corrupt gate precedes everything and corrupt rows never enter the
    * survivor set. The levels are validated by MediaCurate.AudioGates,
    * its one caller. Output
    * (doc_id, corrupt, n_samples, n_clipped, n_silent, afp). */
  private[graft] def curationProfile(spark: SparkSession, binDf: DataFrame,
      clipLevel: Int, silenceLevel: Int): DataFrame = {
    import spark.implicits._
    binDf.select(col("doc_id"), col("audio")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          try {
            val d = decode(bytes)
            var clipped = 0L
            var silent = 0L
            var i = 0
            while (i < d.samples.length) {
              val a = math.abs(d.samples(i).toLong)
              if (a >= clipLevel) clipped += 1
              if (a < silenceLevel) silent += 1
              i += 1
            }
            (id, false, d.samples.length.toLong, clipped, silent,
              aFinger64(d.samples))
          } catch {
            case scala.util.control.NonFatal(_) =>
              (id, true, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "corrupt", "n_samples", "n_clipped", "n_silent", "afp")
  }

  /** AUDIO decontamination — drop training clips within `maxHamming`
    * of any eval-set clip's block-energy fingerprint (benchmark-leakage
    * removal). Both sides decode once through the real javax.sound
    * pass; the probe is the shared recall-lossless banded join.
    * Output (doc_id, afp, keep) per corpus clip. */
  def decontaminate(spark: SparkSession, corpus: DataFrame,
      evalSet: DataFrame, maxHamming: Int = 3): DataFrame =
    Fingerprints.decontaminate(
      audioStats(spark, corpus).select(col("doc_id"), col("afp")),
      audioStats(spark, evalSet).select(col("doc_id"), col("afp")),
      "afp", maxHamming)

  /** Cross-frame probe for the streaming registry twin. */
  private[graft] def hammingPairsAcross(news: DataFrame, olds: DataFrame,
      maxHamming: Int): DataFrame =
    Fingerprints.hammingPairsAcross(news, olds, "afp", maxHamming)
}
