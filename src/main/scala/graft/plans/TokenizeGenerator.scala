package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, CollectionGenerator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst table function: `tokenize(text)` -> one row per token.
  *
  * Full-parity port of the reference's Flink SQL UDTF
  * (gmall-realtime-self/.../app/func/SplitFunction.java:12-29, used via
  * `LATERAL TABLE(splitfunc(...))` at DwsTrafficKeywordPageViewWindow
  * .java:90-97): after GraftFunctions.register, SQL can write
  * `LATERAL VIEW tokenize(text) t AS word`.
  *
  * Semantics are PINNED to TextFunctions.tokens (lowercase, split on
  * non-[a-z0-9] runs, drop empties) — asserted equal in PlansSpec.
  *
  * Codegen: implemented as a `CollectionGenerator` over array<string> (the
  * explode shape), so GenerateExec's `codeGenCollection` path applies and
  * the Generate stays inside WholeStageCodegen instead of falling back to
  * interpreted eval per row (`supportCodegen` is true now that the
  * CodegenFallback mixin is gone; PlansSpec asserts the fused plan).
  */
case class TokenizeGenerator(child: Expression)
    extends UnaryExpression with CollectionGenerator {

  override def elementSchema: StructType =
    StructType(Seq(StructField("word", StringType)))

  override def inline: Boolean = false
  override def position: Boolean = false
  override def collectionType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = TokenizeGenerator.tokenizeToArray(child.eval(input).asInstanceOf[UTF8String])
    (0 until arr.numElements()).map(i => InternalRow(arr.getUTF8String(i)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val arrayData = classOf[ArrayData].getName
    ev.copy(
      code = code"""
        |${childGen.code}
        |$arrayData ${ev.value} = graft.plans.TokenizeGenerator.tokenizeToArray(
        |  ${if (child.nullable) s"${childGen.isNull} ? null : ${childGen.value}" else childGen.value.toString});
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenizeGenerator =
    copy(child = newChild)
}

object TokenizeGenerator {
  /** Shared kernel for the interpreted and generated paths; null text yields
    * an empty array (→ zero rows, matching `explode` of an empty array). */
  def tokenizeToArray(s: UTF8String): ArrayData = {
    if (s == null) return new GenericArrayData(Array.empty[Any])
    val parts = s.toString.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+")
    val out = new scala.collection.mutable.ArrayBuffer[Any](parts.length)
    var i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) out += UTF8String.fromString(parts(i))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** CJK-bigram tokenizer kernel — the fused form of
    * `TextFunctions.tokens(text, cjk = true)`, whose compositional chain
    * (two regexp_replace passes + split + a flatten(transform(...)) HOF)
    * evaluates INTERPRETED per row: under the curation cjk mode that is
    * the same per-row cost class the round-8 fusion removed from the
    * latin path. One linear scan, no regex, no intermediate strings
    * beyond the tokens themselves. Pinned semantics (bit-parity with the
    * compositional form asserted in PlansSpec over mixed-script
    * fixtures + the corpus — LOCALE PRECONDITION: this kernel lowercases
    * with Locale.ROOT while the compositional `tokens(text, cjk=true)`
    * rides Spark's `lower()`, whose non-ASCII path uses the JVM default
    * locale; the pinned parity holds on ROOT-like default locales and
    * can diverge on tr/az JVMs for dotted/dotless I in mixed-script text,
    * exactly like the latin tokensFused — the fused form is the
    * deterministic one, see TextFunctions.tokensFused's scaladoc):
    *   - lowercase (Locale.ROOT — the LowerRoot rule);
    *   - [a-z0-9] maximal runs → tokens, exactly like [[tokenizeToArray]];
    *   - each maximal CJK run (BMP Unified Ideographs U+4E00–U+9FFF, the
    *     pinned range) of length L ≥ 2 → its L−1 overlapping character
    *     bigrams in order; an isolated CJK char → itself;
    *   - everything else separates (surrogate pairs fall outside both
    *     classes → separators, matching the codepoint-class regex);
    *   - null text → empty array (tokensFused contract). */
  def tokenizeToArrayCjk(s: UTF8String): ArrayData = {
    if (s == null) return new GenericArrayData(Array.empty[Any])
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val n = str.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < n && {
          val d = str.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        out += UTF8String.fromString(str.substring(i, j))
        i = j
      } else if (c >= '一' && c <= '鿿') {
        var j = i + 1
        while (j < n && { val d = str.charAt(j); d >= '一' && d <= '鿿' }) j += 1
        if (j - i == 1) out += UTF8String.fromString(str.substring(i, j))
        else {
          var k = i
          while (k < j - 1) {
            out += UTF8String.fromString(str.substring(k, k + 2))
            k += 1
          }
        }
        i = j
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** [[tokenizeToArray]] WITH source spans — the latin twin of
    * [[tokenizeToSpansCjk]]: one row per token as struct<t, s, e> where
    * [s, e) is the token's CODEPOINT range in lower(text) (Locale.ROOT).
    * Token `t` fields are BIT-IDENTICAL to [[tokenizeToArray]] — [a-z0-9]
    * maximal runs of the lowered string, everything else (including CJK
    * characters, which are plain separators in latin mode) advancing the
    * offset by one CODEPOINT per separator codepoint (surrogate pairs are
    * one codepoint, two Java chars). Latin tokens never overlap, so a
    * consumer may excise spans directly; the union fold still applies
    * because adjacent n-gram hits produce overlapping RANGES. Null text →
    * empty array. Powers the structure-preserving latin arm of
    * TextAnalysis.decontaminateSpans (round-12: the token REBUILD
    * normalizes separators away; offset excision preserves them). */
  def tokenizeToSpans(s: UTF8String): ArrayData = {
    if (s == null) return new GenericArrayData(Array.empty[Any])
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val n = str.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0  // Java char index into str
    var cp = 0 // codepoint index (== char index until a surrogate pair)
    while (i < n) {
      val c = str.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        // token-class chars are BMP non-surrogate: char step == cp step
        var j = i
        while (j < n && {
          val d = str.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        out += InternalRow(UTF8String.fromString(str.substring(i, j)), cp, cp + (j - i))
        cp += j - i; i = j
      } else {
        // separator: one CODEPOINT (a surrogate pair advances two chars)
        if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(str.charAt(i + 1))) i += 2
        else i += 1
        cp += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** [[tokenizeToArrayCjk]] WITH source spans: one row per token as
    * struct<t: string, s: int, e: int> where [s, e) is the token's
    * CODEPOINT range in `lower(text)` (Locale.ROOT — the same lowered
    * string the token text is cut from; codepoint units so Spark's
    * `substr`/`length` and DuckDB's `substr`/`length` index identically,
    * including past astral-plane separators, which are one codepoint but
    * two Java chars). The `t` fields are BIT-IDENTICAL to
    * [[tokenizeToArrayCjk]] — same walk, same classes, same lowering —
    * pinned in PlansSpec. CJK bigrams OVERLAP by construction
    * (positions p..p+2, p+1..p+3, …); consumers that excise by span
    * must union ranges, not concatenate them. Null text → empty array. */
  def tokenizeToSpansCjk(s: UTF8String): ArrayData = {
    if (s == null) return new GenericArrayData(Array.empty[Any])
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val n = str.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    def row(t: String, b: Int, e: Int): Any =
      InternalRow(UTF8String.fromString(t), b, e)
    var i = 0  // Java char index into str
    var cp = 0 // codepoint index (== char index until a surrogate pair)
    while (i < n) {
      val c = str.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        // token-class chars are BMP non-surrogate: char step == cp step
        var j = i
        while (j < n && {
          val d = str.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        out += row(str.substring(i, j), cp, cp + (j - i))
        cp += j - i; i = j
      } else if (c >= '一' && c <= '鿿') {
        var j = i
        while (j < n && { val d = str.charAt(j); d >= '一' && d <= '鿿' }) j += 1
        if (j - i == 1) out += row(str.substring(i, j), cp, cp + 1)
        else {
          var k = i
          while (k < j - 1) {
            out += row(str.substring(k, k + 2), cp + (k - i), cp + (k - i) + 2)
            k += 1
          }
        }
        cp += j - i; i = j
      } else {
        // separator: one CODEPOINT (a surrogate pair advances two chars)
        if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(str.charAt(i + 1))) i += 2
        else i += 1
        cp += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Session registration for the engine's SQL-surface functions. */
object GraftFunctions {
  // centroid-set args arrive as foldable array literals (typedLit) and are
  // unpacked at plan time into the expression's embedded matrices
  private def litLongs(e: Expression): Seq[Long] =
    e.eval().asInstanceOf[ArrayData].toLongArray().toSeq
  private def litStrings(e: Expression): Seq[String] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
  }
  private def litDoubles2(e: Expression): Seq[Seq[Double]] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    (0 until ad.numElements()).map(i => ad.getArray(i).toDoubleArray().toSeq)
  }
  private def litLongs2(e: Expression): Seq[Seq[Long]] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    (0 until ad.numElements()).map(i => ad.getArray(i).toLongArray().toSeq)
  }
  private def litDoubles3(e: Expression): Seq[Seq[Seq[Double]]] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    (0 until ad.numElements()).map { i =>
      val inner = ad.getArray(i)
      (0 until inner.numElements()).map(j => inner.getArray(j).toDoubleArray().toSeq)
    }
  }

  /** Plan-time integer literal, guarded: a non-foldable or non-numeric
    * argument fails with a clear message instead of a ClassCastException
    * or NPE out of the builder (ADVICE r12). */
  private def litInt(e: Expression, fn: String): Int = litNum(e, fn).intValue()
  private def litLong(e: Expression, fn: String): Long = litNum(e, fn).longValue()
  private def litNum(e: Expression, fn: String): Number = {
    require(e.foldable,
      s"$fn: argument must be an integer literal, got non-foldable ${e.sql}")
    e.eval() match {
      case n: Number => n
      case null => throw new IllegalArgumentException(
        s"$fn: argument must be an integer literal, got NULL")
      case other => throw new IllegalArgumentException(
        s"$fn: argument must be an integer literal, got ${other.getClass.getSimpleName}")
    }
  }
  private def litBool(e: Expression, fn: String): Boolean = {
    require(e.foldable,
      s"$fn: argument must be a boolean literal, got non-foldable ${e.sql}")
    e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn: argument must be a boolean literal, got " +
          (if (other == null) "NULL" else other.getClass.getSimpleName))
    }
  }

  /** (name → builder) for every SQL-surface function — the ONE source of
    * truth shared by both registration paths: per-session `register` and
    * the `GraftExtensions` injection (every session GraftSession.configure
    * builds, or `spark.sql.extensions` for sessions the engine does not).
    * dim/nPlanes/centroid-set args must be literals: they size matrices
    * embedded in the expression instance at plan time. */
  private[plans] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "tokenize" -> (exprs => TokenizeGenerator(exprs.head)),
    "cosine_fused" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "md5_prefix32" -> (exprs => Md5Prefix32(exprs.head)),
    "nfc_normalize" -> (exprs => NfcNormalize(exprs.head)),
    "shingle_hash32" -> (exprs => ShingleHash32(exprs.head,
      litInt(exprs(1), "shingle_hash32"))),
    "hyperplane_sketch" -> (exprs => HyperplaneSketch(exprs.head,
      litInt(exprs(1), "hyperplane_sketch"),
      litInt(exprs(2), "hyperplane_sketch"),
      if (exprs.length > 3) litInt(exprs(3), "hyperplane_sketch") else 0)),
    "nearest_centroid" -> (exprs => NearestCentroid(exprs.head,
      litLongs(exprs(1)), litDoubles2(exprs(2)),
      litBool(exprs(3), "nearest_centroid"))),
    "nearest_sub_centroid" -> (exprs => NearestSubCentroid(exprs(0), exprs(1),
      litLongs2(exprs(2)), litDoubles3(exprs(3)))),
    "bpe_encode" -> (exprs => BpeEncodeDoc(exprs.head,
      litStrings(exprs(1)), litStrings(exprs(2)))),
    "jaccard_sorted" -> (exprs => JaccardSorted(exprs(0), exprs(1))),
    "intersect_count_sorted" -> (exprs => IntersectCountSorted(exprs(0), exprs(1))),
    "simhash32_fused" -> (exprs => SimHash32Doc(exprs.head)),
    "minhash_sigs" -> (exprs => MinhashSigs(exprs.head,
      litInt(exprs(1), "minhash_sigs"))),
    "sorted_distinct_i64" -> (exprs => SortedDistinctLongs(exprs.head)),
    "tokenize_array" -> (exprs => TokenizeArray(exprs.head)),
    "tokenize_array_cjk" -> (exprs => TokenizeArrayCjk(exprs.head)),
    "tokenize_spans" -> (exprs => TokenizeSpans(exprs.head)),
    "tokenize_spans_cjk" -> (exprs => TokenizeSpansCjk(exprs.head)),
    "chunk_spans_cjk" -> (exprs => ChunkSpansCjk(exprs(0), exprs(1),
      litInt(exprs(2), "chunk_spans_cjk"))),
    "excise_spans" -> (exprs => ExciseSpans(exprs(0), exprs(1), exprs(2),
      litInt(exprs(3), "excise_spans"))),
    "count_in_set" -> (exprs => CountInSet(exprs.head, litStrings(exprs(1)))),
    // second arg = a plan-time literal BloomHandles id (resolution runs
    // on the driver, where the handle registry lives)
    "bloom_hits" -> (exprs => BloomHits(exprs.head,
      BloomHandles.get(litLong(exprs(1), "bloom_hits")))),
    "word_shingles" -> (exprs => WordShingles(exprs.head,
      litInt(exprs(1), "word_shingles"))),
    "subword_est" -> (exprs => SubwordEst(exprs.head)),
    "char_trigram_set" -> (exprs => CharTrigramSet(exprs.head)),
    "lower_root" -> (exprs => LowerRoot(exprs.head)))

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
}

/** The idiomatic cluster-deployment entry point: register every engine SQL
  * function through `SparkSessionExtensions`, so a session the engine does
  * NOT construct (a shared notebook server, a Thrift/Connect gateway, a
  * spark-submit with `--conf spark.sql.extensions=graft.plans
  * .GraftExtensions`) gets the full SQL surface without calling
  * GraftFunctions.register — the reference's "register the UDTF at
  * environment setup" posture (SplitFunction registration,
  * DwsTrafficKeywordPageViewWindow.java:88) expressed Spark-first.
  * Injected and per-session registration share [[GraftFunctions.builders]],
  * so the two paths cannot drift. The optimizer rules ([[DoubleToDecimal]])
  * ride the same injection; GraftSession.configure applies it to every
  * session the engine builds. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.plans.GraftFunctions", name),
        b))
    }
    ext.injectOptimizerRule(_ => DoubleToDecimal)
  }
}
