package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import com.ibm.icu.lang.UCharacter

/** Text-pipeline kernels (optimization round 21): tight single-pass
  * replacements for interpreted higher-order-function / regex chains on
  * the curation hot path. Each one is pinned to the Catalyst formula it
  * replaced by a Round21Spec parity test — the rewrites are
  * byte-identical, only cheaper.
  *
  * CodegenFallback is deliberate and MEASURED (optimization round 22):
  * these kernels anchor mega-projections (gopher's five-rule struct,
  * the curation dedup key, the contamination gram fan-out) whose
  * whole-stage-codegen method exceeds the JIT's ~8000-bytecode
  * DontCompileHugeMethods limit — the generated method then runs in the
  * bytecode INTERPRETER and the stage is ~2× SLOWER than the demoted
  * per-expression-codegen path (graft.tools.CodegenAB,
  * q_curation_pipeline 2.70 s whole-stage vs 1.23 s bailed-out on one
  * host/load; q_quality_filter 0.27 vs 0.17; q_dedup_prune 0.69 vs
  * 0.34). A round-22 interim build gave all of them real doGenCode and
  * regressed exactly these queries; demoting the stage keeps every
  * surrounding expression in small JIT-friendly projection methods.
  * Kernels on LEAN stages (JaccardSim in join conditions, RoundMantissa
  * join keys, DotProduct/NearestCentroid) keep real codegen — there the
  * stage method stays small and WSCG wins.
  *
  * The normalized-text kernels ([[NormalizeText]], [[NormTokens]]) keep
  * real codegen too: each generates one static call, so the projection
  * that tokenizes stays small. They and [[AsciiSqueeze]] lowercase
  * through [[NormText.lower]], which calls the primitives Catalyst's
  * `Lower` calls for UTF8_BINARY text but never loads
  * `CollationAwareUTF8String`, whose static initializer title-cases
  * every code point (about 1.5 s, once per JVM, on a task thread).
  */

/** The case mapping and whitespace rules shared by the normalized-text
  * kernels. Whitespace is Java regex `\s` without flags: space, `\t`,
  * `\n`, `\x0B`, `\f` and `\r`, all ASCII, and no lowercase mapping
  * creates or removes one, so collapsing runs after lowering equals the
  * regex over the lowered string.
  */
object NormText {

  /** `lower(s)` for UTF8_BINARY text. With
    * `spark.sql.icu.caseMappings.enabled` (`useICU`) Catalyst lowers
    * through `CollationAwareUTF8String.toLowerCase`: the ASCII map for
    * all-ASCII text, else ICU's `UCharacter.toLowerCase` over the valid
    * string. Without it, `UTF8String.toLowerCase`. Same calls here, minus
    * the class whose initializer builds a title-case table.
    */
  def lower(s: UTF8String, useICU: Boolean): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else if (useICU) UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))
    else s.toLowerCase

  /** `regexp_replace(lower(trim(s)), "\\s+", " ")`: `UTF8String.trim`
    * (spaces only, as Catalyst's `trim`), [[lower]], then one pass that
    * writes each whitespace run as one space.
    */
  def normalize(s: UTF8String, useICU: Boolean): UTF8String = {
    val b = lower(s.trim(), useICU).getBytes
    val out = new Array[Byte](b.length)
    var o = 0
    var inSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == ' ' || (c >= 9 && c <= 13)) {
        if (!inSpace) { out(o) = ' '; o += 1; inSpace = true }
      } else {
        out(o) = c
        o += 1
        inSpace = false
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** `split(trim(normalize(s)), "\\s+")`: the space-separated runs of
    * the normalized text, or `[""]` when it has none.
    */
  def tokens(s: UTF8String, useICU: Boolean): ArrayData = {
    val n = normalize(s, useICU)
    // normalize returns a view of a fresh byte[] (fromBytes(out, 0, o))
    val b = n.getBaseObject.asInstanceOf[Array[Byte]]
    val end = n.numBytes
    var count = 0
    var i = 0
    while (i < end) {
      if (b(i) != ' ' && (i == 0 || b(i - 1) == ' ')) count += 1
      i += 1
    }
    if (count == 0) return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (i < end) {
      if (b(i) == ' ') i += 1
      else {
        val start = i
        while (i < end && b(i) != ' ') i += 1
        out(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** `spark.sql.icu.caseMappings.enabled`, read the way Catalyst's `Lower`
  * reads it: a lazy val of the expression, taken from the active conf on
  * first use (at code generation, or on the task that evaluates it).
  */
trait IcuCaseMapped { self: Expression =>
  lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
}

/** text → `regexp_replace(lower(trim(text)), "\\s+", " ")` natively
  * ([[NormText.normalize]]); null gives null. The normalized form under
  * fingerprints, exact dedup and every tokenizer of the text path.
  * Why: the chain's `lower()` initializes `CollationAwareUTF8String`
  * (ICU case mappings are on by default), and its regex re-scans the
  * string; here the whitespace runs collapse in one byte pass.
  */
case class NormalizeText(child: Expression)
    extends UnaryExpression with IcuCaseMapped {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    NormText.normalize(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NormText.normalize($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {
  def apply(text: Column): Column =
    GraftSqlBridge.column(NormalizeText(GraftSqlBridge.expression(text)))
}

/** text → `split(trim(<NormalizeText>), "\\s+")` in one pass
  * ([[NormText.tokens]]): the normalized tokens, `[""]` for empty or
  * whitespace-only text, null for null. Same element type as Spark's
  * `split` (containsNull = false). Why: see [[NormalizeText]]; the split
  * was a third regex pass.
  */
case class NormTokens(child: Expression)
    extends UnaryExpression with IcuCaseMapped {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    NormText.tokens(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NormText.tokens($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): NormTokens =
    copy(child = newChild)
}

object NormTokens {
  def apply(text: Column): Column =
    GraftSqlBridge.column(NormTokens(GraftSqlBridge.expression(text)))
}

/** text → its DISTINCT character n-grams, first-occurrence order —
  * mirrors `array_distinct(transform(sequence(0, greatest(length(t) − n,
  * 0)), i => substr(t, i + 1, n)))`:
  *  - characters are code points, stepped like `UTF8String.substring`
  *    (a surrogate pair is one character);
  *  - text of at most n characters, the empty string included, is its
  *    own single gram;
  *  - NULL text → [null] (greatest skips the null length, and substr of
  *    null is a null element), so the array itself is never null.
  * Why: the formula ran an interpreted lambda and a Substring eval per
  * character position; this slices the bytes once.
  */
case class DistinctCharNgrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"DistinctCharNgrams: n must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  def grams(s: UTF8String): ArrayData = {
    if (s == null) return new GenericArrayData(Array[Any](null))
    val b = s.getBytes
    // starts(c) = byte offset of character c; starts(len) = end
    val starts = new Array[Int](b.length + 1)
    var len = 0
    var i = 0
    while (i < b.length) {
      starts(len) = i
      len += 1
      i += UTF8String.numBytesForFirstByte(b(i))
    }
    starts(len) = math.min(i, b.length)
    if (len <= n) return new GenericArrayData(Array[Any](UTF8String.fromBytes(b)))
    val seen = new java.util.LinkedHashSet[UTF8String](2 * (len - n + 1))
    var c = 0
    while (c + n <= len) {
      seen.add(UTF8String.fromBytes(b, starts(c), starts(c + n) - starts(c)))
      c += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    c = 0
    while (it.hasNext) { out(c) = it.next(); c += 1 }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    grams(child.eval(input).asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): DistinctCharNgrams =
    copy(child = newChild)
}

object DistinctCharNgrams {
  def apply(text: Column, n: Int): Column =
    GraftSqlBridge.column(DistinctCharNgrams(GraftSqlBridge.expression(text), n))
}

/** array<string> tokens → DISTINCT word n-grams, first-occurrence
  * order — mirrors `array_distinct(TextFunctions.ngramsOf(toks, n))`:
  *  - null or shorter-than-n input → empty array (ngramsOf's `when`
  *    falls through to its empty-array branch on null/short input);
  *  - gram i = array_join(slice(toks, i+1, n), " "), i.e. the n tokens
  *    joined with one space, null elements skipped WITH their
  *    delimiter (UTF8String.concatWs has exactly ArrayJoin's skip
  *    semantics);
  *  - array_distinct keeps the first occurrence of each value.
  *
  * Why: the HOF form evaluates interpreted (transform/slice/array_join
  * get no whole-stage codegen), allocating a Seq slice + String builder
  * per OUTPUT gram — at n-gram fan-out that was the single-task scan
  * stage's dominant cost in every contamination-family query.
  */
case class DistinctWordNgrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 2, s"DistinctWordNgrams: n must be >= 2, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  private val SPACE = UTF8String.fromString(" ")

  /** Kernel shared by eval and generated code; null input → empty. */
  def grams(v: ArrayData): ArrayData = {
    if (v == null) return new GenericArrayData(new Array[Any](0))
    val cnt = v.numElements()
    if (cnt < n) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) { toks(i) = v.getUTF8String(i); i += 1 }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val window = new Array[UTF8String](n)
    i = 0
    while (i + n <= cnt) {
      System.arraycopy(toks, i, window, 0, n)
      seen.add(UTF8String.concatWs(SPACE, window: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator(); i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    grams(child.eval(input).asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): DistinctWordNgrams =
    copy(child = newChild)
}

object DistinctWordNgrams {
  def apply(tokens: Column, n: Int): Column =
    GraftSqlBridge.column(DistinctWordNgrams(GraftSqlBridge.expression(tokens), n))
}

/** text → lowercase alnum runs joined by single spaces — mirrors
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]", " "),
  * " +", " "))`: lowered by [[NormText.lower]] (the case-mapping calls
  * of Catalyst's `Lower`, with the same ICU setting, without its
  * `CollationAwareUTF8String` class init), then squeezed in one byte
  * pass.
  *
  * Byte-level equivalence: in UTF-8 no byte of a multi-byte sequence is
  * ASCII, so [a-z0-9] BYTE runs equal the regex's [a-z0-9] CHAR runs;
  * every non-alnum char (incl. each surrogate half the Java regex sees)
  * becomes space, runs collapse, edges trim — i.e. exactly "the alnum
  * runs joined by single spaces".
  */
case class AsciiSqueeze(child: Expression)
    extends UnaryExpression with IcuCaseMapped with CodegenFallback {

  override def dataType: DataType = StringType

  /** Kernel shared by eval and generated code. */
  def squeeze(s: UTF8String): UTF8String = {
    val bytes = NormText.lower(s, useICU).getBytes
    val out = new Array[Byte](bytes.length)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val alnum = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (alnum) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = b; o += 1
      } else pendingSpace = true
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  override def nullSafeEval(input: Any): Any =
    squeeze(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): AsciiSqueeze =
    copy(child = newChild)
}

object AsciiSqueeze {
  def apply(text: Column): Column =
    GraftSqlBridge.column(AsciiSqueeze(GraftSqlBridge.expression(text)))
}

/** array<string> tokens → Σ length(token) as long — mirrors
  * `aggregate(toks, 0L, (acc, t) => acc + length(t))`: length counts
  * CHARS (UTF8String.numChars), and a null element poisons the fold to
  * null exactly like `acc + null`.
  */
case class SumTokenLengths(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  /** A null ELEMENT poisons the fold even when the array itself is
    * non-null, so this is nullable regardless of the child — exactly
    * like the `aggregate(toks, 0L, acc + length(t))` formula it
    * mirrors (and without it nullSafeCodeGen's non-nullable branch
    * never declares ev.isNull while the kernel code assigns it — an
    * uncompilable generated class, found in round 22's codegen pass).
    */
  override def nullable: Boolean = true

  /** Kernel shared by eval and generated code: boxed Long, null when a
    * null element poisons the fold.
    */
  def sumLen(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s == null) return null
      sum += s.numChars()
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }

  override def nullSafeEval(input: Any): Any =
    sumLen(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): SumTokenLengths =
    copy(child = newChild)
}

object SumTokenLengths {
  def apply(tokens: Column): Column =
    GraftSqlBridge.column(SumTokenLengths(GraftSqlBridge.expression(tokens)))
}

/** array<string> tokens → count of tokens containing an ASCII
  * lowercase letter — mirrors
  * `size(filter(toks, t => t.rlike("[a-z]")))`: the regex finds any
  * a-z char anywhere in the token (in UTF-8 an a-z byte IS an a-z
  * char), and a null element's null predicate is dropped by `filter`
  * exactly like a false.
  */
case class CountAlphaTokens(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  /** Kernel shared by eval and generated code. */
  def countAlpha(arr: ArrayData): Int = {
    val n = arr.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val b = s.getBytes
        var j = 0
        var found = false
        while (j < b.length && !found) {
          if (b(j) >= 'a' && b(j) <= 'z') found = true
          j += 1
        }
        if (found) cnt += 1
      }
      i += 1
    }
    cnt
  }

  override def nullSafeEval(input: Any): Any =
    countAlpha(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): CountAlphaTokens =
    copy(child = newChild)
}

object CountAlphaTokens {
  def apply(tokens: Column): Column =
    GraftSqlBridge.column(CountAlphaTokens(GraftSqlBridge.expression(tokens)))
}

/** array<string> tokens → the three Gopher repetition fractions in ONE
  * pass (optimization r22, VERDICT r21 next #8) — mirrors
  * `repetitionFeaturesTok(toks, ngramsOf(toks, n))` exactly:
  *
  *  - dup_token_frac       = (nT − nD) / nT          (0.0 when nT = 0)
  *  - dup_token_char_frac  = (cAll − cDis) / cAll    (0.0 when cAll ≤ 0
  *    or a null ELEMENT poisons the char folds to null — `aggregate`'s
  *    `acc + length(null)` semantics)
  *  - dup_ngram_frac       = (nG − nGD) / nG         (0.0 when nG = 0)
  *
  * with nD = |array_distinct(toks)|, cAll/cDis the char counts of all /
  * distinct tokens, grams = array_join(slice(toks,i+1,n), " ") (null
  * elements skipped WITH their delimiter — UTF8String.concatWs ==
  * ArrayJoin), nG their count and nGD their distinct count. A null
  * token ARRAY yields (0.0, 0.0, 0.0) — every `when` in the formula
  * falls through to its 0.0 branch. All counts are exact integers
  * < 2^53, so each division is the same IEEE value as the HOF formula's
  * double arithmetic. Why: the HOF form ran 2× array_distinct + 2×
  * aggregate + the n-gram transform INTERPRETED per row — 5 passes and
  * per-element lambda dispatch; this is one pass, one hash set each for
  * tokens and grams. CodegenFallback per the r22 measured doctrine
  * (these sit in the same mega-projections as the other text kernels).
  */
case class RepetitionStats(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 2, s"RepetitionStats: n must be >= 2, got $n")

  override def dataType: DataType = StructType(Seq(
    StructField("dup_token_frac", DoubleType, nullable = false),
    StructField("dup_token_char_frac", DoubleType, nullable = false),
    StructField("dup_ngram_frac", DoubleType, nullable = false)))
  override def nullable: Boolean = false

  private val SPACE = UTF8String.fromString(" ")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0.0, 0.0, 0.0))
    val arr = v.asInstanceOf[ArrayData]
    val nT = arr.numElements()
    val toks = new Array[UTF8String](nT)
    var i = 0
    while (i < nT) { toks(i) = arr.getUTF8String(i); i += 1 }
    // distinct tokens + char folds (null element poisons both folds,
    // exactly like aggregate's acc + length(null))
    val seenTok = new java.util.HashSet[UTF8String](math.max(16, nT * 2))
    var nD = 0
    var cAll = 0L
    var cDis = 0L
    var charsPoisoned = false
    var sawNullTok = false
    i = 0
    while (i < nT) {
      val t = toks(i)
      if (t == null) {
        charsPoisoned = true
        if (!sawNullTok) { sawNullTok = true; nD += 1 } // distinct keeps one null
      } else {
        if (seenTok.add(t)) { nD += 1; if (!charsPoisoned) cDis += t.numChars() }
        cAll += t.numChars()
      }
      i += 1
    }
    // n-grams: first-occurrence distinct count over the concatWs grams
    var nG = 0
    var nGD = 0
    if (nT >= n) {
      nG = nT - n + 1
      val seenGram = new java.util.HashSet[UTF8String](math.max(16, nG * 2))
      val window = new Array[UTF8String](n)
      i = 0
      while (i + n <= nT) {
        System.arraycopy(toks, i, window, 0, n)
        if (seenGram.add(UTF8String.concatWs(SPACE, window: _*))) nGD += 1
        i += 1
      }
    }
    val dupTok = if (nT > 0) (nT - nD).toDouble / nT.toDouble else 0.0
    val dupChar =
      if (!charsPoisoned && cAll > 0) (cAll - cDis).toDouble / cAll.toDouble
      else 0.0
    val dupGram = if (nG > 0) (nG - nGD).toDouble / nG.toDouble else 0.0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](dupTok, dupChar, dupGram))
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  def apply(tokens: Column, n: Int): Column =
    GraftSqlBridge.column(RepetitionStats(GraftSqlBridge.expression(tokens), n))
}

/** text → fixed-width char chunks in ONE pass — mirrors
  * `transform(sequence(0, n−1), i => text.substr(i·width+1, width))`
  * with n = greatest(ceil(len/width), 1):
  *  - chunk i = substr(i·width+1, width) (UTF8String.substringSQL —
  *    CHAR positions, short final chunk);
  *  - empty text → one empty chunk (a document never disappears);
  *  - NULL text → [null] (the formula's n falls back to 1 — greatest
  *    skips the null — and substr(null) is a null element), so this
  *    expression is non-nullable with a containsNull element type.
  * Why: the HOF built a sequence array + interpreted lambda dispatch +
  * a Substring eval per OUTPUT chunk; this slices the UTF8String
  * directly. CodegenFallback per the r22 measured doctrine.
  */
case class ChunksFixed(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width > 0, s"ChunksFixed: width must be positive, got $width")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericArrayData(Array[Any](null))
    val s = v.asInstanceOf[UTF8String]
    val len = s.numChars()
    val n = math.max((len + width - 1) / width, 1)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = s.substringSQL(i * width + 1, width)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ChunksFixed =
    copy(child = newChild)
}

object ChunksFixed {
  def apply(text: Column, width: Int): Column =
    GraftSqlBridge.column(ChunksFixed(GraftSqlBridge.expression(text), width))
}

/** text → BPE-ish subword count in ONE byte pass — mirrors
  * `size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
  * t => length(t) > 0))` via the identity:
  * #tokens = #ASCII-alnum runs + #non-alnum UTF-16 UNITS. Java's
  * lookaround split positions between UTF-16 chars, so a SUPPLEMENTARY
  * code point (emoji) splits into its two surrogate halves = TWO
  * non-empty tokens — the kernel therefore counts UTF-16 units
  * (code points + one extra per 4-byte UTF-8 sequence), not code
  * points (Round22Spec locks the emoji case). Alnum chars are ASCII
  * (1 byte = 1 unit), so runs count byte-wise and non-alnum units =
  * utf16Units − alnumBytes. Why: the regex split allocated a token
  * array + per-element interpreted filter lambda per row.
  * CodegenFallback per the r22 measured doctrine.
  */
case class BpeishCount(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var alnumBytes = 0
    var runs = 0
    var chars = 0
    var inRun = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      // count UTF-16 units: every byte except UTF-8 continuations
      // (10xxxxxx), PLUS one extra for each 4-byte sequence lead
      // (0xF0-0xF4 — a supplementary code point = a surrogate pair)
      if ((b & 0xC0) != 0x80) chars += 1
      if ((b & 0xF8) == 0xF0) chars += 1
      val alnum = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9')
      if (alnum) {
        alnumBytes += 1
        if (!inRun) { runs += 1; inRun = true }
      } else inRun = false
      i += 1
    }
    runs + (chars - alnumBytes)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeishCount =
    copy(child = newChild)
}

object BpeishCount {
  def apply(text: Column): Column =
    GraftSqlBridge.column(BpeishCount(GraftSqlBridge.expression(text)))
}
