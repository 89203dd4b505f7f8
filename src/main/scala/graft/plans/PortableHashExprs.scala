package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Cross-engine ("portable") hashing kernels.
  *
  * The xxhash64 kernels in MinHashExpr.scala are the fast path, but no
  * other engine reproduces Spark's xxhash64 — so queries built on them
  * cannot be adjudicated by the DuckDB oracle. These kernels derive all
  * hash material from MD5 (identical in every engine) and then use only
  * exact, overflow-free 64-bit integer arithmetic, so a DuckDB SQL
  * mirror computes bit-identical results:
  *
  *  - shingle identity a = first 15 md5 hex chars as a 60-bit int
  *    (DuckDB: ('0x'||substr(md5(s),1,15))::BIGINT)
  *  - minhash family h_i = (a & 2^58-1) + i·b(a), i < 32, with
  *    b(a) = ((a >> 7) XOR ((a & 2^40-1) << 13)) & 2^53-1 —
  *    a Carter-Wegman-style affine family whose terms stay < 2^59, so
  *    no wrap-around under ANSI Spark or DuckDB checked arithmetic.
  *
  * One MD5 per shingle (not per hash function) keeps the benched cost
  * within ~2× of the xxhash64 kernels.
  */
object PortableHash {
  val MaskA: Long = (1L << 58) - 1
  val Mask40: Long = (1L << 40) - 1
  val MaskB: Long = (1L << 53) - 1

  /** Per-thread MD5 instance: `MessageDigest.getInstance` walks the
    * provider registry on every call — at one digest PER SHINGLE that
    * lookup (plus the hex formatting below) dominated the kernels
    * (optimization round 21; digest() leaves the instance reset, so
    * reuse is safe).
    */
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private[plans] def md(): MessageDigest = mdLocal.get()

  /** md5 hex of UTF-8 bytes — matches Spark's and DuckDB's md5(). */
  def md5Hex(s: String): String = {
    val d = md().digest(s.getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** First 15 hex chars of a 16-byte digest as a 60-bit int WITHOUT the
    * hex detour: hex chars 0..14 are the high nibbles of bytes 0..7
    * minus byte 7's low nibble, i.e. the big-endian first-8-bytes long
    * shifted right by one nibble. Bit-identical to
    * `parseLong(md5Hex(s).take(15), 16)` (spec-locked in Round2Spec).
    */
  private[plans] def a60OfDigest(d: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** 60-bit shingle/token identity from the md5 prefix. */
  def a60(s: String): Long = a60OfDigest(md().digest(s.getBytes("UTF-8")))

  /** Derived second affine parameter (bit-mix of a; overflow-free). */
  def bOf(a: Long): Long = ((a >>> 7) ^ ((a & Mask40) << 13)) & MaskB
}

/** array<string> tokens → array<long> distinct word-k-shingle 60-bit
  * md5 identities (shingle text = k tokens joined with " "; n<k ⇒ one
  * shingle of all tokens, mirroring Dedup.shingles).
  */
case class PortableShingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** The per-row kernel. CodegenFallback stays DELIBERATE (re-measured
    * round 22 via graft.tools.CodegenAB): giving the shingling kernels
    * real codegen re-enables whole-stage codegen on the mega
    * normalize/split/digest projections, whose single generated method
    * exceeds the JIT's ~8000-bytecode limit and runs INTERPRETED —
    * q_dedup_prune 0.69 s vs 0.34 s with the stage demoted.
    */
  def shingle(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // UTF-8 bytes per token, fetched once: the shingle text is the k
    // tokens joined with " ", so its digest is the token byte runs fed
    // through one incremental MessageDigest with a 0x20 separator —
    // byte-identical to md5(mkString(" ").getBytes(UTF_8)) without
    // building any String (the former slice+mkString+String.getBytes
    // per OUTPUT shingle dominated the dedup kernels).
    val tokBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      tokBytes(i) = if (s == null) PortableShingles.EMPTY else s.getBytes
      i += 1
    }
    val md = PortableHash.md()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    def digestRange(from: Int, until: Int): Long = {
      var j = from
      while (j < until) {
        md.update(tokBytes(j))
        if (j + 1 < until) md.update(PortableShingles.SPACE)
        j += 1
      }
      PortableHash.a60OfDigest(md.digest())
    }
    if (n < k) seen.add(digestRange(0, n))
    else { i = 0; while (i + k <= n) { seen.add(digestRange(i, i + k)); i += 1 } }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    shingle(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): PortableShingles =
    copy(child = newChild)
}

object PortableShingles {
  private[plans] val EMPTY = new Array[Byte](0)
  private[plans] val SPACE: Byte = ' '.toByte
  def apply(tokens: Column, k: Int): Column =
    GraftSqlBridge.column(PortableShingles(GraftSqlBridge.expression(tokens), k))
}

/** array<long> shingle identities → array<long> minhash signature over
  * the portable affine family (see PortableHash).
  */
case class PortableMinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Kernel shared by eval and generated code. */
  def sig(arr: ArrayData): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      val a58 = a & PortableHash.MaskA
      val b = PortableHash.bOf(a)
      var j = 0
      while (j < numHashes) {
        val hj = a58 + j.toLong * b
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    sig(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): PortableMinHashSig =
    copy(child = newChild)
}

object PortableMinHashSig {
  def apply(shingles: Column, numHashes: Int): Column =
    GraftSqlBridge.column(PortableMinHashSig(GraftSqlBridge.expression(shingles), numHashes))
}

/** array<string> tokens → 60-bit portable SimHash: per token,
  * a = 60-bit md5 prefix; bit b of the signature is set iff more tokens
  * have bit b set than clear (votes 2·ones − n > 0).
  */
case class PortableSimHash(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  /** Kernel shared by eval and generated code. */
  def simhash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val ones = new Array[Int](60)
    val md = PortableHash.md()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      md.update(if (s == null) PortableShingles.EMPTY else s.getBytes)
      val a = PortableHash.a60OfDigest(md.digest())
      var b = 0
      while (b < 60) { if (((a >>> b) & 1L) == 1L) ones(b) += 1; b += 1 }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (2 * ones(b) - n > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    simhash(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): PortableSimHash =
    copy(child = newChild)
}

object PortableSimHash {
  def apply(tokens: Column): Column =
    GraftSqlBridge.column(PortableSimHash(GraftSqlBridge.expression(tokens)))
}

/** array<long> portable minhash signature → the LSH band keys:
  * `bands` structs (band, bh), where bh folds the band's `rowsPerBand`
  * signature values left to right as acc' = rot7(acc) XOR sig(i) with
  * rot7(x) = ((x & 2^52−1) << 7) | (x >>> 52), so it stays a 59-bit
  * value with no overflow in any engine. Mirrors the Column fold it
  * replaces (`element_at` per value): a NULL signature, or a null
  * element in a band, gives that band a null bh. A signature shorter
  * than bands × rowsPerBand is an error, as `element_at` out of range
  * is under ANSI.
  *
  * Why: the Column fold builds bands × rowsPerBand element_at/shift/xor
  * nodes under one explode, which generated 22 KB stage methods that
  * HotSpot never compiles; this is one static call.
  */
case class PortableBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands > 0 && rowsPerBand > 0,
    s"PortableBands: bands and rowsPerBand must be positive, got $bands, $rowsPerBand")

  override def dataType: DataType = PortableBands.dataType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    PortableBands.bandsOf(child.eval(input).asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.plans.PortableBands.bandsOf(
      |  ${c.isNull} ? null : ${c.value}, $bands, $rowsPerBand);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PortableBands =
    copy(child = newChild)
}

object PortableBands {
  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bh", LongType, nullable = true))), containsNull = false)

  private val Mask52 = (1L << 52) - 1

  /** Shared by eval and generated code. */
  def bandsOf(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    if (sig != null && sig.numElements() < bands * rowsPerBand)
      throw new IllegalArgumentException(s"PortableBands: signature has " +
        s"${sig.numElements()} values, needs ${bands * rowsPerBand}")
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var bh: java.lang.Long = null
      if (sig != null) {
        var acc = 0L
        var isNull = false
        var j = 0
        while (j < rowsPerBand && !isNull) {
          val i = b * rowsPerBand + j
          if (sig.isNullAt(i)) isNull = true
          else {
            val v = sig.getLong(i)
            acc = if (j == 0) v else (((acc & Mask52) << 7) | (acc >>> 52)) ^ v
          }
          j += 1
        }
        if (!isNull) bh = acc
      }
      out(b) = InternalRow(b, bh)
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(sig: Column, bands: Int, rowsPerBand: Int): Column =
    GraftSqlBridge.column(PortableBands(GraftSqlBridge.expression(sig), bands, rowsPerBand))
}
