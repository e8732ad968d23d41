package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** md5 hex of a string — bit-identical to Spark's `md5(string)` but with a
  * THREAD-LOCAL reused MessageDigest.
  *
  * Why: Spark's `Md5` expression routes through
  * `commons-codec DigestUtils.md5Hex`, whose `getDigest` performs a JCA
  * `MessageDigest.getInstance("MD5")` provider lookup + instance
  * allocation on EVERY row, then allocates a `char[]`/`String` for the hex
  * before converting back to UTF8String. At the exact-dedup replica tier
  * (5 M documents, round-14 floor decomposition: scan 0.18 s / +md5
  * 0.28–0.40 s / +agg 0.22 s) that per-row setup is a measured third of
  * the key's wall — and the round-15 same-boot A/B put the declared key at
  * 2.06× DuckDB, whose md5 runs 5 M texts in 0.25 s. This expression
  * digests into a reused instance and hex-encodes straight into the
  * output byte array (no intermediate String), closing most of that gap
  * while keeping the output — and therefore the DuckDB oracle — unchanged.
  *
  * Null input → null (UnaryExpression default). MD5 is always present in
  * the JDK (required algorithm), so the thread-local init cannot fail.
  */
case class FastMd5(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"fast_md5 expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "fast_md5"

  override protected def nullSafeEval(input: Any): Any =
    FastMd5.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FastMd5.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): FastMd5 =
    copy(child = newChild)
}

object FastMd5 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private final val Hex = "0123456789abcdef".getBytes

  /** Lowercase md5 hex of `s`'s UTF-8 bytes; called from both eval and
    * generated code. */
  def hash(s: UTF8String): UTF8String = {
    val md = digest.get()
    md.reset()
    val raw = md.digest(s.getBytes)
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = Hex((raw(i) >> 4) & 0xf)
      hex(2 * i + 1) = Hex(raw(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[FastMd5].getName, "fast_md5")
  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "fast_md5 expects exactly 1 argument")
    FastMd5(args.head)
  }

  /** Last (input, raw digest) pair per thread, so the `_hi`/`_lo` pair
    * over the same text pays ONE digest, not two (round-18, VERDICT r17
    * missing #2: Catalyst CSE cannot merge the two distinct half
    * expressions, so on mostly-unique corpora every row digested twice).
    *
    * Safety: a hit is a CONTENT compare against a PRIVATE byte copy, so
    * it is immune to the row buffer behind a reused UTF8String being
    * rewritten between rows (a reference compare would serve the old
    * digest for the same object with new bytes). A miss only costs the
    * digest that was always paid. */
  private final class HalfCache {
    var bytes: Array[Byte] = _
    var dig: Array[Byte] = _
  }
  private val halfCache = new ThreadLocal[HalfCache] {
    override def initialValue(): HalfCache = new HalfCache
  }

  private def sameBytes(s: UTF8String, b: Array[Byte]): Boolean =
    s.numBytes == b.length &&
      org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
        s.getBaseObject, s.getBaseOffset, b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length)

  /** One 64-bit half of the md5 digest as a BIG-ENDIAN long; called from
    * both eval and generated code. `hi` = bytes 0–7, else bytes 8–15.
    * `lpad(lower(hex(v)), 16, '0')` of the two halves concatenated is
    * byte-identical to [[hash]]'s 32-char lowercase hex. */
  def hashHalf(s: UTF8String, hi: Boolean): Long = {
    val c = halfCache.get()
    var raw = c.dig
    if (raw == null || !sameBytes(s, c.bytes)) {
      val b = s.getBytes
      val md = digest.get()
      md.reset()
      raw = md.digest(b)
      // Private copy: `b` may alias the row buffer the scan reuses.
      c.bytes = java.util.Arrays.copyOf(b, b.length)
      c.dig = raw
    }
    val off = if (hi) 0 else 8
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (raw(off + i) & 0xffL); i += 1 }
    v
  }
}

/** One 64-bit half of `fast_md5(child)` as LONG (see [[FastMd5.hashHalf]]).
  *
  * Why it exists (round-17 optimization): the exact-dedup contract carries
  * the group's md5 through an aggregate. A STRING-valued aggregate buffer
  * (`first(fast_md5(text))`) disqualifies HashAggregateExec — UnsafeRow
  * aggregation buffers must be all fixed-width mutable types — so Spark
  * falls back to SortAggregate, paying a full per-partition sort of the
  * corpus on BOTH sides of the exchange. Two long-valued `first()`s keep
  * the identical output (hex-rendered in the final projection) with a
  * fixed-width buffer, restoring the hash aggregate and deleting both
  * sorts from the 100 TB dedup scan shape. */
case class FastMd5Half(child: Expression, hi: Boolean) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = if (hi) "fast_md5_hi" else "fast_md5_lo"

  override protected def nullSafeEval(input: Any): Any =
    FastMd5.hashHalf(input.asInstanceOf[UTF8String], hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.FastMd5.hashHalf($c, $hi)")

  override protected def withNewChildInternal(newChild: Expression): FastMd5Half =
    copy(child = newChild)
}

object FastMd5Half {
  val infoHi: ExpressionInfo = new ExpressionInfo(
    classOf[FastMd5Half].getName, "fast_md5_hi")
  val infoLo: ExpressionInfo = new ExpressionInfo(
    classOf[FastMd5Half].getName, "fast_md5_lo")
  def builder(hi: Boolean): Seq[Expression] => Expression = { args =>
    require(args.length == 1, "fast_md5_hi/lo expects exactly 1 argument")
    FastMd5Half(args.head, hi)
  }
}
