package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit, pmod}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** `md5_bits(x)` — the engine's portable 60-bit md5 hash: the leading 15
  * hex chars of md5(x) as a BIGINT, i.e. the first 8 digest bytes
  * big-endian `>>> 4`. DuckDB computes it as
  * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`; Spark's builtins as
  * md5 → 15-char `substring` → base-16-to-10 `conv` → BIGINT, a hex
  * string and base-conversion round trip this kernel skips (FunctionsSpec
  * pins the two equal). Takes what `md5` takes: binary, with strings cast
  * to their UTF-8 bytes; NULL in gives NULL out. Like `fnv_ihash`, the
  * generated code calls the static kernel the interpreted path uses. */
case class Md5Bits(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType) // AbstractDataType is private[sql]
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_bits"

  override protected def nullSafeEval(input: Any): Any =
    Md5Bits.bits(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Bits.bits($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Bits =
    copy(child = newChild)
}

object Md5Bits {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def bits(bytes: Array[Byte]): Long = bits(bytes, 0, bytes.length)

  /** The 60-bit md5 prefix of `bytes[off, off + len)`. */
  def bits(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = mdLocal.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    h >>> 4
  }

  /** `md5_bits(c)` as a DataFrame column. */
  def md5Bits(c: Column): Column = call_function("md5_bits", c)

  /** `pmod(md5_bits(c), buckets)`: a portable bucket in [0, buckets). */
  def md5Bucket(c: Column, buckets: Long): Column = pmod(md5Bits(c), lit(buckets))

  /** Register `md5_bits` in the session's function registry. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("md5_bits"),
      new ExpressionInfo(classOf[Md5Bits].getName, "md5_bits"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"md5_bits takes 1 argument, got ${exprs.length}")
        Md5Bits(exprs.head)
      })
}
