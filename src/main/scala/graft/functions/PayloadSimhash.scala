package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** `payload_simhash(binary)` — the media payload fingerprint
  * (Multimodal.payloadFingerprints' vote aggregation) as ONE native
  * per-row expression.
  *
  * Semantics are EXACTLY the gated q226 construction, bit for bit
  * (PayloadSimhashSpec differentials the two forms; the DuckDB gate
  * re-verifies corpus-wide): hex-render the payload (uppercase — what
  * Spark's `hex()` and DuckDB's `hex()` both emit), take 16-hex-char
  * grams at an 8-hex-char stride (8-byte grams, 4-byte stride), hash
  * each gram string's ASCII bytes with md5, keep the leading 15 hex
  * chars as a 60-bit value ([[Md5Bits]]), vote ±1 per bit, set
  * fingerprint bit b iff its vote sum is positive. Payloads shorter
  * than one gram yield NULL — the aggregation form's no-row convention.
  *
  * Why native: the DataFrame form explodes bytes/4 gram rows per
  * record through md5+conv and folds them back with 60 SUM aggregates —
  * an exchange-free but allocation-heavy two-stage shape. The kernel
  * is a single fused pass: one hex buffer per record, one md5_bits
  * kernel call per gram window, votes in a stack array —
  * no gram strings, no row explosion, no aggregation state. Runs
  * per-row, so the STREAMING form of media dedup can band fingerprints
  * at ingest the way `minhash_bands` does for text. Measured in
  * BASELINE §Round-14.
  */
object PayloadSimhash {

  private val gramHexChars = 16 // 8-byte grams
  private val strideHexChars = 8 // 4-byte stride
  private val bits = 60

  private val HEX = "0123456789ABCDEF".getBytes("US-ASCII")

  /** Boxed Long fingerprint, or null for payloads under one gram. */
  def payloadSimhash(payload: Array[Byte]): java.lang.Long = {
    val n = payload.length
    if (n * 2 < gramHexChars) return null
    val hex = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val b = payload(i) & 0xff
      hex(2 * i) = HEX(b >>> 4)
      hex(2 * i + 1) = HEX(b & 0xf)
      i += 1
    }
    val votes = new Array[Int](bits)
    val nGrams = (n * 2 - gramHexChars) / strideHexChars + 1
    var g = 0
    while (g < nGrams) {
      val h = Md5Bits.bits(hex, g * strideHexChars, gramHexChars)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      g += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) fp |= 1L << b; b += 1 }
    java.lang.Long.valueOf(fp)
  }

  case class PayloadSimhashExpr(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"payload_simhash requires binary, got ${child.dataType.catalogString}")
    override def dataType: DataType = LongType
    override def nullable: Boolean = true // sub-gram payloads
    override def prettyName: String = "payload_simhash"

    override protected def nullSafeEval(p: Any): Any =
      payloadSimhash(p.asInstanceOf[Array[Byte]])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        java.lang.Long ${ev.value}_r =
          graft.functions.PayloadSimhash.payloadSimhash($c);
        if (${ev.value}_r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ${ev.value}_r.longValue(); }
      """)

    override protected def withNewChildInternal(c: Expression): PayloadSimhashExpr =
      copy(child = c)
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("payload_simhash"),
      new ExpressionInfo(classOf[PayloadSimhashExpr].getName, "payload_simhash"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"payload_simhash takes 1 argument, got ${exprs.length}")
        PayloadSimhashExpr(exprs.head)
      })
  }
}
