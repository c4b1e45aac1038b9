package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `chunk_stats(text, width)` — non-overlapping fixed-token-window
  * chunking with md5 digests as ONE native per-row expression:
  * `array<struct<chunk_hash: string, n_chunk_tokens: int>>`, one
  * element per chunk in document order (so `posexplode`'s position IS
  * the chunk_idx).
  *
  * Semantics are EXACTLY the width==stride case of
  * `Curation.docChunks` — tokens from the [[TextTokens.alphaTokens]]
  * contract (the corpus tokenizer every DuckDB oracle states as
  * `list_filter(string_split_regex(lower(text),'[^a-z]+'), …)`), md5
  * over the space-joined chunk tokens, short tail chunk kept, and the
  * letterless document yielding ZERO chunks (docChunks drops it via
  * `where(size(tk) > 0)`; here the [""] tokenizer singleton maps to an
  * empty array). ChunkStatsSpec pins the equivalence property-style on
  * random unicode inputs plus interpreted-vs-codegen; the DuckDB gate
  * re-verifies it corpus-wide under q234/q237/q238/q239/q240.
  *
  * Why native: the DataFrame form runs the two-regex tokenizer, an
  * `explode(sequence(...))` row expansion, and per chunk a `slice` +
  * `concat_ws` + `md5` expression chain — three intermediate arrays
  * and a string per chunk. The kernel tokenizes once (native, shared
  * parity pins), walks token boundaries, and feeds one thread-local
  * MessageDigest per chunk with the exact joined bytes — no slice
  * arrays, no joined strings, no per-chunk UTF8String until the final
  * 32-char hex. Measured in BASELINE §Round-14. Null text → null
  * (the lower()/split pipeline's null propagation).
  */
object ChunkStats {

  private val HEX = "0123456789abcdef".getBytes("US-ASCII")

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def hex32(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = d(i) & 0xff
      out(2 * i) = HEX(b >>> 4)
      out(2 * i + 1) = HEX(b & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private val SPACE = Array[Byte](' ')

  /** Chunk stats rows for one document; empty array for letterless
    * text (the tokenizer's [""] singleton). */
  def chunkStats(s: UTF8String, width: Int): ArrayData = {
    require(width > 0, s"chunk_stats width must be > 0, got $width")
    val toks = TextTokens.alphaTokens(s)
    val n = toks.numElements()
    // the letterless [""] singleton == docChunks' dropped empty doc
    if (n == 1 && toks.getUTF8String(0).numBytes() == 0)
      return new GenericArrayData(Array.empty[Any])
    val md = mdLocal.get()
    val nChunks = (n + width - 1) / width
    val out = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val start = c * width
      val count = math.min(width, n - start)
      md.reset()
      var t = 0
      while (t < count) {
        if (t > 0) md.update(SPACE)
        val tok = toks.getUTF8String(start + t)
        md.update(tok.getBytes)
        t += 1
      }
      out(c) = new GenericInternalRow(
        Array[Any](hex32(md.digest()), count))
      c += 1
    }
    new GenericArrayData(out)
  }

  case class ChunkStatsExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"chunk_stats requires (string, int), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("chunk_hash", StringType, nullable = false),
      StructField("n_chunk_tokens", IntegerType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "chunk_stats"

    override protected def nullSafeEval(t: Any, w: Any): Any =
      chunkStats(t.asInstanceOf[UTF8String], w.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (t, w) => s"graft.functions.ChunkStats.chunkStats($t, $w)")

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): ChunkStatsExpr = copy(left = l, right = r)
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("chunk_stats"),
      new ExpressionInfo(classOf[ChunkStatsExpr].getName, "chunk_stats"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"chunk_stats takes 2 arguments, got ${exprs.length}")
        ChunkStatsExpr(exprs(0), exprs(1))
      })
}
