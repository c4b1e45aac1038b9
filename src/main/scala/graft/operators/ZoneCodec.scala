package graft.operators

import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One file's zone map on one column: [lo, hi] of its NON-null values,
  * folded across the file's row groups from the parquet FOOTER (a
  * small materialized aggregate, the same pair whatever the column's
  * type). `None` bounds mean the footer carried no usable stats (absent
  * column, all-null chunks, NaN-poisoned float/double min/max): the
  * file is unskippable, never incorrectly skipped. */
final case class FileZone[V](path: String, lo: Option[V], hi: Option[V])

/** One zoned column of a layout: its name, codec and per-file zones. */
final case class ZonedColumn[V](name: String, codec: ZoneCodec[V],
    zones: Seq[FileZone[V]])

/** One constrained column for the survivor check: its zones and the
  * union of closed intervals a probe accepts (`None` end = unbounded).
  * A file survives when any interval overlaps its zone; a file this
  * manifest does not list is unskippable here. */
final case class ZoneSet[V](codec: ZoneCodec[V], zones: Seq[FileZone[V]],
    ivs: Seq[(Option[V], Option[V])]) {
  private lazy val byPath = zones.map(z => z.path -> z).toMap
  def accepts(path: String): Boolean =
    byPath.get(path).forall(z => ivs.exists { case (lo, hi) =>
      !(hi.exists(h => z.lo.exists(codec.lt(h, _))) ||
        lo.exists(l => z.hi.exists(codec.lt(_, l))))
    })
}

/** Everything about a zone map that depends on the column's type: the
  * Spark types served, the single-column manifest directory and the
  * `_colzones/` `_type` name, the parquet chunk-stat decode, the value
  * order, the manifest line format, and (for the pruning rule) the
  * literal decode and how a strict bound closes. Every zone-map
  * operation in [[Storage]] and `graft.plans.ZonemapPruneRule` is one
  * generic implementation over this codec. */
sealed abstract class ZoneCodec[V](val dirName: String, val typeName: String) {
  def serves(dt: DataType): Boolean
  def lt(a: V, b: V): Boolean
  /** One footer min or max as a zone value; None = no usable bound. */
  protected def statValue(v: Any, c: ColumnChunkMetaData): Option[V]
  /** The manifest line's bound fields (after `"file":…,`). */
  protected def encodeBounds(lo: V, hi: V): String
  protected def decodeBounds(fields: String): Option[(V, V)]
  protected def unbounded: String = "\"unbounded\":true"
  /** A Catalyst literal or `InSet` element as a zone value. */
  def fromCatalyst(v: Any): Option[V]
  /** The smallest bound that closes `> v` (and the largest for `< v`);
    * `v` itself widens the strict bound to inclusive. */
  def after(v: V): V = v
  def before(v: V): V = v

  final def min(a: V, b: V): V = if (lt(b, a)) b else a
  final def max(a: V, b: V): V = if (lt(a, b)) b else a

  final def chunkStat(c: ColumnChunkMetaData): Option[(V, V)] = {
    val st = c.getStatistics
    if (st == null || !st.hasNonNullValue) None
    else for (lo <- statValue(st.genericGetMin, c); hi <- statValue(st.genericGetMax, c))
      yield (lo, hi)
  }

  final def encode(z: FileZone[V]): String = (z.lo, z.hi) match {
    case (Some(lo), Some(hi)) => encodeBounds(lo, hi)
    case _ => unbounded
  }

  final def decode(fields: String): Option[(Option[V], Option[V])] =
    if (fields == unbounded) Some((None, None))
    else decodeBounds(fields).map { case (lo, hi) => (Some(lo), Some(hi)) }

  /** lo = max of lower ends, hi = min of upper ends; None when empty. */
  final def intersect(a: (Option[V], Option[V]), b: (Option[V], Option[V]))
      : Option[(Option[V], Option[V])] = {
    def pick(x: Option[V], y: Option[V], f: (V, V) => V) =
      (for (p <- x; q <- y) yield f(p, q)).orElse(x).orElse(y)
    val lo = pick(a._1, b._1, max)
    val hi = pick(a._2, b._2, min)
    (lo, hi) match {
      case (Some(l), Some(h)) if lt(h, l) => None
      case _ => Some((lo, hi))
    }
  }
}

object ZoneCodec {

  /** Dates as epoch days. The manifest writes an unbounded zone as
    * `Int.MinValue`/`Int.MaxValue` (the `lo INT, hi INT` schema
    * `Storage.manifestDf` reads), and a strict bound moves by a day. */
  case object Date extends ZoneCodec[Int]("_zonemap", "date") {
    def serves(dt: DataType): Boolean = dt == DateType
    def lt(a: Int, b: Int): Boolean = a < b
    protected def statValue(v: Any, c: ColumnChunkMetaData): Option[Int] =
      Some(v.asInstanceOf[Number].intValue())
    protected def encodeBounds(lo: Int, hi: Int): String = s""""lo":$lo,"hi":$hi"""
    override protected def unbounded: String = encodeBounds(Int.MinValue, Int.MaxValue)
    private val bounds = """"lo":(-?\d+),"hi":(-?\d+)""".r
    protected def decodeBounds(fields: String): Option[(Int, Int)] = fields match {
      case bounds(lo, hi) => Some((lo.toInt, hi.toInt))
      case _ => None
    }
    def fromCatalyst(v: Any): Option[Int] = v match {
      case i: java.lang.Integer => Some(i.intValue)
      case _ => None
    }
    override def after(v: Int): Int = v + 1
    override def before(v: Int): Int = v - 1
  }

  /** Strings under the unsigned UTF-8 byte order, base64 in the
    * manifest so any value (quotes, newlines) round-trips exactly. */
  case object Str extends ZoneCodec[String]("_szonemap", "str") {
    def serves(dt: DataType): Boolean = dt == StringType
    /** Unsigned UTF-8 byte comparison — the one string order parquet
      * BINARY footer stats, Spark's UTF8String.compareTo (so
      * repartitionByRange boundaries) and DuckDB's VARCHAR collation
      * share. Java's String.compareTo orders by UTF-16 code units
      * instead, which DIVERGES for supplementary characters vs
      * U+E000–U+FFFF ("￿" < "😀" in UTF-8 bytes but > in UTF-16
      * units): folding or intersecting zones under the Java order can
      * declare an interval empty and silently skip a file that holds
      * the probed value. */
    def lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    protected def statValue(v: Any, c: ColumnChunkMetaData): Option[String] =
      Some(v.asInstanceOf[Binary].toStringUsingUTF8)
    private def b64e(v: String): String =
      java.util.Base64.getEncoder.encodeToString(v.getBytes("UTF-8"))
    private def b64d(v: String): String =
      new String(java.util.Base64.getDecoder.decode(v), "UTF-8")
    protected def encodeBounds(lo: String, hi: String): String =
      s""""lo64":"${b64e(lo)}","hi64":"${b64e(hi)}""""
    private val bounds = """"lo64":"([A-Za-z0-9+/=]*)","hi64":"([A-Za-z0-9+/=]*)"""".r
    protected def decodeBounds(fields: String): Option[(String, String)] = fields match {
      case bounds(lo, hi) => Some((b64d(lo), b64d(hi)))
      case _ => None
    }
    def fromCatalyst(v: Any): Option[String] = v match {
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
  }

  /** Exact decimals: integral stats convert losslessly (an int-backed
    * DECIMAL re-applies its scale), float/double go through the
    * shortest round-trip string, which keeps the IEEE order of distinct
    * values; NaN or a binary-backed decimal yields no bound. The
    * manifest holds plain-decimal strings (no exponent). */
  case object Num extends ZoneCodec[BigDecimal]("_nzonemap", "num") {
    def serves(dt: DataType): Boolean = dt.isInstanceOf[NumericType]
    def lt(a: BigDecimal, b: BigDecimal): Boolean = a < b
    protected def statValue(v: Any, c: ColumnChunkMetaData): Option[BigDecimal] =
      (v, c.getPrimitiveType.getLogicalTypeAnnotation) match {
        case (i: java.lang.Integer, dec: DecimalLogicalTypeAnnotation) =>
          Some(BigDecimal(BigInt(i.longValue), dec.getScale))
        case (l: java.lang.Long, dec: DecimalLogicalTypeAnnotation) =>
          Some(BigDecimal(BigInt(l.longValue), dec.getScale))
        case (_, _: DecimalLogicalTypeAnnotation) => None
        case (n, _) => fromCatalyst(n)
      }
    protected def encodeBounds(lo: BigDecimal, hi: BigDecimal): String =
      s""""lo":"${lo.underlying.toPlainString}","hi":"${hi.underlying.toPlainString}""""
    private val bounds = """"lo":"(-?[0-9.]+)","hi":"(-?[0-9.]+)"""".r
    protected def decodeBounds(fields: String): Option[(BigDecimal, BigDecimal)] =
      fields match {
        case bounds(lo, hi) => Some((BigDecimal(lo), BigDecimal(hi)))
        case _ => None
      }
    def fromCatalyst(v: Any): Option[BigDecimal] = v match {
      case i: java.lang.Integer => Some(BigDecimal(i.intValue))
      case l: java.lang.Long => Some(BigDecimal(l.longValue))
      case sh: java.lang.Short => Some(BigDecimal(sh.intValue))
      case b: java.lang.Byte => Some(BigDecimal(b.intValue))
      case d: java.lang.Double => if (d.isNaN) None else Some(BigDecimal(d.toString))
      case f: java.lang.Float => if (f.isNaN) None else Some(BigDecimal(f.toString))
      case dec: org.apache.spark.sql.types.Decimal => Some(dec.toBigDecimal)
      case _ => None
    }
  }

  val all: Seq[ZoneCodec[_]] = Seq(Date, Str, Num)

  /** The codec for a column of type `dt`; unsupported types are
    * rejected loudly rather than silently unzoned. */
  def of(dt: DataType, column: String): ZoneCodec[_] =
    all.find(_.serves(dt)).getOrElse(throw new IllegalArgumentException(
      s"no zone codec for column '$column' of type $dt"))

  def named(typeName: String): Option[ZoneCodec[_]] = all.find(_.typeName == typeName)
}
