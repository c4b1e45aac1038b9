package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with a typed metadata struct, processed in partition-sized
  * batches through typed Datasets (the JVM analog of mapInPandas batch
  * UDFs: one iterator per partition, record-at-a-time streaming, no
  * whole-partition materialization).
  *
  * The actual codecs are NOT in this environment, so the decode /
  * resize / frame-sample kernels are DETERMINISTIC STUBS (clearly marked
  * below) — the Spark-side contract they run under (schema, encoders,
  * partitioning, batch shape, row explosion bounds) is real and tested
  * in MultimodalSpec. Swapping a stub for a JNI/FFmpeg kernel changes no
  * plan shape.
  *
  * Scale notes: payloads stay in executor space end-to-end (no collect);
  * frame sampling is a flatMap whose fan-out is bounded by
  * `meta.durationMs / frameEveryMs`; repartitioning by media kind
  * co-locates records that share a codec so a batch touches one decoder.
  */
object Multimodal {

  /** Typed metadata carried alongside every payload. */
  case class MediaMeta(kind: String, width: Int, height: Int,
                       sampleRateHz: Int, durationMs: Long)

  case class MediaRecord(doc_id: Long, payload: Array[Byte], meta: MediaMeta)

  /** One extracted feature row per media record. */
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Int,
                           checksum: Long, brightness: Double)

  case class Frame(doc_id: Long, frame_idx: Int, offset_ms: Long,
                   bytes: Array[Byte])

  private val kinds = Array("image", "audio", "video")

  /** Build a media table from the documents table: the text bytes stand
    * in for an encoded payload (DETERMINISTIC FAKE — a real pipeline
    * reads the bytes from object storage), metadata derived
    * deterministically from doc_id. */
  def asMedia(docs: DataFrame)(implicit s: SparkSession): Dataset[MediaRecord] = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, text) =>
        val kind = kinds((id % 3).toInt)
        val meta = MediaMeta(kind,
          width = 64 + (id % 8).toInt * 32,
          height = 64 + (id % 5).toInt * 32,
          sampleRateHz = if (kind == "audio") 16000 else 0,
          durationMs = if (kind == "image") 0L else 1000L + (id % 7) * 500L)
        MediaRecord(id, text.getBytes("UTF-8"), meta)
    }
  }

  /** ===== STUB KERNELS (deterministic fakes; see object Scaladoc) ===== */

  /** "Decode + feature-extract": byte checksum and a fake brightness.
    * A real implementation decodes the payload; the iterator-in /
    * iterator-out batch contract is the real part. */
  def extractFeatures(media: Dataset[MediaRecord])(implicit s: SparkSession): Dataset[MediaFeatures] = {
    import s.implicits._
    media.mapPartitions { batch =>
      // per-partition setup happens once (codec init in a real kernel)
      batch.map { r =>
        var sum = 0L
        var i = 0
        while (i < r.payload.length) { sum += (r.payload(i) & 0xff); i += 1 }
        MediaFeatures(r.doc_id, r.meta.kind, r.payload.length, sum,
          if (r.payload.length == 0) 0.0 else sum.toDouble / r.payload.length / 255.0)
      }
    }
  }

  /** "Resize": truncate the payload to w*h/8 bytes and stamp new dims —
    * stands in for a pixel resample; metadata propagation is the real
    * contract. */
  def resize(media: Dataset[MediaRecord], w: Int, h: Int)(implicit s: SparkSession): Dataset[MediaRecord] = {
    import s.implicits._
    media.map { r =>
      val cap = math.max(1, w * h / 8)
      r.copy(payload = r.payload.take(cap),
        meta = r.meta.copy(width = w, height = h))
    }
  }

  /** "Frame sampling": one frame per `everyMs` of duration, bytes sliced
    * round-robin from the payload — a real kernel seeks keyframes; the
    * bounded flatMap fan-out is the real contract. */
  def sampleFrames(media: Dataset[MediaRecord], everyMs: Long)(implicit s: SparkSession): Dataset[Frame] = {
    import s.implicits._
    media.filter(_.meta.kind == "video").flatMap { r =>
      val n = math.max(1, (r.meta.durationMs / everyMs).toInt)
      val chunk = math.max(1, r.payload.length / n)
      (0 until n).iterator.map { i =>
        Frame(r.doc_id, i, i * everyMs,
          r.payload.slice(i * chunk, math.min((i + 1) * chunk, r.payload.length)))
      }
    }
  }

  /** ===== Oracle-checkable query over the binary column ===== */

  /** Binary-column metadata summary: payload byte length, md5 digest and
    * derived kind per document — exercises binary encode/digest in the
    * scan layer (DuckDB computes the identical digest over the same
    * bytes). */
  def q29MultimodalMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        element_at(typedLit(kinds.toSeq), (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        length(to_binary(col("text"), lit("utf-8"))).as("n_bytes"),
        md5(to_binary(col("text"), lit("utf-8"))).as("digest"))

  val q29Sql: String =
    """SELECT doc_id,
      |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |  octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS digest
      |FROM documents""".stripMargin

  /** The FRAME-SAMPLING pipeline under the gate: every video document
    * runs through the REAL typed path (asMedia → sampleFrames flatMap)
    * and the resulting frame stream aggregates to a manifest —
    * (doc, n_frames, total payload bytes sliced). The oracle recomputes
    * the fan-out arithmetic in closed form (n = max(1, dur/250ms),
    * chunk = max(1, len/n), total = min(len, n·chunk)), so any drift in
    * the slicing/fan-out contract — the part a real decoder swap must
    * preserve — hash-fails even though the kernel itself is a stub.
    *
    * Scale shape: bounded flatMap fan-out (dur/everyMs frames per
    * record), partial-agg manifest; payloads never leave executors. */
  def q172FrameManifest(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    sampleFrames(asMedia(Tables.documents(s, d)), everyMs = 250L)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(length(col("bytes"))).cast("long").as("total_bytes"))
  }

  val q172Sql: String =
    """WITH v AS (
      |  SELECT doc_id, octet_length(encode(text)) AS len,
      |    1000 + (doc_id % 7) * 500 AS dur
      |  FROM documents WHERE doc_id % 3 = 2),
      |c AS (
      |  SELECT doc_id, len, greatest(1, dur // 250) AS n FROM v),
      |f AS (
      |  SELECT doc_id, n, len, greatest(1, len // n) AS chunk FROM c)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
      |  CAST(least(len, n * chunk) AS BIGINT) AS total_bytes
      |FROM f""".stripMargin

  /** ===== Payload fingerprint + Hamming-banded near-dup (round-14) ===== */

  /** Fingerprint bits: 60 (not 64) for the same md5-portability reason
    * as Dedup.simhashBits — the per-gram hash is the leading 15 hex
    * chars of md5, replicable bit-for-bit in DuckDB. */
  val fpBits = 60

  /** Byte-gram sampling: 8-byte grams at a 4-byte stride. Stride 4 cuts
    * the gram volume 4× vs stride 1; the price is ALIGNMENT sensitivity
    * — an unaligned byte insertion shifts every later gram, so
    * insertion-heavy edits look distant. That is the honest contract of
    * fixed-stride payload fingerprinting (content-defined chunking is
    * the insertion-robust alternative): the near-dup classes it is
    * built for — identical payloads, in-place edits (metadata tweaks,
    * bit rot), truncations, aligned splices — all preserve gram
    * alignment and land within small Hamming distance. */
  private val gramBytes = 8
  private val strideBytes = 4

  /** SimHash-style 60-bit fingerprint over the raw PAYLOAD BYTES of the
    * binary column — no decode, so it works on any media kind: the
    * payload's hex rendering is sampled into 8-byte grams ([[gramBytes]]
    * at [[strideBytes]]), each gram votes ±1 per bit of its md5-derived
    * 60-bit hash, fingerprint bit b = 1 iff the vote sum is positive
    * (the q31 construction, `Dedup.scala`, applied to bytes instead of
    * tokens). Unlike q31's token simhash this sees EVERYTHING in the
    * payload — case, whitespace, headers — which is exactly right for
    * "same bytes, small edits" media dedup. Payloads shorter than one
    * gram produce no fingerprint row (the q31 no-tokens convention).
    *
    * Computed by the native `payload_simhash` expression — one fused
    * per-row pass (graft.functions.PayloadSimhash), no gram-row
    * explosion, no aggregation state; [[payloadFingerprintsAgg]] keeps
    * the oracle-shaped builtin-expression form as the bit-parity
    * referee (MultimodalSpec differentials them; the DuckDB gate
    * re-verifies corpus-wide). */
  def payloadFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        call_function("payload_simhash",
          to_binary(col("text"), lit("utf-8"))).as("fp"))
      .filter(col("fp").isNotNull)

  /** The builtin-expression referee for [[payloadFingerprints]]: gram
    * rows exploded through md5+conv, folded back with 60 map-side SUM
    * votes — the construction DuckDB replicates verbatim. */
  def payloadFingerprintsAgg(docs: DataFrame): DataFrame = {
    val hexed = docs.select(col("doc_id"),
      hex(to_binary(col("text"), lit("utf-8"))).as("hx"))
    // hex coordinates: gram = 16 chars, stride = 8 chars
    val grams = hexed
      .filter(length(col("hx")) >= gramBytes * 2)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST((length(hx) - ${gramBytes * 2}) " +
          s"div ${strideBytes * 2} AS INT)), " +
          s"i -> substring(hx, i * ${strideBytes * 2} + 1, ${gramBytes * 2}))"))
        .as("g"))
    Dedup.simhashVotes(grams.select(col("doc_id"),
      conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h")), "fp")
  }

  /** Hamming-radius-3 near-dup pairs over (doc_id, fp) fingerprints via
    * the q158 pigeonhole multi-index (`Dedup.scala:1305`): 4 bands × 15
    * bits — a pair within distance 3 differs in ≤3 bands so it shares
    * ≥1 band verbatim; candidates come ONLY from band-bucket equality
    * (full recall at radius 3 by construction, never all-pairs), exact
    * `bit_count(xor)` verifies. Same scale shape as q158: fingerprints
    * checkpointed once for the two self-join consumers, 4× band
    * fan-out, bucket equi-join, DISTINCT collapses multi-band hits;
    * bucket skew is bounded by true near-dup cluster sizes (q21's
    * bucket-cap machinery applies verbatim if clusters blow up). */
  def fingerprintPairs(fps: DataFrame, radius: Int = 3): DataFrame = {
    val sig = fps.repartition(col("doc_id")).localCheckpoint(false)
    val bands = sig.select(col("doc_id"), col("fp"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), b * 15).bitwiseAND(lit(0x7FFFL))
            .as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("fp"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
    bands.as("a")
      .join(bands.as("b").hint("SHUFFLE_HASH"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.fp ^ b.fp)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
  }

  /** The gated composition: fingerprint every document's payload bytes,
    * then the banded Hamming join — the media-column counterpart of the
    * q31→q158 text arc. Exact text duplicates (the corpus plants them;
    * q20 finds 47 clusters) have identical payloads → Hamming 0, so the
    * pair set is non-trivially populated at every SF. */
  def q226MediaNeardup(s: SparkSession, d: String): DataFrame =
    fingerprintPairs(payloadFingerprints(Tables.documents(s, d)))

  /** Shared oracle CTE chain: payload hex → grams → md5 votes →
    * fingerprints → bands → verified candidate pairs. Tail of q226Sql
    * and q228Sql (the q50/q114 closureCte convention). */
  private val pairCte: String = {
    val voteCols = (0 until fpBits)
      .map(b => s"sum(((h >> $b) & 1) * 2 - 1) AS v$b").mkString(", ")
    val bits = (0 until fpBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""hx AS (
       |  SELECT doc_id, hex(encode(text)) AS hx FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(0, (length(hx) - ${gramBytes * 2}) // ${strideBytes * 2}),
       |    i -> substr(hx, i * ${strideBytes * 2} + 1, ${gramBytes * 2}))) AS g
       |  FROM hx WHERE length(hx) >= ${gramBytes * 2}),
       |h AS (SELECT doc_id,
       |        CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h FROM g),
       |v AS (SELECT doc_id, $voteCols FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($bits AS BIGINT) AS fp FROM v),
       |bands AS (
       |  SELECT doc_id, fp, gb.band, (fp >> (gb.band * 15)) & 32767 AS bv
       |  FROM fp CROSS JOIN
       |    (SELECT CAST(range AS INTEGER) AS band FROM range(4)) gb),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin
  }

  val q226Sql: String =
    s"""WITH $pairCte
       |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3""".stripMargin

  /** MEDIA DEDUP CLUSTERS — the q50 arc for the binary column: the
    * q226 Hamming pairs closed into connected components
    * (Dedup.dedupClusters' observed-fixpoint min-label propagation —
    * the same bounded-iteration, checkpointed-lineage engine the text
    * clusters run), censused as (doc_id, cluster_rep, cluster_size).
    * This is the frame a media curation pass consumes: keep one
    * representative per payload cluster. Oracle: the q226 pair CTE +
    * the recursive min-label closure (the q50Sql tail). */
  def q228MediaClusters(s: SparkSession, d: String): DataFrame =
    Dedup.dedupClusters(q226MediaNeardup(s, d))

  /** [[pairCte]] extended through the recursive min-label closure to
    * (doc_id, cluster_rep, cluster_size) rows — shared by q228/q229. */
  private val clusterCte: String =
    s"""$pairCte,
       |pairs AS (SELECT id_a, id_b FROM cand WHERE hamming <= 3),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |cc AS (
       |  SELECT id, id AS lbl FROM nodes
       |  UNION
       |  SELECT e.a AS id, cc.lbl FROM edges e JOIN cc ON e.b = cc.id),
       |reps AS (SELECT id, min(lbl) AS cluster_rep FROM cc GROUP BY id),
       |cl AS (
       |  SELECT id AS doc_id, cluster_rep,
       |    count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
       |  FROM reps)""".stripMargin

  val q228Sql: String =
    s"""WITH RECURSIVE $clusterCte
       |SELECT doc_id, cluster_rep, cluster_size FROM cl""".stripMargin

  /** MEDIA REPRESENTATIVE SELECTION — q114's curation policy applied to
    * payload clusters: per q228 cluster keep the LARGEST payload (when
    * near-dups are truncations or re-encodes of one asset, the biggest
    * byte count carries the most signal), ties to the smallest doc_id.
    * One row per cluster: the kept doc, its byte size, the cluster
    * size. The rank-1 window is exactly the shape RewriteWindowTopK
    * turns into the bounded-heap GroupTopK operator when installed —
    * no per-cluster sort materializes at scale. */
  def q229MediaKeep(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_rep"))
      .orderBy(col("n_bytes").desc, col("doc_id"))
    q228MediaClusters(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"),
        length(to_binary(col("text"), lit("utf-8"))).as("n_bytes")),
        Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("kept_doc"),
        col("n_bytes"), col("cluster_size"))
  }

  val q229Sql: String =
    s"""WITH RECURSIVE $clusterCte,
       |sz AS (
       |  SELECT cl.doc_id, cl.cluster_rep, cl.cluster_size,
       |    octet_length(encode(d.text)) AS n_bytes
       |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_rep
       |    ORDER BY n_bytes DESC, doc_id) AS rn
       |  FROM sz)
       |SELECT cluster_rep, doc_id AS kept_doc, n_bytes, cluster_size
       |FROM rk WHERE rn = 1""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q29_multimodal_meta" -> (q29MultimodalMeta _, q29Sql),
    "q172_frame_manifest" -> (q172FrameManifest _, q172Sql),
    "q226_media_neardup" -> (q226MediaNeardup _, q226Sql),
    "q228_media_clusters" -> (q228MediaClusters _, q228Sql),
    "q229_media_keep" -> (q229MediaKeep _, q229Sql),
  )
}
