package graft.operators

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Md5Bits.{md5Bits, md5Bucket}

/** Source/sink breadth under the driver gate (not just under specs):
  *
  *   - [[q61JsonSource]]: a registered query whose SPARK SIDE reads
  *     schema'd JSON — the scan-layer breadth FormatsSpec exercises,
  *     made driver-checkable: write a table to JSON, read it back with
  *     the parquet schema, gate the read-back against the parquet oracle
  *     relation. Any lossy type coercion on the JSON path (doubles,
  *     quoting, unicode) hash-fails the gate.
  *   - [[q62PartitionedSink]]: the F8 scale analog — a partitioned
  *     columnar SINK plus a partition-PRUNED re-scan, as one gated
  *     round-trip: the q40 surviving corpus gets its deterministic
  *     train/val/test split ([[Curation.withSplit]]), lands in parquet
  *     `partitionBy("split")`, and is read back filtered to one split.
  *     The filter must prune at the DIRECTORY level (PartitionFilters,
  *     plan-asserted in StorageSpec) — at 100 TB the re-scan reads the
  *     train/ partition only, never listing data files of val/ or test/.
  *
  * Both queries write to a scratch dir under java.io.tmpdir keyed by
  * (Spark application id × query × SF, `mode=overwrite`): stable WITHIN
  * a process, so re-runs — Verify once, Bench ×reps — are idempotent
  * and never collide across SFs, but unique ACROSS processes, so two
  * harness runs at the same SF can never interleave one's overwrite
  * with the other's read-back. The write happens eagerly at query-build
  * time; the returned DataFrame is the read-back, so the driver's hash
  * compares what a downstream consumer of the sink would actually see.
  */
object Storage {
  import Tables._

  private def scratch(s: SparkSession, tag: String, d: String): String =
    Paths.get(sys.props("java.io.tmpdir"), "graft-gate",
      s.sparkContext.applicationId, tag,
      d.replaceAll("[^A-Za-z0-9.]", "_")).toString

  /** Supplier through a JSON materialization: parquet → JSON → schema'd
    * read-back. Lossless by construction for this schema (longs, strings,
    * doubles — Jackson writes shortest-roundtrip doubles; FormatsSpec
    * asserts value equality at sf0.001), so the read-back must hash-match
    * the parquet oracle exactly. */
  def q61JsonSource(s: SparkSession, d: String): DataFrame = {
    val src = supplier(s, d)
    val dir = scratch(s, "q61_supplier_json", d)
    src.write.mode("overwrite").json(dir)
    s.read.schema(src.schema).json(dir)
  }

  val q61Sql: String =
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"

  /** q40's surviving corpus, split-assigned, written `partitionBy("split")`
    * and read back pruned to split='train'. The partition column comes
    * back from directory names (string), the data columns from the files;
    * the oracle recomputes the same pipeline + split in DuckDB. */
  def q62PartitionedSink(s: SparkSession, d: String): DataFrame = {
    val out = Curation.withSplit(TextAnalysis.q40CorpusPipeline(s, d))
      .select(col("doc_id"), col("n_words"), col("split"))
    val dir = scratch(s, "q62_corpus_by_split", d)
    out.write.mode("overwrite").partitionBy("split").parquet(dir)
    s.read.parquet(dir).filter(col("split") === "train")
  }

  val q62Sql: String =
    s"""SELECT doc_id, n_words, split FROM (
       |  SELECT doc_id, n_words,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (
       |    SELECT doc_id, n_words,
       |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
       |    FROM (${TextAnalysis.q40Sql})))
       |WHERE split = 'train'""".stripMargin

  /** Bucketed co-located join under the driver gate (was spec-only):
    * orders and lineitem land as BUCKETED tables (16 buckets on the
    * join key, bucket-sorted), then join and aggregate. With matching
    * bucket counts Spark plans a sort-merge join with NO exchange on
    * either side — at 100 TB, bucketing is the storage-layout lever
    * that converts every future orderkey join into a map-side merge
    * (write the shuffle once, reuse it per query). The small-SF gate
    * run may elect broadcast instead; StorageSpec pins the shuffle-free
    * SMJ shape with broadcast disabled on THIS registered query.
    * Revenue accumulates in DECIMAL (the q01 dsum convention) so the
    * result is aggregation-order-independent and oracle-exact. */
  def q70BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val (ot, lt) = (s"graft_orders_b_$tag", s"graft_lineitem_b_$tag")
    // Build the bucketed layout ONCE per session (idempotent: table
    // names and scratch paths are keyed by sf dir + applicationId, and
    // the source data is deterministic). Production amortizes a
    // bucketed layout across many queries; re-measuring the write on
    // every bench rep would report layout-build cost as join cost —
    // reps 2+ now time the exchange-free join itself.
    if (!s.catalog.tableExists(ot))
      orders(s, d).write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
        .option("path", scratch(s, "q70_orders_b", d))
        .mode("overwrite").saveAsTable(ot)
    if (!s.catalog.tableExists(lt))
      lineitem(s, d).write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .option("path", scratch(s, "q70_lineitem_b", d))
        .mode("overwrite").saveAsTable(lt)
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  val q70Sql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** Append (bx, byy, z) to `df`: each column fixed-width-binned into
    * `buckets` cells from its GLOBAL min/max (pure integer arithmetic;
    * the 1-row bounds frame broadcasts), then Morton-interleaved by the
    * native `zorder_bits` expression. Deterministic: a pure function of
    * the value and the global bounds. Binning normalizes every column
    * to the full bucket domain without Long overflow: narrow ranges
    * scale up by multiply (bounded by buckets^2), wide ranges
    * (epoch-micros, ~1e15) scale down by a precomputed bucket width
    * (bounded by the range itself) — StorageSpec pins both regimes.
    *
    * Known trade-offs, stated: (1) the input is scanned twice (bounds +
    * rows) — at scale the bounds often come free from table metadata or
    * a prior profiling pass; (2) min/max binning is outlier-sensitive
    * (one extreme value squashes everyone else into few cells) — for
    * skewed columns use [[withZorderByRank]] (equi-depth bins from
    * approx_percentile cut points; StorageSpec plants the outlier that
    * collapses this form and shows the rank form keeping spread). The
    * gate keys on the min/max form because it is closed-form replicable
    * in the oracle. */
  def withZorder(df: DataFrame, cx: String, cy: String, buckets: Int): DataFrame = {
    require(buckets > 0 && buckets <= 65536, s"buckets must be in [1,65536], got $buckets")
    val b = df.agg(min(col(cx)).as("minx"), max(col(cx)).as("maxx"),
      min(col(cy)).as("miny"), max(col(cy)).as("maxy"))
    // Overflow-safe NORMALIZED binning, two integer regimes:
    //  - range < buckets: scale UP, bin = (v-min)*buckets div (range+1).
    //    The product is < buckets^2 <= 2^32 — cannot overflow. Scaling
    //    up matters: a narrow column left in low bins contributes no
    //    high Morton bits and the z-curve degenerates to a linear sort
    //    on the wide column (StorageSpec's clustering test catches it).
    //  - range >= buckets: scale DOWN, bin = (v-min) div ((range div
    //    buckets)+1). The intermediate never exceeds the column's own
    //    range, so epoch-micros-scale ranges (~1e15) cannot wrap Long
    //    the way (v-min)*buckets would (silent negative bins, corrupt
    //    curve); the +1-width guarantees bin <= buckets-1.
    def bin(c: String, lo: String, hi: String) = expr(
      s"""CASE WHEN $hi - $lo < $buckets
         |  THEN (($c - $lo) * $buckets) div ($hi - $lo + 1)
         |  ELSE ($c - $lo) div ((($hi - $lo) div $buckets) + 1) END""".stripMargin)
    df.crossJoin(broadcast(b))
      .withColumn("bx", bin(cx, "minx", "maxx"))
      .withColumn("byy", bin(cy, "miny", "maxy"))
      .withColumn("z", expr("zorder_bits(bx, byy)"))
      .drop("minx", "maxx", "miny", "maxy")
  }

  /** [[withZorder]] with RANK-BOUNDARY binning — the outlier-robust
    * variant the min/max form's scaladoc promises: bucket cut points
    * come from `approx_percentile` over each column (equi-DEPTH bins),
    * so one extreme value costs one bin instead of squashing everyone
    * else into a single cell. The boundary arrays are bounded
    * (buckets-1 entries), broadcast exactly like the bounds frame, and
    * the per-row bin is a counting fold over the array — no join, no
    * sort, stays in whole-stage codegen. Interleave and write path are
    * shared with the min/max form. */
  def withZorderByRank(df: DataFrame, cx: String, cy: String,
      buckets: Int): DataFrame = {
    require(buckets > 1 && buckets <= 65536,
      s"buckets must be in [2,65536], got $buckets")
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val b = df.agg(
      percentile_approx(col(cx), typedLit(qs), lit(10000)).as("cutsx"),
      percentile_approx(col(cy), typedLit(qs), lit(10000)).as("cutsy"))
    def bin(c: String, cuts: String) = expr(
      s"aggregate($cuts, 0L, (acc, b) -> acc + CASE WHEN $c >= b THEN 1L ELSE 0L END)")
    df.crossJoin(broadcast(b))
      .withColumn("bx", bin(cx, "cutsx"))
      .withColumn("byy", bin(cy, "cutsy"))
      .withColumn("z", expr("zorder_bits(bx, byy)"))
      .drop("cutsx", "cutsy")
  }

  /** Z-ORDERED columnar layout: range-partition by the Morton value and
    * sort files internally by it, so rows close in BOTH dimensions land
    * in the same parquet files. At 100 TB this is the data-layout lever
    * for multi-dimensional workloads: parquet min/max stats then skip
    * whole files for a selective predicate on EITHER column, where a
    * linear sort serves one column and scatters the other (clustering
    * factor measured in StorageSpec via input_file_name). */
  def zorderWrite(df: DataFrame, cx: String, cy: String, buckets: Int,
      nFiles: Int, path: String): Unit =
    withZorder(df, cx, cy, buckets)
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("bx", "byy", "z")
      .write.mode("overwrite").parquet(path)

  /** The Morton mapping itself under the driver gate: distinct
    * (l_partkey, l_suppkey) of lineitem with each side's 1024-cell bin
    * and the interleaved z value — the oracle re-derives the interleave
    * arithmetically bit by bit, so any error in the native expression's
    * shift/mask kernel (or the binning) hash-fails. */
  def q79Zorder(s: SparkSession, d: String): DataFrame =
    withZorder(lineitem(s, d).select(col("l_partkey"), col("l_suppkey")).distinct(),
      "l_partkey", "l_suppkey", 1024)
      .select(col("l_partkey"), col("l_suppkey"), col("bx"), col("byy"), col("z"))

  val q79Sql: String =
    """WITH b AS (
      |  SELECT min(l_partkey) AS minx, max(l_partkey) AS maxx,
      |         min(l_suppkey) AS miny, max(l_suppkey) AS maxy
      |  FROM lineitem),
      |r AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |binned AS (
      |  SELECT l_partkey, l_suppkey,
      |    CASE WHEN maxx - minx < 1024
      |      THEN ((l_partkey - minx) * 1024) // (maxx - minx + 1)
      |      ELSE (l_partkey - minx) // (((maxx - minx) // 1024) + 1) END AS bx,
      |    CASE WHEN maxy - miny < 1024
      |      THEN ((l_suppkey - miny) * 1024) // (maxy - miny + 1)
      |      ELSE (l_suppkey - miny) // (((maxy - miny) // 1024) + 1) END AS byy
      |  FROM r, b)
      |SELECT l_partkey, l_suppkey, bx, byy,
      |  CAST(list_sum(list_transform(generate_series(0, 15), i ->
      |    (((bx >> i) & 1) << (2 * i)) + (((byy >> i) & 1) << (2 * i + 1))))
      |    AS BIGINT) AS z
      |FROM binned""".stripMargin

  /** Small-file COMPACTION PLANNER (the Delta/Iceberg `OPTIMIZE`
    * planning step, distributed): per source, the current "files"
    * (md5-bucketed doc groups standing in for data files, with their
    * byte totals) are assigned to target-sized output bins by
    * running-sum partitioning — bin = floor(bytes-before-me / target)
    * in a stable file order. This is the scalable relaxation of
    * first-fit bin packing: a driver loop over the file list is O(files)
    * sequential (the classic metadata bottleneck at 100 TB, where
    * "files" is millions); the prefix-sum form is one window over the
    * FILE-GRAIN frame, so planning cost scales with metadata size, not
    * data size, and every bin lands within one file of the target.
    *
    * Scale shape: one data-sized partial agg down to the file grain,
    * then a window partitioned by source (metadata-sized). The plan —
    * (file → bin) — is exactly what a rewrite job would execute with
    * bin as its shuffle key. */
  def q144CompactionPlan(s: SparkSession, d: String): DataFrame = {
    val files = documents(s, d)
      .groupBy(col("source"),
        md5Bucket(col("doc_id").cast("string"), 8).as("file_id"))
      .agg(sum(col("n_chars")).as("bytes"), count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("source")).orderBy(col("file_id"))
    files
      .withColumn("cum_before", sum(col("bytes")).over(w) - col("bytes"))
      .select(col("source"), col("file_id"), col("bytes"), col("n_docs"),
        expr("cum_before div 40000").as("bin"))
  }

  val q144Sql: String =
    """WITH files AS (
      |  SELECT source,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |         AS BIGINT) % 8 AS file_id,
      |    CAST(sum(n_chars) AS BIGINT) AS bytes,
      |    count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, file_id, bytes, n_docs,
      |  CAST((sum(bytes) OVER (PARTITION BY source ORDER BY file_id)
      |        - bytes) // 40000 AS BIGINT) AS bin
      |FROM files""".stripMargin

  /** FUNCTIONAL-DEPENDENCY audit (the validation step of FD discovery,
    * Papenbrock et al.'s profiling family): for each candidate lhs→rhs,
    * count the lhs keys that map to MORE than one distinct rhs — zero
    * violations means the dependency holds and the column is safe to
    * normalize out / trust as derivable. Four candidates spanning all
    * fact tables; the two-sided counts (keys + violators) make the
    * result a data-quality scorecard, not a boolean.
    *
    * Scale shape: each candidate is groupBy(lhs).agg(countDistinct
    * (rhs)) — Spark expands count-distinct to a two-phase partial agg
    * on (lhs, rhs) — then a global fold to ONE row; the union is
    * 4 rows. No pairwise row comparison anywhere (the naive FD check
    * is a self-join). */
  def q152FdAudit(s: SparkSession, d: String): DataFrame = {
    def fd(df: DataFrame, name: String, lhs: String, rhs: String) =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("k"))
        .agg(lit(name).as("fd"), count(lit(1)).as("n_keys"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violating"))
    fd(events(s, d), "events.user_id->event_type", "user_id", "event_type")
      .unionAll(fd(documents(s, d), "documents.source->lang", "source", "lang"))
      .unionAll(fd(lineitem(s, d), "lineitem.l_orderkey->l_suppkey",
        "l_orderkey", "l_suppkey"))
      .unionAll(fd(orders(s, d), "orders.o_custkey->o_orderpriority",
        "o_custkey", "o_orderpriority"))
  }

  val q152Sql: String =
    """SELECT 'events.user_id->event_type' AS fd,
      |  count(*) AS n_keys,
      |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violating
      |FROM (SELECT user_id, count(DISTINCT event_type) AS k
      |      FROM events GROUP BY 1)
      |UNION ALL
      |SELECT 'documents.source->lang', count(*),
      |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM (SELECT source, count(DISTINCT lang) AS k
      |      FROM documents GROUP BY 1)
      |UNION ALL
      |SELECT 'lineitem.l_orderkey->l_suppkey', count(*),
      |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM (SELECT l_orderkey, count(DISTINCT l_suppkey) AS k
      |      FROM lineitem GROUP BY 1)
      |UNION ALL
      |SELECT 'orders.o_custkey->o_orderpriority', count(*),
      |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS k
      |      FROM orders GROUP BY 1)""".stripMargin

  /** ORDER-INDEPENDENT TABLE DIGEST for cross-engine reconciliation:
    * each row renders to a canonical '|'-joined string (integers and
    * strings as-is, timestamps as epoch-micros — never raw doubles,
    * whose text forms differ across engines), hashes to a 60-bit md5
    * value, and the table's digest is the XOR of all row hashes plus
    * the row count. XOR is associative, commutative and carries no
    * overflow, so the digest is partition-order-free and MERGEABLE —
    * two table halves XOR to the whole, which is how a 100 TB
    * migration validates copy = source without sorting or shuffling
    * either side: one scan each, 8 bytes across the wire. (Count
    * matters: XOR alone is blind to rows duplicated an even number of
    * times.) Gated on three tables, so the engines must agree on every
    * byte of the canonical rendering.
    *
    * The rendering is NULL- and delimiter-safe: every field becomes
    * 'N' when NULL, else 'V' + charlength + ':' + value — so a NULL
    * never collapses the row (Spark's concat_ws silently drops NULLs
    * while SQL's || nullifies the whole row, silently DIVERGING the
    * digests), and a literal '|' inside a string can't alias a field
    * boundary because lengths disambiguate. This is a reconciliation
    * primitive; ambiguity = silent false-positive match.
    *
    * Scale shape: per-row expressions then a partial-agg fold to one
    * row per table — the shuffle carries one row per map task. */
  def q155TableDigest(s: SparkSession, d: String): DataFrame = {
    def f(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit("N"))
        .otherwise(concat(lit("V"), length(c).cast("string"), lit(":"), c))
    def dig(df: DataFrame, name: String, cols: Seq[org.apache.spark.sql.Column]) =
      df.select(md5Bits(concat_ws("|", cols.map(f): _*)).as("h"))
        .agg(lit(name).as("tbl"), count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("digest"))
    dig(orders(s, d), "orders", Seq(
      col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
      col("o_orderstatus"), col("o_orderpriority"),
      unix_micros(col("o_orderdate").cast("timestamp")).cast("string")))
      .unionAll(dig(customer(s, d), "customer", Seq(
        col("c_custkey").cast("string"), col("c_name"),
        col("c_nationkey").cast("string"), col("c_mktsegment"))))
      .unionAll(dig(events(s, d), "events", Seq(
        col("event_id").cast("string"), col("user_id").cast("string"),
        col("event_type"), unix_micros(col("ts")).cast("string"))))
  }

  /** DuckDB mirror of the q155 canonical field rendering: NULL -> 'N',
    * else 'V' + charlength + ':' + value (see [[q155TableDigest]]). */
  private def fld155(e: String): String =
    s"CASE WHEN $e IS NULL THEN 'N' ELSE 'V' || length($e) || ':' || $e END"

  private def row155(es: Seq[String]): String =
    es.map(fld155).mkString(" || '|' || ")

  private def dig155(tbl: String, es: Seq[String], tail: Boolean): String = {
    val head =
      if (tail) s"SELECT '$tbl', count(*),"
      else s"SELECT '$tbl' AS tbl, count(*) AS n_rows,"
    val as = if (tail) "" else " AS digest"
    s"""$head
       |  CAST(bit_xor(CAST('0x' || substr(md5(
       |    ${row155(es)}),
       |    1, 15) AS BIGINT)) AS BIGINT)$as
       |FROM $tbl""".stripMargin
  }

  val q155Sql: String = Seq(
    dig155("orders", Seq(
      "CAST(o_orderkey AS VARCHAR)", "CAST(o_custkey AS VARCHAR)",
      "o_orderstatus", "o_orderpriority",
      "CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS VARCHAR)"),
      tail = false),
    dig155("customer", Seq(
      "CAST(c_custkey AS VARCHAR)", "c_name",
      "CAST(c_nationkey AS VARCHAR)", "c_mktsegment"), tail = true),
    dig155("events", Seq(
      "CAST(event_id AS VARCHAR)", "CAST(user_id AS VARCHAR)",
      "event_type", "CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR)"),
      tail = true),
  ).mkString("\nUNION ALL\n")

  /** ZONE-MAP FILE-SKIPPING CENSUS — the min/max-statistics pruning
    * every columnar table format performs (parquet row-group stats,
    * Iceberg/Delta file-level zonemaps), made a gated calculation: bin
    * lineitem into 64 synthetic "files" under TWO layouts — CLUSTERED
    * (globally range-ordered by ship date: the layout a time-ordered
    * ingest or a z-order/sort-on-write produces) and HASHED (uniform
    * scatter: what unordered parallel writes produce) — build each
    * file's (min, max) ship-date zonemap, and count how many files a
    * quarter-long date predicate can SKIP and how many rows the
    * surviving files force a scan over. The exact selected-row count
    * rides along (identical under both layouts — pruning never changes
    * results, only work). This is the quantified WHY behind q79's
    * z-order writer and q62's partitioned sink: the clustered layout
    * skips ~95% of files, the hashed layout skips none, for the same
    * bytes stored. [[q216PrunedRead]] is the census cashed in — the
    * real read path that builds this manifest from parquet footers and
    * opens only the surviving files.
    *
    * Determinism: the clustered binning uses [[Relational.globalRank]]
    * (two-pass distributed rank, no SinglePartition) with the full
    * (shipdate, orderkey, linenumber) total order, file =
    * (rnk−1)·64 div N; the hashed layout bins on the md5 prefix of the
    * row identity (engine-portable). Zonemaps and the census are plain
    * integer/date aggregation — partial-agg'd, files-sized frames. */
  def q213ZonemapPrune(s: SparkSession, d: String): DataFrame = {
    val lo = "1997-01-01"; val hi = "1997-03-31"
    val li = lineitem(s, d)
      .select(to_date(col("l_shipdate")).as("l_shipdate"),
        col("l_orderkey"), col("l_linenumber"))
    val n = li.agg(count(lit(1)).as("n"))
    val clustered = Relational.globalRank(li, col("l_shipdate"),
        struct(col("l_orderkey"), col("l_linenumber")), parts = 32)
      .crossJoin(broadcast(n))
      .select(col("l_shipdate"),
        expr("CAST((rnk - 1) * 64 div n AS BIGINT)").as("file"))
    val hashed = li.select(col("l_shipdate"),
      md5Bucket(concat_ws(":", col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string")), 64).as("file"))
    def census(rows: DataFrame, layout: String): DataFrame =
      rows.groupBy(col("file"))
        .agg(min(col("l_shipdate")).as("lo_d"),
          max(col("l_shipdate")).as("hi_d"),
          count(lit(1)).as("cnt"),
          sum(when(col("l_shipdate").between(lo, hi), 1L).otherwise(0L))
            .as("sel"))
        .withColumn("skip",
          col("hi_d") < lit(lo).cast("date") ||
            col("lo_d") > lit(hi).cast("date"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("skip"), 1L).otherwise(0L)).as("n_skipped"),
          sum(when(!col("skip"), col("cnt")).otherwise(0L))
            .as("rows_scanned"),
          sum(col("sel")).as("rows_selected"))
        .select(lit(layout).as("layout"), col("n_files"), col("n_skipped"),
          col("rows_scanned"), col("rows_selected"))
    census(clustered, "clustered").unionByName(census(hashed, "hashed"))
  }

  val q213Sql: String =
    """WITH li AS (
      |  SELECT l_shipdate, l_orderkey, l_linenumber FROM lineitem),
      |n AS (SELECT count(*) AS n FROM li),
      |cl AS (
      |  SELECT l_shipdate,
      |    CAST((rnk - 1) * 64 // n AS BIGINT) AS file
      |  FROM (SELECT l_shipdate,
      |          row_number() OVER (ORDER BY l_shipdate, l_orderkey,
      |                             l_linenumber) AS rnk
      |        FROM li), n),
      |ha AS (
      |  SELECT l_shipdate,
      |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
      |      CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS file
      |  FROM li),
      |cc AS (
      |  SELECT file, min(l_shipdate) AS lo_d, max(l_shipdate) AS hi_d,
      |    count(*) AS cnt,
      |    sum(CASE WHEN l_shipdate BETWEEN DATE '1997-01-01'
      |          AND DATE '1997-03-31' THEN 1 ELSE 0 END) AS sel
      |  FROM cl GROUP BY 1),
      |hc AS (
      |  SELECT file, min(l_shipdate) AS lo_d, max(l_shipdate) AS hi_d,
      |    count(*) AS cnt,
      |    sum(CASE WHEN l_shipdate BETWEEN DATE '1997-01-01'
      |          AND DATE '1997-03-31' THEN 1 ELSE 0 END) AS sel
      |  FROM ha GROUP BY 1),
      |roll AS (
      |  SELECT 'clustered' AS layout, count(*) AS n_files,
      |    CAST(sum(CASE WHEN hi_d < DATE '1997-01-01'
      |        OR lo_d > DATE '1997-03-31' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_skipped,
      |    CAST(sum(CASE WHEN hi_d >= DATE '1997-01-01'
      |        AND lo_d <= DATE '1997-03-31' THEN cnt ELSE 0 END) AS BIGINT)
      |      AS rows_scanned,
      |    CAST(sum(sel) AS BIGINT) AS rows_selected
      |  FROM cc
      |  UNION ALL
      |  SELECT 'hashed', count(*),
      |    CAST(sum(CASE WHEN hi_d < DATE '1997-01-01'
      |        OR lo_d > DATE '1997-03-31' THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN hi_d >= DATE '1997-01-01'
      |        AND lo_d <= DATE '1997-03-31' THEN cnt ELSE 0 END) AS BIGINT),
      |    CAST(sum(sel) AS BIGINT)
      |  FROM hc)
      |SELECT layout, n_files, n_skipped, rows_scanned, rows_selected
      |FROM roll""".stripMargin

  // ─────────────────────────── zone maps ───────────────────────────
  //
  // One [lo, hi] pair per file per column, whatever the column's type:
  // what differs by type lives in [[ZoneCodec]] (date, string,
  // numeric), and every operation below is one generic implementation
  // over it. Two stores share the commit-file format: the single-column
  // AXES (one directory per codec, `ZoneCodec.dirName`, whose `_column`
  // sidecar names the clustered column) and the multi-column
  // `_colzones/<col>/` store (a `_type` sidecar names the codec, and
  // per-file null counts ride along). Each public write entry picks its
  // codec from the column's Spark type.

  /** Write `df` as `nFiles` parquet files globally range-clustered and
    * internally sorted on `c` — the layout whose per-file min/max stats
    * make probes on `c` skippable (what q213's census priced;
    * [[prunedRead]] is the read path that cashes it in) — then build
    * the zone manifest from the fresh footers and PERSIST it next to
    * the data, as `zones-00000.json` in the axis directory of `c`'s
    * codec. Stats are collected at WRITE time and read back in O(1) at
    * plan time, the Delta/Iceberg split: measured locally, re-reading 64
    * footers per query cost more than the full scan it saved at sf0.1
    * (the first cut in BASELINE.md §"Round-13: zone-map pruned read
    * A/B"), while the persisted manifest makes the plan cost one small
    * file. */
  def zonemapClusteredWrite(df: DataFrame, c: String, nFiles: Int,
      path: String): Unit = {
    clusteredWriter(df, nFiles, c).mode("overwrite").parquet(path)
    commitAxis(df.sparkSession, path, c, codecOf(df.schema, c))
  }

  /** APPEND a new batch of `nFiles` clustered files to an existing
    * layout and COMMIT only the new files' zones: the append writes its
    * own `zones-<k>.json` from only ITS OWN files' footers (prior
    * commits are untouched), the discipline that keeps manifest
    * maintenance O(new files) while the table grows — how a
    * Delta/Iceberg append commit adds file stats without restating the
    * table. [[readManifest]] merges commits sorted by data-file path, so
    * the merged view is identical to a from-scratch rebuild (StorageSpec
    * pins that equality; q219 and q268 gate probes spanning both
    * commits). */
  def zonemapAppend(df: DataFrame, c: String, nFiles: Int,
      path: String): Unit = {
    val s = df.sparkSession
    val codec = codecOf(df.schema, c)
    val prior = readManifest(s, path, codec).getOrElse(Seq.empty).map(_.path)
    clusteredWriter(df, nFiles, c).mode("append").parquet(path)
    commitAxis(s, path, c, codec, prior.toSet)
  }

  /** ATTACH a zone manifest on `c` to an EXISTING layout — the post-hoc
    * stats step of Delta's OPTIMIZE ZORDER: any write path (z-order, a
    * foreign writer) whose files happen to be clustered on a column can
    * cash that in, and the automatic rule serves probes from then on.
    * One footer walk, zero data pages. Axes of different codecs attach
    * independently over ONE layout and a multi-axis probe prunes on the
    * survivor INTERSECTION (q269 gates the z-order 2-D case). */
  def attachZonemap(s: SparkSession, dir: String, c: String): Unit =
    commitAxis(s, dir, c, codecOf(s.read.parquet(dir).schema, c))

  /** COMPOUND clustered write — ONE physical layout carrying BOTH axis
    * manifests: files range-clustered on (strCol, dateCol) get tight
    * string zones AND, within each string range, tight date zones, so
    * the common two-axis probe (tenant + time window) prunes on the
    * INTERSECTION of both survivor sets. */
  def compoundZonemapWrite(df: DataFrame, strCol: String, dateCol: String,
      nFiles: Int, path: String): Unit = {
    clusteredWriter(df, nFiles, strCol, dateCol).mode("overwrite").parquet(path)
    Seq(dateCol, strCol).foreach(c =>
      commitAxis(df.sparkSession, path, c, codecOf(df.schema, c)))
  }

  /** PARTITION-DIR + ZONE-MAP layered write (r16 verdict task 4): data
    * lands under `partCol=value/` directories (Spark's own partition
    * pruning handles that axis) AND, within each partition, files are
    * range-clustered on `dateCol` with per-file zones persisted in ONE
    * root-level axis manifest holding partition-relative paths — the
    * Delta/Iceberg layering where directory pruning and file-stat
    * skipping compose. */
  def partitionedZonemapClusteredWrite(df: DataFrame, partCol: String,
      dateCol: String, nFiles: Int, path: String): Unit = {
    clusteredWriter(df, nFiles, partCol, dateCol)
      .partitionBy(partCol).mode("overwrite").parquet(path)
    commitAxis(df.sparkSession, path, dateCol, codecOf(df.schema, dateCol))
  }

  /** A persisted axis manifest — every commit merged, sorted by
    * data-file path (= the from-scratch rebuild's order), absolute
    * paths restored against `dir`. None when the layout has no axis
    * directory for `codec`. */
  def readManifest[V](s: SparkSession, dir: String,
      codec: ZoneCodec[V]): Option[Seq[FileZone[V]]] =
    readZones(s, dir, axisDir(dir, codec), codec)

  /** `c`'s zones rebuilt from the parquet FOOTERS only — O(files)
    * metadata I/O, zero data pages; the referee a persisted manifest
    * must equal. */
  def zonemapManifest[V](s: SparkSession, dir: String, c: String,
      codec: ZoneCodec[V]): Seq[FileZone[V]] =
    footerZones(s, dir, c, codec)

  /** Every zoned column a layout carries, as the automatic pruning rule
    * reads it once per directory: each advertised axis (a `_column`
    * sidecar plus its persisted manifest) first, then the `_colzones/`
    * store. Persisted files only — never a footer walk at plan time. */
  def zoneStore(s: SparkSession, dir: String): ColumnZones = {
    val store = readColumnZones(s, dir)
    store.copy(cols = ZoneCodec.all.flatMap(axisZones(s, dir, _)) ++ store.cols)
  }

  private def axisZones[V](s: SparkSession, dir: String,
      codec: ZoneCodec[V]): Option[ZonedColumn[V]] =
    for {
      c <- readSidecar(s, axisDir(dir, codec), "_column")
      zones <- readManifest(s, dir, codec)
    } yield ZonedColumn(c, codec, zones)

  private def codecOf(schema: StructType, c: String): ZoneCodec[_] =
    ZoneCodec.of(schema(c).dataType, c)

  /** A manifest lives as a DIRECTORY of per-commit JSON-lines files
    * (`zones-00000.json`, `zones-00001.json`, …) — the `_delta_log`
    * shape: the underscore prefix on the DIRECTORY hides the whole
    * manifest from data scans of the layout, while the normally-named
    * commit files inside stay readable by every Spark reader (an
    * underscore-prefixed FILE would be invisible to [[manifestDf]]'s
    * distributed read too). */
  private def axisDir(dir: String, codec: ZoneCodec[_]) =
    new Path(dir, codec.dirName)

  private def clusteredWriter(df: DataFrame, nFiles: Int,
      cols: String*): DataFrameWriter[Row] = {
    val cs = cols.map(col)
    df.repartitionByRange(nFiles, cs: _*).sortWithinPartitions(cs: _*).write
  }

  /** Commit `c`'s footer zones (files not in `known`) to its codec's
    * axis and name `c` in the `_column` sidecar — what lets the
    * automatic rule route a plain `read.filter(...)` through the
    * manifest without being told which column the layout is clustered
    * on. */
  private def commitAxis[V](s: SparkSession, dir: String, c: String,
      codec: ZoneCodec[V], known: Set[String] = Set.empty): Unit = {
    val md = axisDir(dir, codec)
    commitZones(s, dir, md, c, codec, known)
    writeSidecar(s, md, "_column", c)
  }

  private def commitZones[V](s: SparkSession, dir: String, md: Path,
      c: String, codec: ZoneCodec[V], known: Set[String] = Set.empty): Unit =
    writeCommit(s, dir, md, "zones",
      footerZones(s, dir, c, codec, known).map(z => z.path -> codec.encode(z)))

  private def commitNulls(s: SparkSession, dir: String, md: Path, c: String,
      known: Set[String] = Set.empty): Unit =
    writeCommit(s, dir, md, "nulls", footerNullStats(s, dir, c, known).map(z =>
      z.path -> s""""nulls":${z.nulls.getOrElse(-1L)},"rows":${z.rows}"""))

  /** Persist one COMMIT as the next `<family>-<k>.json` under `md`: one
    * `{"file":"<path relative to dir>",<fields>}` line per entry, only
    * the entries passed in, never a restatement of prior commits.
    * Relative names keep the layout valid if the directory moves. Each
    * statistic family (`zones`, `nulls`) numbers its own commits. */
  private def writeCommit(s: SparkSession, dir: String, md: Path,
      family: String, entries: Seq[(String, String)]): Unit = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(md)
    val k = fs.listStatus(md).count(_.getPath.getName.startsWith(family + "-"))
    val out = fs.create(new Path(md, f"$family%s-$k%05d.json"), true)
    try out.write(entries.map { case (p, fields) =>
      s"""{"file":"${relativize(fs, new Path(dir), new Path(p))}",$fields}"""
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Every `<family>-*.json` commit under `md` merged and sorted by
    * data-file path, each line's fields parsed by `parse`; None when
    * `md` does not exist. A line `parse` rejects fails loudly. */
  private def readCommits[T](s: SparkSession, dir: String, md: Path,
      family: String)(parse: (String, String) => Option[T]): Option[Seq[T]] = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(md)) return None
    val line = """\{"file":"([^"]+)",(.*)\}""".r
    val parsed = fs.listStatus(md).toSeq
      .filter(_.getPath.getName.startsWith(family + "-"))
      .sortBy(_.getPath.getName)
      .flatMap(f => readText(fs, f.getPath).linesIterator.filter(_.nonEmpty).map { l =>
        (l match {
          case line(name, fields) =>
            val p = fs.makeQualified(new Path(dir, name)).toString
            parse(p, fields).map(p -> _)
          case _ => None
        }).getOrElse(throw new IllegalStateException(s"bad manifest line in $md: $l"))
      })
    Some(parsed.sortBy(_._1).map(_._2))
  }

  private def readZones[V](s: SparkSession, dir: String, md: Path,
      codec: ZoneCodec[V]): Option[Seq[FileZone[V]]] =
    readCommits(s, dir, md, "zones")((p, fields) =>
      codec.decode(fields).map { case (lo, hi) => FileZone(p, lo, hi) })

  private val nullFields = """"nulls":(-?\d+),"rows":(\d+)""".r

  private def readNullStats(s: SparkSession, dir: String,
      md: Path): Option[Seq[NullStat]] =
    readCommits(s, dir, md, "nulls")((p, fields) => fields match {
      case nullFields(n, r) => Some(NullStat(p, Some(n.toLong).filter(_ >= 0), r.toLong))
      case _ => None
    }).filter(_.nonEmpty)

  private def writeSidecar(s: SparkSession, md: Path, name: String,
      text: String): Unit = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(md)
    val out = fs.create(new Path(md, name), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readSidecar(s: SparkSession, md: Path,
      name: String): Option[String] = {
    val f = new Path(md, name)
    val fs = f.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(f)) Some(readText(fs, f).trim) else None
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Every data file under `root`, RECURSIVELY (r16 verdict task 4:
    * partition-dir + zone-map is exactly the Delta/Iceberg layering a
    * real lake uses — `lang=en/part-…parquet` files carry zones worth
    * skipping too). Hidden (`_…`/`.…`) directories and files are
    * excluded, matching Spark's own listing filter, so the manifest
    * directories never list themselves. */
  private[operators] def listDataFiles(fs: FileSystem,
      root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    walk(root)
  }

  /** `file`'s path RELATIVE to `root` (`part-0.parquet`, or
    * `lang=en/part-0.parquet` under a partitioned layout) — what the
    * manifests persist, so a layout stays valid if the directory moves
    * and partition subpaths round-trip through `new Path(dir, rel)`. */
  private[operators] def relativize(fs: FileSystem, root: Path,
      file: Path): String = {
    val r = fs.makeQualified(root).toUri.getPath
    val f = fs.makeQualified(file).toUri.getPath
    if (f.startsWith(r + "/")) f.drop(r.length + 1) else file.getName
  }

  /** `f(path, row groups)` over the footer of every data file in `dir`
    * NOT in `known`, in relative-path order — O(files) metadata I/O,
    * zero data pages. An append reads only ITS OWN files' footers.
    * Paths are FULLY QUALIFIED (scheme + authority kept): listStatus
    * yields file:/... while Path(dir, name) doesn't, so both go through
    * fs.makeQualified — persisted and footer-built manifests compare
    * equal, and on hdfs:// or s3a:// layouts the survivor paths handed
    * to spark.read.parquet still carry their filesystem. */
  private def footerWalk[T](s: SparkSession, dir: String, known: Set[String])(
      f: (String, Seq[BlockMetaData]) => T): Seq[T] = {
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    listDataFiles(fs, root)
      .filterNot(st => known.contains(fs.makeQualified(st.getPath).toString))
      .sortBy(st => relativize(fs, root, st.getPath))
      .map { st =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try f(fs.makeQualified(st.getPath).toString, rd.getFooter.getBlocks.asScala.toSeq)
        finally rd.close()
      }
  }

  private def chunkOf(b: BlockMetaData, c: String) =
    b.getColumns.asScala.find(_.getPath.toDotString == c)

  /** Footer zones of `c`, folded across row groups under the codec's
    * order. Any row group without a usable stat makes the whole FILE
    * unbounded — folding only the defined groups would narrow the zone
    * below rows the file actually holds. */
  private def footerZones[V](s: SparkSession, dir: String, c: String,
      codec: ZoneCodec[V], known: Set[String] = Set.empty): Seq[FileZone[V]] =
    footerWalk(s, dir, known) { (path, blocks) =>
      val zones = blocks.flatMap(chunkOf(_, c).flatMap(codec.chunkStat))
      if (zones.isEmpty || zones.size < blocks.size) FileZone[V](path, None, None)
      else FileZone(path, Some(zones.map(_._1).reduce(codec.min)),
        Some(zones.map(_._2).reduce(codec.max)))
    }

  /** The one survivor check: a file survives when every constrained
    * column's [[ZoneSet]] and every null-axis want (`true` = IS NULL)
    * accepts it. A file a manifest does not list is unskippable on that
    * column, so survivors are drawn from the UNION of every listed
    * file. An EMPTY interval union (an unsatisfiable predicate) skips
    * every listed file — the re-applied filter returns nothing either
    * way. Returns (survivors sorted, total), None when nothing
    * constrains. */
  def survivorsFromColumnSets(sets: Seq[ZoneSet[_]],
      nullSets: Seq[(Seq[NullStat], Boolean)] = Seq.empty)
      : Option[(Seq[String], Int)] = {
    // null axis: IS NULL skips no-null files; a needed NON-null
    // (explicit IS NOT NULL, or any value constraint) skips all-null
    // files; unknown counts always survive
    val nullAccepts = nullSets.map { case (stats, wantNull) =>
      val by = stats.map(z => z.path -> z).toMap
      (p: String) => by.get(p).forall(z =>
        if (wantNull) z.nulls.forall(_ > 0) else z.nulls.forall(_ < z.rows))
    }
    val accepts = sets.map(z => z.accepts _) ++ nullAccepts
    if (accepts.isEmpty) None
    else {
      val all = (sets.flatMap(_.zones.map(_.path)) ++
        nullSets.flatMap(_._1.map(_.path))).distinct.sorted
      Some((all.filter(p => accepts.forall(_(p))), all.size))
    }
  }

  /** `c`'s zones from the persisted manifest, or from the footers for a
    * layout written without one. */
  private def zonesOf[V](s: SparkSession, dir: String, c: String,
      codec: ZoneCodec[V]): Seq[FileZone[V]] =
    readManifest(s, dir, codec).getOrElse(footerZones(s, dir, c, codec))

  private def dateWindow(s: SparkSession, dir: String, c: String,
      lo: String, hi: String): ZoneSet[Int] = {
    def day(d: String) = Option(java.time.LocalDate.parse(d).toEpochDay.toInt)
    ZoneSet(ZoneCodec.Date, zonesOf(s, dir, c, ZoneCodec.Date), Seq((day(lo), day(hi))))
  }

  private def strPoint(s: SparkSession, dir: String, c: String,
      v: String): ZoneSet[String] =
    ZoneSet(ZoneCodec.Str, zonesOf(s, dir, c, ZoneCodec.Str), Seq((Option(v), Option(v))))

  private def dateBetween(c: String, lo: String, hi: String) =
    col(c).between(lit(lo).cast("date"), lit(hi).cast("date"))

  /** The frame over `survivors` only (an empty scan of `dir` when none
    * survive): skipped files are absent from its file index, so no plan
    * over it can open them. */
  private def readSurvivors(s: SparkSession, dir: String,
      survivors: Seq[String]): DataFrame =
    if (survivors.isEmpty) s.read.parquet(dir).where(lit(false))
    else s.read.parquet(survivors: _*)

  /** Survivors of `sets` read and filtered by `cond` — the predicate is
    * re-applied, since pruning is an optimization, never a filter.
    * Returns (frame, total files, skipped files). */
  private def prunedBy(s: SparkSession, dir: String, sets: ZoneSet[_]*)(
      cond: Column): (DataFrame, Int, Int) = {
    val (survivors, total) = survivorsFromColumnSets(sets).get
    (readSurvivors(s, dir, survivors).filter(cond), total, total - survivors.size)
  }

  /** ZONE-MAP PRUNED READ — answer a date-range probe over a
    * date-clustered layout reading ONLY the files whose zone intersects
    * [lo, hi] (StorageSpec pins that via the scan's numFiles/filesSize
    * metrics and inputFiles). Results equal a full scan by construction
    * (gated: q216 vs the plain-filter oracle). Plan cost is ONE small
    * manifest file when the layout persisted one, falling back to
    * per-file footer reads for foreign layouts; execution touches only
    * surviving files. */
  def prunedRead(s: SparkSession, dir: String, dateCol: String,
      lo: String, hi: String): (DataFrame, Int, Int) =
    prunedBy(s, dir, dateWindow(s, dir, dateCol, lo, hi))(dateBetween(dateCol, lo, hi))

  /** STRING-ZONE PRUNED READ — answer an equality probe on the
    * clustering column reading only files whose [lo, hi] zone contains
    * the value (the partition-prune effect without physical partition
    * directories). Gated: q241 vs the plain-filter oracle. */
  def strPrunedRead(s: SparkSession, dir: String, strCol: String,
      value: String): (DataFrame, Int, Int) =
    prunedBy(s, dir, strPoint(s, dir, strCol, value))(col(strCol) === value)

  /** Two-axis pruned read over a [[compoundZonemapWrite]] layout: a
    * file is opened only if its STRING zone contains `value` AND its
    * date zone intersects [lo, hi]. The two manifests are persisted
    * independently, so a file present in one but missing from the
    * other (a crash between the two commits) is UNSKIPPABLE on the
    * missing axis, never silently dropped, and `total` counts the
    * union. */
  def compoundPrunedRead(s: SparkSession, dir: String, strCol: String,
      value: String, dateCol: String, lo: String, hi: String)
      : (DataFrame, Int, Int) =
    prunedBy(s, dir, strPoint(s, dir, strCol, value),
      dateWindow(s, dir, dateCol, lo, hi))(
      col(strCol) === value && dateBetween(dateCol, lo, hi))

  /** [[compoundPrunedRead]] under the gate: events clustered on
    * (event_type, day) into 20 files, probed for one type in a 6-day
    * window — the tenant+time shape. The aggregate must hash-match
    * DuckDB's plain filter over the raw table. */
  def q245CompoundPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q245_events_compound", d)
    if (missing(s, dir, ZoneCodec.Str.dirName))
      compoundZonemapWrite(
        events(s, d).select(col("event_type"),
          to_date(col("ts")).as("ev_date"), col("value")),
        "event_type", "ev_date", 20, dir)
    val (probe, _, _) = compoundPrunedRead(s, dir, "event_type", "purchase",
      "ev_date", "2024-01-10", "2024-01-15")
    probe.groupBy(col("ev_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  val q245Sql: String =
    """SELECT CAST(ts AS DATE) AS ev_date, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_type = 'purchase'
      |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-15'
      |GROUP BY 1""".stripMargin

  /** Build (once per session) and return the 16-file source-clustered
    * documents layout q241/q261 probe. */
  private def q241Layout(s: SparkSession, d: String): String = {
    val dir = scratch(s, "q241_docs_by_source", d)
    if (missing(s, dir, ZoneCodec.Str.dirName))
      zonemapClusteredWrite(
        documents(s, d).select(col("source"), col("lang"), col("n_chars")),
        "source", 16, dir)
    dir
  }

  /** [[strPrunedRead]] under the gate: documents range-clustered on
    * `source` into 16 files, probed for one source — the categorical
    * sibling of q216's date window. The probe aggregate must hash-match
    * DuckDB's plain filter over the raw table. */
  def q241StringPrune(s: SparkSession, d: String): DataFrame = {
    val (probe, _, _) = strPrunedRead(s, q241Layout(s, d), "source", "src12")
    probe.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
  }

  val q241Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE source = 'src12'
      |GROUP BY 1""".stripMargin

  /** Whether `dir` lacks the entry `name` — the once-per-session check
    * every gated layout build makes. */
  private def missing(s: SparkSession, dir: String, name: String): Boolean = {
    val p = new Path(dir, name)
    !p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
  }

  // ───────────── general multi-column zone store (_colzones) ─────────────

  /** Per-COLUMN zone manifests — the Delta "stats for every column"
    * shape: each column gets its own `_colzones/<col>/zones-<k>.json`
    * plus a `_type` sidecar naming its codec, so ONE layout can carry
    * zones for ANY number of columns — two numeric z-order keys, a
    * tenant string AND a day, whatever the workload probes — together
    * with per-file null counts (`nullCols`). The automatic rule
    * intersects EVERY constrained column's survivor set, single-column
    * axes included ([[zoneStore]]). */
  case class ColumnZones(cols: Seq[ZonedColumn[_]],
      nullCols: Seq[(String, Seq[NullStat])] = Seq.empty) {
    def isEmpty: Boolean = cols.isEmpty && nullCols.isEmpty
    def allPaths: Seq[String] =
      cols.flatMap(_.zones.map(_.path)) ++ nullCols.flatMap(_._2.map(_.path))
    /** (column, zones) of every column `codec` serves. */
    def of[V](codec: ZoneCodec[V]): Seq[(String, Seq[FileZone[V]])] =
      cols.filter(_.codec == codec)
        .map(zc => zc.name -> zc.zones.asInstanceOf[Seq[FileZone[V]]])
  }

  /** Per-file NULL statistics for one column — the Delta `nullCount`
    * axis, codec-independent (every zone codec only describes the
    * NON-null values, so nullness needs its own statistic). `nulls`
    * is None when any row group lacks a null count — unknown never
    * skips. An ALL-null file (`nulls == Some(rows)`) is skippable for
    * every value probe AND for IS NOT NULL; a no-null file
    * (`nulls == Some(0)`) is skippable for IS NULL — the sparse-column
    * case (an optional field null for most of a corpus) where value
    * zones are blind because parquet writes no stats for all-null
    * chunks. */
  case class NullStat(path: String, nulls: Option[Long], rows: Long)

  private def footerNullStats(s: SparkSession, dir: String,
      c: String, known: Set[String] = Set.empty): Seq[NullStat] =
    footerWalk(s, dir, known) { (path, blocks) =>
      val rows = blocks.map(_.getRowCount).sum
      val counts = blocks.map(chunkOf(_, c).flatMap { ch =>
        val st = ch.getStatistics
        if (st == null || !st.isNumNullsSet) None else Some(st.getNumNulls)
      })
      // one group without a null count makes the FILE unknown — the
      // zone-fold discipline on the null axis
      if (counts.exists(_.isEmpty)) NullStat(path, None, rows)
      else NullStat(path, Some(counts.flatten.sum), rows)
    }

  private def colzonesRoot(dir: String) = new Path(dir, "_colzones")
  private def colzoneDir(dir: String, c: String) = new Path(colzonesRoot(dir), c)

  /** Persist footer-derived zones and null counts for every listed
    * column under `_colzones/`, the codec picked from the column's
    * Spark type. One footer walk per statistic, zero data pages — the
    * post-write ANALYZE step. Unsupported types are rejected loudly
    * rather than silently unzoned. */
  def attachColumnZones(s: SparkSession, dir: String,
      cols: Seq[String]): Unit = {
    val schema = s.read.parquet(dir).schema
    cols.foreach { c =>
      val md = colzoneDir(dir, c)
      val codec = codecOf(schema, c)
      commitZones(s, dir, md, c, codec)
      writeSidecar(s, md, "_type", codec.typeName)
      commitNulls(s, dir, md, c)
    }
  }

  /** Every column's persisted zones and null counts under `_colzones/`
    * — empty when the store is absent. Driver file IO only. */
  def readColumnZones(s: SparkSession, dir: String): ColumnZones = {
    val root = colzonesRoot(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(root)) return ColumnZones(Seq.empty)
    val typed = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .sortBy(_.getPath.getName)
      .flatMap(sd => readSidecar(s, sd.getPath, "_type").map(sd.getPath -> _))
    ColumnZones(
      // an unknown codec is skipped, never mis-read
      typed.flatMap { case (md, t) =>
        ZoneCodec.named(t).flatMap(storedColumn(s, dir, md, _)) },
      typed.flatMap { case (md, _) =>
        readNullStats(s, dir, md).map(md.getName -> _) })
  }

  private def storedColumn[V](s: SparkSession, dir: String, md: Path,
      codec: ZoneCodec[V]): Option[ZonedColumn[V]] =
    readZones(s, dir, md, codec).map(ZonedColumn(md.getName, codec, _))

  /** APPEND a clustered batch to a `_colzones/` layout and COMMIT, for
    * EVERY column the store carries, a zone file and a null-count file
    * covering only the NEW data files — the [[zonemapAppend]]
    * discipline on the multi-column store. The column set and each
    * column's codec come from the store itself (`_type` sidecars), so
    * callers never restate the schema; readers merge commits
    * path-sorted, identical to a from-scratch [[attachColumnZones]]
    * rebuild (StorageSpec pins the equality, q271 gates a probe
    * spanning both commits through the automatic rule). The batch is
    * range-clustered on `clusterCol`; other columns' zones in the new
    * files are whatever the data gives them (wide zones prune nothing
    * but never lie). */
  def colzonesAppend(df: DataFrame, clusterCol: String, nFiles: Int,
      path: String): Unit = {
    val s = df.sparkSession
    val prior = readColumnZones(s, path)
    require(!prior.isEmpty,
      s"no _colzones store under $path to append to — attachColumnZones first")
    clusteredWriter(df, nFiles, clusterCol).mode("append").parquet(path)
    prior.cols.foreach(zc => commitZones(s, path, colzoneDir(path, zc.name),
      zc.name, zc.codec, zc.zones.map(_.path).toSet))
    prior.nullCols.foreach { case (c, stats) =>
      commitNulls(s, path, colzoneDir(path, c), c, stats.map(_.path).toSet)
    }
  }

  /** Executed OPTIMIZE (the compaction the q144 planner only PLANS,
    * the Delta/Iceberg `OPTIMIZE` maintenance step): rewrite an
    * unpartitioned zone-mapped layout — typically fragmented by many
    * append commits — into `nFiles` range-clustered files and
    * RE-DERIVE every piece of layout metadata from the new footers:
    * every axis keeps its column, the `_colzones/` store keeps its
    * column set and codecs, and persisted `_sketch/` statistics SURVIVE
    * via [[SketchPlanner.SketchManifest.restampAfterRowPreservingRewrite]]
    * — compaction changes no row, so count and CMS cells stay exactly
    * correct and only the staleness stamp is refreshed (zero jobs;
    * cold zero-job planner pricing keeps working across maintenance
    * instead of degrading to a re-scan). Rows are untouched — results over the
    * layout are invariant (spec-pinned) — but file count, commit-file
    * count and zone tightness reset to single-write quality: the
    * metadata debt appends accumulate is paid down in one clustered
    * rewrite, and the appends' overlapping zones become disjoint
    * ranges again, so pruning recovers its write-time selectivity.
    *
    * The swap is staged (clustered rewrite lands in a sibling
    * `.compact-staging` dir while readers still see the old files,
    * then delete-old + rename-in) — per-file atomic, not
    * transactional: this is the maintenance-window operation. The
    * commit log a production lake layers above it is out of scope by
    * the same stance as SURVEY §0's consensus boundary. */
  def optimizeCompact(s: SparkSession, dir: String, clusterCol: String,
      nFiles: Int): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    require(!fs.listStatus(root).exists(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")),
      s"optimizeCompact compacts unpartitioned layouts; $dir has partition dirs")
    // the metadata to re-derive, read BEFORE touching the layout
    val axes = ZoneCodec.all.flatMap(codec =>
      readSidecar(s, axisDir(dir, codec), "_column").map(codec -> _))
    val czRoot = colzonesRoot(dir)
    val czCols: Seq[String] =
      if (fs.exists(czRoot))
        fs.listStatus(czRoot).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).sorted
      else Seq.empty
    // stage the clustered rewrite beside the layout; the job reads the
    // old files in full before anything is deleted
    val staging = new Path(root.getParent, root.getName + ".compact-staging")
    fs.delete(staging, true)
    clusteredWriter(s.read.parquet(dir), nFiles, clusterCol)
      .mode("overwrite").parquet(staging.toString)
    // swap: old data files + zone metadata out, staged files in
    // (`_sketch/` stays — its stats describe rows, not files)
    listDataFiles(fs, root).foreach(f => fs.delete(f.getPath, false))
    (ZoneCodec.all.map(axisDir(dir, _)) :+ czRoot).foreach(p => fs.delete(p, true))
    listDataFiles(fs, staging).foreach { f =>
      fs.rename(f.getPath, new Path(root, f.getPath.getName))
    }
    fs.delete(staging, true)
    // re-derive every manifest the layout carried from the new footers
    axes.foreach { case (codec, c) => commitAxis(s, dir, c, codec) }
    if (czCols.nonEmpty) attachColumnZones(s, dir, czCols)
    // row-preserving ⇒ persisted sketch stats are still exact: restamp
    SketchPlanner.SketchManifest.restampAfterRowPreservingRewrite(s, dir)
  }

  /** MANIFEST-AS-DATAFRAME pruned read — [[prunedRead]]'s 100 TB form
    * (round-13 verdict task 4): [[prunedRead]] materializes the WHOLE
    * manifest driver-side, right at 64 files but O(all files) at a
    * million-file table. Here the zone predicate is evaluated
    * DISTRIBUTED over the date axis manifest read as a DataFrame, and
    * the driver materializes only (a) one 1-row (total, skipped)
    * aggregate and (b) the SURVIVOR paths — O(files actually read),
    * which the reader needs on the driver anyway to plan the scan (the
    * same contract as Delta/Iceberg: plan-time file listing is the
    * pruned set, never the table). Both collects are inside
    * PlanAuditSpec's budget for this file. The predicate is re-applied
    * on survivors — pruning is an optimization, never a filter — so
    * results equal a full scan by construction (gated: q227 vs the
    * plain-filter oracle; StorageSpec drives a synthetic 4000-entry
    * manifest and pins bounded materialization + scan metrics). */
  def prunedReadScaled(s: SparkSession, dir: String, dateCol: String,
      lo: String, hi: String): (DataFrame, Long, Long) = {
    val loD = java.time.LocalDate.parse(lo).toEpochDay.toInt
    val hiD = java.time.LocalDate.parse(hi).toEpochDay.toInt
    val man = manifestDf(s, dir)
    val dead = col("hi") < loD || col("lo") > hiD
    val stats = man.agg(count(lit(1)).as("total"),
      coalesce(sum(when(dead, 1L).otherwise(0L)), lit(0L)).as("skipped"))
      .collect()(0) // 1-row planner scalar (the AQE-stats shape)
    val fs = new Path(dir).getFileSystem(s.sessionState.newHadoopConf())
    val survivors = man.filter(!dead).select(col("file"))
      .collect() // O(surviving files) — the scan's own plan-time listing
      .map(r => fs.makeQualified(new Path(dir, r.getString(0))).toString)
    (readSurvivors(s, dir, survivors.toSeq).filter(dateBetween(dateCol, lo, hi)),
      stats.getLong(0), stats.getLong(1))
  }

  /** The date axis's commit files as a DataFrame — the
    * manifest-is-a-table stance (see [[axisDir]] for why the
    * directory, not the files, carries the underscore). */
  def manifestDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // glob INTO the children: Hadoop's hidden-file filter applies to the
    // final glob matches (zones-*.json — visible names), not to the
    // underscore ancestor, so this reads what a bare axis-dir path
    // would filter out
    s.createDataset(s.sparkContext.textFile(
        new Path(axisDir(dir, ZoneCodec.Date), "zones-*.json").toString))
      .select(from_json(col("value"), StructType
        .fromDDL("file STRING, lo INT, hi INT")).as("z"))
      .select(col("z.file").as("file"), col("z.lo").as("lo"), col("z.hi").as("hi"))
      .filter(col("file").isNotNull)
  }

  /** Build (once per session — the q70 amortization stance: a layout
    * is written once and serves every later query) and return the
    * 64-file ship_date-clustered lineitem layout q216/q227/q247/q260
    * probe. */
  private def q216Layout(s: SparkSession, d: String): String = {
    val dir = scratch(s, "q216_li_shipclustered", d)
    if (missing(s, dir, "_SUCCESS"))
      zonemapClusteredWrite(
        lineitem(s, d).select(to_date(col("l_shipdate")).as("ship_date"),
          col("l_quantity")),
        "ship_date", 64, dir)
    dir
  }

  /** The q213 census CASHED IN as a real read path under the gate: the
    * 1997-Q1 probe over the q216 layout through [[prunedRead]],
    * aggregated per month. The oracle is the SAME aggregate as a plain
    * filter over the source table — if pruning ever dropped or
    * duplicated a file, the row/hash gate fails. File-skipping itself
    * is pinned in StorageSpec (scan metrics: only surviving files
    * opened) and quantified in BASELINE.md §"Round-13: zone-map pruned
    * read A/B"; it cannot be oracled here because the range
    * partitioner's sampled file boundaries are not replicable in SQL.
    * Quantity accumulates in DECIMAL (the q70 convention). */
  def q216PrunedRead(s: SparkSession, d: String): DataFrame = {
    val (probe, _, _) = prunedRead(s, q216Layout(s, d), "ship_date",
      "1997-01-01", "1997-03-31")
    probe.groupBy(month(col("ship_date")).as("mth"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  /** The AUTOMATIC pruning rule under the gate (round-15: the task-4
    * engine-behavior close): the SAME clustered layout q216 probes, but
    * through a PLAIN `spark.read.parquet(dir).filter(...)` — no facade
    * call — whose optimized plan goes through
    * [[graft.plans.ZonemapPruneRule]], so the manifest routing is the
    * rule's work. The rule rewrites this query's plan only (no other
    * gated query's planning sees it); a `require` pins that the rewrite
    * actually fired (pruned file index smaller than the layout) — a
    * silently-inert rule must fail the gate, not pass it by answering
    * through a full scan. The probe window differs from q216's so the
    * two queries gate independent answers. */
  def q247AutoPrune(s: SparkSession, d: String): DataFrame = {
    val dir = q216Layout(s, d)
    val probe = s.read.parquet(dir)
      .filter(col("ship_date").between(lit("1996-07-01").cast("date"),
        lit("1996-09-30").cast("date")))
      .groupBy(month(col("ship_date")).as("mth"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    autoPruned(probe, totalFiles = 64)
  }

  val q247Sql: String =
    """SELECT CAST(month(l_shipdate) AS INT) AS mth, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-07-01'
      |  AND DATE '1996-09-30'
      |GROUP BY 1""".stripMargin

  /** Shared q247-pattern harness: apply the automatic pruning rule to
    * `probe`'s optimized plan (`GraftSqlBridge.optimizedWith`), `require`
    * the pruned file index actually shrank below `totalFiles` (an inert
    * rule must FAIL the gate), return the pruned plan as a DataFrame. */
  private def autoPruned(probe: DataFrame, totalFiles: Int): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.optimizedWith(probe,
        graft.plans.ZonemapPruneRule) { optimized =>
      val scannedFiles = optimized.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
      }.sum
      require(scannedFiles > 0 && scannedFiles < totalFiles,
        s"automatic zone-map pruning did not fire: $scannedFiles of $totalFiles files")
    }

  /** The WIDENED extraction under the gate (round-15 verdict task 4):
    * a date IN-LIST through a plain `read.filter(isin(...))` over the
    * q216 layout — three scattered probe days desugar to point
    * intervals whose survivor union the rule must price; the `require`
    * pins that the file index shrank. Results hash-match DuckDB's
    * plain IN over the raw table. */
  def q260AutoPruneInList(s: SparkSession, d: String): DataFrame = {
    val dir = q216Layout(s, d)
    val days = Seq("1994-02-14", "1996-06-10", "1998-05-01")
    val probe = s.read.parquet(dir)
      .filter(col("ship_date").isin(days.map(java.sql.Date.valueOf): _*))
      .groupBy(col("ship_date"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    autoPruned(probe, totalFiles = 64)
  }

  val q260Sql: String =
    """SELECT CAST(l_shipdate AS DATE) AS ship_date, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) IN (DATE '1994-02-14',
      |  DATE '1996-06-10', DATE '1998-05-01')
      |GROUP BY 1""".stripMargin

  /** STRING-RANGE automatic pruning under the gate: the q241 layout
    * (documents range-clustered on source) probed with a BETWEEN on
    * the clustered string column through a plain read.filter — the
    * manifests have carried string lo/hi zones since birth; r16's
    * widened extraction finally consumes them for ranges, not just
    * equality. */
  def q261AutoPruneStrRange(s: SparkSession, d: String): DataFrame = {
    val probe = s.read.parquet(q241Layout(s, d))
      .filter(col("source") >= "src12" && col("source") <= "src14")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    autoPruned(probe, totalFiles = 16)
  }

  val q261Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE source >= 'src12' AND source <= 'src14'
      |GROUP BY 1""".stripMargin

  val q216Sql: String =
    """SELECT CAST(month(l_shipdate) AS INT) AS mth, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01'
      |  AND DATE '1997-03-31'
      |GROUP BY 1""".stripMargin

  /** q216's layout grown by an APPEND COMMIT, gated: the base write
    * lands pre-1997 lineitem, [[zonemapAppend]] adds 1997+ reading only
    * its own footers, and the probe window (1996-11-01..1997-02-28)
    * deliberately SPANS both commits — rows from base files, appended
    * files, and the skip decision all have to be right across the
    * incremental manifest merge for the hash to match the plain-filter
    * oracle. Year grouping keys the output across the commit boundary. */
  def q219AppendPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q219_li_appended", d)
    if (missing(s, dir, ZoneCodec.Date.dirName)) {
      val li = lineitem(s, d).select(
        to_date(col("l_shipdate")).as("ship_date"), col("l_quantity"))
      zonemapClusteredWrite(
        li.filter(col("ship_date") < lit("1997-01-01").cast("date")),
        "ship_date", 32, dir)
      zonemapAppend(
        li.filter(col("ship_date") >= lit("1997-01-01").cast("date")),
        "ship_date", 32, dir)
    }
    val (probe, _, _) = prunedRead(s, dir, "ship_date", "1996-11-01", "1997-02-28")
    probe.groupBy(year(col("ship_date")).as("yr"),
        month(col("ship_date")).as("mth"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  val q219Sql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS yr,
      |  CAST(month(l_shipdate) AS INT) AS mth, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-11-01'
      |  AND DATE '1997-02-28'
      |GROUP BY 1, 2""".stripMargin

  /** The SCALED read path under the gate: q216's layout probed for
    * 1997-Q2 through [[prunedReadScaled]] — the manifest-as-DataFrame
    * plan — aggregated per month against the same plain-filter oracle
    * shape as q216. A drop/duplicate anywhere in the distributed zone
    * filter, survivor listing, or path qualification hash-fails. */
  def q227ScaledPrune(s: SparkSession, d: String): DataFrame = {
    val (probe, _, _) = prunedReadScaled(s, q216Layout(s, d), "ship_date",
      "1997-04-01", "1997-06-30")
    probe.groupBy(month(col("ship_date")).as("mth"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  val q227Sql: String =
    """SELECT CAST(month(l_shipdate) AS INT) AS mth, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-04-01'
      |  AND DATE '1997-06-30'
      |GROUP BY 1""".stripMargin

  /** NUMERIC-RANGE automatic pruning under the gate (r16 verdict
    * task 3): orders range-clustered on `o_totalprice` into 32 files,
    * probed with a BETWEEN on the clustered measure through a plain
    * `read.filter` — the probe shape (`price BETWEEN a AND b`) real
    * fact tables hit constantly and the date/string axes couldn't
    * serve. The q247 `require` pattern pins that the rewrite fired. */
  def q265AutoPruneNumRange(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q265_orders_by_price", d)
    if (missing(s, dir, ZoneCodec.Num.dirName))
      zonemapClusteredWrite(
        orders(s, d).select(col("o_totalprice"), col("o_orderpriority")),
        "o_totalprice", 32, dir)
    val probe = s.read.parquet(dir)
      .filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") <= 80000.0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
    autoPruned(probe, totalFiles = 32)
  }

  val q265Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_totalprice >= 50000.0 AND o_totalprice <= 80000.0
      |GROUP BY 1""".stripMargin

  /** PARTITIONED + ZONE-MAP automatic pruning under the gate (r16
    * verdict task 4): events land partitioned by `event_type` AND
    * date-clustered within each partition with one root-level
    * manifest; the probe (one type, one week) is a plain read.filter.
    * The rule prunes zone-dead files across ALL partitions, the
    * re-built index keeps the partition column (basePath + schema), and
    * Spark's own partition pruning then drops the other types' files at
    * scan time — the two prunings INTERSECT per file. The `require`
    * pins the zone half fired; ZonemapPruneSpec pins the partition
    * half via the executed scan's file count. */
  def q266PartitionedPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q266_events_part_zoned", d)
    if (missing(s, dir, ZoneCodec.Date.dirName))
      partitionedZonemapClusteredWrite(
        events(s, d).select(col("event_type"),
          to_date(col("ts")).as("ev_date"), col("value")),
        "event_type", "ev_date", 40, dir)
    val total = s.read.parquet(dir).inputFiles.length
    val probe = s.read.parquet(dir)
      .filter(col("event_type") === "click" &&
        col("ev_date").between(lit("2024-01-16").cast("date"),
          lit("2024-01-22").cast("date")))
      .groupBy(col("ev_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    autoPruned(probe, totalFiles = total)
  }

  val q266Sql: String =
    """SELECT CAST(ts AS DATE) AS ev_date, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_type = 'click'
      |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-16' AND DATE '2024-01-22'
      |GROUP BY 1""".stripMargin

  /** NUMERIC APPEND COMMIT under the gate (q219's shape on the numeric
    * axis): the base write lands orders under 250k, [[zonemapAppend]]
    * adds the rest reading only its own footers, and the probe window
    * (200k..300k) deliberately SPANS both commits — rows from base
    * files, appended files, and the merged-manifest skip decision all
    * have to be right for the hash to match, and the probe runs through
    * the AUTOMATIC rule (plain read.filter, require pins the shrink). */
  def q268NumAppendPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q268_orders_appended", d)
    if (missing(s, dir, ZoneCodec.Num.dirName)) {
      val o = orders(s, d).select(col("o_totalprice"), col("o_orderpriority"))
      zonemapClusteredWrite(
        o.filter(col("o_totalprice") < 250000.0), "o_totalprice", 16, dir)
      zonemapAppend(
        o.filter(col("o_totalprice") >= 250000.0), "o_totalprice", 16, dir)
    }
    val probe = s.read.parquet(dir)
      .filter(col("o_totalprice") >= 200000.0 &&
        col("o_totalprice") <= 300000.0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
    autoPruned(probe, totalFiles = 32)
  }

  val q268Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_totalprice >= 200000.0 AND o_totalprice <= 300000.0
      |GROUP BY 1""".stripMargin

  /** Z-ORDER + MULTI-AXIS SKIPPING under the gate (the Databricks
    * `OPTIMIZE ZORDER BY (a, b)` + stats-skipping composition, built
    * from this engine's own pieces): events Morton-clustered on
    * (day index, value cents) — so every file covers a 2-D block —
    * then [[attachZonemap]] (date, then numeric) persists
    * footer zones for the ORIGINAL `ev_date` and `value` columns, and
    * a plain `read.filter(date window AND value window)` through the
    * automatic rule prunes on the INTERSECTION of both survivor sets.
    * Neither linear clustering could serve this probe on both axes;
    * the z-curve makes both zone sets tight at once (ZonemapPruneSpec
    * pins the intersection strictly beating either axis alone). The
    * `require` pins the shrink; results hash-match DuckDB's plain
    * 2-predicate filter over the raw table. */
  def q269ZorderAutoPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q269_events_zorder", d)
    if (missing(s, dir, ZoneCodec.Num.dirName)) {
      val df = events(s, d).select(
        to_date(col("ts")).as("ev_date"), col("value"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("dayi"),
        round(col("value") * 100).cast("long").as("centi"))
      zorderWrite(df, "dayi", "centi", 1024, 32, dir)
      attachZonemap(s, dir, "ev_date")
      attachZonemap(s, dir, "value")
    }
    val probe = s.read.parquet(dir)
      .filter(col("ev_date").between(lit("2024-01-20").cast("date"),
          lit("2024-01-26").cast("date")) &&
        col("value") >= 100.0 && col("value") <= 200.0)
      .groupBy(col("ev_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    autoPruned(probe, totalFiles = 32)
  }

  val q269Sql: String =
    """SELECT CAST(ts AS DATE) AS ev_date, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-20' AND DATE '2024-01-26'
      |  AND value >= 100.0 AND value <= 200.0
      |GROUP BY 1""".stripMargin

  /** MULTI-COLUMN ZONE STORE under the gate (`_colzones/` — the Delta
    * stats-for-every-column shape): lineitem z-ordered on its TWO
    * join keys, both NUMERIC — the case the one-column-per-codec axes
    * cannot hold — with per-column zones attached via
    * [[attachColumnZones]]; a 2-D range probe through a plain
    * read.filter prunes on the intersection of BOTH columns' survivor
    * sets (q79's Morton layout finally cashed in by the automatic
    * rule). The probe window sits in the low key region so it selects
    * rows AND prunes at every SF (key ranges grow with SF). */
  def q270ColzonesPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q270_li_zorder_keys", d)
    if (missing(s, dir, "_colzones")) {
      zorderWrite(lineitem(s, d).select(col("l_partkey"), col("l_suppkey"),
          col("l_returnflag"), col("l_extendedprice")),
        "l_partkey", "l_suppkey", 1024, 64, dir)
      attachColumnZones(s, dir, Seq("l_partkey", "l_suppkey"))
    }
    val probe = s.read.parquet(dir)
      .filter(col("l_partkey").between(20L, 60L) &&
        col("l_suppkey").between(2L, 5L))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
    autoPruned(probe, totalFiles = 64)
  }

  val q270Sql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_partkey BETWEEN 20 AND 60 AND l_suppkey BETWEEN 2 AND 5
      |GROUP BY 1""".stripMargin

  /** MULTI-COLUMN STORE APPEND under the gate: a `_colzones/` layout
    * (NO single-column axis dirs, so any pruning can only come from the
    * store) built as clustered-write + [[colzonesAppend]] — the append
    * committed O(new files) zone files for BOTH stored columns — then
    * one range probe SPANNING the commit boundary prunes through the
    * automatic rule on merged commits. Results hash-match DuckDB's
    * plain filter over the raw table; the `require` pins the shrink. */
  def q271ColzonesAppend(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q271_orders_cz_append", d)
    if (missing(s, dir, "_colzones")) {
      val o = orders(s, d).select(col("o_totalprice"), col("o_custkey"),
        col("o_orderpriority"))
      clusteredWriter(o.filter(col("o_totalprice") < 250000.0), 16,
        "o_totalprice").mode("overwrite").parquet(dir)
      attachColumnZones(s, dir, Seq("o_totalprice", "o_custkey"))
      colzonesAppend(o.filter(col("o_totalprice") >= 250000.0),
        "o_totalprice", 16, dir)
    }
    val probe = s.read.parquet(dir)
      .filter(col("o_totalprice") >= 200000.0 &&
        col("o_totalprice") <= 300000.0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
    autoPruned(probe, totalFiles = 32)
  }

  val q271Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_totalprice >= 200000.0 AND o_totalprice <= 300000.0
      |GROUP BY 1""".stripMargin

  /** EXECUTED COMPACTION under the gate (the step q144 only plans):
    * a deliberately fragmented history — one clustered write plus
    * three appends, each commit re-clustering only ITS slice, so the
    * layout holds four parallel copies of the price grid and a window
    * probe pays its surviving range in every commit — is
    * [[optimizeCompact]]ed into 8 range-clustered files with every
    * manifest re-derived. The probe then prunes through the automatic
    * rule over the merged layout (`require` pins scanned < 8), the
    * build block `require`s the file count actually dropped 32→8, and
    * results hash-match DuckDB over the raw table: compaction changed
    * layout and metadata, never rows. */
  def q272OptimizeCompact(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q272_li_compacted", d)
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (missing(s, dir, ZoneCodec.Num.dirName)) {
      val li = lineitem(s, d).select(col("l_extendedprice"),
        col("l_returnflag"), col("l_quantity"))
      // fragmented history: each commit is price-clustered over only
      // its own quantity slice — four parallel price grids of 8 files
      zonemapClusteredWrite(li.filter(col("l_quantity") <= 10),
        "l_extendedprice", 8, dir)
      Seq(col("l_quantity") > 10 && col("l_quantity") <= 25,
          col("l_quantity") > 25 && col("l_quantity") <= 40,
          col("l_quantity") > 40).foreach { slice =>
        zonemapAppend(li.filter(slice), "l_extendedprice", 8, dir)
      }
      require(listDataFiles(fs, root).size == 32,
        "q272 fragmented history should hold 32 files pre-compaction")
      optimizeCompact(s, dir, "l_extendedprice", 8)
      val after = listDataFiles(fs, root).size
      require(after == 8,
        s"optimizeCompact should land exactly 8 files, found $after")
    }
    val probe = s.read.parquet(dir)
      .filter(col("l_extendedprice") >= 20000.0 &&
        col("l_extendedprice") <= 30000.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
    autoPruned(probe, totalFiles = 8)
  }

  val q272Sql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_extendedprice >= 20000.0 AND l_extendedprice <= 30000.0
      |GROUP BY 1""".stripMargin

  /** The q273/q274 fixture: an OPTIONAL field (`big_value`, null below
    * the threshold) over a layout clustered on the underlying value, so
    * the low files are ENTIRELY null — the sparse-column shape of an
    * LLM corpus (an image/audio metadata field absent for most rows).
    * Value zones are blind to those files (parquet writes no min/max
    * for all-null chunks ⇒ unbounded), but the `_colzones/` null axis
    * records nulls == rows and the automatic rule can skip them. */
  private def q273Layout(s: SparkSession, d: String): String = {
    val dir = scratch(s, "q273_events_sparse", d)
    if (missing(s, dir, "_colzones")) {
      clusteredWriter(events(s, d).select(col("user_id"), col("value"),
          when(col("value") >= 35.0, col("value")).as("big_value")), 16, "value")
        .mode("overwrite").parquet(dir)
      attachColumnZones(s, dir, Seq("big_value"))
    }
    dir
  }

  /** NULL-AXIS pruning under the gate, NOT-null side: the pushed
    * `IS NOT NULL` (the conjunct Spark itself pushes for every filter
    * and join key) skips the all-null files of the sparse column
    * through the automatic rule — a skip no value zone could make.
    * The `require` pins the shrink; results hash-match DuckDB's plain
    * CASE + IS NOT NULL over the raw table. */
  def q273NotNullPrune(s: SparkSession, d: String): DataFrame = {
    val dir = q273Layout(s, d)
    val probe = s.read.parquet(dir)
      .filter(col("big_value").isNotNull)
      .groupBy(pmod(col("user_id"), lit(8L)).as("ubucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("big_value").cast("decimal(18,2)")).cast("double")
          .as("sum_big"))
    autoPruned(probe, totalFiles = 16)
  }

  val q273Sql: String =
    """WITH t AS (SELECT user_id,
      |  CASE WHEN value >= 35.0 THEN value END AS big_value FROM events)
      |SELECT user_id % 8 AS ubucket, count(*) AS n_rows,
      |  CAST(sum(CAST(big_value AS DECIMAL(18,2))) AS DOUBLE) AS sum_big
      |FROM t WHERE big_value IS NOT NULL GROUP BY 1""".stripMargin

  /** [[q273NotNullPrune]]'s mirror: an explicit `IS NULL` probe skips
    * the files that have NO nulls (`nulls == 0` in the store) — the
    * high-value files the NOT-null probe keeps. Together the two pin
    * both polarities of the null axis through the automatic rule. */
  def q274IsNullPrune(s: SparkSession, d: String): DataFrame = {
    val dir = q273Layout(s, d)
    val probe = s.read.parquet(dir)
      .filter(col("big_value").isNull)
      .groupBy(pmod(col("user_id"), lit(8L)).as("ubucket"))
      .agg(count(lit(1)).as("n_rows"))
    autoPruned(probe, totalFiles = 16)
  }

  val q274Sql: String =
    """WITH t AS (SELECT user_id,
      |  CASE WHEN value >= 35.0 THEN value END AS big_value FROM events)
      |SELECT user_id % 8 AS ubucket, count(*) AS n_rows
      |FROM t WHERE big_value IS NULL GROUP BY 1""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q61_json_source"      -> (q61JsonSource _, q61Sql),
    "q62_partitioned_sink" -> (q62PartitionedSink _, q62Sql),
    "q70_bucketed_join"    -> (q70BucketedJoin _, q70Sql),
    "q79_zorder"           -> (q79Zorder _, q79Sql),
    "q144_compaction_plan" -> (q144CompactionPlan _, q144Sql),
    "q152_fd_audit"        -> (q152FdAudit _, q152Sql),
    "q155_table_digest"    -> (q155TableDigest _, q155Sql),
    "q213_zonemap_prune"   -> (q213ZonemapPrune _, q213Sql),
    "q216_pruned_read"     -> (q216PrunedRead _, q216Sql),
    "q247_auto_prune"      -> (q247AutoPrune _, q247Sql),
    "q219_append_prune"    -> (q219AppendPrune _, q219Sql),
    "q227_scaled_prune"    -> (q227ScaledPrune _, q227Sql),
    "q241_string_prune"    -> (q241StringPrune _, q241Sql),
    "q245_compound_prune"  -> (q245CompoundPrune _, q245Sql),
    "q260_autoprune_inlist"   -> (q260AutoPruneInList _, q260Sql),
    "q261_autoprune_strrange" -> (q261AutoPruneStrRange _, q261Sql),
    "q265_autoprune_numrange" -> (q265AutoPruneNumRange _, q265Sql),
    "q266_partitioned_prune"  -> (q266PartitionedPrune _, q266Sql),
    "q268_num_append_prune"   -> (q268NumAppendPrune _, q268Sql),
    "q269_zorder_autoprune"   -> (q269ZorderAutoPrune _, q269Sql),
    "q270_colzones_prune"     -> (q270ColzonesPrune _, q270Sql),
    "q271_colzones_append"    -> (q271ColzonesAppend _, q271Sql),
    "q272_optimize_compact"   -> (q272OptimizeCompact _, q272Sql),
    "q273_notnull_prune"      -> (q273NotNullPrune _, q273Sql),
    "q274_isnull_prune"       -> (q274IsNullPrune _, q274Sql),
  )
}
