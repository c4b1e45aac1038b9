package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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

  /** One file's zone map: [lo, hi] days-since-epoch of its date column,
    * folded across the file's row groups from the parquet FOOTER. */
  case class FileZone(path: String, lo: Int, hi: Int)

  /** Write `df` as `nFiles` parquet files globally range-clustered and
    * internally sorted on `dateCol` — the layout whose per-file min/max
    * stats make date predicates skippable (what q213's census priced;
    * [[prunedRead]] is the read path that cashes it in) — then build
    * the zone-map manifest from the fresh footers and PERSIST it next
    * to the data (`_zonemap/zones-00000.json`). Stats are collected at WRITE time
    * and read back in O(1) at plan time, the Delta/Iceberg split:
    * measured locally, re-reading 64 footers per query cost more than
    * the full scan it saved at sf0.1 (the first cut in BASELINE.md
    * §"Round-13: zone-map pruned read A/B"), while
    * the persisted manifest makes the plan cost one small file. */
  def zonemapClusteredWrite(df: DataFrame, dateCol: String, nFiles: Int,
      path: String): Unit = {
    df.repartitionByRange(nFiles, col(dateCol))
      .sortWithinPartitions(col(dateCol))
      .write.mode("overwrite").parquet(path)
    val s = df.sparkSession
    writeManifest(s, path, zonemapManifest(s, path, dateCol))
    writeAxisColumn(s, manifestDir(path), dateCol)
  }

  /** APPEND a new batch of `nFiles` clustered files to an existing
    * layout and COMMIT only the new files' zones: each append writes its
    * own `zones-<k>.json` under `_zonemap/` from only ITS OWN files'
    * footers (prior commits are untouched — not even re-read for the
    * known-set, beyond the listing), the discipline that keeps manifest
    * maintenance O(new files) while the table grows to millions:
    * exactly how a Delta/Iceberg append commit adds file stats without
    * restating the table. [[readManifest]] merges commits sorted by
    * data-file path, so the merged view is identical to a from-scratch
    * rebuild (StorageSpec pins that equality, and q219 gates a probe
    * spanning both commits). */
  def zonemapAppend(df: DataFrame, dateCol: String, nFiles: Int,
      path: String): Unit = {
    val s = df.sparkSession
    val prior = readManifest(s, path).getOrElse(Seq.empty)
    df.repartitionByRange(nFiles, col(dateCol))
      .sortWithinPartitions(col(dateCol))
      .write.mode("append").parquet(path)
    val fresh = footerZones(s, path, dateCol, prior.map(_.path).toSet)
    writeManifest(s, path, fresh.sortBy(_.path))
    writeAxisColumn(s, manifestDir(path), dateCol)
  }

  /** The manifest lives as a DIRECTORY of per-commit JSON-lines files
    * (`_zonemap/zones-00000.json`, `zones-00001.json`, …) — the
    * `_delta_log` shape: the underscore prefix on the DIRECTORY hides
    * the whole manifest from data scans of the layout, while the
    * normally-named commit files inside stay readable by every Spark
    * reader (an underscore-prefixed FILE would be invisible to
    * [[manifestDf]]'s distributed read too — both Spark SQL's listing
    * and Hadoop's input filter treat it as hidden). */
  private def manifestDir(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_zonemap")

  /** Every data file under `root`, RECURSIVELY (r16 verdict task 4:
    * partition-dir + zone-map is exactly the Delta/Iceberg layering a
    * real lake uses — `lang=en/part-…parquet` files carry zones worth
    * skipping too). Hidden (`_…`/`.…`) directories and files are
    * excluded, matching Spark's own listing filter, so the manifest
    * directories never list themselves. Flat layouts degrade to the
    * old single-level listing exactly. */
  private[operators] def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
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
  private[operators] def relativize(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      file: org.apache.hadoop.fs.Path): String = {
    val r = fs.makeQualified(root).toUri.getPath
    val f = fs.makeQualified(file).toUri.getPath
    if (f.startsWith(r + "/")) f.drop(r.length + 1) else file.getName
  }

  /** Persist one manifest COMMIT as the next `zones-<k>.json` under
    * `_zonemap/` — only the zones passed in, never a restatement of
    * prior commits. Relative file names: the layout stays valid if the
    * directory moves. */
  private def writeManifest(s: SparkSession, dir: String,
      man: Seq[FileZone]): Unit =
    writeDateZonesTo(s, dir, manifestDir(dir), man)

  private def writeDateZonesTo(s: SparkSession, dir: String,
      md: org.apache.hadoop.fs.Path, man: Seq[FileZone]): Unit = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(dir)
    val out = fs.create(nextCommitFile(fs, md), true)
    try out.write(man.map(z =>
      s"""{"file":"${relativize(fs, root, new org.apache.hadoop.fs.Path(z.path))}","lo":${z.lo},"hi":${z.hi}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Persist the clustering column's NAME as `_column` inside a
    * manifest directory — what lets the automatic pruning rule
    * (graft.plans.ZonemapPruneRule) route a plain `read.filter(...)`
    * through the manifest without being told which column the layout
    * is clustered on. A sidecar, not a manifest-format change: legacy
    * readers list only `zones-*.json` and never see it; a layout
    * without it simply stays manual-pruning-only. */
  private def writeAxisColumn(s: SparkSession,
      md: org.apache.hadoop.fs.Path, colName: String): Unit = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(md)
    val out = fs.create(new org.apache.hadoop.fs.Path(md, "_column"), true)
    try out.write(colName.getBytes("UTF-8")) finally out.close()
  }

  private def readAxisColumn(s: SparkSession,
      md: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    val f = new org.apache.hadoop.fs.Path(md, "_column")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** The date-axis clustering column a layout advertises, if any. */
  def zonemapColumn(s: SparkSession, dir: String): Option[String] =
    readAxisColumn(s, manifestDir(dir))

  /** The string-axis clustering column a layout advertises, if any. */
  def strZonemapColumn(s: SparkSession, dir: String): Option[String] =
    readAxisColumn(s, strManifestDir(dir))

  /** Survivor paths for the automatic pruning rule: PERSISTED manifests
    * only (the rule must never silently pay O(files) footer reads at
    * plan time — manifest-less layouts stay unpruned), union-of-file-
    * sets semantics identical to [[compoundPrunedRead]] (a file missing
    * from one manifest is unskippable on that axis). Returns
    * (survivors sorted, total) or None when no requested axis has a
    * persisted manifest. */
  def survivingFiles(s: SparkSession, dir: String,
      dateBounds: Option[(Int, Int)], strEq: Option[String])
      : Option[(Seq[String], Int)] =
    survivingFilesMulti(s, dir, dateBounds.map(Seq(_)),
      strEq.map(v => Seq((Option(v), Option(v)))))

  /** [[survivingFiles]] generalized to a UNION of closed intervals per
    * axis (round-15 verdict task 4) — the desugared shape of IN-lists
    * (point intervals), string ranges, and same-column OR disjunctions.
    * A file survives an axis when ANY interval overlaps its zone; a
    * file absent from a manifest is unskippable on that axis; both
    * axes intersect — all as before. String interval ends are Option
    * (None = unbounded) and compare through [[utf8Lt]]. An EMPTY
    * interval union (an unsatisfiable predicate) skips every
    * manifested file — the re-applied filter returns nothing either
    * way. */
  def survivingFilesMulti(s: SparkSession, dir: String,
      dateIvs: Option[Seq[(Int, Int)]],
      strIvs: Option[Seq[(Option[String], Option[String])]],
      numIvs: Option[Seq[(Option[BigDecimal], Option[BigDecimal])]] = None)
      : Option[(Seq[String], Int)] =
    survivorsFromManifests(
      dateIvs.flatMap(_ => readManifest(s, dir)),
      strIvs.flatMap(_ => readStrManifest(s, dir)),
      numIvs.flatMap(_ => readNumManifest(s, dir)),
      dateIvs, strIvs, numIvs)

  /** The pure survivor computation over ALREADY-READ manifests — what
    * the automatic rule calls through its per-apply manifest cache
    * (r16 advice: the rule must not re-read manifest files from the
    * filesystem for every Filter node). Semantics are
    * [[survivingFilesMulti]]'s, three axes intersecting. */
  def survivorsFromManifests(
      dateMan: Option[Seq[FileZone]],
      strMan: Option[Seq[StrFileZone]],
      numMan: Option[Seq[NumFileZone]],
      dateIvs: Option[Seq[(Int, Int)]],
      strIvs: Option[Seq[(Option[String], Option[String])]],
      numIvs: Option[Seq[(Option[BigDecimal], Option[BigDecimal])]])
      : Option[(Seq[String], Int)] =
    survivorsFromColumnSets(
      (for (m <- dateMan; i <- dateIvs) yield (m, i)).toSeq,
      (for (m <- strMan; i <- strIvs) yield (m, i)).toSeq,
      (for (m <- numMan; i <- numIvs) yield (m, i)).toSeq)

  /** utf8-ordered interval intersection support for the rule's
    * conjunct folding: lo = max of lower ends, hi = min of upper ends,
    * None = unbounded on that side; None result when empty. */
  def strIntervalIntersect(
      a: (Option[String], Option[String]),
      b: (Option[String], Option[String]))
      : Option[(Option[String], Option[String])] = {
    val lo = (a._1, b._1) match {
      case (Some(x), Some(y)) => Some(utf8Max(x, y))
      case (x, y) => x.orElse(y)
    }
    val hi = (a._2, b._2) match {
      case (Some(x), Some(y)) => Some(utf8Min(x, y))
      case (x, y) => x.orElse(y)
    }
    (lo, hi) match {
      case (Some(l), Some(h)) if utf8Lt(h, l) => None
      case _ => Some((lo, hi))
    }
  }

  /** Read a persisted manifest — every commit file merged, sorted by
    * data-file path (= the from-scratch rebuild's order); absolute
    * paths restored against `dir`. None when the layout has no
    * `_zonemap/` directory. */
  def readManifest(s: SparkSession, dir: String): Option[Seq[FileZone]] =
    readDateZonesFrom(s, dir, manifestDir(dir))

  private def readDateZonesFrom(s: SparkSession, dir: String,
      md: org.apache.hadoop.fs.Path): Option[Seq[FileZone]] = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(md)) None
    else {
      val re = """\{"file":"([^"]+)","lo":(-?\d+),"hi":(-?\d+)\}""".r
      val zones = fs.listStatus(md).toSeq
        .filter(_.getPath.getName.startsWith("zones-"))
        .sortBy(_.getPath.getName)
        .flatMap { f =>
          val in = fs.open(f.getPath)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          text.linesIterator.filter(_.nonEmpty).map {
            case re(name, lo, hi) =>
              FileZone(
                fs.makeQualified(new org.apache.hadoop.fs.Path(dir, name)).toString,
                lo.toInt, hi.toInt)
            case bad => throw new IllegalStateException(s"bad manifest line: $bad")
          }.toSeq
        }
      Some(zones.sortBy(_.path))
    }
  }

  /** Build the layout's zone-map manifest by reading parquet FOOTERS
    * only — O(files) metadata I/O, zero data pages — exactly the stats
    * Delta/Iceberg persist at write time and read at plan time. A file
    * whose footer lacks stats for `dateCol` (never the case for our own
    * writes) gets an infinite zone: unskippable, never incorrect. */
  def zonemapManifest(s: SparkSession, dir: String, dateCol: String): Seq[FileZone] =
    footerZones(s, dir, dateCol, Set.empty)

  /** Footer-derived zones for every data file in `dir` NOT in `known` —
    * the incremental half of manifest maintenance: an append commit
    * reads only ITS OWN files' footers. */
  private def footerZones(s: SparkSession, dir: String, dateCol: String,
      known: Set[String]): Seq[FileZone] = {
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    listDataFiles(fs, root)
      .filterNot(f => known.contains(fs.makeQualified(f.getPath).toString))
      .sortBy(f => relativize(fs, root, f.getPath))
      .map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val zones = rd.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == dateCol).flatMap { c =>
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else Some((st.genericGetMin.asInstanceOf[Number].intValue(),
                st.genericGetMax.asInstanceOf[Number].intValue()))
            }
          }
          // FULLY-QUALIFIED URIs everywhere (scheme + authority kept):
          // listStatus yields file:/... while Path(dir, name) doesn't,
          // so both are normalized through fs.makeQualified — persisted
          // and footer-built manifests compare equal, and on hdfs://
          // or s3a:// layouts the survivor paths handed to
          // spark.read.parquet still carry their filesystem
          val qual = fs.makeQualified(f.getPath).toString
          // any row group without a usable stat makes the whole FILE
          // unbounded — folding only the defined groups would narrow
          // the zone below rows the file actually holds
          if (zones.isEmpty || zones.size < rd.getFooter.getBlocks.size)
            FileZone(qual, Int.MinValue, Int.MaxValue)
          else FileZone(qual, zones.map(_._1).min, zones.map(_._2).max)
        } finally rd.close()
      }
  }

  // ─────────────────────── string zone maps ───────────────────────

  /** One file's STRING zone: [lo, hi] of a string column folded across
    * the file's row groups. The date zones above cover the time axis;
    * real 100 TB tables also prune on low-cardinality STRING columns
    * (source, lang, tenant) without paying physical partitioning —
    * cluster on the column at write time and persist per-file min/max.
    * `None` bounds mean the footer carried no stats for the column:
    * the file is unskippable, never incorrectly skipped. */
  case class StrFileZone(path: String, lo: Option[String], hi: Option[String])

  private def strManifestDir(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_szonemap")

  // manifest values are base64-encoded: arbitrary UTF-8 min/max
  // (quotes, newlines, backslashes) can never corrupt the JSON-lines
  // commit format, and decode is exact byte round-trip
  private def b64e(v: String): String =
    java.util.Base64.getEncoder.encodeToString(v.getBytes("UTF-8"))
  private def b64d(v: String): String =
    new String(java.util.Base64.getDecoder.decode(v), "UTF-8")

  /** Unsigned UTF-8 byte comparison — the ONE string order every layer
    * of this path already uses: parquet BINARY footer stats, Spark's
    * UTF8String.compareTo (so repartitionByRange boundaries), and
    * DuckDB's VARCHAR collation. Java's String.compareTo orders by
    * UTF-16 code units instead, which DIVERGES for supplementary
    * characters vs U+E000–U+FFFF (e.g. "￿" < "😀" in UTF-8 bytes
    * but > in UTF-16 units): folding or intersecting zones under the
    * Java order can declare an interval empty and silently skip a file
    * that contains the probed value. All zone folds and [lo, hi]
    * intersections below therefore go through this comparator. */
  private def utf8Lt(a: String, b: String): Boolean = {
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
  private def utf8Min(a: String, b: String): String = if (utf8Lt(b, a)) b else a
  private def utf8Max(a: String, b: String): String = if (utf8Lt(a, b)) b else a

  /** Write `df` as `nFiles` parquet files range-clustered and sorted on
    * `strCol`, then persist the string zone manifest
    * (`_szonemap/zones-00000.json`) from the fresh footers — the
    * [[zonemapClusteredWrite]] discipline for a categorical axis. */
  def strZonemapClusteredWrite(df: DataFrame, strCol: String, nFiles: Int,
      path: String): Unit = {
    df.repartitionByRange(nFiles, col(strCol))
      .sortWithinPartitions(col(strCol))
      .write.mode("overwrite").parquet(path)
    val s = df.sparkSession
    writeStrManifest(s, path, strFooterZones(s, path, strCol))
    writeAxisColumn(s, strManifestDir(path), strCol)
  }

  /** Next commit file under a manifest directory — `zones-00000.json`,
    * `zones-00001.json`, … (the `_delta_log` numbering all three axes
    * share; every reader merges all commits sorted by data-file path).
    * Each statistic FAMILY (`zones`, `nulls`) numbers its own commits,
    * so the families can commit at different cadences in one dir. */
  private def nextCommitFile(fs: org.apache.hadoop.fs.FileSystem,
      md: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    nextCommitFileWith(fs, md, "zones")

  private def nextCommitFileWith(fs: org.apache.hadoop.fs.FileSystem,
      md: org.apache.hadoop.fs.Path, prefix: String): org.apache.hadoop.fs.Path = {
    fs.mkdirs(md)
    val k = fs.listStatus(md).count(_.getPath.getName.startsWith(prefix + "-"))
    new org.apache.hadoop.fs.Path(md, f"$prefix%s-$k%05d.json")
  }

  private def writeStrManifest(s: SparkSession, path: String,
      man: Seq[StrFileZone]): Unit =
    writeStrZonesTo(s, path, strManifestDir(path), man)

  private def writeStrZonesTo(s: SparkSession, path: String,
      md: org.apache.hadoop.fs.Path, man: Seq[StrFileZone]): Unit = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(path)
    val out = fs.create(nextCommitFile(fs, md), true)
    try out.write(man.map { z =>
      val name = relativize(fs, root, new org.apache.hadoop.fs.Path(z.path))
      (z.lo, z.hi) match {
        case (Some(lo), Some(hi)) =>
          s"""{"file":"$name","lo64":"${b64e(lo)}","hi64":"${b64e(hi)}"}"""
        case _ => s"""{"file":"$name","unbounded":true}"""
      }
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** COMPOUND clustered write — ONE physical layout carrying BOTH zone
    * manifests: files range-clustered on (strCol, dateCol) get tight
    * string zones AND, within each string range, tight date zones, so
    * the common two-axis probe (tenant + time window) prunes on the
    * INTERSECTION of both survivor sets — the multi-column data-skipping
    * shape Delta/Iceberg stats give every column, built here from the
    * same footers in one metadata pass. */
  def compoundZonemapWrite(df: DataFrame, strCol: String, dateCol: String,
      nFiles: Int, path: String): Unit = {
    df.repartitionByRange(nFiles, col(strCol), col(dateCol))
      .sortWithinPartitions(col(strCol), col(dateCol))
      .write.mode("overwrite").parquet(path)
    val s = df.sparkSession
    writeManifest(s, path, zonemapManifest(s, path, dateCol))
    writeAxisColumn(s, manifestDir(path), dateCol)
    writeStrManifest(s, path, strFooterZones(s, path, strCol))
    writeAxisColumn(s, strManifestDir(path), strCol)
  }

  /** Two-axis pruned read over a [[compoundZonemapWrite]] layout: a
    * file is opened only if its STRING zone contains `value` AND its
    * date zone intersects [lo, hi] — survivor sets intersect by path.
    * Both predicates re-apply on the survivors (pruning is an
    * optimization, never a filter). Returns (frame, total, skipped).
    *
    * The two manifests are persisted independently, so a file present
    * in one but missing from the other (a crash between the two write
    * calls, or an append that updated only one) must be UNSKIPPABLE on
    * the missing axis, never silently dropped: survivors come from the
    * UNION of both file sets, with an absent zone read as unbounded,
    * and `total` counts the union. */
  def compoundPrunedRead(s: SparkSession, dir: String, strCol: String,
      value: String, dateCol: String, lo: String, hi: String)
      : (DataFrame, Int, Int) = {
    val loD = java.time.LocalDate.parse(lo).toEpochDay.toInt
    val hiD = java.time.LocalDate.parse(hi).toEpochDay.toInt
    val dateMan = readManifest(s, dir)
      .getOrElse(zonemapManifest(s, dir, dateCol))
    val strMan = readStrManifest(s, dir)
      .getOrElse(strFooterZones(s, dir, strCol))
    val dateByPath = dateMan.map(z => z.path -> z).toMap
    val strByPath = strMan.map(z => z.path -> z).toMap
    val allPaths = (dateByPath.keySet ++ strByPath.keySet).toSeq.sorted
    val survivors = allPaths.filter { p =>
      val dateOk = dateByPath.get(p).forall(z => !(z.hi < loD || z.lo > hiD))
      val strOk = strByPath.get(p).forall(z =>
        !(z.hi.exists(utf8Lt(_, value)) || z.lo.exists(utf8Lt(value, _))))
      dateOk && strOk
    }
    val base =
      if (survivors.isEmpty) s.read.parquet(dir).where(lit(false))
      else s.read.parquet(survivors: _*)
    (base.filter(col(strCol) === value &&
        col(dateCol).between(lit(lo).cast("date"), lit(hi).cast("date"))),
      allPaths.size, allPaths.size - survivors.size)
  }

  /** [[compoundPrunedRead]] under the gate: events clustered on
    * (event_type, day) into 20 files, probed for one type in a 6-day
    * window — the tenant+time shape. The aggregate must hash-match
    * DuckDB's plain filter over the raw table. */
  def q245CompoundPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q245_events_compound", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(strManifestDir(dir)))
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

  /** Read a persisted string zone manifest; None when the layout has no
    * `_szonemap/` directory. */
  def readStrManifest(s: SparkSession, dir: String): Option[Seq[StrFileZone]] =
    readStrZonesFrom(s, dir, strManifestDir(dir))

  private def readStrZonesFrom(s: SparkSession, dir: String,
      md: org.apache.hadoop.fs.Path): Option[Seq[StrFileZone]] = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(md)) None
    else {
      val bounded =
        """\{"file":"([^"]+)","lo64":"([A-Za-z0-9+/=]*)","hi64":"([A-Za-z0-9+/=]*)"\}""".r
      val unbounded = """\{"file":"([^"]+)","unbounded":true\}""".r
      val zones = fs.listStatus(md).toSeq
        .filter(_.getPath.getName.startsWith("zones-"))
        .sortBy(_.getPath.getName)
        .flatMap { f =>
          val in = fs.open(f.getPath)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          text.linesIterator.filter(_.nonEmpty).map {
            case bounded(name, lo, hi) =>
              StrFileZone(fs.makeQualified(
                new org.apache.hadoop.fs.Path(dir, name)).toString,
                Some(b64d(lo)), Some(b64d(hi)))
            case unbounded(name) =>
              StrFileZone(fs.makeQualified(
                new org.apache.hadoop.fs.Path(dir, name)).toString,
                None, None)
            case bad => throw new IllegalStateException(
              s"bad string manifest line: $bad")
          }.toSeq
        }
      Some(zones.sortBy(_.path))
    }
  }

  /** Footer-derived STRING zones for every data file in `dir` —
    * parquet BINARY(UTF8) statistics decode to exact strings, and
    * unsigned-lexicographic parquet ordering equals Spark's UTF8String
    * binary comparison, so [lo, hi] intersection is sound. */
  private def strFooterZones(s: SparkSession, dir: String,
      strCol: String, known: Set[String] = Set.empty): Seq[StrFileZone] = {
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    listDataFiles(fs, root)
      .filterNot(f => known.contains(fs.makeQualified(f.getPath).toString))
      .sortBy(f => relativize(fs, root, f.getPath))
      .map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val zones = rd.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == strCol).flatMap { c =>
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else Some((
                st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8,
                st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8))
            }
          }
          val qual = fs.makeQualified(f.getPath).toString
          // fold row-group bounds under the UTF-8 byte order the stats
          // were computed in — Seq.min would fold under UTF-16 units;
          // any group without usable stats makes the whole file
          // unbounded (see footerZones)
          if (zones.isEmpty || zones.size < rd.getFooter.getBlocks.size)
            StrFileZone(qual, None, None)
          else StrFileZone(qual, Some(zones.map(_._1).reduce(utf8Min)),
            Some(zones.map(_._2).reduce(utf8Max)))
        } finally rd.close()
      }
  }

  /** STRING-ZONE PRUNED READ — answer an equality probe on the
    * clustering column reading only files whose [lo, hi] zone contains
    * the value (the partition-prune effect without physical partition
    * directories). The predicate is re-applied on survivors — pruning
    * is an optimization, never a filter — so results equal a full scan
    * by construction (gated: q241 vs the plain-filter oracle;
    * StorageSpec pins files actually skipped via inputFiles). Returns
    * (frame, total files, skipped files). */
  def strPrunedRead(s: SparkSession, dir: String, strCol: String,
      value: String): (DataFrame, Int, Int) = {
    val man = readStrManifest(s, dir)
      .getOrElse(strFooterZones(s, dir, strCol))
    val survivors = man.filterNot(z =>
      z.hi.exists(utf8Lt(_, value)) || z.lo.exists(utf8Lt(value, _)))
    val base =
      if (survivors.isEmpty) s.read.parquet(dir).where(lit(false))
      else s.read.parquet(survivors.map(_.path): _*)
    (base.filter(col(strCol) === value), man.size, man.size - survivors.size)
  }

  /** [[strPrunedRead]] under the gate: documents range-clustered on
    * `source` into 16 files, probed for one source — the categorical
    * sibling of q216's date window. The layout build is cached per
    * (session, sf) like every layout query; the probe aggregate must
    * hash-match DuckDB's plain filter over the raw table. */
  def q241StringPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q241_docs_by_source", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(strManifestDir(dir)))
      strZonemapClusteredWrite(
        documents(s, d).select(col("source"), col("lang"), col("n_chars")),
        "source", 16, dir)
    val (probe, _, _) = strPrunedRead(s, dir, "source", "src12")
    probe.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
  }

  val q241Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE source = 'src12'
      |GROUP BY 1""".stripMargin

  // ─────────────────────── numeric zone maps ───────────────────────

  /** One file's NUMERIC zone: [lo, hi] of a numeric column folded
    * across the file's row groups (r16 verdict task 3 — numeric range
    * probes like `o_totalprice BETWEEN a AND b` are the most common
    * real probe shape after dates). Bounds are EXACT decimal values
    * ([[BigDecimal]]): integral stats convert losslessly, and
    * float/double stats go through the shortest-round-trip decimal
    * string, which PRESERVES the IEEE ordering of distinct doubles —
    * so interval/zone comparisons can never invert across the codec.
    * `None` bounds mean the footer carried no usable stats (absent
    * column, or NaN-poisoned float/double min/max — parquet-mr folds
    * NaN into Math.min/max, so a NaN-bearing file surfaces as NaN
    * stats): the file is unskippable, never incorrectly skipped. */
  case class NumFileZone(path: String,
      lo: Option[BigDecimal], hi: Option[BigDecimal])

  private def numManifestDir(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_nzonemap")

  /** The numeric-axis clustering column a layout advertises, if any. */
  def numZonemapColumn(s: SparkSession, dir: String): Option[String] =
    readAxisColumn(s, numManifestDir(dir))

  /** Write `df` as `nFiles` parquet files range-clustered and sorted on
    * numeric `numCol`, then persist the numeric zone manifest
    * (`_nzonemap/zones-00000.json`) from the fresh footers — the
    * [[zonemapClusteredWrite]] discipline for a measure axis. */
  def numZonemapClusteredWrite(df: DataFrame, numCol: String, nFiles: Int,
      path: String): Unit = {
    df.repartitionByRange(nFiles, col(numCol))
      .sortWithinPartitions(col(numCol))
      .write.mode("overwrite").parquet(path)
    val s = df.sparkSession
    writeNumManifest(s, path, numFooterZones(s, path, numCol))
    writeAxisColumn(s, numManifestDir(path), numCol)
  }

  private def writeNumManifest(s: SparkSession, path: String,
      man: Seq[NumFileZone]): Unit =
    writeNumZonesTo(s, path, numManifestDir(path), man)

  private def writeNumZonesTo(s: SparkSession, path: String,
      md: org.apache.hadoop.fs.Path, man: Seq[NumFileZone]): Unit = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(path)
    val out = fs.create(nextCommitFile(fs, md), true)
    try out.write(man.map { z =>
      val name = relativize(fs, root, new org.apache.hadoop.fs.Path(z.path))
      (z.lo, z.hi) match {
        // toPlainString: no scientific notation in the manifest, and
        // BigDecimal(str) round-trips it exactly
        case (Some(lo), Some(hi)) =>
          s"""{"file":"$name","lo":"${lo.underlying.toPlainString}","hi":"${hi.underlying.toPlainString}"}"""
        case _ => s"""{"file":"$name","unbounded":true}"""
      }
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Read a persisted numeric zone manifest; None when the layout has
    * no `_nzonemap/` directory. */
  def readNumManifest(s: SparkSession, dir: String): Option[Seq[NumFileZone]] =
    readNumZonesFrom(s, dir, numManifestDir(dir))

  private def readNumZonesFrom(s: SparkSession, dir: String,
      md: org.apache.hadoop.fs.Path): Option[Seq[NumFileZone]] = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(md)) None
    else {
      val bounded =
        """\{"file":"([^"]+)","lo":"(-?[0-9.]+)","hi":"(-?[0-9.]+)"\}""".r
      val unbounded = """\{"file":"([^"]+)","unbounded":true\}""".r
      val zones = fs.listStatus(md).toSeq
        .filter(_.getPath.getName.startsWith("zones-"))
        .sortBy(_.getPath.getName)
        .flatMap { f =>
          val in = fs.open(f.getPath)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          text.linesIterator.filter(_.nonEmpty).map {
            case bounded(name, lo, hi) =>
              NumFileZone(fs.makeQualified(
                new org.apache.hadoop.fs.Path(dir, name)).toString,
                Some(BigDecimal(lo)), Some(BigDecimal(hi)))
            case unbounded(name) =>
              NumFileZone(fs.makeQualified(
                new org.apache.hadoop.fs.Path(dir, name)).toString,
                None, None)
            case bad => throw new IllegalStateException(
              s"bad numeric manifest line: $bad")
          }.toSeq
        }
      Some(zones.sortBy(_.path))
    }
  }

  /** Footer min/max of a numeric column chunk as exact decimals.
    * INT32/INT64 convert losslessly (an int-backed DECIMAL logical type
    * re-applies its scale); FLOAT/DOUBLE go through the shortest
    * round-trip string; NaN or binary-backed stats yield None —
    * unskippable, never wrong. */
  private def numChunkStat(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[(BigDecimal, BigDecimal)] = {
    val st = c.getStatistics
    if (st == null || !st.hasNonNullValue) return None
    val ann = c.getPrimitiveType.getLogicalTypeAnnotation
    def conv(v: Any): Option[BigDecimal] = (v, ann) match {
      case (n: Number,
          dec: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        n match {
          case i: java.lang.Integer => Some(BigDecimal(BigInt(i.longValue), dec.getScale))
          case l: java.lang.Long => Some(BigDecimal(BigInt(l.longValue), dec.getScale))
          case _ => None // binary-backed decimal: conservative
        }
      case (d: java.lang.Double, _) =>
        if (d.isNaN) None else Some(BigDecimal(d.toString))
      case (f: java.lang.Float, _) =>
        if (f.isNaN) None else Some(BigDecimal(f.toString))
      case (i: java.lang.Integer, _) => Some(BigDecimal(i.intValue))
      case (l: java.lang.Long, _) => Some(BigDecimal(l.longValue))
      case _ => None
    }
    for (lo <- conv(st.genericGetMin); hi <- conv(st.genericGetMax))
      yield (lo, hi)
  }

  /** Footer-derived NUMERIC zones for every data file in `dir`. */
  private def numFooterZones(s: SparkSession, dir: String,
      numCol: String, known: Set[String] = Set.empty): Seq[NumFileZone] = {
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    listDataFiles(fs, root)
      .filterNot(f => known.contains(fs.makeQualified(f.getPath).toString))
      .sortBy(f => relativize(fs, root, f.getPath))
      .map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val zones = rd.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == numCol)
              .flatMap(numChunkStat)
          }
          val qual = fs.makeQualified(f.getPath).toString
          // a single NaN-poisoned (None) row group must make the whole
          // FILE unbounded — folding only the defined groups would
          // narrow the zone below rows the file actually holds
          if (zones.isEmpty ||
              zones.size < rd.getFooter.getBlocks.size)
            NumFileZone(qual, None, None)
          else NumFileZone(qual, Some(zones.map(_._1).min),
            Some(zones.map(_._2).max))
        } finally rd.close()
      }
  }

  /** ATTACH a date-axis zone manifest to an EXISTING layout — the
    * post-hoc stats step of Delta's OPTIMIZE ZORDER: any write path
    * (z-order, a foreign writer) whose files happen to be clustered on
    * a column can cash that in by persisting footer-derived zones +
    * the `_column` sidecar, and the automatic rule serves probes from
    * then on. One footer walk, zero data pages. Composable: attach the
    * date, numeric and string axes independently over ONE layout and a
    * multi-axis probe prunes on the survivor INTERSECTION (q269 gates
    * the z-order 2-D case). */
  def attachDateZonemap(s: SparkSession, dir: String, dateCol: String): Unit = {
    writeManifest(s, dir, zonemapManifest(s, dir, dateCol))
    writeAxisColumn(s, manifestDir(dir), dateCol)
  }

  /** [[attachDateZonemap]] on the numeric axis. */
  def attachNumZonemap(s: SparkSession, dir: String, numCol: String): Unit = {
    writeNumManifest(s, dir, numFooterZones(s, dir, numCol))
    writeAxisColumn(s, numManifestDir(dir), numCol)
  }

  /** [[attachDateZonemap]] on the string axis. */
  def attachStrZonemap(s: SparkSession, dir: String, strCol: String): Unit = {
    writeStrManifest(s, dir, strFooterZones(s, dir, strCol))
    writeAxisColumn(s, strManifestDir(dir), strCol)
  }

  // ───────────── general multi-column zone store (_colzones) ─────────────

  /** Per-COLUMN zone manifests — the Delta "stats for every column"
    * shape, closing the one-column-per-axis limitation of the three
    * legacy manifest dirs: each column gets its own
    * `_colzones/<col>/zones-<k>.json` plus a `_type` sidecar naming
    * the codec (`date` | `str` | `num`), so ONE layout can carry zones
    * for ANY number of columns — two numeric z-order keys, a tenant
    * string AND a day, whatever the workload probes. The automatic
    * rule intersects EVERY constrained column's survivor set. The
    * legacy single-column axes keep working unchanged and intersect
    * with these. */
  case class ColumnZones(
      dateCols: Seq[(String, Seq[FileZone])],
      strCols: Seq[(String, Seq[StrFileZone])],
      numCols: Seq[(String, Seq[NumFileZone])],
      nullCols: Seq[(String, Seq[NullStat])] = Seq.empty) {
    def isEmpty: Boolean =
      dateCols.isEmpty && strCols.isEmpty && numCols.isEmpty &&
        nullCols.isEmpty
    def allPaths: Seq[String] =
      dateCols.flatMap(_._2.map(_.path)) ++
        strCols.flatMap(_._2.map(_.path)) ++
        numCols.flatMap(_._2.map(_.path)) ++
        nullCols.flatMap(_._2.map(_.path))
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
      colName: String, known: Set[String] = Set.empty): Seq[NullStat] = {
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    listDataFiles(fs, root)
      .filterNot(f => known.contains(fs.makeQualified(f.getPath).toString))
      .sortBy(f => relativize(fs, root, f.getPath))
      .map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val blocks = rd.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val counts = blocks.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == colName)
              .flatMap { c =>
                val st = c.getStatistics
                if (st == null || !st.isNumNullsSet) None
                else Some(st.getNumNulls)
              }
          }
          val qual = fs.makeQualified(f.getPath).toString
          // one group without a null count makes the FILE unknown —
          // the zone-fold discipline on the null axis
          if (counts.exists(_.isEmpty)) NullStat(qual, None, rows)
          else NullStat(qual, Some(counts.flatten.sum), rows)
        } finally rd.close()
      }
  }

  private def writeNullStatsTo(s: SparkSession, path: String,
      md: org.apache.hadoop.fs.Path, stats: Seq[NullStat]): Unit = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(path)
    val out = fs.create(nextCommitFileWith(fs, md, "nulls"), true)
    try out.write(stats.map { z =>
      val name = relativize(fs, root, new org.apache.hadoop.fs.Path(z.path))
      s"""{"file":"$name","nulls":${z.nulls.getOrElse(-1L)},"rows":${z.rows}}"""
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readNullStatsFrom(s: SparkSession, dir: String,
      md: org.apache.hadoop.fs.Path): Option[Seq[NullStat]] = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(md)) None
    else {
      val re = """\{"file":"([^"]+)","nulls":(-?\d+),"rows":(\d+)\}""".r
      val stats = fs.listStatus(md).toSeq
        .filter(_.getPath.getName.startsWith("nulls-"))
        .sortBy(_.getPath.getName)
        .flatMap { f =>
          val in = fs.open(f.getPath)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          text.linesIterator.filter(_.nonEmpty).map {
            case re(name, n, r) =>
              NullStat(
                fs.makeQualified(new org.apache.hadoop.fs.Path(dir, name)).toString,
                if (n.toLong < 0) None else Some(n.toLong), r.toLong)
          }
        }
      if (stats.isEmpty) None else Some(stats.sortBy(_.path))
    }
  }

  private def colzonesRoot(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_colzones")
  private def colzoneDir(dir: String, c: String) =
    new org.apache.hadoop.fs.Path(colzonesRoot(dir), c)

  private def writeTypeSidecar(s: SparkSession,
      md: org.apache.hadoop.fs.Path, t: String): Unit = {
    val fs = md.getFileSystem(s.sessionState.newHadoopConf())
    fs.mkdirs(md)
    val out = fs.create(new org.apache.hadoop.fs.Path(md, "_type"), true)
    try out.write(t.getBytes("UTF-8")) finally out.close()
  }

  /** Persist footer-derived zones for every listed column under
    * `_colzones/`, dispatching the codec on the column's Spark type
    * (date → epoch-day ints, string → base64 UTF-8 bounds, numeric →
    * exact decimals). One footer walk per column, zero data pages —
    * the post-write ANALYZE step. Unsupported types are rejected
    * loudly rather than silently unzoned. */
  def attachColumnZones(s: SparkSession, dir: String,
      cols: Seq[String]): Unit = {
    val schema = s.read.parquet(dir).schema
    cols.foreach { c =>
      val md = colzoneDir(dir, c)
      schema(c).dataType match {
        case org.apache.spark.sql.types.DateType =>
          writeDateZonesTo(s, dir, md, footerZones(s, dir, c, Set.empty))
          writeTypeSidecar(s, md, "date")
        case org.apache.spark.sql.types.StringType =>
          writeStrZonesTo(s, dir, md, strFooterZones(s, dir, c))
          writeTypeSidecar(s, md, "str")
        case _: org.apache.spark.sql.types.NumericType =>
          writeNumZonesTo(s, dir, md, numFooterZones(s, dir, c))
          writeTypeSidecar(s, md, "num")
        case other => throw new IllegalArgumentException(
          s"no zone codec for column '$c' of type $other")
      }
      // every codec gets the null axis too (same footer walk family):
      // zones describe the non-null values, nulls-<k>.json the rest
      writeNullStatsTo(s, dir, md, footerNullStats(s, dir, c))
    }
  }

  private def readTypeSidecar(fs: org.apache.hadoop.fs.FileSystem,
      md: org.apache.hadoop.fs.Path): Option[String] = {
    val tf = new org.apache.hadoop.fs.Path(md, "_type")
    if (!fs.exists(tf)) None
    else {
      val in = fs.open(tf)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** Every column's persisted zones under `_colzones/`, grouped by
    * codec — empty when the store is absent. Driver file IO only. */
  def readColumnZones(s: SparkSession, dir: String): ColumnZones = {
    val root = colzonesRoot(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(root)) return ColumnZones(Seq.empty, Seq.empty, Seq.empty)
    val subdirs = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .sortBy(_.getPath.getName)
    val dates = Seq.newBuilder[(String, Seq[FileZone])]
    val strs = Seq.newBuilder[(String, Seq[StrFileZone])]
    val nums = Seq.newBuilder[(String, Seq[NumFileZone])]
    val nulls = Seq.newBuilder[(String, Seq[NullStat])]
    subdirs.foreach { sd =>
      val c = sd.getPath.getName
      readTypeSidecar(fs, sd.getPath).foreach { t =>
        t match {
          case "date" => readDateZonesFrom(s, dir, sd.getPath)
            .foreach(z => dates += (c -> z))
          case "str" => readStrZonesFrom(s, dir, sd.getPath)
            .foreach(z => strs += (c -> z))
          case "num" => readNumZonesFrom(s, dir, sd.getPath)
            .foreach(z => nums += (c -> z))
          case _ => () // unknown codec: skip, never mis-read
        }
        readNullStatsFrom(s, dir, sd.getPath)
          .foreach(z => nulls += (c -> z))
      }
    }
    ColumnZones(dates.result(), strs.result(), nums.result(), nulls.result())
  }

  /** APPEND a clustered batch to a `_colzones/` layout and COMMIT, for
    * EVERY column the store carries, a zone file covering only the NEW
    * data files — the [[numZonemapAppend]] discipline generalized to
    * the multi-column store. The column set and each column's codec
    * come from the store itself (`_type` sidecars), so callers never
    * restate the schema; per-column manifest maintenance stays
    * O(new files) footer reads (the commit numbering means readers
    * merge commits path-sorted, identical to a from-scratch
    * [[attachColumnZones]] rebuild — StorageSpec pins the equality,
    * q271 gates a probe spanning both commits through the automatic
    * rule). The batch is range-clustered on `clusterCol`; other
    * columns' zones in the new files are whatever the data gives them
    * (wide zones prune nothing but never lie). */
  def colzonesAppend(df: DataFrame, clusterCol: String, nFiles: Int,
      path: String): Unit = {
    val s = df.sparkSession
    val prior = readColumnZones(s, path)
    require(!prior.isEmpty,
      s"no _colzones store under $path to append to — attachColumnZones first")
    df.repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(col(clusterCol))
      .write.mode("append").parquet(path)
    prior.dateCols.foreach { case (c, zones) =>
      writeDateZonesTo(s, path, colzoneDir(path, c),
        footerZones(s, path, c, zones.map(_.path).toSet))
    }
    prior.strCols.foreach { case (c, zones) =>
      writeStrZonesTo(s, path, colzoneDir(path, c),
        strFooterZones(s, path, c, zones.map(_.path).toSet))
    }
    prior.numCols.foreach { case (c, zones) =>
      writeNumZonesTo(s, path, colzoneDir(path, c),
        numFooterZones(s, path, c, zones.map(_.path).toSet))
    }
    prior.nullCols.foreach { case (c, stats) =>
      writeNullStatsTo(s, path, colzoneDir(path, c),
        footerNullStats(s, path, c, stats.map(_.path).toSet))
    }
  }

  /** [[survivorsFromManifests]] generalized to ANY number of
    * constrained columns per codec: each (manifest, interval-union)
    * pair must accept a file (absent-from-manifest = unskippable on
    * that column), all pairs INTERSECT. None when nothing constrains. */
  def survivorsFromColumnSets(
      dateSets: Seq[(Seq[FileZone], Seq[(Int, Int)])],
      strSets: Seq[(Seq[StrFileZone], Seq[(Option[String], Option[String])])],
      numSets: Seq[(Seq[NumFileZone], Seq[(Option[BigDecimal], Option[BigDecimal])])],
      nullSets: Seq[(Seq[NullStat], Boolean)] = Seq.empty)
      : Option[(Seq[String], Int)] = {
    if (dateSets.isEmpty && strSets.isEmpty && numSets.isEmpty &&
      nullSets.isEmpty) return None
    val allPaths = (dateSets.flatMap(_._1.map(_.path)) ++
      strSets.flatMap(_._1.map(_.path)) ++
      numSets.flatMap(_._1.map(_.path)) ++
      nullSets.flatMap(_._1.map(_.path))).distinct.sorted
    val dateBy = dateSets.map { case (man, ivs) =>
      (man.map(z => z.path -> z).toMap, ivs) }
    val strBy = strSets.map { case (man, ivs) =>
      (man.map(z => z.path -> z).toMap, ivs) }
    val numBy = numSets.map { case (man, ivs) =>
      (man.map(z => z.path -> z).toMap, ivs) }
    val nullBy = nullSets.map { case (man, wantNull) =>
      (man.map(z => z.path -> z).toMap, wantNull) }
    val survivors = allPaths.filter { p =>
      dateBy.forall { case (by, ivs) =>
        by.get(p).forall(z => ivs.exists { case (lo, hi) =>
          !(z.hi < lo || z.lo > hi) })
      } &&
      // null axis: IS NULL skips no-null files; a needed NON-null
      // (explicit IS NOT NULL, or any value constraint) skips all-null
      // files; unknown counts always survive
      nullBy.forall { case (by, wantNull) =>
        by.get(p).forall(z =>
          if (wantNull) z.nulls.forall(_ > 0)
          else z.nulls.forall(_ < z.rows))
      } &&
      strBy.forall { case (by, ivs) =>
        by.get(p).forall(z => ivs.exists { case (lo, hi) =>
          !(hi.exists(h => z.lo.exists(zl => utf8Lt(h, zl))) ||
            lo.exists(l => z.hi.exists(zh => utf8Lt(zh, l)))) })
      } &&
      numBy.forall { case (by, ivs) =>
        by.get(p).forall(z => ivs.exists { case (lo, hi) =>
          !(hi.exists(h => z.lo.exists(zl => h < zl)) ||
            lo.exists(l => z.hi.exists(zh => zh < l))) })
      }
    }
    Some((survivors, allPaths.size))
  }

  /** Footer-walk rebuild of a numeric manifest — the referee
    * [[zonemapManifest]] is for the date axis (O(files) metadata IO,
    * zero data pages). */
  def numZonemapManifest(s: SparkSession, dir: String,
      numCol: String): Seq[NumFileZone] = numFooterZones(s, dir, numCol)

  /** Footer-walk rebuild of a string manifest. */
  def strZonemapManifest(s: SparkSession, dir: String,
      strCol: String): Seq[StrFileZone] = strFooterZones(s, dir, strCol)

  /** APPEND a clustered batch to a numeric layout and COMMIT only the
    * new files' zones (the [[zonemapAppend]] discipline on the numeric
    * axis): the append writes its own `zones-<k>.json` from only ITS
    * OWN files' footers — manifest maintenance stays O(new files) —
    * and [[readNumManifest]] merges commits sorted by path, identical
    * to a from-scratch rebuild (StorageSpec pins the equality; q268
    * gates a probe spanning both commits through the automatic rule). */
  def numZonemapAppend(df: DataFrame, numCol: String, nFiles: Int,
      path: String): Unit = {
    val s = df.sparkSession
    val prior = readNumManifest(s, path).getOrElse(Seq.empty)
    df.repartitionByRange(nFiles, col(numCol))
      .sortWithinPartitions(col(numCol))
      .write.mode("append").parquet(path)
    writeNumManifest(s, path,
      numFooterZones(s, path, numCol, prior.map(_.path).toSet))
    writeAxisColumn(s, numManifestDir(path), numCol)
  }

  /** [[numZonemapAppend]]'s sibling on the string axis. */
  def strZonemapAppend(df: DataFrame, strCol: String, nFiles: Int,
      path: String): Unit = {
    val s = df.sparkSession
    val prior = readStrManifest(s, path).getOrElse(Seq.empty)
    df.repartitionByRange(nFiles, col(strCol))
      .sortWithinPartitions(col(strCol))
      .write.mode("append").parquet(path)
    writeStrManifest(s, path,
      strFooterZones(s, path, strCol, prior.map(_.path).toSet))
    writeAxisColumn(s, strManifestDir(path), strCol)
  }

  /** Executed OPTIMIZE (the compaction the q144 planner only PLANS,
    * the Delta/Iceberg `OPTIMIZE` maintenance step): rewrite an
    * unpartitioned zone-mapped layout — typically fragmented by many
    * append commits — into `nFiles` range-clustered files and
    * RE-DERIVE every piece of layout metadata from the new footers:
    * the legacy axis manifests keep their columns
    * (`_zonemap`/`_szonemap`/`_nzonemap` via the attach* rebuilds),
    * the `_colzones/` store keeps its column set and codecs, and
    * persisted `_sketch/` statistics SURVIVE via
    * [[SketchPlanner.SketchManifest.restampAfterRowPreservingRewrite]]
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
    val conf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    require(!fs.listStatus(root).exists(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")),
      s"optimizeCompact compacts unpartitioned layouts; $dir has partition dirs")
    // the metadata to re-derive, read BEFORE touching the layout
    val dateAxis = readAxisColumn(s, manifestDir(dir))
    val strAxis = readAxisColumn(s, strManifestDir(dir))
    val numAxis = readAxisColumn(s, numManifestDir(dir))
    val czRoot = colzonesRoot(dir)
    val czCols: Seq[String] =
      if (fs.exists(czRoot))
        fs.listStatus(czRoot).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).sorted
      else Seq.empty
    // stage the clustered rewrite beside the layout; the job reads the
    // old files in full before anything is deleted
    val staging = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + ".compact-staging")
    fs.delete(staging, true)
    s.read.parquet(dir)
      .repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(col(clusterCol))
      .write.mode("overwrite").parquet(staging.toString)
    // swap: old data files + zone metadata out, staged files in
    // (`_sketch/` stays — its stats describe rows, not files)
    listDataFiles(fs, root).foreach(f => fs.delete(f.getPath, false))
    Seq(manifestDir(dir), strManifestDir(dir), numManifestDir(dir), czRoot)
      .foreach(p => fs.delete(p, true))
    listDataFiles(fs, staging).foreach { f =>
      fs.rename(f.getPath,
        new org.apache.hadoop.fs.Path(root, f.getPath.getName))
    }
    fs.delete(staging, true)
    // re-derive every manifest the layout carried from the new footers
    dateAxis.foreach(c => attachDateZonemap(s, dir, c))
    strAxis.foreach(c => attachStrZonemap(s, dir, c))
    numAxis.foreach(c => attachNumZonemap(s, dir, c))
    if (czCols.nonEmpty) attachColumnZones(s, dir, czCols)
    // row-preserving ⇒ persisted sketch stats are still exact: restamp
    SketchPlanner.SketchManifest.restampAfterRowPreservingRewrite(s, dir)
  }

  /** Decimal-ordered interval intersection for the rule's conjunct
    * folding — the [[strIntervalIntersect]] shape on the numeric axis. */
  def numIntervalIntersect(
      a: (Option[BigDecimal], Option[BigDecimal]),
      b: (Option[BigDecimal], Option[BigDecimal]))
      : Option[(Option[BigDecimal], Option[BigDecimal])] = {
    val lo = (a._1, b._1) match {
      case (Some(x), Some(y)) => Some(x.max(y))
      case (x, y) => x.orElse(y)
    }
    val hi = (a._2, b._2) match {
      case (Some(x), Some(y)) => Some(x.min(y))
      case (x, y) => x.orElse(y)
    }
    (lo, hi) match {
      case (Some(l), Some(h)) if h < l => None
      case _ => Some((lo, hi))
    }
  }

  /** ZONE-MAP PRUNED READ — answer a date-range probe over a
    * [[zonemapClusteredWrite]] layout reading ONLY the files whose zone
    * intersects [lo, hi]: skipped files are absent from the returned
    * frame's file index, so they are never opened (StorageSpec pins
    * that via the scan's numFiles/filesSize metrics and inputFiles).
    * The predicate is re-applied on the survivors — pruning is an
    * optimization, never a filter — so results equal a full scan by
    * construction (gated: q216 vs the plain-filter oracle). Returns
    * (frame, total files, skipped files).
    *
    * Scale shape: plan cost is ONE small manifest file when the layout
    * was written by [[zonemapClusteredWrite]] (stats persisted at write
    * time — the Delta/Iceberg planning shape; at 100 TB the manifest
    * would be a table of its own), falling back to per-file footer
    * reads for foreign layouts; execution touches only surviving files,
    * so a quarter-long probe on a years-long clustered table reads ~the
    * quarter. */
  def prunedRead(s: SparkSession, dir: String, dateCol: String,
      lo: String, hi: String): (DataFrame, Int, Int) = {
    val loD = java.time.LocalDate.parse(lo).toEpochDay.toInt
    val hiD = java.time.LocalDate.parse(hi).toEpochDay.toInt
    val man = readManifest(s, dir)
      .getOrElse(zonemapManifest(s, dir, dateCol))
    val survivors = man.filterNot(z => z.hi < loD || z.lo > hiD)
    val base =
      if (survivors.isEmpty) s.read.parquet(dir).where(lit(false))
      else s.read.parquet(survivors.map(_.path): _*)
    (base.filter(col(dateCol).between(lit(lo).cast("date"), lit(hi).cast("date"))),
      man.size, man.size - survivors.size)
  }

  /** MANIFEST-AS-DATAFRAME pruned read — [[prunedRead]]'s 100 TB form
    * (round-13 verdict task 4): [[prunedRead]] materializes the WHOLE
    * manifest driver-side (`Seq[FileZone]`), right at 64 files but O(all
    * files) at a million-file table. Here the zone predicate is
    * evaluated DISTRIBUTED over the manifest read as a DataFrame, and
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
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    val survivors = man.filter(!dead).select(col("file"))
      .collect() // O(surviving files) — the scan's own plan-time listing
      .map(r => fs.makeQualified(
        new org.apache.hadoop.fs.Path(dir, r.getString(0))).toString)
    val base =
      if (survivors.isEmpty) s.read.parquet(dir).where(lit(false))
      else s.read.parquet(survivors.toSeq: _*)
    (base.filter(col(dateCol).between(lit(lo).cast("date"), lit(hi).cast("date"))),
      stats.getLong(0), stats.getLong(1))
  }

  /** The `_zonemap/` commit files as a DataFrame — the
    * manifest-is-a-table stance (see [[manifestDir]] for why the
    * directory, not the files, carries the underscore). */
  def manifestDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // glob INTO the children: Hadoop's hidden-file filter applies to the
    // final glob matches (zones-*.json — visible names), not to the
    // underscore ancestor, so this reads what a bare `_zonemap` path
    // would filter out
    s.createDataset(s.sparkContext.textFile(
        new org.apache.hadoop.fs.Path(manifestDir(dir), "zones-*.json").toString))
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType
        .fromDDL("file STRING, lo INT, hi INT")).as("z"))
      .select(col("z.file").as("file"), col("z.lo").as("lo"), col("z.hi").as("hi"))
      .filter(col("file").isNotNull)
  }

  /** The q213 census CASHED IN as a real read path under the gate: land
    * lineitem's (ship_date, l_quantity) as a 64-file date-clustered
    * layout (built once per session — the q70 amortization stance: a
    * layout is written once and serves every later query), then answer
    * the 1997-Q1 probe through [[prunedRead]] and aggregate per month.
    * The oracle is the SAME aggregate as a plain filter over the source
    * table — if pruning ever dropped or duplicated a file, the
    * row/hash gate fails. File-skipping itself is pinned in StorageSpec
    * (scan metrics: only surviving files opened) and quantified in
    * BASELINE.md §"Round-13: zone-map pruned read A/B"; it cannot be
    * oracled here because the
    * range partitioner's sampled file boundaries are not replicable in
    * SQL. Quantity accumulates in DECIMAL (the q70 convention). */
  /** Build (once per session) and return the 64-file ship_date-clustered
    * lineitem layout q216/q227 probe. */
  private def q216Layout(s: SparkSession, d: String): String = {
    val dir = scratch(s, "q216_li_shipclustered", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")))
      zonemapClusteredWrite(
        lineitem(s, d).select(to_date(col("l_shipdate")).as("ship_date"),
          col("l_quantity")),
        "ship_date", 64, dir)
    // Backfill the `_column` sidecar on an otherwise-valid CACHED layout
    // written before the sidecar existed (r15 advice): without it
    // zonemapColumn returns None, the automatic rule never fires, and
    // q247's require fails permanently until the scratch dir is wiped.
    else if (zonemapColumn(s, dir).isEmpty)
      writeAxisColumn(s, manifestDir(dir), "ship_date")
    dir
  }

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
    val dir = scratch(s, "q241_docs_by_source", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(strManifestDir(dir)))
      strZonemapClusteredWrite(
        documents(s, d).select(col("source"), col("lang"), col("n_chars")),
        "source", 16, dir)
    else if (strZonemapColumn(s, dir).isEmpty) // legacy cached layout
      writeAxisColumn(s, strManifestDir(dir), "source")
    val probe = s.read.parquet(dir)
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
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(manifestDir(dir))) {
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

  /** PARTITION-DIR + ZONE-MAP layered write (r16 verdict task 4): data
    * lands under `partCol=value/` directories (Spark's own partition
    * pruning handles that axis) AND, within each partition, files are
    * range-clustered on `dateCol` with per-file zones persisted in ONE
    * root-level `_zonemap/` manifest holding partition-relative paths —
    * the Delta/Iceberg layering where directory pruning and file-stat
    * skipping compose. The range partitioning on (partCol, dateCol)
    * makes each output task hold a contiguous (partition, date) slice,
    * so within a partition directory the per-file date zones are tight. */
  def partitionedZonemapClusteredWrite(df: DataFrame, partCol: String,
      dateCol: String, nFiles: Int, path: String): Unit = {
    df.repartitionByRange(nFiles, col(partCol), col(dateCol))
      .sortWithinPartitions(col(partCol), col(dateCol))
      .write.partitionBy(partCol).mode("overwrite").parquet(path)
    val s = df.sparkSession
    writeManifest(s, path, zonemapManifest(s, path, dateCol))
    writeAxisColumn(s, manifestDir(path), dateCol)
  }

  /** NUMERIC-RANGE automatic pruning under the gate (r16 verdict
    * task 3): orders range-clustered on `o_totalprice` into 32 files,
    * probed with a BETWEEN on the clustered measure through a plain
    * `read.filter` — the probe shape (`price BETWEEN a AND b`) real
    * fact tables hit constantly and the date/string axes couldn't
    * serve. The q247 `require` pattern pins that the rewrite fired. */
  def q265AutoPruneNumRange(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q265_orders_by_price", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(numManifestDir(dir)))
      numZonemapClusteredWrite(
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
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(manifestDir(dir)))
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
    * axis): the base write lands orders under 250k, [[numZonemapAppend]]
    * adds the rest reading only its own footers, and the probe window
    * (200k..300k) deliberately SPANS both commits — rows from base
    * files, appended files, and the merged-manifest skip decision all
    * have to be right for the hash to match, and the probe runs through
    * the AUTOMATIC rule (plain read.filter, require pins the shrink). */
  def q268NumAppendPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q268_orders_appended", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(numManifestDir(dir))) {
      val o = orders(s, d).select(col("o_totalprice"), col("o_orderpriority"))
      numZonemapClusteredWrite(
        o.filter(col("o_totalprice") < 250000.0), "o_totalprice", 16, dir)
      numZonemapAppend(
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
    * then [[attachDateZonemap]] + [[attachNumZonemap]] persist
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
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(numManifestDir(dir))) {
      val df = events(s, d).select(
        to_date(col("ts")).as("ev_date"), col("value"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("dayi"),
        round(col("value") * 100).cast("long").as("centi"))
      zorderWrite(df, "dayi", "centi", 1024, 32, dir)
      attachDateZonemap(s, dir, "ev_date")
      attachNumZonemap(s, dir, "value")
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
    * join keys, both NUMERIC — the case the single-column-per-axis
    * legacy manifests cannot hold — with per-column zones attached via
    * [[attachColumnZones]]; a 2-D range probe through a plain
    * read.filter prunes on the intersection of BOTH columns' survivor
    * sets (q79's Morton layout finally cashed in by the automatic
    * rule). The probe window sits in the low key region so it selects
    * rows AND prunes at every SF (key ranges grow with SF). */
  def q270ColzonesPrune(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q270_li_zorder_keys", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(colzonesRoot(dir))) {
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
    * (NO legacy axis dirs, so any pruning can only come from the
    * store) built as clustered-write + [[colzonesAppend]] — the append
    * committed O(new files) zone files for BOTH stored columns — then
    * one range probe SPANNING the commit boundary prunes through the
    * automatic rule on merged commits. Results hash-match DuckDB's
    * plain filter over the raw table; the `require` pins the shrink. */
  def q271ColzonesAppend(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s, "q271_orders_cz_append", d)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(colzonesRoot(dir))) {
      val o = orders(s, d).select(col("o_totalprice"), col("o_custkey"),
        col("o_orderpriority"))
      o.filter(col("o_totalprice") < 250000.0)
        .repartitionByRange(16, col("o_totalprice"))
        .sortWithinPartitions(col("o_totalprice"))
        .write.mode("overwrite").parquet(dir)
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
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(numManifestDir(dir))) {
      val li = lineitem(s, d).select(col("l_extendedprice"),
        col("l_returnflag"), col("l_quantity"))
      // fragmented history: each commit is price-clustered over only
      // its own quantity slice — four parallel price grids of 8 files
      numZonemapClusteredWrite(li.filter(col("l_quantity") <= 10),
        "l_extendedprice", 8, dir)
      Seq(col("l_quantity") > 10 && col("l_quantity") <= 25,
          col("l_quantity") > 25 && col("l_quantity") <= 40,
          col("l_quantity") > 40).foreach { slice =>
        numZonemapAppend(li.filter(slice), "l_extendedprice", 8, dir)
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
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(colzonesRoot(dir))) {
      events(s, d).select(col("user_id"), col("value"),
          when(col("value") >= 35.0, col("value")).as("big_value"))
        .repartitionByRange(16, col("value"))
        .sortWithinPartitions(col("value"))
        .write.mode("overwrite").parquet(dir)
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
