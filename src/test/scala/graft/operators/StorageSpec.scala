package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSpec, TempDirs}

/** Storage-layout scale levers: bucketing (shuffle-free co-located
  * joins), partition pruning, and window top-k pushdown — asserted
  * against physical plans, not assumed. */
class StorageSpec extends SparkSpec with TempDirs {

  test("bucketed tables join without a shuffle (co-located join)") {
    val wh = tempDir("graft-wh")
    val d = sf("sf0.001")
    try {
      Tables.orders(spark, d)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b")
        .mode("overwrite").saveAsTable("orders_b")
      Tables.lineitem(spark, d)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b")
        .mode("overwrite").saveAsTable("lineitem_b")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      // disable auto-broadcast so the join strategy is decided by layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        joined.queryExecution.toRdd.count()
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        // bucket-aligned join: no Exchange feeding the SortMergeJoin
        val exchanges = plan.linesIterator.count(_.trim.stripPrefix("+- ").stripPrefix("*(")
          .contains("Exchange hashpartitioning(l_orderkey"))
        assert(plan.contains("SortMergeJoin"), plan.take(1500))
        assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
          s"lineitem side re-shuffled despite bucketing\n${plan.take(1500)}")
        assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
          s"orders side re-shuffled despite bucketing\n${plan.take(1500)}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("q70 gated query: bucket-aligned SMJ, no exchange on either join side") {
    // force the layout (not data size) to decide the join strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = Storage.q70BucketedJoin(spark, sf("sf0.001"))
      q.queryExecution.toRdd.count()
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"lineitem side re-shuffled despite bucketing\n${plan.take(1500)}")
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"orders side re-shuffled despite bucketing\n${plan.take(1500)}")
      // bucket-sorted files: the merge needs no extra Sort on the scan side
      assert(plan.contains("Scan parquet"), plan.take(1500))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      val tag = sf("sf0.001").replaceAll("[^A-Za-z0-9]", "_")
      spark.sql(s"DROP TABLE IF EXISTS graft_orders_b_$tag")
      spark.sql(s"DROP TABLE IF EXISTS graft_lineitem_b_$tag")
    }
  }

  test("partition-by write enables partition pruning in the scan") {
    val dir = tempDir("graft-part").resolve("events")
    Tables.events(spark, sf("sf0.001"))
      .write.partitionBy("event_type").mode("overwrite").parquet(dir.toString)
    val q = spark.read.parquet(dir.toString)
      .filter(col("event_type") === "click")
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(1500))
    // the pruned scan must list only the one matching partition directory
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("event_type=view"), "non-matching partition scanned")
  }

  test("rank-binned z-order survives outliers where min/max binning collapses") {
    import spark.implicits._
    // uniform values 1..10000 plus ONE outlier at 10^12: min/max binning
    // maps every regular row of that column to bucket 0 — the curve
    // degenerates to one dimension — while equi-depth bins keep spread
    val rows = ((1L to 10000L).map(i => (i, i % 97)) :+ (1000000000000L, 50L))
      .toDF("x", "y")
    val minmax = Storage.withZorder(rows, "x", "y", 64)
      .where(col("x") <= 10000)
    val rank = Storage.withZorderByRank(rows, "x", "y", 64)
      .where(col("x") <= 10000)
    val mmBuckets = minmax.select(col("bx")).distinct().count()
    val rkBuckets = rank.select(col("bx")).distinct().count()
    assert(mmBuckets === 1, s"min/max binning should collapse, got $mmBuckets")
    assert(rkBuckets >= 32, s"equi-depth bins should keep spread, got $rkBuckets")
    // bin is monotone in the value (order-preserving: z-curve stays valid)
    val pairs = rank.select(col("x"), col("bx")).as[(Long, Long)]
      .collect().sortBy(_._1)
    assert(pairs.sliding(2).forall(p => p(0)._2 <= p(1)._2))
  }

  test("min/max z-order binning survives wide-range columns without Long overflow") {
    import spark.implicits._
    // epoch-micros-scale range (~3e15) at 1024 buckets: the multiply
    // form (v-min)*1024 ~ 3e18..6e19 wraps Long and yields negative
    // bins; the bounded-width form never exceeds the column's own range
    val rows = (0L to 20L).map(i => i * 150000000000000L)
      .map(v => (v, v / 3)).toDF("x", "y")
    val z = Storage.withZorder(rows, "x", "y", 1024)
      .select(col("x"), col("bx"), col("byy"), col("z"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(z.forall(t => t._2 >= 0 && t._2 < 1024), "bx out of range")
    assert(z.forall(t => t._3 >= 0 && t._3 < 1024), "byy out of range")
    assert(z.forall(_._4 >= 0), "negative Morton value")
    // binning stays order-preserving across the full range
    assert(z.sliding(2).forall(p => p(0)._2 <= p(1)._2))
    assert(z.last._2 > z.head._2, "all rows collapsed into one bin")
  }

  test("dynamic partition pruning: dim filter prunes the fact scan at runtime") {
    // the 100 TB star-join lever: the fact side is partitioned on the
    // join key, the dim filter is only known at runtime — DPP turns it
    // into a partition filter on the fact scan (subquery reuse), so the
    // fact table reads ONLY the partitions the filtered dim reaches
    import spark.implicits._
    val dir = tempDir("graft-dpp").resolve("orders")
    Tables.orders(spark, sf("sf0.001"))
      .write.partitionBy("o_orderpriority").mode("overwrite")
      .parquet(dir.toString)
    // the dim must be a SOURCE relation: a local Seq constant-folds its
    // filter into the LocalRelation, and DPP requires a Filter node on
    // the dim side to call the predicate selective
    val dimDir = tempDir("graft-dpp-dim").toString
    Seq(("1-URGENT", "hot"), ("5-LOW", "cold")).toDF("prio", "tier")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    // at toy size the stats-based benefit estimate vetoes DPP (pruning a
    // few KB never beats the subquery); disable it HERE ONLY so the test
    // exercises the mechanism — at real scale catalog stats drive this
    val key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val q = spark.read.parquet(dir.toString)
        .join(dim.filter(col("tier") === "hot"),
          col("o_orderpriority") === col("prio"))
        .agg(count(lit(1)).as("n"))
      q.queryExecution.toRdd.count()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
        s"expected a DPP filter on the fact scan:\n${plan.take(2500)}")
      // and the result is correct: only urgent orders counted
      val want = Tables.orders(spark, sf("sf0.001"))
        .filter(col("o_orderpriority") === "1-URGENT").count()
      assert(q.as[Long].head() === want)
    } finally spark.conf.set(key, old)
  }

  test("q61 JSON source read-back equals the parquet relation") {
    val d = sf("sf0.001")
    val back = Storage.q61JsonSource(spark, d)
    val src = Tables.supplier(spark, d)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    }
    assert(back.schema === src.schema)
    assert(canon(back) === canon(src))
  }

  test("q62 sink round-trip prunes to the train partition only") {
    val q = Storage.q62PartitionedSink(spark, sf("sf0.001"))
    val plan = q.queryExecution.executedPlan.toString
    // directory-level pruning: the split filter must be a PartitionFilter
    // on the read-back scan, never a post-scan Filter over all splits
    assert(plan.contains("PartitionFilters: [isnotnull(split"), plan.take(1500))
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("split=val") && !scanned.contains("split=test"),
      "non-matching split partition scanned")
    // every surviving row really is train-split
    assert(q.select(col("split")).distinct().collect().map(_.getString(0)).toSeq
      === Seq("train"))
  }

  test("window top-k is limited before the full sort (WindowGroupLimit)") {
    val q = Relational.q07WindowRank(spark, sf("sf0.001"))
    val plan = q.queryExecution.executedPlan.toString
    // Spark pushes rnk<=k below the window as a group-limit; without it
    // every row of the fact table flows through the final window sort.
    // If another suite already installed RewriteWindowTopK on the shared
    // session, the same query plans as the (stronger) GroupTopK
    // bounded-heap operator instead — both shapes prove the pushdown.
    assert(plan.contains("WindowGroupLimit") || plan.contains("GroupTopK"),
      plan.take(2000))
  }

  test("z-order layout clusters BOTH dimensions; a linear sort only one") {
    val li = Tables.lineitem(spark, sf("sf0.01"))
      .select(col("l_partkey"), col("l_suppkey"))
    val zdir = tempDir("graft-zorder").toString
    Storage.zorderWrite(li, "l_partkey", "l_suppkey", 1024, 16, zdir)
    val ldir = tempDir("graft-linear").toString
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(ldir)
    // clustering factor: how many of the 16 files hold rows matching a
    // single-value predicate (the files parquet min/max stats could NOT
    // skip — OSS Spark prunes at row-group read time, so input_file_name
    // over matching rows is the honest per-file locality measure)
    def files(dir: String, c: String, v: Long): Long =
      spark.read.parquet(dir).where(col(c) === v)
        .select(input_file_name()).distinct().count()
    val probe = li.head()
    val (pk, sk) = (probe.getLong(0), probe.getLong(1))
    val (zPk, zSk) = (files(zdir, "l_partkey", pk), files(zdir, "l_suppkey", sk))
    val (lPk, lSk) = (files(ldir, "l_partkey", pk), files(ldir, "l_suppkey", sk))
    assert(lPk <= 2, s"sanity: linear layout must cluster its sort column, got $lPk")
    // the linear layout scatters the OTHER column across ~every file;
    // the z-order layout keeps both columns in a small file neighborhood
    assert(zSk * 2 <= lSk, s"suppkey: zorder=$zSk files, linear=$lSk files")
    assert(zPk <= 8, s"partkey under zorder should stay local, got $zPk/16 files")
    assert(zSk <= 8, s"suppkey under zorder should stay local, got $zSk/16 files")
  }

  test("compaction plan: bins contiguous per source, sized within one file of target") {
    import spark.implicits._
    val d = sf("sf0.01")
    val plan = Storage.q144CompactionPlan(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    plan.foreach { case (srcName, files) =>
      val ordered = files.sortBy(_._2)
      // bins are non-decreasing in file order (running-sum assignment)
      assert(ordered.map(_._5).toSeq === ordered.map(_._5).sorted.toSeq,
        s"$srcName bins not monotone")
      // every bin except the last holds >= target bytes only if it
      // spilled past the boundary by at most one file: cum bytes at the
      // START of each file within its bin stay < (bin+1)*target
      var cum = 0L
      ordered.foreach { case (_, _, bytes, _, bin) =>
        assert(cum / 40000L === bin, s"$srcName bin assignment drifted")
        cum += bytes
      }
    }
  }

  test("fd audit: planted violation counted, clean dependency scores zero") {
    import spark.implicits._
    val dir = tempDir("fdspec").toString
    // events: user 1 has two types (violates), user 2 one type
    Seq((1L, 0L, 1L, "a", 0.0, ""), (2L, 1L, 1L, "b", 0.0, ""),
      (3L, 2L, 2L, "a", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    // documents: each source one lang → holds
    Seq((1L, "t", "en", "s1", 1L), (2L, "t", "en", "s1", 1L),
      (3L, "t", "de", "s2", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1L, 1L, 1L), (1L, 2L, 1L), (2L, 1L, 1L))
      .toDF("l_orderkey", "l_suppkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 1L, "P1"), (2L, 1L, "P1"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val got = Storage.q152FdAudit(spark, dir)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("events.user_id->event_type") === ((2L, 1L)))
    assert(got("documents.source->lang") === ((2L, 0L)))
    assert(got("lineitem.l_orderkey->l_suppkey") === ((2L, 1L)))
    assert(got("orders.o_custkey->o_orderpriority") === ((1L, 0L)))
  }

  test("table digest: mergeable by XOR, order-free, single-row sensitive") {
    import spark.implicits._
    val dir = tempDir("digestspec").toString
    def writeCustomers(rows: Seq[(Long, String, Int, String)], sub: String) = {
      val d2 = s"$dir/$sub"
      rows.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$d2/customer.parquet")
      Seq((1L, 1L, "O", "P", java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate")
        .write.mode("overwrite").parquet(s"$d2/orders.parquet")
      Seq((1L, 0L, 1L, "a", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$d2/events.parquet")
      d2
    }
    def digestOf(sub: String): (Long, Long) = {
      val m = Storage.q155TableDigest(spark, sub)
        .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      m("customer")
    }
    val all = (1L to 40L).map(i => (i, s"c$i", (i % 5).toInt, "SEG"))
    val whole = digestOf(writeCustomers(all, "whole"))
    // order independence: reversed input, same digest
    assert(digestOf(writeCustomers(all.reverse, "rev")) === whole)
    // mergeability: halves XOR to the whole, counts add
    val (h1, h2) = (digestOf(writeCustomers(all.take(20), "h1")),
      digestOf(writeCustomers(all.drop(20), "h2")))
    assert((h1._1 + h2._1, h1._2 ^ h2._2) === whole)
    // sensitivity: one changed cell flips the digest
    val mut = all.updated(7, (8L, "c8", 4, "SEG"))
    assert(digestOf(writeCustomers(mut, "mut")) !== whole)
    // even-duplication cancels in XOR (digest 0) — only the carried
    // count exposes it, which is why the digest ships (n_rows, xor)
    val dup = digestOf(writeCustomers(all ++ all, "dup"))
    assert(dup._2 === 0L && dup._1 === 2 * whole._1)
  }

  test("zonemap pruning: layouts agree on results, clustered skips most files, hashed skips none") {
    import spark.implicits._
    val rows = Storage.q213ZonemapPrune(spark, sf("sf0.001"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val (cf, cs, cScan, cSel) = rows("clustered")
    val (hf, hs, hScan, hSel) = rows("hashed")
    assert(cf === 64L && hf === 64L)
    // pruning never changes the answer, only the work
    assert(cSel === hSel && cSel > 0L)
    // every selected row survives in the scanned set
    assert(cScan >= cSel && hScan >= hSel)
    // the point: range clustering makes zonemaps bite, hashing kills them
    assert(cs >= 48L, s"clustered skipped only $cs/64")
    assert(hs === 0L, s"hashed skipped $hs files")
    assert(cScan * 4 < hScan, s"scan reduction too small: $cScan vs $hScan")
  }

  test("zonemap census equals a first-principles referee (clustered layout)") {
    import spark.implicits._
    // replicate the clustered binning exactly: sort by the same total
    // order, bin by (rank-1)*64 div n, build zonemaps, apply the same
    // predicate — the distributed two-pass rank must agree bit-for-bit
    val rows = Tables.lineitem(spark, sf("sf0.001"))
      .selectExpr("CAST(l_shipdate AS DATE) AS d", "l_orderkey", "l_linenumber")
      .as[(java.sql.Date, Long, Long)].collect()
    val n = rows.length
    val sorted = rows.sortBy(r => (r._1.getTime, r._2, r._3))
    val lo = java.sql.Date.valueOf("1997-01-01")
    val hi = java.sql.Date.valueOf("1997-03-31")
    val files = sorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 64 / n }.values.toSeq
    val skipped = files.count { f =>
      val ds = f.map(_._1._1.getTime)
      ds.max < lo.getTime || ds.min > hi.getTime
    }
    val scanned = files.filter { f =>
      val ds = f.map(_._1._1.getTime)
      !(ds.max < lo.getTime || ds.min > hi.getTime)
    }.map(_.length.toLong).sum
    val selected = rows.count(r =>
      !r._1.before(lo) && !r._1.after(hi)).toLong
    val got = Storage.q213ZonemapPrune(spark, sf("sf0.001"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got("clustered") === ((skipped.toLong, scanned, selected)))
  }

  test("zonemap pruned read: skipped files are never opened, results equal the full scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.{DataFrame, Row}
    val dir = tempDir("graft-zmprune").toString
    Storage.zonemapClusteredWrite(
      Tables.lineitem(spark, sf("sf0.01"))
        .select(to_date(col("l_shipdate")).as("ship_date"), col("l_quantity")),
      "ship_date", 64, dir)
    val man = Storage.zonemapManifest(spark, dir, "ship_date", ZoneCodec.Date)
    assert(man.size === 64)
    man.foreach(z => assert(z.lo.get <= z.hi.get))
    // the write persisted the manifest; the planning path reads IT, not
    // 64 footers, and it must equal the footer-derived truth exactly
    assert(Storage.readManifest(spark, dir, ZoneCodec.Date) === Some(man))
    val (pruned, total, skipped) =
      Storage.prunedRead(spark, dir, "ship_date", "1997-01-01", "1997-03-31")
    assert(total === 64)
    assert(skipped >= 48, s"clustered layout should skip most files, skipped $skipped")
    // the pruned frame's FILE INDEX holds only survivors — a skipped
    // file cannot be opened by any plan over this frame
    assert(pruned.inputFiles.length === total - skipped)

    // observed input metrics on the EXECUTED scan: numFiles == survivors
    // for the pruned probe, == 64 for the full scan; bytes shrink with it
    def scanMetrics(df: DataFrame): (Long, Long, Row) = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      val agg = df.agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"))
      val row = agg.collect()(0)
      // AQE wraps executed subtrees in QueryStageExec nodes whose plans
      // are not `children` — descend through them explicitly
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val ss = scans(agg.queryExecution.executedPlan)
      assert(ss.nonEmpty, agg.queryExecution.executedPlan.toString.take(1000))
      (ss.map(_.metrics("numFiles").value).sum,
        ss.map(_.metrics("filesSize").value).sum, row)
    }
    val (pFiles, pBytes, pRow) = scanMetrics(pruned)
    val full = spark.read.parquet(dir)
      .filter(col("ship_date").between(lit("1997-01-01").cast("date"),
        lit("1997-03-31").cast("date")))
    val (fFiles, fBytes, fRow) = scanMetrics(full)
    assert(pFiles === (total - skipped).toLong, s"pruned scan opened $pFiles files")
    assert(fFiles === 64L, s"full scan should list all files, got $fFiles")
    assert(pBytes * 4 < fBytes, s"pruned bytes $pBytes vs full $fBytes")
    // pruning never changes the answer, only the work
    assert(pRow === fRow)
    assert(pRow.getLong(0) > 0L)
  }

  test("string zonemap: equality probe skips non-matching files, survives quotes/newlines in values, equals the full scan") {
    import spark.implicits._
    val dir = tempDir("graft-szmprune").toString
    // 20 sources incl. values that would corrupt a naive JSON manifest
    val nasty = Seq("src\"q\"", "src\nnl", "src\\bs")
    val sources = (0 until 17).map(i => f"src$i%02d") ++ nasty
    val docs = (0 until 400).map { i =>
      (i.toLong, sources(i % sources.length), i % 7)
    }.toDF("doc_id", "source", "v")
    Storage.zonemapClusteredWrite(docs, "source", 16, dir)
    val man = Storage.readManifest(spark, dir, ZoneCodec.Str)
    assert(man.isDefined && man.get.size === 16)
    man.get.foreach(z => assert(z.lo.get <= z.hi.get))
    // base64 round-trip: the persisted manifest equals footer truth
    // even for quote/newline/backslash values
    val probeVals = Seq("src07", "src\nnl")
    probeVals.foreach { v =>
      val (pruned, total, skipped) = Storage.strPrunedRead(spark, dir, "source", v)
      assert(total === 16)
      assert(skipped >= 8, s"probe $v skipped only $skipped of $total")
      assert(pruned.inputFiles.length === total - skipped)
      val got = pruned.agg(count(lit(1)).as("n"), sum(col("v")).as("s")).collect()(0)
      val want = spark.read.parquet(dir).filter(col("source") === v)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s")).collect()(0)
      assert(got === want, s"probe $v")
      assert(got.getLong(0) > 0L, s"probe $v selected no rows")
    }
    // a value outside every zone prunes everything and returns empty
    val (none, _, allSkipped) = Storage.strPrunedRead(spark, dir, "source", "zzz")
    assert(allSkipped === 16 && none.count() === 0L)
  }

  test("compound zonemap: the two-axis intersection skips at least as much as either axis, equals the full scan") {
    import spark.implicits._
    val dir = tempDir("graft-compound").toString
    val rows = for {
      t <- Seq("alpha", "beta", "gamma", "delta")
      d <- 1 to 20
      r <- 1 to 5
    } yield (t, java.sql.Date.valueOf(f"2024-01-$d%02d"), (d * r).toLong)
    Storage.compoundZonemapWrite(
      rows.toDF("tenant", "day", "v"), "tenant", "day", 20, dir)
    val (probe, total, skipped) = Storage.compoundPrunedRead(
      spark, dir, "tenant", "beta", "day", "2024-01-05", "2024-01-08")
    assert(total === 20)
    val (_, _, strSkip) = Storage.strPrunedRead(spark, dir, "tenant", "beta")
    val (_, _, dateSkip) = Storage.prunedRead(
      spark, dir, "day", "2024-01-05", "2024-01-08")
    assert(skipped >= math.max(strSkip, dateSkip),
      s"compound $skipped vs str $strSkip / date $dateSkip")
    assert(strSkip > 0 && dateSkip > 0, "both axes must bite on this layout")
    assert(probe.inputFiles.length === total - skipped)
    val got = probe.agg(count(lit(1)), sum(col("v"))).collect()(0)
    val want = spark.read.parquet(dir)
      .filter(col("tenant") === "beta" &&
        col("day").between(lit("2024-01-05").cast("date"),
          lit("2024-01-08").cast("date")))
      .agg(count(lit(1)), sum(col("v"))).collect()(0)
    assert(got === want)
    assert(got.getLong(0) > 0L)
  }

  test("string zonemap: supplementary-plane values prune under UTF-8 byte order, not UTF-16 units") {
    import spark.implicits._
    // "￿" and "😀" (U+1F600) order OPPOSITELY in UTF-16
    // code units (surrogate 0xD83D < 0xFFFF) vs UTF-8 bytes (EF BF BF <
    // F0 9F 98 80) — the order parquet footer stats, UTF8String and
    // repartitionByRange all use. A Java-String-ordered intersection
    // reads the zone holding both as EMPTY and silently skips the file.
    val dir1 = tempDir("graft-szm-utf8a").toString
    val pair = Seq("￿", "😀")
    (0 until 80).map(i => (i.toLong, pair(i % 2), 1))
      .toDF("doc_id", "source", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir1)
    pair.foreach { v =>
      val (pruned, total, _) = Storage.strPrunedRead(spark, dir1, "source", v)
      assert(total === 1)
      assert(pruned.count() === 40L,
        s"probe U+${v.codePointAt(0).toHexString} lost rows to a UTF-16-ordered zone")
    }
    // and across a clustered multi-file layout, every probe (BMP,
    // private-use, U+FFFF, supplementary) equals the full scan
    val dir2 = tempDir("graft-szm-utf8b").toString
    val sources = Seq("alpha", "beta", "zz", "￿", "😀")
    val docs = (0 until 200)
      .map(i => (i.toLong, sources(i % sources.length), i % 5))
      .toDF("doc_id", "source", "v")
    Storage.zonemapClusteredWrite(docs, "source", 2, dir2)
    sources.foreach { v =>
      val (pruned, _, _) = Storage.strPrunedRead(spark, dir2, "source", v)
      val got = pruned.agg(count(lit(1)), sum(col("v"))).collect()(0)
      val want = spark.read.parquet(dir2).filter(col("source") === v)
        .agg(count(lit(1)), sum(col("v"))).collect()(0)
      assert(got === want, s"probe U+${v.codePointAt(0).toHexString}")
      assert(got.getLong(0) === 40L)
    }
  }

  test("compound zonemap: a file absent from one manifest is unskippable, never dropped") {
    import spark.implicits._
    val dir = tempDir("graft-compound-drift").toString
    val rows = for {
      t <- Seq("alpha", "beta", "gamma", "delta")
      d <- 1 to 20
      r <- 1 to 5
    } yield (t, java.sql.Date.valueOf(f"2024-01-$d%02d"), (d * r).toLong)
    Storage.compoundZonemapWrite(
      rows.toDF("tenant", "day", "v"), "tenant", "day", 12, dir)
    def probe() = Storage.compoundPrunedRead(
      spark, dir, "tenant", "beta", "day", "2024-01-05", "2024-01-08")
    val (probe0, total0, _) = probe()
    val want = probe0.agg(count(lit(1)), sum(col("v"))).collect()(0)
    assert(want.getLong(0) > 0L)
    // simulate a crash between the two manifest writes: the string
    // manifest loses the entry for a file the probe actually reads
    val survName = new org.apache.hadoop.fs.Path(probe0.inputFiles.head).getName
    val manPath = java.nio.file.Paths.get(dir, "_szonemap", "zones-00000.json")
    val kept = java.nio.file.Files.readString(manPath).linesIterator
      .filterNot(_.contains("\"" + survName + "\"")).mkString("", "\n", "\n")
    java.nio.file.Files.writeString(manPath, kept)
    // the out-of-band rewrite invalidates Hadoop LocalFS's sidecar
    // checksum — drop it (a real crash would simply not have written it)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_szonemap", ".zones-00000.json.crc"))
    val (probe1, total1, skipped1) = probe()
    // the union still counts the file, the read still includes it
    // (unskippable on the missing axis), and the answer is unchanged
    assert(total1 === total0)
    assert(probe1.inputFiles.length === total1 - skipped1)
    assert(probe1.inputFiles.map(f =>
      new org.apache.hadoop.fs.Path(f).getName).contains(survName))
    assert(probe1.agg(count(lit(1)), sum(col("v"))).collect()(0) === want)
  }

  test("scaled pruned read: distributed zone filter over a 4000-entry manifest, driver holds only survivors") {
    val dir = tempDir("graft-zmscaled").toString
    Storage.zonemapClusteredWrite(
      Tables.lineitem(spark, sf("sf0.001"))
        .select(to_date(col("l_shipdate")).as("ship_date"), col("l_quantity")),
      "ship_date", 8, dir)
    // grow the manifest to 4000 entries: the 8 real zones plus 3992
    // synthetic files whose zones sit far outside every real date —
    // the millions-of-files shape, without writing millions of files.
    // The fakes land as their own commit file (the zonemapAppend
    // discipline). A correct scaled reader must (a) evaluate the zone
    // predicate distributed, (b) materialize only the survivors
    // driver-side, and (c) never try to open a pruned (nonexistent) file.
    val fakes = (0 until 3992).map { i =>
      s"""{"file":"fake-$i.parquet","lo":${90000 + i},"hi":${90000 + i}}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_zonemap", "zones-00001.json"), fakes)
    val (probe, total, skipped) = Storage.prunedReadScaled(
      spark, dir, "ship_date", "1997-01-01", "1997-03-31")
    assert(total === 4000L)
    assert(skipped >= 3992L, s"every synthetic zone must be skipped, got $skipped")
    // bounded driver materialization: the survivor set IS the file index
    assert(probe.inputFiles.length === (total - skipped).toInt)
    assert(probe.inputFiles.length <= 8)
    // pruning never changes the answer
    val fullAns = spark.read.parquet(dir)
      .filter(col("ship_date").between(lit("1997-01-01").cast("date"),
        lit("1997-03-31").cast("date")))
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
      .collect()(0)
    assert(probe.agg(count(lit(1)),
      sum(col("l_quantity").cast("decimal(18,2)"))).collect()(0) === fullAns)
    assert(fullAns.getLong(0) > 0L)
    // and the DataFrame manifest read sees every entry (schema'd JSON)
    assert(Storage.manifestDf(spark, dir).count() === 4000L)
  }

  test("zonemap append commit: incremental manifest equals a from-scratch rebuild") {
    val dir = tempDir("graft-zmappend").toString
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .select(to_date(col("l_shipdate")).as("ship_date"), col("l_quantity"))
    Storage.zonemapClusteredWrite(
      li.filter(col("ship_date") < lit("1997-01-01").cast("date")),
      "ship_date", 8, dir)
    Storage.zonemapAppend(
      li.filter(col("ship_date") >= lit("1997-01-01").cast("date")),
      "ship_date", 8, dir)
    // the incremental merge (prior zones + only-new footers) must be
    // byte-identical to rebuilding the whole manifest from footers
    val incremental = Storage.readManifest(spark, dir, ZoneCodec.Date)
    assert(incremental === Some(Storage.zonemapManifest(spark, dir, "ship_date", ZoneCodec.Date)))
    assert(incremental.get.size === 16)
    // a probe spanning the commit boundary reads from both batches and
    // equals the unpruned answer
    val (probe, total, skipped) =
      Storage.prunedRead(spark, dir, "ship_date", "1996-11-01", "1997-02-28")
    assert(total === 16 && skipped > 0 && skipped < 16)
    val opened = probe.inputFiles.map(f => f.substring(f.lastIndexOf('/'))).toSet
    val boundary = lit("1997-01-01").cast("date")
    def names(df: org.apache.spark.sql.DataFrame) =
      df.select(input_file_name()).distinct().collect()
        .map(r => { val f = r.getString(0); f.substring(f.lastIndexOf('/')) }).toSet
    assert(names(probe.filter(col("ship_date") < boundary)).subsetOf(opened))
    assert(names(probe.filter(col("ship_date") >= boundary)).nonEmpty)
    val fullAns = spark.read.parquet(dir)
      .filter(col("ship_date").between(lit("1996-11-01").cast("date"),
        lit("1997-02-28").cast("date")))
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
      .collect()(0)
    assert(probe.agg(count(lit(1)),
      sum(col("l_quantity").cast("decimal(18,2)"))).collect()(0) === fullAns)
  }

  test("numeric and string zonemap append commits: incremental manifests equal from-scratch rebuilds (r17 axis parity)") {
    import spark.implicits._
    // numeric axis: exact quarter grid split at 500
    val ndir = tempDir("graft-nzmappend").toString
    val rows = (0 until 4000).map(i => (i.toLong, i * 0.25))
      .toDF("id", "price")
    Storage.zonemapClusteredWrite(
      rows.filter(col("price") < 500.0), "price", 8, ndir)
    Storage.zonemapAppend(
      rows.filter(col("price") >= 500.0), "price", 8, ndir)
    val nInc = Storage.readManifest(spark, ndir, ZoneCodec.Num)
    assert(nInc.isDefined && nInc.get.size === 16)
    // the incremental merge (prior commit + only-new footers) must equal
    // rebuilding the whole manifest from footers
    assert(nInc === Some(Storage.zonemapManifest(spark, ndir, "price", ZoneCodec.Num)))
    val probed = spark.read.parquet(ndir).filter(col("price").between(300.0, 700.0))
    assert(probed.count() === rows.filter(col("price").between(300.0, 700.0)).count())
    // every file the merged manifest lists exists and zones cover the data:
    // a value in [zone.lo, zone.hi] of its own file — spot-check by
    // joining input_file_name against the manifest bounds
    val byFile = spark.read.parquet(ndir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val man = nInc.get.map(z => new org.apache.hadoop.fs.Path(z.path).getName ->
      (z.lo.get, z.hi.get)).toMap
    byFile.foreach { case (f, lo, hi) =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      val (zlo, zhi) = man(name)
      assert(zlo <= BigDecimal(lo.toString) && BigDecimal(hi.toString) <= zhi,
        s"zone [$zlo,$zhi] does not cover file extent [$lo,$hi]")
    }
    // string axis: append a second alphabet half
    val sdir = tempDir("graft-szmappend").toString
    val docs = (0 until 400).map(i => (i.toLong, f"src${i % 20}%02d"))
      .toDF("doc_id", "source")
    Storage.zonemapClusteredWrite(
      docs.filter(col("source") < "src10"), "source", 4, sdir)
    Storage.zonemapAppend(
      docs.filter(col("source") >= "src10"), "source", 4, sdir)
    val sInc = Storage.readManifest(spark, sdir, ZoneCodec.Str)
    assert(sInc.isDefined && sInc.get.size === 8)
    assert(sInc === Some(Storage.zonemapManifest(spark, sdir, "source", ZoneCodec.Str)))
    // probe spanning the commit boundary through the AUTOMATIC rule path:
    // survivors from the merged manifest must answer exactly
    val (probe, total, skipped) = Storage.strPrunedRead(spark, sdir, "source", "src10")
    assert(total === 8 && skipped > 0)
    assert(probe.count() === 20L)
  }

  test("colzones append: per-column incremental commits equal a from-scratch rebuild") {
    import spark.implicits._
    val dir = tempDir("graft-czappend").toString + "/t"
    val rows = (0 until 4000).map { i =>
      (i.toLong, i * 0.25, java.sql.Date.valueOf("2024-01-01").toLocalDate
        .plusDays(i / 40).toString, f"src${i % 20}")
    }.toDF("id", "price", "day_s", "source")
      .withColumn("day", col("day_s").cast("date")).drop("day_s")
    rows.filter(col("price") < 500.0)
      .repartitionByRange(8, col("price")).sortWithinPartitions(col("price"))
      .write.mode("overwrite").parquet(dir)
    Storage.attachColumnZones(spark, dir, Seq("price", "day", "source"))
    Storage.colzonesAppend(rows.filter(col("price") >= 500.0), "price", 8, dir)
    // the append committed one NEW zone file AND one null-stats file
    // per column (O(new files) maintenance), never a restatement of
    // the first commit
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("price", "day", "source").foreach { c =>
      val names = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/_colzones/$c")).toSeq
        .map(_.getPath.getName)
      assert(names.count(_.startsWith("zones-")) === 2,
        s"column $c should carry 2 zone commits")
      assert(names.count(_.startsWith("nulls-")) === 2,
        s"column $c should carry 2 null-stat commits")
    }
    val incremental = Storage.readColumnZones(spark, dir)
    assert(incremental.of(ZoneCodec.Num).map(_._1) === Seq("price"))
    assert(incremental.of(ZoneCodec.Date).map(_._1) === Seq("day"))
    assert(incremental.of(ZoneCodec.Str).map(_._1) === Seq("source"))
    assert(incremental.of(ZoneCodec.Num).head._2.size === 16)
    // referee: drop the store, rebuild from scratch over ALL files —
    // the merged incremental read must equal the rebuild exactly
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_colzones"), true)
    Storage.attachColumnZones(spark, dir, Seq("price", "day", "source"))
    assert(incremental === Storage.readColumnZones(spark, dir))
  }

  test("optimizeCompact: rows invariant, files drop, manifests re-derived, zones disjoint again") {
    import spark.implicits._
    val dir = tempDir("graft-compact").toString + "/t"
    val rows = (0 until 6000).map(i => (i.toLong, (i % 1000) * 1.0))
      .toDF("id", "price")
    // fragmented history: each commit re-clusters ITS slice on price,
    // so the layout accumulates four parallel copies of the same price
    // grid — a window probe must open its surviving range in EVERY
    // commit (4x the file opens of a single-write layout)
    Storage.zonemapClusteredWrite(
      rows.filter(col("id") % 4 === 0), "price", 6, dir)
    (1 to 3).foreach { r =>
      Storage.zonemapAppend(
        rows.filter(col("id") % 4 === r), "price", 6, dir)
    }
    Storage.attachColumnZones(spark, dir, Seq("id"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_sketch")) // stale stats stub
    assert(Storage.listDataFiles(fs, new org.apache.hadoop.fs.Path(dir)).size === 24)
    val preMan = Storage.readManifest(spark, dir, ZoneCodec.Num).get
    val window = Seq((Some(BigDecimal(300)), Some(BigDecimal(700))))
    val preSurv = Storage.survivorsFromColumnSets(
      Seq(ZoneSet(ZoneCodec.Num, preMan, window))).get
    assert(preSurv._1.size === 16,
      "pre-compaction the probe pays its surviving range in all 4 commits")
    val before = spark.read.parquet(dir).orderBy("id").collect()

    Storage.optimizeCompact(spark, dir, "price", 6)

    assert(Storage.listDataFiles(fs, new org.apache.hadoop.fs.Path(dir)).size === 6)
    assert(spark.read.parquet(dir).orderBy("id").collect() === before)
    // the legacy numeric axis was re-derived over the new files and its
    // zones are DISJOINT again: the probe prunes where it could not
    val postMan = Storage.readManifest(spark, dir, ZoneCodec.Num).get
    assert(postMan.size === 6)
    assert(postMan === Storage.zonemapManifest(spark, dir, "price", ZoneCodec.Num))
    val postSurv = Storage.survivorsFromColumnSets(
      Seq(ZoneSet(ZoneCodec.Num, postMan, window))).get
    assert(postSurv._1.size < 6, "post-compaction the probe skips files")
    assert(postSurv._1.size * 4 === preSurv._1.size,
      "compaction merges the 4x commit duplication out of the probe's reads")
    val sorted = postMan.sortBy(_.lo.get)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.hi.get <= b.lo.get, s"zones overlap after compaction: $a / $b")
      case _ => ()
    }
    // the colzones store kept its column set; stale sketch stats dropped
    val cz = Storage.readColumnZones(spark, dir)
    assert(cz.of(ZoneCodec.Num).map(_._1) === Seq("id") && cz.of(ZoneCodec.Num).head._2.size === 6)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_sketch")))
  }

  test("zone manifests: every commit file keeps its bytes (date, string, numeric, _colzones, appends)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def dataFiles(dir: String): Set[String] =
      if (!Files.isDirectory(Paths.get(dir))) Set.empty
      else {
        val ls = Files.list(Paths.get(dir))
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
        finally ls.close()
      }
    // the name of the one data file `write` adds to `dir`
    def added(dir: String)(write: => Unit): String = {
      val before = dataFiles(dir)
      write
      val fresh = dataFiles(dir) -- before
      assert(fresh.size === 1, s"one new file expected in $dir, got $fresh")
      fresh.head
    }
    def text(dir: String, rel: String*): String =
      Files.readString(Paths.get(dir, rel: _*))
    // a commit file: one line per data file, sorted by file name
    def commit(ls: (String, String)*): String =
      ls.sortBy(_._1).map(_._2).mkString("", "\n", "\n")

    // date axis: epoch days, and an all-null file as the unbounded zone
    val ddir = tempDir("graft-bytes-date").toString + "/t"
    def days(ds: java.sql.Date*) = ds.map(d => (d, 1L)).toDF("day", "v")
    def day(s: String) = java.sql.Date.valueOf(s)
    val d0 = added(ddir)(Storage.zonemapClusteredWrite(
      days(day("2024-01-09"), day("2024-01-03"), day("2024-01-05")), "day", 1, ddir))
    val d1 = added(ddir)(Storage.zonemapAppend(
      days(day("2024-02-05"), day("2024-02-01")), "day", 1, ddir))
    val d2 = added(ddir)(Storage.zonemapAppend(days(null), "day", 1, ddir))
    assert(text(ddir, "_zonemap", "zones-00000.json") ===
      commit(d0 -> s"""{"file":"$d0","lo":19725,"hi":19731}"""))
    assert(text(ddir, "_zonemap", "zones-00001.json") ===
      commit(d1 -> s"""{"file":"$d1","lo":19754,"hi":19758}"""))
    assert(text(ddir, "_zonemap", "zones-00002.json") ===
      commit(d2 -> s"""{"file":"$d2","lo":-2147483648,"hi":2147483647}"""))
    assert(text(ddir, "_zonemap", "_column") === "day")

    // string axis: base64 UTF-8 bounds (quote, newline, U+1F600) under
    // the unsigned byte order, and an all-null file
    val sdir = tempDir("graft-bytes-str").toString + "/t"
    def srcs(vs: String*) = vs.map(v => (v, 1L)).toDF("source", "v")
    val s0 = added(sdir)(Storage.zonemapClusteredWrite(
      srcs("b\nnl", "a\"q"), "source", 1, sdir))
    val s1 = added(sdir)(Storage.zonemapAppend(
      srcs("😀", "zz"), "source", 1, sdir))
    val s2 = added(sdir)(Storage.zonemapAppend(srcs(null), "source", 1, sdir))
    assert(text(sdir, "_szonemap", "zones-00000.json") ===
      commit(s0 -> s"""{"file":"$s0","lo64":"YSJx","hi64":"YgpubA=="}"""))
    assert(text(sdir, "_szonemap", "zones-00001.json") ===
      commit(s1 -> s"""{"file":"$s1","lo64":"eno=","hi64":"8J+YgA=="}"""))
    assert(text(sdir, "_szonemap", "zones-00002.json") ===
      commit(s2 -> s"""{"file":"$s2","unbounded":true}"""))
    assert(text(sdir, "_szonemap", "_column") === "source")

    // numeric axis: plain-decimal strings, a NaN-bearing double file unbounded
    val ndir = tempDir("graft-bytes-num").toString + "/t"
    def prices(ps: Double*) = ps.map(p => (p, 1L)).toDF("price", "v")
    val n0 = added(ndir)(Storage.zonemapClusteredWrite(
      prices(1.0e7, -0.5, 2.25), "price", 1, ndir))
    val n1 = added(ndir)(Storage.zonemapAppend(
      prices(3.0, Double.NaN), "price", 1, ndir))
    assert(text(ndir, "_nzonemap", "zones-00000.json") ===
      commit(n0 -> s"""{"file":"$n0","lo":"-0.5","hi":"10000000"}"""))
    assert(text(ndir, "_nzonemap", "zones-00001.json") ===
      commit(n1 -> s"""{"file":"$n1","unbounded":true}"""))
    assert(text(ndir, "_nzonemap", "_column") === "price")

    // _colzones/: an int-backed DECIMAL keeps its scale; `_type`, the
    // null counts, and a two-file commit sorted by file name
    val cdir = tempDir("graft-bytes-cz").toString + "/t"
    def amts(as: String*) =
      as.toDF("a").select(col("a").cast("decimal(9,2)").as("amt"))
    val c0 = added(cdir)(amts("567.80", null, "12.34")
      .coalesce(1).write.mode("append").parquet(cdir))
    val c1 = added(cdir)(amts("-3.10")
      .coalesce(1).write.mode("append").parquet(cdir))
    Storage.attachColumnZones(spark, cdir, Seq("amt"))
    val c2 = added(cdir)(Storage.colzonesAppend(amts("0.05", null), "amt", 1, cdir))
    assert(text(cdir, "_colzones", "amt", "_type") === "num")
    assert(text(cdir, "_colzones", "amt", "zones-00000.json") === commit(
      c0 -> s"""{"file":"$c0","lo":"12.34","hi":"567.80"}""",
      c1 -> s"""{"file":"$c1","lo":"-3.10","hi":"-3.10"}"""))
    assert(text(cdir, "_colzones", "amt", "nulls-00000.json") === commit(
      c0 -> s"""{"file":"$c0","nulls":1,"rows":3}""",
      c1 -> s"""{"file":"$c1","nulls":0,"rows":1}"""))
    assert(text(cdir, "_colzones", "amt", "zones-00001.json") ===
      commit(c2 -> s"""{"file":"$c2","lo":"0.05","hi":"0.05"}"""))
    assert(text(cdir, "_colzones", "amt", "nulls-00001.json") ===
      commit(c2 -> s"""{"file":"$c2","nulls":1,"rows":2}"""))
  }
}
