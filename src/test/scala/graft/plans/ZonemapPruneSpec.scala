package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.operators.{FileZone, Storage, Tables, ZoneCodec}

/** The automatic zone-map pruning rule: a plain
  * `spark.read.parquet(dir).filter(...)` over a manifest-bearing layout
  * must open only the surviving files once the rule is applied, answer
  * exactly like the unpruned scan, and leave every non-qualifying shape
  * (a default session, foreign dirs, disjunctions, other columns)
  * untouched. */
class ZonemapPruneSpec extends SparkSpec with TempDirs {

  /** `df` with the rule applied once to its optimized plan. */
  private def pruned(df: DataFrame): DataFrame =
    GraftSqlBridge.optimizedWith(df, ZonemapPruneRule)(_ => ())

  /** Files actually opened by the executed plan's parquet scans. */
  private def scanFiles(df: DataFrame): Long = {
    val materialized = df.groupBy().count()
    materialized.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val ss = scans(materialized.queryExecution.executedPlan)
    assert(ss.nonEmpty,
      materialized.queryExecution.executedPlan.toString.take(800))
    ss.map(_.metrics("numFiles").value).sum
  }

  private def agg(df: DataFrame): org.apache.spark.sql.Row =
    df.agg(count(lit(1)).as("n"),
      sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"))
      .collect()(0)

  private lazy val dateDir: String = {
    val dir = tempDir("graft-autoprune").toString
    Storage.zonemapClusteredWrite(
      Tables.lineitem(spark, sf("sf0.001"))
        .select(to_date(col("l_shipdate")).as("ship_date"), col("l_quantity")),
      "ship_date", 16, dir)
    dir
  }

  test("a plain read.filter over a date-clustered layout opens only the surviving files") {
    def probe = spark.read.parquet(dateDir)
      .filter(col("ship_date").between(lit("1997-01-01").cast("date"),
        lit("1997-03-31").cast("date")))
    // the facade path is the referee for WHICH files should survive
    val (_, total, skipped) =
      Storage.prunedRead(spark, dateDir, "ship_date", "1997-01-01", "1997-03-31")
    assert(total === 16 && skipped > 0)
    val off = agg(probe)
    assert(scanFiles(probe) === 16L, "without the rule: every file listed")
    assert(scanFiles(pruned(probe)) === (total - skipped).toLong,
      "with the rule: only manifest survivors opened")
    assert(agg(pruned(probe)) === off, "pruning must never change the answer")
    assert(off.getLong(0) > 0L)
  }

  test("one-sided and strict bounds prune too; equality collapses to a point zone") {
    val ge = pruned(spark.read.parquet(dateDir)
      .filter(col("ship_date") >= lit("1998-06-01").cast("date")))
    assert(scanFiles(ge) < 16L, ">= alone must prune the early files")
    val lt = pruned(spark.read.parquet(dateDir)
      .filter(col("ship_date") < lit("1993-06-01").cast("date")))
    assert(scanFiles(lt) < 16L, "< alone must prune the late files")
    val eq = pruned(spark.read.parquet(dateDir)
      .filter(col("ship_date") === lit("1996-03-13").cast("date")))
    assert(scanFiles(eq) <= 2L, "a point probe should open ~one file")
    assert(eq.count() ===
      spark.read.parquet(dateDir)
        .filter(col("ship_date") === lit("1996-03-13").cast("date"))
        .collect().length.toLong)
  }

  test("string-clustered layout: automatic equality probe, re-applied predicate on a zone-interior miss") {
    import spark.implicits._
    val dir = tempDir("graft-autoprune-str").toString
    val docs = (0 until 400).map { i =>
      (i.toLong, f"src${i % 20}%02d", (i % 7).toLong)
    }.toDF("doc_id", "source", "l_quantity")
    Storage.zonemapClusteredWrite(docs, "source", 8, dir)
    def plain(v: String) =
      spark.read.parquet(dir).filter(col("source") === v)
    def probe(v: String) = pruned(plain(v))
    val off = agg(plain("src07"))
    assert(scanFiles(probe("src07")) < 8L)
    assert(agg(probe("src07")) === off)
    assert(off.getLong(0) === 20L)
    // "src07x" sorts INSIDE a zone that survives, but no row matches:
    // the re-applied filter (never the pruning) must return empty
    assert(probe("src07x").count() === 0L)
    // a value beyond every zone prunes everything — zero files, no rows
    assert(probe("zzz").count() === 0L)
    assert(scanFiles(probe("zzz")) === 0L)
  }

  test("compound layout: both axes prune through one plain filter") {
    import spark.implicits._
    val dir = tempDir("graft-autoprune-comp").toString
    val rows = for {
      t <- Seq("alpha", "beta", "gamma", "delta")
      d <- 1 to 20
      r <- 1 to 5
    } yield (t, java.sql.Date.valueOf(f"2024-01-$d%02d"), (d * r).toLong)
    Storage.compoundZonemapWrite(
      rows.toDF("tenant", "day", "l_quantity"), "tenant", "day", 20, dir)
    def probe = spark.read.parquet(dir)
      .filter(col("tenant") === "beta" &&
        col("day").between(lit("2024-01-05").cast("date"),
          lit("2024-01-08").cast("date")))
    val (_, total, skipped) = Storage.compoundPrunedRead(
      spark, dir, "tenant", "beta", "day", "2024-01-05", "2024-01-08")
    assert(total === 20 && skipped > 0)
    val off = agg(probe)
    assert(scanFiles(pruned(probe)) === (total - skipped).toLong,
      "the automatic path must intersect both manifests like the facade")
    assert(agg(pruned(probe)) === off)
    assert(off.getLong(0) > 0L)
  }

  test("conservative non-matches stay untouched: default session, disjunction, other columns, foreign dirs") {
    import spark.implicits._
    // a default session never runs the rule: a prunable probe opens
    // every file
    assert(spark.experimental.extraOptimizations === Seq(RewriteWindowTopK))
    assert(scanFiles(spark.read.parquet(dateDir)
      .filter(col("ship_date") === lit("1996-03-13").cast("date"))) === 16L)
    // disjunction: no top-level conjunct constrains the column
    val or = pruned(spark.read.parquet(dateDir)
      .filter(col("ship_date") < lit("1993-06-01").cast("date") ||
        col("l_quantity") > 49))
    assert(scanFiles(or) === 16L)
    // a filter on a NON-clustered column
    val other = pruned(spark.read.parquet(dateDir).filter(col("l_quantity") === 1))
    assert(scanFiles(other) === 16L)
    // a manifest-less directory
    val foreign = tempDir("graft-autoprune-foreign").toString
    (1 to 100).map(i => (java.sql.Date.valueOf("2024-01-01"), i.toLong))
      .toDF("ship_date", "l_quantity")
      .repartition(4).write.mode("overwrite").parquet(foreign)
    val f = pruned(spark.read.parquet(foreign)
      .filter(col("ship_date") === lit("2024-01-01").cast("date")))
    assert(scanFiles(f) === 4L)
    assert(f.count() === 100L)
  }

  test("widened extraction: date IN-list prunes to the manifest's own survivor union") {
    import java.sql.Date
    val days = Seq("1994-02-14", "1996-06-10", "1998-05-01")
    def probe = spark.read.parquet(dateDir)
      .filter(col("ship_date").isin(days.map(Date.valueOf): _*))
    val off = agg(probe)
    // manifest referee: a file survives iff any probed day falls in its zone
    val man = Storage.readManifest(spark, dateDir, ZoneCodec.Date).get
    def epoch(d: String) = Date.valueOf(d).toLocalDate.toEpochDay.toInt
    val expected = man.count(z =>
      days.exists(d => z.lo.get <= epoch(d) && epoch(d) <= z.hi.get))
    assert(expected < 16, "fixture must actually skip something")
    assert(scanFiles(pruned(probe)) === expected.toLong,
      "IN-list survivors must equal the manifest union referee")
    assert(agg(pruned(probe)) === off)
    assert(off.getLong(0) > 0L)
  }

  test("widened extraction: a >10-literal IN optimizes to InSet and still prunes") {
    import java.sql.Date
    val days = (1 to 12).map(m => f"1995-$m%02d-15")
    def probe = spark.read.parquet(dateDir)
      .filter(col("ship_date").isin(days.map(Date.valueOf): _*))
    val off = agg(probe)
    val man = Storage.readManifest(spark, dateDir, ZoneCodec.Date).get
    def epoch(d: String) = Date.valueOf(d).toLocalDate.toEpochDay.toInt
    val expected = man.count(z =>
      days.exists(d => z.lo.get <= epoch(d) && epoch(d) <= z.hi.get))
    assert(expected < 16)
    assert(scanFiles(pruned(probe)) === expected.toLong)
    assert(agg(pruned(probe)) === off)
  }

  test("widened extraction: string RANGES and same-column ORs prune through the lo/hi zones") {
    import spark.implicits._
    val dir = tempDir("graft-autoprune-strrange").toString
    val docs = (0 until 400).map { i =>
      (i.toLong, f"src${i % 20}%02d", (i % 7).toLong)
    }.toDF("doc_id", "source", "l_quantity")
    Storage.zonemapClusteredWrite(docs, "source", 8, dir)
    val man = Storage.readManifest(spark, dir, ZoneCodec.Str).get
    // srcNN values are ASCII, so plain string order == utf8 order here
    def overlaps(z: FileZone[String], lo: String, hi: String) =
      !(z.hi.exists(_ < lo) || z.lo.exists(_ > hi))
    def probeRange = spark.read.parquet(dir)
      .filter(col("source") >= "src03" && col("source") <= "src05")
    val offR = agg(probeRange)
    val expectR = man.count(overlaps(_, "src03", "src05"))
    assert(expectR < 8)
    def probeOr = spark.read.parquet(dir)
      .filter((col("source") >= "src03" && col("source") <= "src05") ||
        (col("source") >= "src12" && col("source") <= "src13"))
    val offO = agg(probeOr)
    val expectO = man.count(z =>
      overlaps(z, "src03", "src05") || overlaps(z, "src12", "src13"))
    assert(expectO < 8)
    assert(scanFiles(pruned(probeRange)) === expectR.toLong,
      "string range survivors must equal the manifest referee")
    assert(agg(pruned(probeRange)) === offR)
    assert(offR.getLong(0) === 60L) // 3 sources x 20 docs
    assert(scanFiles(pruned(probeOr)) === expectO.toLong,
      "same-column OR survivors must equal the union referee")
    assert(agg(pruned(probeOr)) === offO)
    // strict bounds widen conservatively: results still exact
    val strict = pruned(spark.read.parquet(dir)
      .filter(col("source") > "src03" && col("source") < "src05"))
    assert(strict.count() === 20L) // only src04
  }

  test("an unmanifested file (crash between data commit and manifest write) is never pruned away") {
    // build a private layout, then drop a data file into the directory
    // OUT OF BAND — present on disk, absent from every manifest. The
    // rule must treat it as an unconditional survivor: pruned results
    // equal the plain scan, which DOES read it.
    val dir = tempDir("graft-autoprune-crash").toString
    Storage.zonemapClusteredWrite(
      Tables.lineitem(spark, sf("sf0.001"))
        .select(to_date(col("l_shipdate")).as("ship_date"), col("l_quantity")),
      "ship_date", 8, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val aDataFile = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, aDataFile, fs,
      new org.apache.hadoop.fs.Path(dir, "part-unmanifested.parquet"),
      false, spark.sessionState.newHadoopConf())
    def probe = spark.read.parquet(dir)
      .filter(col("ship_date").between(lit("1997-01-01").cast("date"),
        lit("1997-03-31").cast("date")))
    val off = agg(probe)
    assert(agg(pruned(probe)) === off,
      "pruning dropped rows only the unmanifested file holds")
    // the unmanifested file is opened even when zones skip others
    val opened = scanFiles(pruned(probe))
    assert(opened < 9L, "zone survivors should still prune")
    assert(pruned(probe).queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.exists(_.contains("part-unmanifested"))
    }.exists(identity), "unmanifested file missing from the pruned index")
  }

  test("two probes derived from ONE shared base DataFrame both prune (no one-shot relation state)") {
    // r15 tagged the original LogicalRelation instance, which Catalyst
    // shares by reference across Datasets from the same base — the
    // second query silently skipped pruning
    val base = spark.read.parquet(dateDir)
    def q(lo: String, hi: String) = base
      .filter(col("ship_date").between(lit(lo).cast("date"),
        lit(hi).cast("date")))
    assert(scanFiles(pruned(q("1997-01-01", "1997-03-31"))) < 16L)
    assert(scanFiles(pruned(q("1994-06-01", "1994-08-31"))) < 16L,
      "second probe on the same shared relation must prune too")
  }

  test("randomized predicate soak: 40 seeded probes — flag-on results always equal the plain scan") {
    // property, not examples: random conjunctions/disjunctions of
    // ranges, INs and equalities over the clustered column must NEVER
    // change results (pruning is an optimization), and must never open
    // more files than the full layout
    val rnd = new scala.util.Random(1613)
    def rndDate(): java.sql.Date = {
      val y = 1992 + rnd.nextInt(8)
      val m = 1 + rnd.nextInt(12)
      val dd = 1 + rnd.nextInt(28)
      java.sql.Date.valueOf(f"$y%04d-$m%02d-$dd%02d")
    }
    def rndLeaf(): org.apache.spark.sql.Column = rnd.nextInt(5) match {
      case 0 => col("ship_date") >= lit(rndDate())
      case 1 => col("ship_date") <= lit(rndDate())
      case 2 => col("ship_date") === lit(rndDate())
      case 3 => col("ship_date").isin(Seq.fill(2 + rnd.nextInt(12))(rndDate()): _*)
      case _ => col("ship_date").between(lit(rndDate()), lit(rndDate()))
    }
    def rndPred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) rndLeaf()
      else if (rnd.nextBoolean()) rndPred(depth - 1) && rndPred(depth - 1)
      else rndPred(depth - 1) || rndPred(depth - 1)
    (1 to 40).foreach { i =>
      val p = rndPred(2)
      val off = spark.read.parquet(dateDir).filter(p).count()
      val probe = pruned(spark.read.parquet(dateDir).filter(p))
      assert(probe.count() === off, s"probe $i changed results: $p")
      // an unsatisfiable predicate constant-folds to an empty
      // LocalRelation — no parquet scan exists to count
      if (probe.queryExecution.optimizedPlan.toString.contains("parquet"))
        assert(scanFiles(probe) <= 16L, s"probe $i opened phantom files")
    }
  }

  test("numeric-clustered layout: range, one-sided and IN probes open only the manifest referee's survivors") {
    import spark.implicits._
    val dir = tempDir("graft-autoprune-num").toString
    // an EXACT quarter grid (i * 0.25 is a dyadic rational — every
    // value, probe literal and footer stat is the same exact double);
    // l_quantity rides along for agg()
    val rows = (0 until 4000).map(i => (i.toLong, i * 0.25, (i % 7).toLong))
    Storage.zonemapClusteredWrite(
      rows.toDF("id", "price", "l_quantity"), "price", 16, dir)
    val man = Storage.readManifest(spark, dir, ZoneCodec.Num).get
    assert(man.size === 16 && man.forall(z => z.lo.isDefined && z.hi.isDefined))
    def overlaps(z: FileZone[BigDecimal], lo: BigDecimal, hi: BigDecimal) =
      !(z.hi.exists(_ < lo) || z.lo.exists(_ > hi))
    def probeRange = spark.read.parquet(dir)
      .filter(col("price") >= 500.0 && col("price") <= 700.0)
    val offR = agg(probeRange)
    val expectR = man.count(overlaps(_, BigDecimal("500.0"), BigDecimal("700.0")))
    assert(expectR < 16, "fixture must actually skip something")
    assert(scanFiles(pruned(probeRange)) === expectR.toLong,
      "numeric range survivors must equal the manifest referee")
    assert(agg(pruned(probeRange)) === offR)
    assert(offR.getLong(0) === 801L) // i in 2000..2800
    // one-sided
    val ge = pruned(spark.read.parquet(dir).filter(col("price") >= 800.0))
    assert(scanFiles(ge) ===
      man.count(z => !z.hi.exists(_ < BigDecimal("800.0"))).toLong)
    // IN-list desugars to point intervals
    val in = pruned(spark.read.parquet(dir)
      .filter(col("price").isin(0.25, 555.0, 100000.0)))
    val expectIn = man.count(z => Seq("0.25", "555.0", "100000.0")
      .exists(v => overlaps(z, BigDecimal(v), BigDecimal(v))))
    assert(expectIn < 16)
    assert(scanFiles(in) === expectIn.toLong)
    assert(in.count() === 2L, "0.25 and 555.0 exist; 100000.0 is out of range")
    // a range beyond every zone prunes everything
    val dead = pruned(spark.read.parquet(dir).filter(col("price") > 99999.0))
    assert(dead.count() === 0L)
    assert(scanFiles(dead) === 0L)
  }

  test("numeric zones on an integral column prune exactly; NaN-bearing double files are never skipped") {
    import spark.implicits._
    // integral axis: BIGINT zones convert losslessly
    val ldir = tempDir("graft-autoprune-long").toString
    Storage.zonemapClusteredWrite(
      (0 until 2000).map(i => (i.toLong * 3, (i % 7).toLong))
        .toDF("amount", "l_quantity"), "amount", 8, ldir)
    val lman = Storage.readManifest(spark, ldir, ZoneCodec.Num).get
    def probeL = spark.read.parquet(ldir)
      .filter(col("amount").between(900L, 1500L))
    val offL = agg(probeL)
    val expectL = lman.count(z =>
      !(z.hi.exists(_ < BigDecimal(900)) || z.lo.exists(_ > BigDecimal(1500))))
    assert(expectL < 8)
    assert(scanFiles(pruned(probeL)) === expectL.toLong)
    assert(agg(pruned(probeL)) === offL)
    assert(offL.getLong(0) === 201L) // 900/3=300 .. 1500/3=500 inclusive
    // NaN poisons parquet double stats (Math.min/max folding), so the
    // NaN-bearing file must surface as an UNBOUNDED zone — unskippable
    // under any predicate, never silently dropped
    val ndir = tempDir("graft-autoprune-nan").toString
    val vals = (1 to 100).map(i => (i.toLong, i.toDouble, 1L)) :+
      (101L, Double.NaN, 1L)
    Storage.zonemapClusteredWrite(
      vals.toDF("id", "price", "l_quantity"), "price", 4, ndir)
    val nman = Storage.readManifest(spark, ndir, ZoneCodec.Num).get
    assert(nman.exists(z => z.lo.isEmpty && z.hi.isEmpty),
      s"the NaN file must carry an unbounded zone, got $nman")
    def probeN = spark.read.parquet(ndir).filter(col("price") >= 1000.0)
    val offN = probeN.count()
    assert(pruned(probeN).count() === offN,
      "pruning changed results on a NaN-bearing layout")
    assert(scanFiles(pruned(probeN)) >= 1L,
      "the unbounded (NaN) file must always be opened")
  }

  test("partitioned + zone-map layout: zone survivors and Spark's partition pruning intersect per file") {
    import spark.implicits._
    val dir = tempDir("graft-autoprune-part").toString
    val rows = for {
      t <- Seq("alpha", "beta", "gamma", "delta")
      d <- 1 to 20
      r <- 1 to 5
    } yield (t, java.sql.Date.valueOf(f"2024-01-$d%02d"), (d * r).toLong)
    Storage.partitionedZonemapClusteredWrite(
      rows.toDF("tenant", "day", "l_quantity"), "tenant", "day", 24, dir)
    val total = spark.read.parquet(dir).inputFiles.length
    val man = Storage.readManifest(spark, dir, ZoneCodec.Date).get
    assert(man.size === total, "one root manifest must cover every partition's files")
    assert(man.exists(_.path.contains("tenant=")),
      "manifest must persist partition-relative paths")
    def epoch(d: String) = java.sql.Date.valueOf(d).toLocalDate.toEpochDay.toInt
    val (lo, hi) = (epoch("2024-01-05"), epoch("2024-01-08"))
    val zoneSurvivors = man.filter(z => !(z.hi.get < lo || z.lo.get > hi))
    assert(zoneSurvivors.size < total, "fixture: zones must skip something")
    val expectedOpened = zoneSurvivors.count(_.path.contains("tenant=beta"))
    assert(expectedOpened > 0 && expectedOpened < zoneSurvivors.size,
      "fixture: partition pruning must skip something on top of zones")
    def probe = spark.read.parquet(dir)
      .filter(col("tenant") === "beta" &&
        col("day").between(lit("2024-01-05").cast("date"),
          lit("2024-01-08").cast("date")))
    val off = agg(probe)
    assert(agg(pruned(probe)) === off, "pruning must never change the answer")
    // the rule's index lists the zone survivors across ALL partitions...
    val planFiles = pruned(probe).queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum
    assert(planFiles === zoneSurvivors.size,
      "logical index must hold exactly the zone survivors")
    // ...and the EXECUTED scan reads only the probed partition's
    // share of them: Spark's partition pruning composed on top
    assert(scanFiles(pruned(probe)) === expectedOpened.toLong,
      "executed scan must intersect partition pruning with zone survival")
    assert(off.getLong(0) > 0L)
  }

  test("randomized numeric predicate soak: 30 seeded probes — flag-on results always equal the plain scan") {
    import spark.implicits._
    val dir = tempDir("graft-autoprune-numsoak").toString
    Storage.zonemapClusteredWrite(
      (0 until 3000).map(i => (i.toLong, i * 1.7 - 500.0, (i % 7).toLong))
        .toDF("id", "price", "l_quantity"), "price", 12, dir)
    val rnd = new scala.util.Random(1709)
    def rndV(): Double = BigDecimal((rnd.nextDouble() * 6000 - 1000))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rndLeaf(): org.apache.spark.sql.Column = rnd.nextInt(5) match {
      case 0 => col("price") >= lit(rndV())
      case 1 => col("price") <= lit(rndV())
      case 2 => col("price") === lit(rndV())
      case 3 => col("price").isin(Seq.fill(2 + rnd.nextInt(10))(rndV()): _*)
      case _ => col("price").between(lit(rndV()), lit(rndV()))
    }
    def rndPred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) rndLeaf()
      else if (rnd.nextBoolean()) rndPred(depth - 1) && rndPred(depth - 1)
      else rndPred(depth - 1) || rndPred(depth - 1)
    (1 to 30).foreach { i =>
      val p = rndPred(2)
      val off = spark.read.parquet(dir).filter(p).count()
      val probe = pruned(spark.read.parquet(dir).filter(p))
      assert(probe.count() === off, s"numeric probe $i changed results: $p")
      if (probe.queryExecution.optimizedPlan.toString.contains("parquet"))
        assert(scanFiles(probe) <= 12L, s"numeric probe $i opened phantom files")
    }
  }

  test("z-ordered layout + attached manifests: one 2-D probe prunes on BOTH axes and beats either axis alone (r17)") {
    import spark.implicits._
    // the Databricks OPTIMIZE-ZORDER + stats-skipping composition from
    // our own pieces: Morton-cluster on (day index, value cents), then
    // attach footer-derived manifests for the ORIGINAL date and double
    // columns — z-order makes per-file zones tight on BOTH, so a 2-D
    // probe's survivor set is the INTERSECTION and multiplies the skip
    val dir = tempDir("graft-autoprune-zorder").toString
    val rows = (0 until 8000).map { i =>
      val day = i % 30 + 1
      val value = (i % 400) + (i % 7) * 0.25
      (java.sql.Date.valueOf(f"2024-01-$day%02d"), value,
        (day - 1).toLong, math.round(value * 100), (i % 7).toLong)
    }.toDF("ev_date", "value", "dayi", "centi", "l_quantity")
    Storage.zorderWrite(rows, "dayi", "centi", 1024, 32, dir)
    Storage.attachZonemap(spark, dir, "ev_date")
    Storage.attachZonemap(spark, dir, "value")
    val dman = Storage.readManifest(spark, dir, ZoneCodec.Date).get
    val nman = Storage.readManifest(spark, dir, ZoneCodec.Num).get
    assert(dman.size === 32 && nman.size === 32)
    def epoch(d: String) = java.sql.Date.valueOf(d).toLocalDate.toEpochDay.toInt
    val (dlo, dhi) = (epoch("2024-01-10"), epoch("2024-01-16"))
    val (vlo, vhi) = (BigDecimal(100), BigDecimal(200))
    val dateSurv = dman.filter(z => !(z.hi.get < dlo || z.lo.get > dhi)).map(_.path).toSet
    val numSurv = nman.filter(z =>
      !(z.hi.exists(_ < vlo) || z.lo.exists(_ > vhi))).map(_.path).toSet
    val both = dateSurv & numSurv
    assert(both.size < dateSurv.size && both.size < numSurv.size,
      s"fixture must show the 2-D intersection winning: ${both.size} vs ${dateSurv.size}/${numSurv.size}")
    def probe = spark.read.parquet(dir)
      .filter(col("ev_date").between(lit("2024-01-10").cast("date"),
          lit("2024-01-16").cast("date")) &&
        col("value").between(100.0, 200.0))
    val off = agg(probe)
    assert(scanFiles(pruned(probe)) === both.size.toLong,
      "2-D survivors must equal the two-manifest intersection referee")
    assert(agg(pruned(probe)) === off, "z-order 2-D pruning changed results")
    assert(off.getLong(0) > 0L)
  }

  test("multi-column _colzones store: TWO numeric columns (and a string) intersect on one probe; unsupported types are rejected (r17)") {
    import spark.implicits._
    // two numeric z-order keys — the case the one-column-per-axis
    // legacy manifests cannot hold — plus a string column, all in one
    // _colzones/ store
    val dir = tempDir("graft-colzones").toString
    val rows = (0 until 8000).map { i =>
      (i.toLong % 200, (i / 40).toLong, f"src${i % 16}%02d", (i % 7).toLong)
    }.toDF("pk", "sk", "source", "l_quantity")
    Storage.zorderWrite(rows, "pk", "sk", 1024, 32, dir)
    Storage.attachColumnZones(spark, dir, Seq("pk", "sk", "source"))
    val cz = Storage.readColumnZones(spark, dir)
    assert(cz.of(ZoneCodec.Num).map(_._1).sorted === Seq("pk", "sk"))
    assert(cz.of(ZoneCodec.Str).map(_._1) === Seq("source"))
    assert(cz.of(ZoneCodec.Num).forall(_._2.size === 32))
    val pkMan = cz.of(ZoneCodec.Num).toMap.apply("pk")
    val skMan = cz.of(ZoneCodec.Num).toMap.apply("sk")
    def surv(man: Seq[FileZone[BigDecimal]], lo: Int, hi: Int): Set[String] =
      man.filter(z => !(z.hi.exists(_ < BigDecimal(lo)) ||
        z.lo.exists(_ > BigDecimal(hi)))).map(_.path).toSet
    val expected = surv(pkMan, 50, 90) & surv(skMan, 30, 70)
    assert(expected.size < surv(pkMan, 50, 90).size &&
      expected.size < surv(skMan, 30, 70).size,
      "fixture must show the two-column intersection winning")
    def probe = spark.read.parquet(dir)
      .filter(col("pk").between(50L, 90L) && col("sk").between(30L, 70L))
    val off = agg(probe)
    assert(scanFiles(pruned(probe)) === expected.size.toLong,
      "2-column survivors must equal the per-column intersection referee")
    assert(agg(pruned(probe)) === off)
    assert(off.getLong(0) > 0L)
    // the string colzones column constrains too, composing with both
    val probe3 = pruned(spark.read.parquet(dir)
      .filter(col("pk").between(50L, 90L) && col("sk").between(30L, 70L) &&
        col("source") === "src03"))
    assert(scanFiles(probe3) <= expected.size.toLong)
    assert(probe3.count() ===
      spark.read.parquet(dir).filter(col("pk").between(50L, 90L) &&
        col("sk").between(30L, 70L) && col("source") === "src03").count())
    // a column with no zone codec is rejected loudly, never silently unzoned
    val bin = (0 until 10).map(i => (i.toLong, Array[Byte](i.toByte)))
      .toDF("k", "payload")
    val bdir = tempDir("graft-colzones-bin").toString
    bin.write.mode("overwrite").parquet(bdir)
    intercept[IllegalArgumentException] {
      Storage.attachColumnZones(spark, bdir, Seq("payload"))
    }
  }

  test("the gated facade queries are output-invariant under the rule") {
    val d = sf("sf0.001")
    for (name <- Seq("q216_pruned_read", "q241_string_prune",
        "q245_compound_prune")) {
      val q = graft.SparkEntry.queries(name)
      val off = q(spark, d).collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      val on = pruned(q(spark, d)).collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(on === off, name)
    }
  }

  test("partitioned layout + _colzones store: zone survivors and partition pruning intersect") {
    import spark.implicits._
    // the Delta layering with the MULTI-column store: partition dirs
    // from `tenant`, per-tenant files range-clustered on `price`, and
    // the `_colzones/` codec walk attaching zones for a DATA column of
    // a partitioned tree (root-relative paths through partition dirs)
    val dir = tempDir("graft-czpart").toString + "/t"
    val rows = (for {
      t <- Seq("alpha", "beta", "gamma", "delta")
      i <- 0 until 600
    } yield (t, i * 1.0, (i % 7).toLong)).toDF("tenant", "price", "l_quantity")
    rows.repartitionByRange(24, col("tenant"), col("price"))
      .sortWithinPartitions(col("tenant"), col("price"))
      .write.partitionBy("tenant").mode("overwrite").parquet(dir)
    Storage.attachColumnZones(spark, dir, Seq("price"))
    val total = spark.read.parquet(dir).inputFiles.length
    val cz = Storage.readColumnZones(spark, dir)
    assert(cz.of(ZoneCodec.Num).map(_._1) === Seq("price"))
    val man = cz.of(ZoneCodec.Num).head._2
    assert(man.size === total, "store must cover every partition's files")
    assert(man.exists(_.path.contains("tenant=")),
      "store must persist partition-relative paths")
    val (lo, hi) = (BigDecimal(100), BigDecimal(220))
    val zoneSurvivors = man.filter(z =>
      !(z.hi.exists(_ < lo) || z.lo.exists(_ > hi)))
    assert(zoneSurvivors.size < total, "fixture: zones must skip something")
    val expectedOpened = zoneSurvivors.count(_.path.contains("tenant=beta"))
    assert(expectedOpened > 0 && expectedOpened < zoneSurvivors.size,
      "fixture: partition pruning must skip something on top of zones")
    def probe = spark.read.parquet(dir)
      .filter(col("tenant") === "beta" &&
        col("price") >= 100.0 && col("price") <= 220.0)
    val off = agg(probe)
    assert(agg(pruned(probe)) === off, "pruning must never change the answer")
    val planFiles = pruned(probe).queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum
    assert(planFiles === zoneSurvivors.size,
      "logical index must hold exactly the store's zone survivors")
    assert(scanFiles(pruned(probe)) === expectedOpened.toLong,
      "executed scan must intersect partition pruning with zone survival")
    assert(off.getLong(0) > 0L)
  }

  test("null axis: IS NOT NULL skips all-null files, IS NULL skips no-null files, value probes imply not-null") {
    import spark.implicits._
    // the sparse-column fixture: `sparse` is null below the threshold
    // and the layout is clustered on the UNDERLYING value, so low files
    // are entirely null (no parquet value stats — zones unbounded) and
    // high files have no nulls at all
    val dir = tempDir("graft-nullaxis").toString + "/t"
    (0 until 4000).map(i => (i.toLong, i * 0.25))
      .toDF("id", "price")
      .withColumn("sparse",
        when(col("price") >= 530.0, col("price")))
      .withColumn("l_quantity", (col("id") % 7).cast("long"))
      .repartitionByRange(8, col("price"))
      .sortWithinPartitions(col("price"))
      .write.mode("overwrite").parquet(dir)
    Storage.attachColumnZones(spark, dir, Seq("sparse"))
    val stats = Storage.readColumnZones(spark, dir).nullCols
    assert(stats.map(_._1) === Seq("sparse"))
    val byFile = stats.head._2
    assert(byFile.size === 8 && byFile.forall(_.nulls.isDefined))
    val allNull = byFile.count(z => z.nulls.get === z.rows)
    val noNull = byFile.count(z => z.nulls.get === 0L)
    assert(allNull > 0 && noNull > 0 && allNull + noNull < 8,
      s"fixture needs all-null, no-null AND straddling files: $allNull/$noNull")

    def planFiles(df: DataFrame): Int =
      pruned(df).queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
      }.sum

    // IS NOT NULL: exactly the all-null files skip
    def nn = spark.read.parquet(dir).filter(col("sparse").isNotNull)
    val nnOff = agg(nn)
    assert(agg(pruned(nn)) === nnOff)
    assert(planFiles(nn) === 8 - allNull, "IS NOT NULL skips all-null files")
    // IS NULL: exactly the no-null files skip
    def isn = spark.read.parquet(dir).filter(col("sparse").isNull)
    val isnOff = agg(isn)
    assert(agg(pruned(isn)) === isnOff)
    assert(planFiles(isn) === 8 - noNull, "IS NULL skips no-null files")
    // a VALUE probe on the sparse column implies not-null: the all-null
    // files are unbounded on the value axis (no parquet stats) yet must
    // still skip via the implied null set — intersect with value zones
    def vp = spark.read.parquet(dir).filter(col("sparse") >= 750.0)
    val vpOff = agg(vp)
    assert(agg(pruned(vp)) === vpOff)
    val zones = Storage.readColumnZones(spark, dir).of(ZoneCodec.Num).head._2
    val valueSurv = zones.count(z => !z.hi.exists(_ < BigDecimal(750)))
    val expected = byFile.sortBy(_.path).zip(zones.sortBy(_.path))
      .count { case (n, z) =>
        n.nulls.get < n.rows && !z.hi.exists(_ < BigDecimal(750))
      }
    assert(expected < valueSurv,
      "fixture: the implied not-null must beat value zones alone")
    assert(planFiles(vp) === expected,
      "value probe must intersect zones with the implied not-null")
  }

  test("every gated zone-map query opens fewer files than its layout holds when it executes (sf0.001)") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    // the layout directory a scan reads: above its files and partition dirs
    def layoutOf(p: org.apache.hadoop.fs.Path): Path = {
      var dir = Paths.get(p.toUri)
      if (!Files.isDirectory(dir)) dir = dir.getParent
      while (dir.getFileName.toString.contains("=")) dir = dir.getParent
      dir
    }
    def heldFiles(root: Path): Long = {
      val w = Files.walk(root)
      try w.iterator().asScala.count { f =>
        f.toString.endsWith(".parquet") && !root.relativize(f).iterator().asScala
          .exists(n => n.toString.startsWith("_") || n.toString.startsWith("."))
      }.toLong
      finally w.close()
    }
    val d = sf("sf0.001")
    val queries = Seq("q216_pruned_read", "q219_append_prune",
      "q227_scaled_prune", "q241_string_prune", "q245_compound_prune",
      "q247_auto_prune", "q260_autoprune_inlist", "q261_autoprune_strrange",
      "q265_autoprune_numrange", "q266_partitioned_prune",
      "q268_num_append_prune", "q269_zorder_autoprune", "q270_colzones_prune",
      "q271_colzones_append", "q272_optimize_compact", "q273_notnull_prune",
      "q274_isnull_prune")
    assert(queries.size === 17)
    for (name <- queries) {
      val q = graft.SparkEntry.queries(name)(spark, d)
      q.collect()
      val ss = scans(q.queryExecution.executedPlan)
      assert(ss.nonEmpty, s"$name: no parquet scan executed")
      ss.foreach { scan =>
        val layouts = scan.relation.location.rootPaths.map(layoutOf).distinct
        assert(layouts.size === 1, s"$name: one scan over several layouts $layouts")
        val opened = scan.metrics("numFiles").value
        val held = heldFiles(layouts.head)
        assert(opened < held,
          s"$name opened $opened of the $held files its layout holds")
      }
    }
  }
}
