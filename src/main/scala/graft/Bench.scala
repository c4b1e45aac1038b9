package graft

/** Benchmark main. Runs every registered query on
  * sys.env("SPARK_GRAFT_SF_DIR") and prints ONE JSON line with per-query
  * wall seconds. A query that throws is recorded as an `err` entry (and
  * excluded from the total) and the process exits nonzero — a failure must
  * never masquerade as a fast timing.
  *
  * Stdout protocol (r16): TWO tail-adjacent lines. Line 1 is the
  * per-query dict — numeric keys ("q216_…" → "216"), INTEGER
  * centisecond values, cheapest-first, with sub-0.1 s entries floored
  * into `n_floored` (a single ~2.4 KB line clipped from the HEAD of
  * the driver's ~2.5 KB capture window lost `"metric":"total"` at 259
  * queries — `"parsed": null` from r13 through r15). Line 2, the LAST
  * stdout line a tail-anchored capture always holds whole, is a short
  * `{"metric":"total",...,"nq":N}` summary. The FULL-NAME + seconds
  * form of the complete record is written to `BENCH_full.json` in the
  * working directory (override with SPARK_GRAFT_BENCH_OUT) so a
  * complete readable record always exists on disk.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports
  * the MEDIAN: this VM shows ±2-3× transient contention, and one-shot
  * numbers have repeatedly mislead (r03's 28.4 s q50 artifact re-measured
  * at a 4.7 s median). The first rep also absorbs the query's codegen
  * compilation, so the median reflects steady-state execution. That
  * holds only while the query's generated classes stay in Spark's
  * codegen cache, so the classes compiled during reps 2..n are counted,
  * and each query that compiled any is named in a `[bench]` stderr line.
  */
object Bench {
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val spark = GraftSession.getOrCreate("graft-bench")
    // fail fast with named column diffs on testdata schema drift (the
    // round-8 postmortem: 19 opaque per-query crashes) — same guard as
    // Verify, so the bench dies with ONE readable cause instead
    graft.operators.SchemaGuard.require(spark, sfDir)
    // Untimed warmup: initialize codegen, parquet reader and shuffle
    // machinery so the first timed query doesn't absorb JVM startup.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").count().collect()
    } catch { case _: Throwable => () }
    var failed = List.empty[String]
    val results: Seq[(String, Either[String, Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        try {
          var steadyFrom = 0L
          val times = (1 to reps).map { rep =>
            if (rep == 2) steadyFrom = codegenCompiles()
            // Each rep measured from a clean cache: operators that persist
            // intermediate data (LSH grams/signatures) must pay their own
            // cache-build cost, and earlier reps' cached blocks must not
            // occupy storage memory (and drive GC) during later timings.
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            // noop sink: materializes every projected column (same work
            // the verify path does — Catalyst can't prune to a bare
            // count) AND runs through SQLExecution, so observe metrics
            // and QueryExecutionListeners (the cap-drop WARN) fire —
            // a bare toRdd.count() posts no SQL execution events.
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }.sorted
          if (reps > 1) {
            val recompiled = codegenCompiles() - steadyFrom
            if (recompiled > 0) System.err.println(
              s"[bench] $name compiled $recompiled codegen classes after its first rep")
          }
          // true median (mean of the middle pair when reps is even)
          name -> Right(
            if (times.size % 2 == 1) times(times.size / 2)
            else (times(times.size / 2 - 1) + times(times.size / 2)) / 2)
        } catch {
          case e: Throwable =>
            failed ::= name
            name -> Left(Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(200))
        }
      }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // ms precision: 1/1000 of any per-query timing we report; keeps the
    // 215-query line at ~6 KB instead of ~12 KB
    def ms(v: Double): String = {
      val r = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      r.underlying.stripTrailingZeros.toPlainString
    }
    // BENCH_full.json: full names + second values, name-sorted for
    // stable diffs — the complete readable record.
    def qmapFull: String = results.map {
      case (k, Right(v)) => s"${jstr(k)}:${ms(v)}"
      case (k, Left(e)) => s"${jstr(k)}:{${jstr("err")}:${jstr(e)}}"
    }.mkString("{", ",", "}")
    val shortKeys = results.map(_._1.drop(1).takeWhile(_.isDigit).toInt)
    require(shortKeys.distinct.size == shortKeys.size,
      "duplicate numeric query keys — compact stdout encoding would lose timings")
    val total = results.collect { case (_, Right(v)) => v }.sum
    def fullLine: String =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qmapFull,"sf":${jstr(sfDir)},"reps":$reps,"failed":${failed.size}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    // TWO tail-adjacent stdout lines (round-15 verdict task 2: a single
    // ~2.4 KB line clipped from the HEAD lost `"metric":"total"` at 259
    // queries — `"parsed": null` every round since the registry passed
    // ~225). Line 1 carries the per-query dict: cheapest-first, and
    // cheap entries FLOORED into a count (they are the first to be
    // clipped anyway and carry no banding signal; `n_floored` keeps the
    // record explicit). Line 2 — the LAST line, which a tail-anchored
    // capture always holds whole — is a short parseable summary with the
    // total. BENCH_full.json keeps every entry at full precision.
    //
    // SIZE-AWARE flooring (round-16 verdict task 1): a CONSTANT floor
    // sized for one registry silently re-opens the gap every time the
    // registry grows — at 264 queries the 10 cs floor floored ONE entry
    // while 63 were head-clipped UNCOUNTED, and "clipped" cannot be told
    // apart from "never ran". The floor is now RAISED from the 10 cs
    // baseline until the encoded line fits the capture budget (~2.5 KB
    // window, 2000-byte target leaving headroom for the summary line),
    // dropping cheapest-first — so at ANY registry size every registered
    // query is either present or counted in `n_floored`, never silently
    // lost. Err entries are never floored: a failure must always be
    // visible in the captured record (if errs alone overflow the budget
    // the run is broken anyway and exits nonzero with stderr detail).
    val lineBudgetBytes = 2000
    def cs(v: Double): Long = math.round(v * 100)
    def qnum(k: String): String = k.drop(1).takeWhile(_.isDigit).toInt.toString
    def qlineFor(floorCs: Long): (String, Int) = {
      val kept = results.filter {
        case (_, Right(v)) => cs(v) >= floorCs
        case (_, Left(_)) => true // err entries always survive
      }
      val nFloored = results.size - kept.size
      val dict = kept.sortBy {
        case (_, Right(v)) => (0, v)
        case (_, Left(_)) => (1, 0.0)
      }.map {
        case (k, Right(v)) => s"${jstr(qnum(k))}:${cs(v)}"
        case (k, Left(e)) => s"${jstr(qnum(k))}:{${jstr("err")}:${jstr(e)}}"
      }.mkString("{", ",", "}")
      (s"""{"metric":"queries","queries_key":"qnum","queries_unit":"cs","floor_cs":$floorCs,"n_floored":$nFloored,"queries":$dict}""",
        nFloored)
    }
    var floorCs = 10L
    var (qline, nFloored) = qlineFor(floorCs)
    while (qline.getBytes("UTF-8").length > lineBudgetBytes && {
        // raise the floor just past the cheapest surviving ok entry;
        // each pass drops at least one, so this terminates
        val surviving = results.collect {
          case (_, Right(v)) if cs(v) >= floorCs => cs(v) }
        surviving.nonEmpty
      }) {
      floorCs = results.collect {
        case (_, Right(v)) if cs(v) >= floorCs => cs(v) }.min + 1
      val (l, n) = qlineFor(floorCs)
      qline = l; nFloored = n
    }
    def summaryLine: String =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","sf":${jstr(sfDir)},"reps":$reps,"nq":${results.size},"n_floored":$nFloored,"failed":${failed.size}}"""
    // stop the session BEFORE printing: both lines must be the LAST
    // stdout lines so a tail-anchored capture window holds the summary
    // whole and as much of the dict as fits
    spark.stop()
    println(qline)
    println(summaryLine)
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
