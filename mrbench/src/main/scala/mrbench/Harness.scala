package mrbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.mr.{MRJob, Workloads}
import graft.operators._

/** The benchmark's JVM side. One run = one fresh JVM:
  *
  *   1. set-up: `GraftSession`, kernel registration, then the untimed
  *      warm-up passes; the first writes every output for the oracle
  *      check that `run.py` makes after the JVM exits;
  *   2. timed passes over the workload's jobs, as many as fit in
  *      `--seconds` at the last warm-up pass's pace (at least
  *      [[MinPasses]]), each job timed from outside:
  *      `build` is the call into the program's query function (or the
  *      MR job's preparation), `exec` the action that runs it;
  *   3. with `--trace 1`, [[TracedPasses]] passes instead, untraced and
  *      traced (the [[Tracer]] listeners attached) alternating in pairs;
  *      the per-layer metrics come from the traced passes, and the
  *      kernel probes run after the passes.
  *
  * Writes one JSON object to `--result`; with `--trace 1` also the spans
  * and per-query table to `--trace-out`.
  *
  * Usage: `Harness --workload W --data DIR --work DIR --seconds S
  *   --seed N --trace 0|1 --result FILE [--trace-out FILE]`. */
object Harness {

  /** Query workloads: `SparkEntry` query-name prefixes in pass order. */
  val queryWorkloads: Map[String, Seq[String]] = Map(
    "llm_ops" -> Seq("q210", "q21", "q113", "q86"))

  /** Untimed passes before timing: the first writes the checked outputs,
    * the second lets JIT compilation settle further (passes keep
    * speeding up for several passes after the first). */
  val WarmupPasses = 2
  val MinPasses = 3

  /** A traced run's timed passes, whatever `--seconds` says: three
    * untraced and three traced, so that per-query medians and the
    * overhead rest on three passes of each kind. */
  val TracedPasses = 6

  /** Operator modules the workloads' queries live in; `op.<Module>.*`
    * metrics are reported for each on every workload. */
  val modules: Seq[(String, Set[String])] = Seq(
    "Dedup" -> Dedup.all.keySet, "Graph" -> Graph.all.keySet,
    "Relational" -> Relational.all.keySet)

  sealed trait Sink
  case object Noop extends Sink
  final case class Check(dir: String) extends Sink

  /** One unit of a pass: `build` calls into the program and returns the
    * action that executes what it built. */
  final case class Job(name: String, module: String,
      build: Sink => (() => Unit))

  final case class JobTime(name: String, module: String, buildS: Double,
      execS: Double, startMs: Long, endMs: Long, batch: Option[Batch],
      error: Option[String]) {
    def totalS: Double = buildS + execS
  }

  final case class Pass(index: Int, traced: Boolean, wallS: Double,
      cpuS: Double, gcS: Double, codegenCompiles: Long, startMs: Long,
      endMs: Long, jobs: Seq[JobTime])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    // exit explicitly either way: a failed run must not be kept alive by
    // Spark's non-daemon threads
    try run(opt)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val seed = opt("seed").toLong
    val traced = opt.get("trace").contains("1")
    val cores = GraftSession.cpus.toInt

    val t0 = System.nanoTime()
    val spark = GraftSession.builder("mrbench").getOrCreate()
    val t1 = System.nanoTime()
    GraftSession.getOrCreate("mrbench") // registers kernels and rules
    val t2 = System.nanoTime()

    val jobs =
      if (workload == "mr_corpus") mrJobs(spark, data, work)
      else queryJobs(spark, data, queryWorkloads(workload))
    val checkDir = s"$work/check"
    val warm = (0 until WarmupPasses).map { i =>
      runPass(spark, jobs, if (i == 0) Check(checkDir) else Noop, i, None,
        work)
    }
    if (workload != "mr_corpus") writeOracleSql(checkDir, jobs.map(_.name))
    warm.foreach(p => System.err.println(s"[mrbench] warm-up pass ${p.index}: " +
      p.jobs.map(j => f"${j.name} ${j.totalS}%.2f s").mkString(", ")))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // The pass count is fixed before timing starts, from the last warm-up
    // pass: passes still speed up from one to the next, so a count that
    // depended on the timed passes themselves would move the median. A
    // traced run orders its passes untraced, traced, traced, untraced, ...
    // so that this speed-up does not favour either kind.
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val planned = math.max(MinPasses, math.round(seconds / warm.last.wallS).toInt)
    val nPasses = if (traced) TracedPasses else planned
    val passes = (0 until nPasses).map { i =>
      val on = tracer.filter(_ => i % 4 == 1 || i % 4 == 2)
      on.foreach(_.attach())
      val p = runPass(spark, jobs, Noop, warm.size + i, on, work)
      on.foreach(_.detach())
      p
    }

    System.err.println("[mrbench] timed passes: " +
      passes.map(p => f"${p.wallS}%.2f s").mkString(", "))
    val all = warm ++ passes
    val errors = all.flatMap(_.jobs.flatMap(j =>
      j.error.map(e => s"${j.name}: $e"))).distinct
    val queryMedians = jobs.map(j =>
      j.name -> median(passes.map(_.jobs.find(_.name == j.name).get.totalS)))
    val out = new Metrics
    if (!traced) {
      out("setup_s", setupS, "s")
      out("makespan_s", median(passes.map(_.wallS)), "s")
      out("query_geomean_s", geomean(queryMedians.map(_._2)), "s")
      out("cpu_s", median(passes.map(_.cpuS)), "s")
      out("peak_rss_mb", vmHwmMb(), "MB")
    } else {
      val tp = passes.filter(_.traced)
      val up = passes.filterNot(_.traced)
      out("setup.session_s", (t1 - t0) / 1e9, "s")
      out("setup.register_s", (t2 - t1) / 1e9, "s")
      out("setup.warmup_s", warm.map(_.wallS).sum, "s")
      out("jvm.jit_s",
        ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
        "s")
      out("jvm.gc_s", median(tp.map(_.gcS)), "s")
      out("jvm.codegen_compiles", median(tp.map(_.codegenCompiles.toDouble)),
        "count")
      out("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
      layerMetrics(tp, cores).foreach { case (k, (v, u)) => out(k, v, u) }
      val overhead = median(tp.map(_.wallS)) / median(up.map(_.wallS))
      val k0 = System.nanoTime()
      kernelProbes(spark, seed, cores).foreach { case (k, v) =>
        out(s"kernel.$k.ns_per_row", v, "ns/row")
      }
      System.err.println(f"[mrbench] kernel probes: ${(System.nanoTime() - k0) / 1e9}%.1f s")
      out("trace.overhead", overhead, "ratio")
      opt.get("trace-out").foreach(f =>
        writeTrace(f, workload, seed, cores, all, tp, up, jobs,
          overhead, out))
    }
    spark.stop()
    val json = s"""{"attempted":${all.map(_.jobs.size).sum},""" +
      s""""failed":${all.map(_.jobs.count(_.error.nonEmpty)).sum},""" +
      s""""errors":${errors.map(jstr).mkString("[", ",", "]")},""" +
      s""""passes":${passes.size},"queries":${queryMedians.map { case (k, v) =>
        s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")},""" +
      s""""metrics":${out.json}}"""
    Files.writeString(Paths.get(opt("result")), json + "\n")
  }

  def queryJobs(spark: SparkSession, data: String,
      prefixes: Seq[String]): Seq[Job] = {
    val registry = SparkEntry.queries
    prefixes.map { p =>
      val name = registry.keys.find(_.startsWith(p + "_"))
        .getOrElse(sys.error(s"no registered query $p"))
      val fn = registry(name)
      val module = modules.collectFirst { case (m, qs) if qs(name) => m }
        .getOrElse("Other")
      Job(name, module, sink => {
        val df = fn(spark, data)
        sink match {
          case Noop => () => df.write.format("noop").mode("overwrite").save()
          case Check(d) => () => df.write.mode("overwrite").parquet(s"$d/$name")
        }
      })
    }
  }

  /** The paper's engine: wc then indexer over the corpus, nReduce=10.
    * Timed passes write to a per-pass directory that is deleted after
    * the pass, outside its timing. */
  def mrJobs(spark: SparkSession, corpus: String, work: String): Seq[Job] = {
    def job(name: String, map: (String, String) => Seq[graft.mr.KV],
        reduce: (String, Iterator[String]) => String): Job =
      Job(name, "MRJob", sink => {
        val out = sink match {
          case Check(d) => s"$d/$name"
          case Noop => s"$work/out/${java.util.UUID.randomUUID}/$name"
        }
        () => MRJob.run(spark, s"$corpus/*.txt", map, reduce, 10, out)
      })
    Seq(job("wc", Workloads.wcMap, Workloads.wcReduce),
      job("indexer", Workloads.indexerMap, Workloads.indexerReduce))
  }

  def runPass(spark: SparkSession, jobs: Seq[Job], sink: Sink, index: Int,
      tracer: Option[Tracer], work: String): Pass = {
    val sc = spark.sparkContext
    val cpu0 = processCpuNs()
    val gc0 = gcMs()
    val cg0 = codegenCompiles()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val times = jobs.map { j =>
      spark.catalog.clearCache()
      val s0 = System.currentTimeMillis()
      val a = System.nanoTime()
      var b = a
      var error: Option[String] = None
      try {
        sc.setJobGroup(s"p$index/${j.name}/build", j.name)
        val exec = j.build(sink)
        b = System.nanoTime()
        sc.setJobGroup(s"p$index/${j.name}/exec", j.name)
        exec()
      } catch {
        case e: Throwable =>
          if (b == a) b = System.nanoTime()
          error = Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(300))
      } finally sc.clearJobGroup()
      val c = System.nanoTime()
      JobTime(j.name, j.module, (b - a) / 1e9, (c - b) / 1e9, s0,
        System.currentTimeMillis(), tracer.map(_.harvest()), error)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val pass = Pass(index, tracer.nonEmpty, wall,
      (processCpuNs() - cpu0) / 1e9, (gcMs() - gc0) / 1e3,
      codegenCompiles() - cg0, start, System.currentTimeMillis(), times)
    deleteTree(Paths.get(s"$work/out"))
    pass
  }

  /** Per-layer metrics, each the median over the traced passes of its
    * per-pass value. */
  def layerMetrics(tp: Seq[Pass], cores: Int): Seq[(String, (Double, String))] = {
    val perPass = tp.map(p => passLayer(p, cores))
    perPass.head.map { case (k, (_, unit)) =>
      k -> (median(perPass.map(_.apply(k)._1)), unit)
    }.toSeq
  }

  private def passLayer(p: Pass, cores: Int): mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val batches = p.jobs.flatMap(_.batch)
    val tasks = batches.flatMap(_.tasks)
    val stages = batches.flatMap(_.stages)
    val execs = batches.flatMap(_.execs)
    val mb = 1048576.0
    val byStage = tasks.groupBy(t => (t.stage, t.attempt))
    def skew(ts: Seq[TaskRec]): Double = {
      val d = ts.map(_.durationMs.toDouble).sorted
      d.last / math.max(median(d), 1.0)
    }

    val mr = p.jobs.filter(_.module == "MRJob")
    val mrGroups = mr.map(j => s"p${p.index}/${j.name}/").toSet
    val mrStages = stages.filter(s => mrGroups.exists(s.group.startsWith))
    val mrTasks = mrStages.flatMap(s => byStage.getOrElse((s.stage, s.attempt), Nil))
    val (mapStages, reduceStages) = mrStages.partition(s =>
      byStage.getOrElse((s.stage, s.attempt), Nil).exists(_.shuffleWriteRecords > 0))
    def stageS(ss: Seq[StageRec]) = ss.map(s => s.endMs - s.submitMs).sum / 1e3
    def jobS(name: String) = mr.find(_.name == name).map(_.totalS).getOrElse(0.0)
    m("mr.wc_s") = (jobS("wc"), "s")
    m("mr.indexer_s") = (jobS("indexer"), "s")
    m("mr.map_stage_s") = (stageS(mapStages), "s")
    m("mr.reduce_stage_s") = (stageS(reduceStages), "s")
    m("mr.pairs") = (mrTasks.map(_.shuffleWriteRecords).sum.toDouble, "count")
    m("mr.shuffle_write_mb") = (mrTasks.map(_.shuffleWriteBytes).sum / mb, "MB")
    m("mr.spill_mb") = (mrTasks.map(_.spillBytes).sum / mb, "MB")
    val reduceSkews = reduceStages.map(s => byStage.getOrElse((s.stage, s.attempt), Nil))
      .filter(_.nonEmpty).map(skew)
    m("mr.reduce_skew") = (if (reduceSkews.isEmpty) 0.0 else reduceSkews.max, "ratio")

    modules.map(_._1).foreach { mod =>
      val js = p.jobs.filter(_.module == mod)
      m(s"op.$mod.build_s") = (js.map(_.buildS).sum, "s")
      m(s"op.$mod.exec_s") = (js.map(_.execS).sum, "s")
      m(s"op.$mod.eager_jobs") = (js.flatMap(_.batch).flatMap(_.jobs)
        .count(_.endsWith("/build")).toDouble, "count")
    }

    m("plan.analysis_s") = (execs.map(_.analysisS).sum, "s")
    m("plan.optimization_s") = (execs.map(_.optimizationS).sum, "s")
    m("plan.planning_s") = (execs.map(_.planningS).sum, "s")
    m("plan.executions") = (execs.size.toDouble, "count")
    m("plan.broadcast_joins") = (execs.map(_.broadcastJoins).sum.toDouble, "count")
    m("plan.shuffle_joins") = (execs.map(_.shuffleJoins).sum.toDouble, "count")
    m("plan.rdd_scans") = (execs.map(_.rddScans).sum.toDouble, "count")
    m("plan.grouptopk_ops") = (execs.map(_.groupTopK).sum.toDouble, "count")

    val taskS = tasks.map(_.runMs).sum / 1e3
    m("stage.count") = (stages.size.toDouble, "count")
    m("stage.tasks") = (tasks.size.toDouble, "count")
    m("stage.task_s") = (taskS, "s")
    m("stage.task_cpu_s") = (tasks.map(_.cpuNs).sum / 1e9, "s")
    m("stage.gc_s") = (tasks.map(_.gcMs).sum / 1e3, "s")
    m("stage.input_mb") = (tasks.map(_.inputBytes).sum / mb, "MB")
    m("stage.shuffle_read_mb") = (tasks.map(_.shuffleReadBytes).sum / mb, "MB")
    m("stage.shuffle_write_mb") = (tasks.map(_.shuffleWriteBytes).sum / mb, "MB")
    m("stage.spill_mb") = (tasks.map(_.spillBytes).sum / mb, "MB")
    m("stage.task_failures") = (tasks.count(_.failed).toDouble, "count")
    val wide = byStage.values.filter(_.size >= cores).map(skew)
    m("stage.skew") = (if (wide.isEmpty) 0.0 else wide.max, "ratio")
    m("stage.core_busy_frac") = (taskS / (cores * p.wallS), "ratio")
    val busy = coveredMs(stages.map(s => (s.submitMs, s.endMs)), p.startMs, p.endMs)
    m("stage.driver_gap_s") = (((p.endMs - p.startMs) - busy) / 1e3, "s")
    m("caps.checked_rows") = (execs.map(_.capsIn).sum.toDouble, "count")
    m("caps.dropped_rows") = (execs.map(_.capsDropped).sum.toDouble, "count")
    m
  }

  /** Length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def coveredMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = iv.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = lo
    sorted.foreach { case (a, b) =>
      if (b > end) { total += b - (a max end); end = b }
    }
    total
  }

  /** ns/row of each registered kernel and of the inline md5→hex→conv
    * chain over seeded `spark.range` rows. The rows are generated and
    * cached first; `baseline` is the scan of the cached rows alone, and
    * each kernel's figure is its scan-plus-kernel time less the
    * baseline (so a kernel cheaper than the noise can read below 0).
    * Rounds are interleaved and each probe's median is taken. */
  def kernelProbes(spark: SparkSession, seed: Long, cores: Int): Seq[(String, Double)] = {
    val rows = 200000L
    val rounds = 3
    val words = Seq("alpha", "beta", "gamma", "delta", "spark", "shuffle",
      "reduce", "token", "corpus", "window", "bucket", "minhash", "query",
      "stage", "kernel", "vector").map(w => s"'$w'").mkString(",")
    // one hash per row; its 4-bit digits pick the 16 words and vector
    // components
    def digit(i: Int) = s"cast(shiftright(h, ${4 * i}) & 15 AS int)"
    val gen = spark.range(0, rows, 1, cores)
      .selectExpr(s"xxhash64(id, ${seed}L) AS h")
      .selectExpr(
        (0 until 16).map(i => s"element_at(array($words), ${digit(i)} + 1)")
          .mkString("array(", ", ", ") AS toks"),
        (0 until 16).map(i => s"cast(${digit(i)} AS double) / 16")
          .mkString("array(", ", ", ") AS vec"),
        "cast(h AS string) AS s")
      .selectExpr("toks", "array_join(toks, ' ') AS text", "vec", "s")
      .cache()
    gen.count()
    val probes = Seq(
      "baseline" -> "",
      "minhash_bands" -> "minhash_bands(toks, 8, 4)",
      "chunk_stats" -> "chunk_stats(text, 8)",
      "payload_simhash" -> "payload_simhash(to_binary(text, 'utf-8'))",
      "alpha_tokens" -> "alpha_tokens(text)",
      "vec_dot" -> "vec_dot(vec, vec)",
      "fnv_ihash" -> "fnv_ihash(s)",
      "md5_conv_chain" -> "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)")
    val times = mutable.Map.empty[String, ArrayBuffer[Double]]
    (0 to rounds).foreach { r =>
      probes.foreach { case (k, e) =>
        val df = if (e.isEmpty) gen else gen.selectExpr("*", s"$e AS k")
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        // round 0 compiles and warms each probe; it is not counted
        if (r > 0) times.getOrElseUpdate(k, ArrayBuffer.empty) +=
          (System.nanoTime() - t0).toDouble
      }
    }
    gen.unpersist()
    val base = median(times("baseline").toSeq)
    probes.map { case (k, _) =>
      val t = median(times(k).toSeq)
      k -> (if (k == "baseline") t else t - base) / rows
    }
  }

  def writeTrace(file: String, workload: String, seed: Long, cores: Int,
      all: Seq[Pass], tp: Seq[Pass], up: Seq[Pass], jobs: Seq[Job],
      overhead: Double, metrics: Metrics): Unit = {
    val spans = ArrayBuffer.empty[String]
    var nextId = 0
    def span(parent: Int, kind: String, name: String, a: Long, b: Long): Int = {
      nextId += 1
      spans += s"""{"id":$nextId,"parent":$parent,"kind":"$kind",""" +
        s""""name":${jstr(name)},"start_ms":$a,"end_ms":$b}"""
      nextId
    }
    val run = span(0, "run", workload, all.head.startMs, all.last.endMs)
    tp.foreach { p =>
      val ps = span(run, "pass", s"pass ${p.index}", p.startMs, p.endMs)
      p.jobs.foreach { j =>
        val q = span(ps, "query", j.name, j.startMs, j.endMs)
        val mid = j.startMs + math.round(j.buildS * 1e3)
        val phase = Map(
          "build" -> span(q, "build", j.name, j.startMs, mid),
          "exec" -> span(q, "exec", j.name, mid, j.endMs))
        j.batch.toSeq.flatMap(_.stages).foreach { s =>
          val parent = phase.getOrElse(s.group.split('/').last, q)
          span(parent, "stage", s"${s.stage}.${s.attempt} ${s.name}",
            s.submitMs, s.endMs)
        }
      }
    }
    def med(ps: Seq[Pass], name: String, f: JobTime => Double) =
      median(ps.map(p => f(p.jobs.find(_.name == name).get)))
    val queries = jobs.map { j =>
      val untraced = med(up, j.name, _.totalS)
      val build = med(tp, j.name, _.buildS)
      val exec = med(tp, j.name, _.execS)
      s"""${jstr(j.name)}:{"module":${jstr(j.module)},""" +
        s""""untraced_s":${num(untraced)},"build_s":${num(build)},""" +
        s""""exec_s":${num(exec)},"ratio":${num((build + exec) / untraced)}}"""
    }
    val tpLayers = tp.map { p =>
      s"""{"index":${p.index},"wall_s":${num(p.wallS)},"metrics":""" +
        passLayer(p, cores).map { case (k, (v, _)) => s"${jstr(k)}:${num(v)}" }
          .mkString("{", ",", "}") + "}"
    }
    Files.writeString(Paths.get(file),
      s"""{"workload":${jstr(workload)},"seed":$seed,""" +
        s""""overhead":${num(overhead)},""" +
        s""""queries":${queries.mkString("{", ",", "}")},""" +
        s""""traced_passes":${tpLayers.mkString("[", ",", "]")},""" +
        s""""metrics":${metrics.json},""" +
        s""""spans":${spans.mkString("[\n", ",\n", "]")}}""" + "\n")
  }

  def writeOracleSql(dir: String, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      names.flatMap(n => sql.get(n).map(s => s"${jstr(n)}:${jstr(s)}"))
        .mkString("{", ",", "}"))
  }

  final class Metrics {
    private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def apply(name: String, value: Double, unit: String): Unit =
      m(name) = (value, unit)
    def json: String = m.map { case (k, (v, u)) =>
      s"""${jstr(k)}:{"value":${num(v)},"unit":${jstr(u)}}"""
    }.mkString("{", ",", "}")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Classes Spark's code generator has compiled (with Janino) in this
    * JVM; a query whose generated code misses the codegen cache pays
    * this on every execution. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
