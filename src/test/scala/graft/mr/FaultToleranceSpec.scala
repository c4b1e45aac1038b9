package graft.mr

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import graft.{Slow, SparkSpec, TempDirs}

/** Spark analogs of the reference's engine-property workloads
  * (SURVEY.md §2.2 Q3-Q8):
  *   - crash/nocrash differential (src/mrapps/crash.go + test-mr.sh:274-317)
  *     → injected task failures + retry must not change output;
  *   - jobcount (src/mrapps/jobcount.go) → committed-once vs executed-once;
  *   - early_exit (src/mrapps/early_exit.go + test-mr.sh:217-267) → no
  *     partial output visible before job commit;
  *   - mtiming/rtiming (src/mrapps/mtiming.go) → ≥2 concurrent tasks.
  */
object Probes {
  val mapRuns = new AtomicInteger(0)
  val live = new AtomicInteger(0)
  val maxLive = new AtomicInteger(0)
  def enter(): Unit = {
    val n = live.incrementAndGet()
    maxLive.updateAndGet(m => math.max(m, n))
  }
  def exit(): Unit = live.decrementAndGet()

  /** Seeded analog of the reference's crash.go maybeCrash dice (1/3
    * crash, 1/3 stall, 1/3 proceed), per (seed, work item, attempt) so
    * every trial exercises a different crash/straggler schedule. The
    * final allowed attempt always proceeds — the shared session runs
    * maxFailures=4, and the reference's dice likewise re-rolls until its
    * 10 s watchdog reassignment eventually lands a clean execution.
    * Lives on this OBJECT so fault-injecting lambdas don't capture the
    * (unserializable) spec instance. */
  def diceCrash(seed: Long, ident: String): Unit = {
    val tc = TaskContext.get()
    val attempt = if (tc == null) 0 else tc.attemptNumber()
    val rnd = new scala.util.Random(seed ^ ident.hashCode.toLong ^ attempt * 7919L)
    rnd.nextInt(3) match {
      case 0 if attempt < 3 =>
        throw new RuntimeException(s"injected dice crash: $ident attempt $attempt")
      case 1 => Thread.sleep(rnd.nextInt(120).toLong)
      case _ => ()
    }
  }
}

class FaultToleranceSpec extends SparkSpec with TempDirs {

  private def corpus(): Path = {
    val dir = tempDir("mr-fault")
    (0 until 8).foreach { i =>
      Files.writeString(dir.resolve(f"f$i%02d.txt"), s"contents of file $i " * (i + 1))
    }
    dir
  }

  test("crash differential: injected map+reduce task failures leave output identical (Q5 vs Q6)") {
    val dir = corpus()
    val clean = MRJob.runToLines(spark, s"$dir/*.txt",
      Workloads.probeMap, Workloads.sortJoinReduce, nReduce = 5).sorted.toSeq

    // Every task's first attempt dies, both map side and reduce side —
    // a harsher schedule than the reference's 1/3 dice.
    val faultyMap: (String, String) => Seq[KV] = (f, c) => {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException("injected map fault")
      Workloads.probeMap(f, c)
    }
    val faultyReduce: (String, Iterator[String]) => String = (k, vs) => {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException("injected reduce fault")
      Workloads.sortJoinReduce(k, vs)
    }
    val faulted = MRJob.runToLines(spark, s"$dir/*.txt",
      faultyMap, faultyReduce, nReduce = 5).sorted.toSeq
    assert(faulted === clean)
  }

  test("jobcount: map function executes exactly once per file under no failures (Q3)") {
    val dir = corpus()
    Probes.mapRuns.set(0)
    val counting: (String, String) => Seq[KV] = (f, c) => {
      Probes.mapRuns.incrementAndGet()
      Workloads.jobcountMap(f, c)
    }
    val out = MRJob.runToLines(spark, s"$dir/*.txt",
      counting, Workloads.wcReduce, nReduce = 3)
    assert(out.toSeq === Seq("a 8"))
    assert(Probes.mapRuns.get() === 8)
  }

  test("jobcount under faults: re-executions happen but output stays committed-once (Q3 + Q5)") {
    val dir = corpus()
    Probes.mapRuns.set(0)
    val counting: (String, String) => Seq[KV] = (f, c) => {
      Probes.mapRuns.incrementAndGet()
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException("injected fault after side effect")
      Workloads.jobcountMap(f, c)
    }
    val out = MRJob.runToLines(spark, s"$dir/*.txt",
      counting, Workloads.wcReduce, nReduce = 3)
    // The reference makes the same distinction with its rename trick:
    // executions exceed the file count, committed output does not.
    assert(out.toSeq === Seq("a 8"))
    assert(Probes.mapRuns.get() > 8)
  }

  test("early_exit: no partial output visible before job commit; _SUCCESS after (Q4)") {
    val dir = corpus()
    val out = tempDir("mr-early-out").resolve("job")
    val slowReduce = Workloads.earlyExitReduce(Seq("f00", "f03"), delayMs = 3000)

    @volatile var done = false
    val t = new Thread(() => {
      MRJob.run(spark, s"$dir/*.txt", Workloads.earlyExitMap, slowReduce,
        nReduce = 5, outDir = out.toString)
      done = true
    })
    val deadline = System.nanoTime() + 2500L * 1000 * 1000
    t.start()
    var earlyParts = List.empty[String]
    // Poll well inside the 3 s reduce delay: under FileOutputCommitter v1
    // nothing may appear at the output root until job commit.
    while (System.nanoTime() < deadline && !done) {
      if (Files.isDirectory(out)) {
        val parts = Files.list(out).iterator().asScala
          .map(_.getFileName.toString)
          .filter(n => n.startsWith("part-")).toList
        earlyParts = earlyParts ++ parts
      }
      Thread.sleep(100)
    }
    t.join(120000)
    assert(done, "job did not finish")
    assert(earlyParts.isEmpty,
      s"partial output visible before commit: $earlyParts")
    val finalNames = Files.list(out).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(finalNames.contains("_SUCCESS"))
    assert(finalNames.count(_.startsWith("part-")) === 5)
    val lines = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq.sorted
    assert(lines === (0 until 8).map(i => f"f$i%02d.txt 1").sorted)
  }

  test("soak: 5 seed-randomized crash schedules all leave output identical (test-mr-many analog)", Slow) {
    // the reference loops its whole fault suite with fresh seeds
    // (test-mr-many.sh); one-shot fault tests miss schedule-dependent
    // commit races, so the differential runs across 5 distinct dice
    // schedules here
    val dir = corpus()
    val clean = MRJob.runToLines(spark, s"$dir/*.txt",
      Workloads.probeMap, Workloads.sortJoinReduce, nReduce = 5).sorted.toSeq
    for (trial <- 0 until 5) {
      val seed = 9000L + 31L * trial
      val dicedMap: (String, String) => Seq[KV] = (f, c) => {
        Probes.diceCrash(seed, s"map:$f"); Workloads.probeMap(f, c)
      }
      val dicedReduce: (String, Iterator[String]) => String = (k, vs) => {
        Probes.diceCrash(seed, s"reduce:$k"); Workloads.sortJoinReduce(k, vs)
      }
      val faulted = MRJob.runToLines(spark, s"$dir/*.txt",
        dicedMap, dicedReduce, nReduce = 5).sorted.toSeq
      assert(faulted === clean, s"trial $trial (seed $seed) diverged")
    }
  }

  test("mtiming/rtiming: at least 2 concurrently running map and reduce tasks (Q7/Q8)") {
    val dir = corpus()
    Probes.maxLive.set(0); Probes.live.set(0)
    val probedMap: (String, String) => Seq[KV] = (f, c) => {
      Probes.enter(); try { Thread.sleep(300); Workloads.probeMap(f, c) } finally Probes.exit()
    }
    MRJob.runToLines(spark, s"$dir/*.txt", probedMap, Workloads.sortJoinReduce, nReduce = 5)
    val mapPar = Probes.maxLive.get()

    Probes.maxLive.set(0); Probes.live.set(0)
    val probedReduce: (String, Iterator[String]) => String = (k, vs) => {
      Probes.enter(); try { Thread.sleep(300); Workloads.sortJoinReduce(k, vs) } finally Probes.exit()
    }
    MRJob.runToLines(spark, s"$dir/*.txt", Workloads.probeMap, probedReduce, nReduce = 5)
    val reducePar = Probes.maxLive.get()

    assert(mapPar >= 2, s"map parallelism $mapPar")
    assert(reducePar >= 2, s"reduce parallelism $reducePar")
  }
}
