package graft.mr

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.{SparkSpec, TempDirs}

/** Differential tests of the MR facade against the reference's committed
  * golden run artifacts (reference: src/main/mr-out-0..9, produced by an
  * 8-map x 10-reduce wc job over the pg-*.txt corpus; comparison is
  * order-insensitive over concatenated output exactly like
  * src/main/test-mr.sh:90-98). The golden differentials are cancelled
  * where the reference checkout is absent (`Reference.assumePresent`);
  * the generated-corpus tests pin the same layout without it. */
class MRJobSpec extends SparkSpec with TempDirs {

  private val refMain = Reference.main
  private def goldenLines: Seq[String] =
    (0 until 10).flatMap { i =>
      Files.readAllLines(Paths.get(s"$refMain/mr-out-$i")).asScala
    }

  test("wc over the reference corpus matches the committed golden output (22,107 keys)") {
    Reference.assumePresent(Reference.corpus ++ Reference.goldens)
    val got = MRJob.runToLines(spark, s"$refMain/pg-*.txt",
      Workloads.wcMap, Workloads.wcReduce, nReduce = 10)
    val want = goldenLines
    assert(got.length === want.length)
    assert(got.sorted.toSeq === want.sorted)
    // corpus invariant (FIXTURES.md §1): Σ counts = total word occurrences
    assert(got.map(_.split(' ')(1).toLong).sum === 623948L)
  }

  test("FNV-1a partitioner reproduces the reference's per-partition file layout") {
    // Stronger than global equality: partition r of our job must hold
    // exactly the keys of the reference's mr-out-r, proving ihash parity
    // (reference: src/mr/worker.go:31-35,128-131).
    Reference.assumePresent(Reference.corpus ++ Reference.goldens)
    val perPart = MRJob
      .onPairs(MRJob.mapFiles(spark, s"$refMain/pg-*.txt", Workloads.wcMap),
        Workloads.wcReduce, nReduce = 10)
      .mapPartitionsWithIndex { case (i, it) => it.map { case (k, v) => (i, s"$k $v") } }
      .collect()
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    (0 until 10).foreach { r =>
      val want = Files.readAllLines(Paths.get(s"$refMain/mr-out-$r")).asScala.sorted.toSeq
      assert(perPart.getOrElse(r, Seq.empty) === want, s"partition $r")
    }
  }

  /** Eight seeded text files over a 400-word vocabulary with non-ASCII
    * letters, digits and punctuation as separators; few enough words
    * that no map task fills the grouping table. */
  private def generatedCorpus(): Path = {
    val dir = tempDir("mr-gen")
    val rnd = new scala.util.Random(17)
    val stems = Seq("alpha", "Beta", "café", "naïve", "straße", "日本", "x", "quux")
    val vocab = (0 until 400).map(i => stems(i % stems.size) + ("abcdefghij" * 5).take(i / stems.size))
    val seps = Seq(" ", "  ", ", ", ".\n", " 42 ", "\r\n", "—")
    (0 until 8).foreach { f =>
      val words = (0 until 1500 + 300 * f).map { _ =>
        // squared uniform: a few hot words, a long tail
        val u = rnd.nextDouble()
        vocab((u * u * vocab.size).toInt) + seps(rnd.nextInt(seps.size))
      }
      Files.writeString(dir.resolve(f"doc$f%02d.txt"), words.mkString)
    }
    dir
  }

  private def sequentialWc(dir: Path): Map[String, String] =
    Files.list(dir).iterator().asScala.toSeq
      .flatMap(p => TokenizeReferee.tokens(Files.readString(p)))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toString }

  test("part files hold each key at its ihash partition, in ascending order, with sequential wc counts") {
    val dir = generatedCorpus()
    val out = tempDir("mr-layout").resolve("job")
    val n = 4
    MRJob.run(spark, s"$dir/*.txt", Workloads.wcMap, Workloads.wcReduce, nReduce = n,
      outDir = out.toString)
    val parts = Files.list(out).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq.sorted
    assert(parts === (0 until n).map(r => f"part-$r%05d"))
    val got = parts.zipWithIndex.flatMap { case (name, r) =>
      val kvs = Files.readAllLines(out.resolve(name)).asScala.toSeq.map { line =>
        val sp = line.lastIndexOf(' ')
        (line.substring(0, sp), line.substring(sp + 1))
      }
      val keys = kvs.map(_._1)
      assert(keys.nonEmpty, name)
      assert(keys.forall(k => MRJob.ihash(k) % n == r), name)
      assert(keys.sliding(2).forall { case Seq(a, b) => a < b; case _ => true },
        s"$name keys not strictly ascending")
      kvs
    }
    assert(got.toMap === sequentialWc(dir))
  }

  test("mapFiles asks for a split per core: more than wholeTextFiles' default 2, at most one per file") {
    val splits = MRJob.mapFiles(spark, s"${generatedCorpus()}/*.txt", Workloads.wcMap).getNumPartitions
    assert(splits > 2 && splits <= 8, s"$splits splits")
  }

  test("the shuffle writes one record per distinct key per map task, not one per pair") {
    val dir = generatedCorpus()
    val glob = s"$dir/*.txt"
    val perTask = MRJob.mapFiles(spark, glob, Workloads.wcMap)
      .mapPartitions(it => Iterator(it.map(_._1).toSeq))
      .collect()
    assert(perTask.length > 1 && perTask.forall(_.size < MRJob.GroupBound))
    val sc = spark.sparkContext
    val group = "mrjob-shuffle-records"
    val listener = new ShuffleRecords(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "wc shuffle record count")
      try MRJob.run(spark, glob, Workloads.wcMap, Workloads.wcReduce, nReduce = 5,
        outDir = tempDir("mr-pin").resolve("job").toString)
      finally sc.clearJobGroup()
      listener.awaitJobsEnded()
    } finally sc.removeSparkListener(listener)
    val pairs = perTask.map(_.size.toLong).sum
    val distinctPerTask = perTask.map(_.distinct.size.toLong).sum
    assert(distinctPerTask < pairs)
    assert(listener.records.get === distinctPerTask)
  }

  test("groupChunks flushes every GroupBound values and keeps each key's values") {
    assert(MRJob.groupChunks(Iterator.empty).isEmpty)
    val in = (0 until 2 * MRJob.GroupBound + 5).map(i =>
      if (i % 3 == 0) (s"k${i % 10}", i.toString) else ("hot", i.toString))
    val chunks = MRJob.groupChunks(in.iterator).map { case (k, packed) =>
      (k, MRJob.unpack(packed).toSeq)
    }.toSeq
    assert(chunks.forall(_._2.nonEmpty))
    assert(chunks.map(_._2.length).sum === in.size)
    // three flushes: the hot key comes out once per flush
    assert(chunks.count(_._1 == "hot") === 3)
    val regrouped = chunks.groupBy(_._1).map { case (k, cs) => k -> cs.flatMap(_._2).sorted }
    assert(regrouped === in.groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).sorted })
  }

  /** Values a packed chunk must carry unchanged: NUL, lone surrogates,
    * non-BMP text, the empty string, ASCII on both sides of Kryo's
    * 64-char ASCII fast path, a 100k-char value and null. */
  private val awkwardValues: Seq[String] = Seq("a\u0000b", "\u0000", "\uD800", "x\uDC00y",
    "\uDC00\uD800", "\uD835\uDC00\uD83D\uDE00", "", "1", "é日本", "\r\n", "q" * 63, "q" * 64,
    "café" * 25000, null)

  test("packed chunks carry every value unchanged, in order, through groupChunks and onPairs") {
    val chunks = MRJob.groupChunks(awkwardValues.iterator.map(("k", _))).toSeq
    assert(chunks.map(_._1) === Seq("k"))
    assert(MRJob.unpack(chunks.head._2).toSeq === awkwardValues)

    val nonNull = awkwardValues.filter(_ != null)
    val keyed = awkwardValues.zipWithIndex.map { case (v, i) => (s"k$i", v) }
    val rdd = spark.sparkContext.parallelize(keyed ++ nonNull.map(("all", _)), 3)
    val out = MRJob.onPairs(rdd, Workloads.sortJoinReduce, nReduce = 4).collect().toMap
    assert(out("all") === nonNull.sorted.mkString(" "))
    keyed.foreach { case (k, v) => if (v != null) assert(out(k) === v, k) }
    val nulls = MRJob.onPairs(rdd, (_, vs) => vs.count(_ == null).toString, nReduce = 4)
      .collect().toMap
    val wantNulls = keyed.map { case (k, v) => k -> (if (v == null) "1" else "0") } :+ ("all" -> "0")
    assert(nulls === wantNulls.toMap)
  }

  test("ihash is non-negative and total over arbitrary strings") {
    val samples = Seq("", "a", "A", "xyzzy", "café", "日本語", "\u0000weird\n")
    samples.foreach { s =>
      val h = MRJob.ihash(s)
      assert(h >= 0)
      assert(h === MRJob.ihash(s)) // deterministic
    }
  }

  test("ihash equals published FNV-1a 32-bit vectors, masked to 31 bits") {
    // Noll's FNV test suite / draft-eastlake-fnv, masked with & 0x7fffffff
    // as the reference does (src/mr/worker.go:31-35).
    val vectors = Seq(
      ""       -> (0x811c9dc5, 18652613),
      "a"      -> (0xe40c292c, 1678518572),
      "foobar" -> (0xbf9cf968, 1067252072))
    val part = new FnvPartitioner(10)
    vectors.foreach { case (s, (fnv1a, masked)) =>
      assert((fnv1a & 0x7fffffff) === masked, s)
      assert(MRJob.ihash(s) === masked, s)
      assert(part.getPartition(s) === MRJob.ihash(s) % 10, s)
    }
  }

  test("indexer matches reference semantics on a crafted corpus") {
    val dir = tempDir("mr-indexer")
    Files.writeString(dir.resolve("d1.txt"), "apple banana apple")
    Files.writeString(dir.resolve("d2.txt"), "banana cherry")
    val got = MRJob.runToLines(spark, s"$dir/*.txt",
      Workloads.indexerMap, Workloads.indexerReduce, nReduce = 3).sorted.toSeq
    // one (word, doc) per DISTINCT word per doc; docs sorted in the output
    assert(got === Seq(
      "apple 1 d1.txt",
      "banana 2 d1.txt,d2.txt",
      "cherry 1 d2.txt"))
  }

  test("groupScan streams values and drains unconsumed tails") {
    val in = Iterator(("a", "1"), ("a", "2"), ("a", "3"), ("b", "9"))
    // reducef consumes only the first value of each group — the scan must
    // still advance past the rest of the group.
    val out = MRJob.groupScan(in, (_, vs) => vs.next()).toList
    assert(out === List(("a", "1"), ("b", "9")))
  }

  test("sort-join reduce (crash/nocrash data semantics) is value-order independent") {
    val r = Workloads.sortJoinReduce
    assert(r("k", Iterator("b", "a", "c")) === "a b c")
    assert(r("k", Iterator("c", "a", "b")) === "a b c")
  }

  test("registered Reduce UDAFs match the facade's reduce semantics in SQL") {
    // SURVEY §2.2: the reference Reduce is a UDAF over the group's
    // values; the registered-Aggregator form must agree with the same
    // reduce run through the facade path, any partitioning
    import spark.implicits._
    ReduceUdaf.register(spark)
    val kvs = Seq(("w1", "1"), ("w2", "1"), ("w1", "1"), ("w3", "1"),
      ("w1", "1"), ("w2", "1"))
    kvs.toDF("k", "v").repartition(5).createOrReplaceTempView("udaf_toks")
    val wc = spark.sql(
      "SELECT k, wc_reduce(v) AS out FROM udaf_toks GROUP BY k")
      .as[(String, String)].collect().toMap
    val wantWc = kvs.groupBy(_._1).map { case (k, vs) =>
      k -> Workloads.wcReduce(k, vs.map(_._2).iterator)
    }
    assert(wc === wantWc)

    val vals = Seq(("a", "xyzzy"), ("a", "f00.txt"), ("a", "42"),
      ("b", "zz"), ("b", "aa"))
    vals.toDF("k", "v").repartition(3).createOrReplaceTempView("udaf_vals")
    val sj = spark.sql(
      "SELECT k, sortjoin_reduce(v) AS out FROM udaf_vals GROUP BY k")
      .as[(String, String)].collect().toMap
    val wantSj = vals.groupBy(_._1).map { case (k, vs) =>
      k -> Workloads.sortJoinReduce(k, vs.map(_._2).iterator)
    }
    assert(sj === wantSj)
    // partial/final split actually happens (map-side combine — the
    // upgrade the reference's reduce-side-only evaluation never gets)
    val plan = spark.sql(
      "SELECT k, wc_reduce(v) FROM udaf_toks GROUP BY k")
      .queryExecution.executedPlan.toString
    // the partial phase must belong to THIS aggregator, not just any
    // aggregate somewhere in the plan
    assert(plan.toLowerCase.contains("partial_wc_reduce"), plan.take(1500))
  }
}

/** Sums the shuffle records written by successful tasks of one job group. */
class ShuffleRecords(group: String) extends SparkListener {
  val records = new AtomicLong(0)
  private val jobs = ConcurrentHashMap.newKeySet[Int]()
  private val ended = ConcurrentHashMap.newKeySet[Int]()
  private val stages = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
      e.stageIds.foreach(stages.add)
      jobs.add(e.jobId)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stages.contains(e.stageId) && e.reason == Success && e.taskMetrics != null)
      records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobs.contains(e.jobId)) ended.add(e.jobId)

  /** Listener events arrive asynchronously; wait for every job of the group. */
  def awaitJobsEnded(timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((jobs.isEmpty || ended.size < jobs.size) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(!jobs.isEmpty && ended.size == jobs.size, s"jobs $jobs ended $ended")
  }
}
