package graft.mr

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Differential tests of the MR facade against the reference's committed
  * golden run artifacts (reference: src/main/mr-out-0..9, produced by an
  * 8-map x 10-reduce wc job over the pg-*.txt corpus; comparison is
  * order-insensitive over concatenated output exactly like
  * src/main/test-mr.sh:90-98). The golden differentials are cancelled
  * where the reference checkout is absent (`Reference.assumePresent`). */
class MRJobSpec extends SparkSpec {

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
    val dir = Files.createTempDirectory("mr-indexer")
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
