package graft.mr

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based invariants of the MR core (FIXTURES.md §3 plan):
  * partition totality, group completeness, repartition insensitivity.
  * ScalaCheck generators driven with deterministic seeds (the
  * scalatest/scalacheck bridge artifact isn't in the offline cache).
  */
class PropertiesSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("partition totality: every key lands in [0, n) for any n > 0") {
    val cases = samples(Gen.zip(Gen.asciiPrintableStr, Gen.choose(1, 64)), 200)
    cases.foreach { case (key, n) =>
      val b = new FnvPartitioner(n).getPartition(key)
      assert(b >= 0 && b < n, s"key=$key n=$n")
    }
  }

  test("partitioning is deterministic and unicode-safe") {
    val keys = samples(Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString), 200)
    keys.foreach { key =>
      assert(MRJob.ihash(key) === MRJob.ihash(new String(key.toCharArray)))
      assert(MRJob.ihash(key) >= 0)
    }
  }

  test("group completeness: sum of per-key counts equals total record count") {
    // wc over generated records: no record may be lost or duplicated by
    // the shuffle + sorted group-scan.
    val gen = Gen.listOfN(500,
      Gen.zip(Gen.oneOf("a", "b", "c", "dd", "ee", "", "☃"), Gen.alphaNumStr))
    samples(gen, 3).foreach { records =>
      val rdd = spark.sparkContext.parallelize(records, 6)
      val counts = MRJob.onPairs(rdd, (_, vs) => vs.size.toString, nReduce = 4)
        .collect().toMap
      assert(counts.values.map(_.toLong).sum === records.size.toLong)
      assert(counts.keySet === records.map(_._1).toSet)
    }
  }

  test("repartition insensitivity: output is identical for any nReduce and input split") {
    val records = (0 until 1000).map(i => (s"k${i % 37}", s"v$i"))
    def run(nIn: Int, nReduce: Int): Seq[(String, String)] =
      MRJob.onPairs(spark.sparkContext.parallelize(records, nIn),
        Workloads.sortJoinReduce, nReduce).collect().sorted.toSeq
    val base = run(4, 10)
    assert(run(1, 1) === base)
    assert(run(13, 3) === base)
    assert(run(7, 32) === base)
  }

  test("reduce sees each key exactly once per job") {
    val records = (0 until 300).map(i => (s"key${i % 11}", i.toString))
    val rdd = spark.sparkContext.parallelize(records, 5)
    val out = MRJob.onPairs(rdd, (_, vs) => vs.size.toString, nReduce = 7).collect()
    assert(out.map(_._1).toSeq.sorted === out.map(_._1).distinct.toSeq.sorted)
    assert(out.length === 11)
  }

  /** Three map tasks of 1.5 x GroupBound pairs each, six in seven on one
    * hot key: the hot key overflows a task's grouping table, so it
    * reaches every reducer as several chunks from several tasks. */
  private val hotRecords: Seq[(String, String)] =
    (0 until 3 * (MRJob.GroupBound + MRJob.GroupBound / 2)).map { i =>
      if (i % 7 == 3) (s"cold${i % 5}", s"c$i") else ("hot", i.toString)
    }
  private def hotRdd = spark.sparkContext.parallelize(hotRecords, 3)

  test("a hot key beyond the grouping bound keeps its count and value multiset") {
    val firstTask = hotRdd.glom().first()
    assert(MRJob.groupChunks(firstTask.iterator).count(_._1 == "hot") > 1)
    val want = hotRecords.groupBy(_._1).map { case (k, kvs) =>
      k -> Workloads.sortJoinReduce(k, kvs.map(_._2).iterator)
    }
    assert(MRJob.onPairs(hotRdd, Workloads.sortJoinReduce, nReduce = 4).collect().toMap === want)
    val counts = MRJob.onPairs(hotRdd, (_, vs) => vs.size.toString, nReduce = 4).collect().toMap
    assert(counts("hot").toInt === hotRecords.count(_._1 == "hot"))
  }

  test("a reducef that reads one value still drains a chunked hot key; the next key is right") {
    val values = hotRecords.groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).toSet }
    // "hotter" sorts right after "hot" and has one value, so a scan that
    // stopped inside hot's chunks would hand it a hot value
    val rdd = hotRdd.union(spark.sparkContext.parallelize(Seq(("hotter", "h"), ("hou", "u")), 2))
    Seq(1, 3).foreach { nReduce =>
      val out = MRJob.onPairs(rdd, (_, vs) => vs.next(), nReduce).collect()
      assert(out.map(_._1).sorted.toSeq === (values.keySet + "hotter" + "hou").toSeq.sorted)
      val got = out.toMap
      assert(got("hotter") === "h" && got("hou") === "u", s"nReduce=$nReduce")
      values.foreach { case (k, vs) => assert(vs.contains(got(k)), s"$k nReduce=$nReduce") }
    }
  }

  test("empty-string key, empty input partitions and nReduce = 1") {
    val records = Seq(("", "a"), ("x", "b"), ("", "c"), ("", ""))
    val want = Map("" -> " a c", "x" -> "b")
    Seq(1, 3).foreach { nReduce =>
      // 8 slices over 4 records: at least half the map tasks are empty
      val rdd = spark.sparkContext.parallelize(records, 8)
      assert(MRJob.onPairs(rdd, Workloads.sortJoinReduce, nReduce).collect().toMap === want)
      val empty = spark.sparkContext.parallelize(Seq.empty[(String, String)], 3)
      assert(MRJob.onPairs(empty, Workloads.sortJoinReduce, nReduce).isEmpty())
    }
  }
}
