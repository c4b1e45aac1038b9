package graft.mr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.{SparkSpec, TempDirs}

/** Format-compat differentials against the reference's committed run
  * artifacts: our reduce phase over ITS intermediate shuffle files must
  * reproduce ITS final output (cancelled where the reference checkout is
  * absent, `Reference.assumePresent`). */
class CompatSpec extends SparkSpec with TempDirs {
  private val refMain = Reference.main

  test("our reduce phase over the reference's committed intermediate files reproduces its golden output") {
    // The reference run left 80 NDJSON shuffle files mr-out-<m>-<r>.json
    // (8 maps x 10 reduces). For each reduce partition r: decode, sort,
    // group-scan, reduce — exactly PerformOp's reduce path
    // (src/mr/worker.go:161-216) — and diff against golden mr-out-<r>.
    (0 until 10).foreach { r =>
      Reference.assumePresent(Reference.intermediates(r) :+ Reference.golden(r))
      val kvs = Compat.readIntermediate(spark, s"$refMain/mr-out-*-$r.json")
      val pairs = kvs.rdd.map(kv => (kv.Key, kv.Value)).repartition(1)
        .sortBy(identity)
      val reduced = pairs.mapPartitions(it =>
        MRJob.groupScan(it, Workloads.wcReduce)).collect()
        .map { case (k, v) => s"$k $v" }.sorted.toSeq
      val golden = Files.readAllLines(Paths.get(s"$refMain/mr-out-$r")).asScala
        .sorted.toSeq
      assert(reduced === golden, s"reduce partition $r")
    }
  }

  test("intermediate NDJSON roundtrip preserves records byte-compatibly") {
    val dir = tempDir("mr-compat").resolve("ndjson")
    val pairs = spark.sparkContext.parallelize(
      Seq(("eBook", "1"), ("the", "2"), ("with \"quotes\"", "x"), ("", "empty")), 2)
    Compat.writeIntermediate(spark, pairs, dir.toString)
    val back = Compat.readIntermediate(spark, s"$dir/*.json")
      .collect().map(kv => (kv.Key, kv.Value)).toSet
    assert(back === Set(("eBook", "1"), ("the", "2"), ("with \"quotes\"", "x"), ("", "empty")))
    // spot-check the wire format matches the reference's shape
    val line = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".json"))
      .flatMap(p => Files.readAllLines(p).asScala).find(_.contains("eBook"))
    assert(line.exists(l => l.startsWith("{\"Key\":\"eBook\",\"Value\":\"1\"")), line)
  }

  /** A deterministic stand-in for a Gutenberg text, ~139 KB like
    * pg-being_ernest.txt (FIXTURES.md §1), so both readers cross their
    * 64 KiB read buffers: a leading UTF-8 BOM, CRLF line ends with some
    * bare LF, multi-byte UTF-8, and no trailing newline. */
  private def gutenbergLike(path: Path): Path = {
    val words = Seq("The", "Importance", "of", "Being", "Earnest", "café",
      "naïve", "日本語", "—", "Algernon", "Gwendolen", "“cucumber”", "sandwiches")
    val rnd = new scala.util.Random(42)
    val sb = new StringBuilder("\uFEFF")
    var bytes = 0
    var i = 0
    while (bytes < 139 * 1024) {
      val line = Seq.fill(4 + rnd.nextInt(10))(words(rnd.nextInt(words.length)))
        .mkString(" ") + (if (i % 9 == 8) "\n" else "\r\n")
      sb ++= line
      bytes += line.getBytes(StandardCharsets.UTF_8).length
      i += 1
    }
    sb ++= "END OF THE PROJECT GUTENBERG EBOOK"
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  test("whole-text DataFrame source equals wholeTextFiles records") {
    val own = gutenbergLike(
      tempDir("mr-wholetext").resolve("pg-being_ernest.txt"))
    // the file written above, then each reference book that exists
    val books = Reference.corpus.filter(Reference.present)
      .map(p => p -> Paths.get(p).getFileName.toString)
    ((own.toString -> "pg-being_ernest.txt") +: books).foreach { case (path, name) =>
      val viaDF = Compat.wholeTextDF(spark, path).collect()
      val viaRDD = spark.sparkContext.wholeTextFiles(path).collect()
      assert(viaDF.length === 1 && viaRDD.length === 1)
      assert(Workloads.baseName(viaDF.head._1) === name)
      assert(viaDF.head._2 === viaRDD.head._2)
    }
  }
}
