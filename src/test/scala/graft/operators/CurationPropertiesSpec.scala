package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based differentials for the round-13 curation additions:
  * first-principles Scala referees on random corpora (the
  * DedupPropertiesSpec idiom — deterministic `pureApply` sampling). */
class CurationPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(1311L + i)))

  test("pack sweep (q220): straddle/seqs/waste equal a first-principles referee on random corpora") {
    val corpusGen = for {
      n <- Gen.choose(1, 30)
      docs <- Gen.listOfN(n, Gen.zip(Gen.oneOf("s1", "s2"), Gen.choose(0, 900)))
    } yield docs.zipWithIndex.map { case ((src, tok), i) =>
      (i.toLong, src, Seq.fill(tok)("tok").mkString(" "))
    }
    val budgets = Seq(512L, 1024L, 2048L, 4096L)
    samples(corpusGen, 10).zipWithIndex.foreach { case (docs, k) =>
      val dir = java.nio.file.Files.createTempDirectory(s"packprop$k").toString
      docs.toDF("doc_id", "source", "text")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Curation.q220PackSweep(spark, dir)
        .as[(Long, String, Long, Long, Long, Long, Long)]
        .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7)))
        .toMap
      // referee: concat per source in doc_id order, chunk arithmetic
      val want = docs.groupBy(_._2).flatMap { case (src, ds) =>
        val counts = ds.sortBy(_._1).map(d =>
          d._3.split("\\s+").count(_.nonEmpty).toLong)
        val offsets = counts.scanLeft(0L)(_ + _).init
        val tot = counts.sum
        budgets.map { b =>
          val straddle = counts.zip(offsets).count { case (n, o) =>
            n > 0 && o / b != (o + n - 1) / b }.toLong
          val seqs = (tot + b - 1) / b
          (b, src) -> ((ds.size.toLong, straddle, tot, seqs, seqs * b - tot))
        }
      }
      assert(got === want, s"case $k: ${docs.size} docs")
    }
  }

  test("zonemap append (q219 machinery): incremental manifest == rebuild and pruned == full on random splits") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .select(to_date(col("l_shipdate")).as("ship_date"), col("l_quantity"))
      .localCheckpoint(false)
    // splits inside the corpus's actual 1995..2001 date range; probe
    // windows straddle each split so both commits contribute rows
    val cases = Seq(
      ("1996-06-15", 4, 8, "1996-01-01", "1996-12-31"),
      ("1998-01-01", 8, 8, "1997-11-01", "1998-02-28"),
      ("2000-03-20", 16, 4, "1999-12-01", "2000-06-30"))
    cases.zipWithIndex.foreach { case ((split, nBase, nApp, lo, hi), k) =>
      val dir = java.nio.file.Files.createTempDirectory(s"zmprop$k").toString
      val boundary = lit(split).cast("date")
      Storage.zonemapClusteredWrite(
        li.filter(col("ship_date") < boundary), "ship_date", nBase, dir)
      Storage.zonemapAppend(
        li.filter(col("ship_date") >= boundary), "ship_date", nApp, dir)
      assert(Storage.readManifest(spark, dir, ZoneCodec.Date) ===
        Some(Storage.zonemapManifest(spark, dir, "ship_date", ZoneCodec.Date)), s"case $k")
      val (probe, total, skipped) =
        Storage.prunedRead(spark, dir, "ship_date", lo, hi)
      // RangePartitioner may collapse to fewer partitions than asked —
      // the invariant is a bounded file count, not an exact one
      assert(total >= 2 && total <= nBase + nApp, s"case $k: $total files")
      assert(skipped >= 0 && skipped < total, s"case $k")
      val full = spark.read.parquet(dir)
        .filter(col("ship_date").between(lit(lo).cast("date"),
          lit(hi).cast("date")))
        .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
        .collect()(0)
      val pr = probe
        .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
        .collect()(0)
      assert(pr === full, s"case $k")
      assert(pr.getLong(0) > 0L, s"case $k: probe window must select rows")
    }
  }

  test("chunk dedup (q234 machinery): retention equals a first-principles referee on random corpora") {
    // small vocabulary forces genuine cross- and intra-doc chunk
    // collisions; letterless docs check the drop path
    val corpusGen = for {
      n <- Gen.choose(1, 20)
      docs <- Gen.listOfN(n, Gen.frequency(
        9 -> Gen.listOf(Gen.oneOf("aa", "bb", "cc")).map(_.mkString(" ")),
        1 -> Gen.const("123 !!!")))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    Seq(3, 7).foreach { width =>
      samples(corpusGen, 8).zipWithIndex.foreach { case (docs, k) =>
        val got = Curation.chunkDedup(docs.toDF("doc_id", "text"), width)
          .as[(Long, Long, Long, Long, Long, Double)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
        // referee: plain Scala first-occurrence scan in (doc_id,
        // chunk_idx) order over width-grouped token windows
        val chunksByDoc = docs.map { case (id, t) =>
          id -> t.split("[^a-z]+").filter(_.nonEmpty).grouped(width)
            .map(_.toSeq).toSeq
        }.filter(_._2.nonEmpty).sortBy(_._1)
        val seen = scala.collection.mutable.Set.empty[Seq[String]]
        val want = chunksByDoc.map { case (id, chs) =>
          val kept = chs.filter(c => seen.add(c))
          id -> ((chs.size.toLong, kept.size.toLong,
            chs.map(_.size.toLong).sum, kept.map(_.size.toLong).sum))
        }.toMap
        assert(got === want, s"width $width case $k")
      }
    }
  }
}
