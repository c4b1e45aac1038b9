package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.mr.MRJob

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("fnv_ihash expression equals the MR facade's ihash on arbitrary strings") {
    FnvHash.register(spark)
    val keys = (0 until 300).map(i =>
      Gen.asciiPrintableStr.pureApply(Gen.Parameters.default, Seed(5000L + i))) ++
      Seq("", "xyzzy", "café", "日本語")
    val got = keys.toDF("k")
      .selectExpr("k", "fnv_ihash(k) AS h")
      .as[(String, Int)].collect().toMap
    keys.foreach(k => assert(got(k) === MRJob.ihash(k), s"key=$k"))
  }

  test("fnv_ihash stays inside whole-stage codegen") {
    FnvHash.register(spark)
    // (a LocalTableScan of literals bypasses codegen; range does not)
    val df = spark.range(100)
      .selectExpr("fnv_ihash(CAST(id AS STRING)) AS h")
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside WholeStageCodegen stage n
    assert(plan.linesIterator.exists(l => l.trim.startsWith("*(") && l.contains("fnv_ihash")), plan)
    assert(df.selectExpr("sum(h)").as[Long].head() > 0)
  }

  /** The builtin chain `md5_bits` replaces, over SQL expression `x`. */
  private def md5Chain(x: String): String =
    s"CAST(conv(substring(md5($x), 1, 15), 16, 10) AS BIGINT)"

  private val md5Strings: Seq[Option[String]] = {
    val rnd = new scala.util.Random(31)
    val edges = Seq("", " ", "a", "café", "日本語", "\u0000", "😀 emoji", "x" * 1000)
    val random = (0 until 10000).map { i =>
      val len = rnd.nextInt(40)
      i % 3 match {
        case 0 => rnd.alphanumeric.take(len).mkString
        case 1 => Gen.asciiPrintableStr.pureApply(Gen.Parameters.default, Seed(9000L + i))
        case _ => rnd.nextString(len) // arbitrary UTF-16, non-ASCII heavy
      }
    }
    (edges ++ random).map(Some(_)) :+ None
  }

  test("md5_bits equals the md5 hex-substring-conv chain, inside whole-stage codegen") {
    // an RDD scan (not a LocalTableScan of literals) keeps the Project codegen'd
    val df = spark.sparkContext.parallelize(md5Strings, 4).toDF("k")
      .selectExpr("k", "md5_bits(k) AS got", s"${md5Chain("k")} AS want")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.trim.startsWith("*(") && l.contains("md5_bits")), plan)
    val rows = df.as[(Option[String], Option[Long], Option[Long])].collect()
    assert(rows.length === md5Strings.length)
    rows.foreach { case (k, got, want) =>
      assert(got === want, s"key=$k")
      // the Scala kernel is the same function
      assert(got === k.map(s => Md5Bits.bits(s.getBytes("UTF-8"))), s"key=$k")
    }
    assert(rows.count(_._2.isEmpty) === 1) // only the NULL key
  }

  test("md5_bits hashes binary input like md5 does") {
    val rnd = new scala.util.Random(37)
    val blobs = Seq(Array.emptyByteArray, Array[Byte](0), Array[Byte](-1, 0, 127, -128)) ++
      (0 until 500).map(_ => Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte))
    val rows = spark.sparkContext.parallelize(blobs, 2).toDF("b")
      .selectExpr("md5_bits(b)", md5Chain("b"))
      .as[(Long, Long)].collect()
    assert(rows.length === blobs.length)
    rows.foreach { case (got, want) => assert(got === want) }
  }

  test("md5_bits equals the chain inside a transform lambda (interpreted path)") {
    val arrays = md5Strings.grouped(50).map(_.map(_.orNull)).toSeq
    val df = spark.sparkContext.parallelize(arrays, 4).toDF("ks")
      .selectExpr("transform(ks, x -> md5_bits(x)) AS got",
        s"transform(ks, x -> ${md5Chain("x")}) AS want")
    val rows = df.as[(Seq[Option[Long]], Seq[Option[Long]])].collect()
    assert(rows.map(_._1.length).sum === md5Strings.length)
    rows.foreach { case (got, want) => assert(got === want) }
  }

  test("zorder_bits interleaves bit-exactly and stays inside codegen") {
    ZorderBits.register(spark)
    // closed-form points: x fills even bit positions, y odd
    assert(ZorderBits.interleave(1L, 0L) === 1L)
    assert(ZorderBits.interleave(0L, 1L) === 2L)
    assert(ZorderBits.interleave(3L, 5L) === 39L)     // 0b100111
    assert(ZorderBits.interleave(0xffffL, 0L) === 0x55555555L)
    assert(ZorderBits.interleave(0L, 0xffffL) === 0xaaaaaaaaL)
    // reference bit loop over random points (incl. >16-bit truncation)
    val rnd = new scala.util.Random(11)
    def slow(x: Long, y: Long): Long =
      (0 until 16).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    (1 to 200).foreach { _ =>
      val x = rnd.nextLong() & 0x3ffffL; val y = rnd.nextLong() & 0x3ffffL
      assert(ZorderBits.interleave(x, y) === slow(x & 0xffffL, y & 0xffffL))
    }
    // expression path == kernel, inside whole-stage codegen
    val df = spark.range(500)
      .selectExpr("id", "zorder_bits(id, id * 7) AS z")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.trim.startsWith("*(") && l.contains("zorder_bits")), plan)
    df.as[(Long, Long)].collect().foreach { case (id, z) =>
      assert(z === ZorderBits.interleave(id, id * 7))
    }
  }

  test("fnv_ihash can drive a DataFrame repartition matching the RDD partitioner") {
    FnvHash.register(spark)
    val n = 7
    val keys = (0 until 200).map(i => s"key$i")
    val buckets = keys.toDF("k")
      .selectExpr("k", s"pmod(fnv_ihash(k), $n) AS b")
      .as[(String, Int)].collect().toMap
    keys.foreach { k =>
      assert(buckets(k) === new graft.mr.FnvPartitioner(n).getPartition(k))
    }
  }
}
