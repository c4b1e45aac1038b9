package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** LARGE-SF EXECUTION SWEEP (round-10 verdict task 2): the gated scale
  * factors (≤0.1) cannot exercise the arithmetic and memory claims the
  * operators make for 100 TB — q146's BIGINT overflow was caught by
  * inspection, not by a test. This runner:
  *
  *   1. materializes an sf-N-equivalent dataset under /tmp (default 10×
  *      sf0.1 = sf1) by KEY-SHIFTED REPLICATION of the driver's
  *      deterministic tables — each copy offsets every id column by
  *      copy·10^7, so referential integrity, value distributions, and
  *      dtypes (including the raw INT64 nanos timestamps) are preserved
  *      exactly; text is left byte-identical, which turns the dedup
  *      family into a REAL 10-way-duplicate workload;
  *   2. executes every registered query against it (noop sink — full
  *      materialization, no oracle: this is a does-it-execute +
  *      sanity-invariant pass), recording ok/row-path timing or the
  *      failure.
  *
  * `runMain graft.ScaleSweep [srcDir] [outDir] [copies]`. Emits one
  * summary line per query plus a tail block for ADVICE/BASELINE
  * recording. Generation is cached: re-runs skip it if the marker file
  * exists. */
object ScaleSweep {

  /** (table, id columns to shift) — every cross-table key shifts by the
    * same stride so joins stay consistent across copies. */
  private val idCols: Map[String, Seq[String]] = Map(
    "region" -> Seq.empty,
    "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val Stride = 10000000L

  def generate(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    idCols.foreach { case (table, keys) =>
      val src = spark.read.parquet(s"$srcDir/$table.parquet")
      val n = if (keys.isEmpty) 1 else copies // dims copy once
      val out = (0 until n).map { i =>
        keys.foldLeft(src) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * Stride))
        }
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[sweep-gen] $table x$n -> $outDir")
    }
    Files.writeString(Paths.get(s"$outDir/_SWEEP_GENERATED"), "ok")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.getOrCreate("graft-scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    if (!Files.exists(Paths.get(s"$outDir/_SWEEP_GENERATED"))) {
      val t0 = System.nanoTime()
      generate(spark, srcDir, outDir, copies)
      println(f"[sweep-gen] done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else println(s"[sweep-gen] reusing $outDir")
    graft.operators.SchemaGuard.require(spark, outDir)

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, outDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[sweep] ok   $name $sec%.2f s")
          (name, "ok", sec, "")
        } catch {
          case e: Throwable =>
            val sec = (System.nanoTime() - t0) / 1e9
            val why = Option(e.getMessage).getOrElse(e.toString)
              .replaceAll("\\s+", " ").take(300)
            println(f"[sweep] FAIL $name $sec%.2f s: $why")
            (name, "FAIL", sec, why)
        }
    }
    val failed = results.filter(_._2 == "FAIL")
    println(s"[sweep] === ${results.size} queries at ${copies}x$srcDir: " +
      s"${results.size - failed.size} ok, ${failed.size} fail, " +
      f"total ${results.map(_._3).sum}%.0f s ===")
    failed.foreach { case (n, _, _, why) => println(s"[sweep] FAILED $n: $why") }
    if (failed.nonEmpty) sys.exit(1)
    spark.stop()
  }
}
