package graft.streaming

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.operators.{SketchPlanner, Storage, ZoneCodec}

/** The streaming zoned sink: every micro-batch is one parquet commit +
  * one zone-manifest commit (+ one CMS slice-merge), so the table stays
  * fully prunable and plannable WHILE being written. Referees: rows
  * complete, merged zones == footer rebuild, merged sketch == rebuild,
  * a replayed batch id is a no-op, and a probe through the automatic
  * rule prunes mid-ingestion without changing the answer. */
class StreamingZonedSinkSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("zoned streaming sink: per-batch zone + sketch commits equal rebuilds; replays drop; probes prune") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-zsink").toString + "/t"
    val ck = tempDir("graft-zsink-ck").toString
    val mem = MemoryStream[(Long, Double)]
    val q = ZonedSink.start(mem.toDF().toDF("k", "price"),
      "price", 4, dir, ck, sketchCols = Seq("k"))
    try {
      mem.addData((0 until 2000).map(i => (i.toLong % 97, i * 0.5)))
      q.processAllAvailable()
      mem.addData((2000 until 3500).map(i => (i.toLong % 97, i * 0.5)))
      q.processAllAvailable()
      mem.addData((3500 until 5000).map(i => (i.toLong % 97, i * 0.5)))
      q.processAllAvailable()
    } finally q.stop()

    // rows complete, one zone commit per batch, merged == rebuild
    assert(spark.read.parquet(dir).count() === 5000L)
    val man = Storage.readManifest(spark, dir, ZoneCodec.Num).get
    assert(man.size === 12, "3 batches x 4 clustered files each")
    assert(man === Storage.zonemapManifest(spark, dir, "price", ZoneCodec.Num))
    assert(ZonedSink.lastApplied(spark, dir) === 2L)

    // in-stream sketch maintenance: count + CMS equal a from-scratch
    // rebuild over the landed table (CMS linearity across commits)
    val count = SketchPlanner.SketchManifest.readCount(spark, dir)
    assert(count === Some(5000L))
    val cms = SketchPlanner.SketchManifest.readCms(spark, dir, "k").get
    SketchPlanner.SketchManifest.write(spark, dir, Seq("k"))
    assert(SketchPlanner.SketchManifest.readCount(spark, dir) === count)
    assert(SketchPlanner.SketchManifest.readCms(spark, dir, "k").get.toSeq
      === cms.toSeq)

    // recovery semantics: a REPLAYED batch id must be a no-op —
    // foreachBatch is at-least-once, the ledger makes the append
    // idempotent per batch
    val replay = (9000 until 9100).map(i => (i.toLong, i * 1.0))
      .toDF("k", "price")
    ZonedSink.appendBatch(replay, batchId = 1L, "price", 4, dir)
    assert(spark.read.parquet(dir).count() === 5000L,
      "replayed batch id must not double-append")
    ZonedSink.appendBatch(replay, batchId = 3L, "price", 4, dir)
    assert(spark.read.parquet(dir).count() === 5100L,
      "a genuinely new batch id must land")

    // the landed layout serves the automatic pruning rule mid-history:
    // a narrow price window skips files and keeps the plain answer
    def probe = spark.read.parquet(dir)
      .filter(col("price") >= 300.0 && col("price") <= 500.0)
    val off = probe.agg(count_distinct(col("k")), sum(col("price")))
      .collect()(0)
    val pruned = GraftSqlBridge.optimizedWith(probe,
      graft.plans.ZonemapPruneRule)(_ => ())
    assert(pruned.agg(count_distinct(col("k")), sum(col("price")))
      .collect()(0) === off)
    val planFiles = pruned.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum
    val total = spark.read.parquet(dir).inputFiles.length
    assert(planFiles > 0 && planFiles < total,
      s"probe should prune the streamed layout: $planFiles of $total")
  }
}
