package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{SketchPlanner, Storage, ZoneCodec}

/** STREAMING ingestion into a zone-mapped lake layout — the continuous
  * form of the storage arc's append discipline: each micro-batch lands
  * as one range-clustered parquet commit with its own `zones-<k>.json`
  * manifest commit (`Storage.zonemapAppend`, O(batch files) footer
  * reads), and, when asked, the persisted planner statistics ride
  * along via `SketchManifest.append` (CMS linearity — the merged
  * counters stay bit-identical to a from-scratch rebuild, so cold
  * zero-job pricing never goes stale while the stream runs). The
  * result: a table that is simultaneously being written and fully
  * probe-prunable/plannable, the Delta streaming-sink + auto-stats
  * composition built from this engine's own pieces. After enough
  * commits accumulate, `Storage.optimizeCompact` pays the layout debt
  * down and (row-preserving) restamps the same statistics.
  *
  * Delivery: `foreachBatch` replays the in-flight batch on failure
  * recovery, so the sink keeps a tiny high-water ledger
  * (`_stream_commit/latest`, the max applied batchId) and drops
  * already-applied batch ids — a restart from the checkpoint cannot
  * double-append. The window between the parquet append and the
  * ledger write remains (a crash exactly there replays one batch);
  * closing it needs the transactional commit log a production lake
  * layers above the files, deliberately out of scope here (the
  * `optimizeCompact` stance). StreamingZonedSinkSpec drives batches,
  * a forced replay, and the zones/sketch == rebuild referees. */
object ZonedSink {

  private def ledgerPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_stream_commit/latest")

  private[streaming] def lastApplied(s: SparkSession, path: String): Long = {
    val p = ledgerPath(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def writeLedger(s: SparkSession, path: String, batchId: Long): Unit = {
    val p = ledgerPath(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Apply ONE micro-batch: first commit bootstraps the clustered
    * layout (and the sketch manifest, when `sketchCols` is nonempty);
    * every later commit appends zones + statistics incrementally.
    * Replayed batch ids (≤ the ledger's high water) are dropped. */
  def appendBatch(batch: DataFrame, batchId: Long, zoneCol: String,
      nFiles: Int, path: String, sketchCols: Seq[String] = Seq.empty): Unit = {
    val s = batch.sparkSession
    if (batchId <= lastApplied(s, path)) return // replay after recovery
    if (!batch.isEmpty) {
      val codec = ZoneCodec.of(batch.schema(zoneCol).dataType, zoneCol)
      if (Storage.readManifest(s, path, codec).isEmpty) {
        Storage.zonemapClusteredWrite(batch, zoneCol, nFiles, path)
        if (sketchCols.nonEmpty)
          SketchPlanner.SketchManifest.write(s, path, sketchCols)
      } else {
        Storage.zonemapAppend(batch, zoneCol, nFiles, path)
        if (sketchCols.nonEmpty)
          SketchPlanner.SketchManifest.append(s, path, batch, sketchCols)
      }
    }
    writeLedger(s, path, batchId)
  }

  /** Wire a stream into the layout. One parquet + one manifest commit
    * per micro-batch; `sketchCols` keeps planner stats fresh in-stream. */
  def start(stream: DataFrame, zoneCol: String, nFiles: Int, path: String,
      checkpoint: String, sketchCols: Seq[String] = Seq.empty): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        appendBatch(b.toDF(), id, zoneCol, nFiles, path, sketchCols)
      }
      .start()
}
