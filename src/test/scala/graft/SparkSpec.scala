package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM-wide; suites in
  * the default single-JVM forked test run reuse it). */
object SharedSpark {
  lazy val spark: SparkSession = {
    // local[8,4]: 8 threads, maxFailures=4 so fault-injection suites can
    // exercise task retry (reference analog: 10 s watchdog reassignment,
    // src/mr/coordinator.go:34-47).
    val s = GraftSession.builder("graft-test")
      .master("local[8,4]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // The kernels and plan extensions of every GraftSession.getOrCreate
    // session, installed here (not lazily inside whichever suite first
    // needs them) so plan pins assert the plans users actually get,
    // independent of suite order. ChainReorder and ZonemapPrune stay
    // conf-gated (default off).
    GraftSession.install(s)
    s
  }

  /** BATCH transformWithState constructs its StateStoreConf from a
    * fresh default SQLConf (TransformWithStateExec's batch path), so
    * RocksDB's snapshot-upload report cannot be conf'd off and phones
    * the driver-side StateStoreCoordinator RPC endpoint — which only a
    * StreamExecution creates. Without it, whichever suite runs a batch
    * v2 operator FIRST dies with RpcEndpointNotFoundException (an
    * ordering hazard: round-12 suites passed only because a streaming
    * test always ran earlier). Running one trivial streaming query once
    * per JVM makes the endpoint exist deterministically. */
  lazy val stateStoreCoordinatorReady: Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Int]
    mem.addData(1)
    val q = mem.toDS().writeStream.format("noop").start()
    q.processAllAvailable()
    q.stop()
  }
}

/** Marks long-running soak/repeat tests. They RUN by default (the suite
  * must be green with them on); exclude for a quick pass with
  * `testOnly -- -l graft.Slow`. */
object Slow extends org.scalatest.Tag("graft.Slow")

abstract class SparkSpec extends AnyFunSuite {
  // stable identifier so subclasses can `import spark.implicits._`
  lazy val spark: SparkSession = SharedSpark.spark
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Run `body` with the RocksDB state store provider — a
    * transformWithState requirement (v2 operators refuse the default
    * HDFS-backed provider). Restores the previous provider after.
    *
    * Snapshot-upload-LAG reporting is disabled for the scope: it is a
    * monitoring side channel that phones the StateStoreCoordinator RPC
    * endpoint, which only exists once a STREAMING query has started —
    * BATCH transformWithState (the differential/linearizability specs)
    * would die with RpcEndpointNotFoundException on the report. */
  def withRocksDb[T](body: => T): T = {
    SharedSpark.stateStoreCoordinatorReady // batch v2 needs the endpoint
    val key = "spark.sql.streaming.stateStore.providerClass"
    val lagKey = "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag"
    val old = spark.conf.getOption(key)
    val oldLag = spark.conf.getOption(lagKey)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(lagKey, "false")
    try body
    finally {
      old match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
      oldLag match {
        case Some(v) => spark.conf.set(lagKey, v)
        case None => spark.conf.unset(lagKey)
      }
    }
  }
}
