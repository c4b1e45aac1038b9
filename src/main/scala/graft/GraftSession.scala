package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Tuned for the harness environment (single JVM `local[N]`) but every
  * setting below is what we would ship on a real multi-executor cluster:
  *   - AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split,
  *     dynamic broadcast conversion) — the main scale lever at 100 TB.
  *   - shuffle.partitions sized to the parallelism, not the 200 default.
  *   - UTC session timezone so results are oracle-comparable.
  *   - A codegen class cache that holds the engine's working set, with
  *     stage ids left out of generated class names, so a long-lived
  *     session compiles each generated class once (DESIGN.md, "The
  *     codegen class cache holds the working set").
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Static confs, read once by CodeGenerator's JVM-wide cache. The
      // default 100 entries is below the llm_ops rotation's ~109 classes
      // and q211's 93, so every pass recompiled; 1000 bounds metaspace at
      // under 30 MB (~29 KB a class). AQE numbers codegen stages in
      // planning order, so with the id in the name one pipeline's class
      // is `...Stage24` in one run and `...Stage17` in the next and
      // misses any cache size.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Older testdata generations shipped events.ts as TIMESTAMP(NANOS),
      // which Spark 4.x refuses to read without this flag (it then surfaces
      // as a raw long). Harmless for current timestamp[us] data; Tables.events
      // branches on the loaded dtype either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    registerCapListener(spark)
    spark
  }

  /** Register every native kernel and plan extension: the one list both
    * [[getOrCreate]] and the test session use. */
  def install(spark: SparkSession): Unit = {
    graft.functions.FnvHash.register(spark)
    graft.functions.Md5Bits.register(spark)
    graft.functions.TextTokens.register(spark)
    graft.functions.VecMath.register(spark)
    graft.functions.MinhashBands.register(spark)
    graft.functions.ZorderBits.register(spark)
    graft.functions.BloomFilterFns.register(spark)
    graft.functions.PayloadSimhash.register(spark)
    graft.functions.ChunkStats.register(spark)
    graft.plans.GroupTopKExtension.install(spark)
  }

  /** NO SILENT CAPS: operators that bound their work (e.g. the LSH
    * bucket-size cap in Dedup.neardupPairs) attach paired `observe`
    * metrics named `graft_*_cap_in` / `graft_*_cap_out` counting rows
    * entering and surviving the cap; this listener WARNs whenever they
    * differ, so a recall-affecting cap is always visible in the logs at
    * action time. Idempotent per session. */
  def registerCapListener(spark: SparkSession): Unit = synchronized {
    if (!capListenerSessions.contains(spark)) {
      capListenerSessions.add(spark)
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          private val log = org.slf4j.LoggerFactory.getLogger("graft.caps")
          private def report(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
            // GraftMetrics.observed, not qe.observedMetrics: AQE empty-
            // relation propagation can delete already-fired cap counters
            // from the final plan (see GraftMetrics scaladoc) — exactly
            // the everything-was-capped case this WARN exists for.
            val m = GraftMetrics.observed(qe)
            m.keys.filter(k => k.startsWith("graft_") && k.endsWith("_cap_in"))
              .foreach { inKey =>
                val base = inKey.stripSuffix("_in")
                for {
                  inRow <- m.get(inKey)
                  outRow <- m.get(base + "_out")
                  dropped = inRow.getLong(0) - outRow.getLong(0)
                  if dropped > 0L
                } log.warn(s"$base dropped $dropped rows " +
                  s"(in=${inRow.getLong(0)}, out=${outRow.getLong(0)}) — " +
                  "bounded operator discarded candidates; see its scaladoc")
              }
          }
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = report(qe)
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }
  }

  // weak keys: stopped sessions (and their listener closures) must be
  // collectable — a strong Set would leak every session ever created
  private val capListenerSessions: java.util.Set[SparkSession] =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])
}
