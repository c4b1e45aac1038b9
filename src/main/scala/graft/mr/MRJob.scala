package graft.mr

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The reference engine's fundamental record: a string key/value pair
  * (reference: src/mr/worker.go:16-19). */
case class KV(key: String, value: String)

/** Reference-identical partition routing: FNV-1a 32-bit hash of the key's
  * UTF-8 bytes, masked non-negative, mod nReduce
  * (reference: src/mr/worker.go:31-35 `ihash`). Spark's default
  * HashPartitioner would be equally correct (final output is compared
  * order-insensitively), but FNV keeps the per-partition file layout
  * byte-comparable with the reference's committed mr-out-N artifacts.
  */
class FnvPartitioner(val partitions: Int) extends Partitioner {
  require(partitions > 0)
  override def numPartitions: Int = partitions
  override def getPartition(key: Any): Int =
    MRJob.ihash(key.asInstanceOf[String]) % partitions
  override def equals(other: Any): Boolean = other match {
    case p: FnvPartitioner => p.partitions == partitions
    case _                 => false
  }
  override def hashCode: Int = partitions
}

/** Generic MapReduce facade with reference-identical semantics
  * (reference lifecycle: src/mr/worker.go:108-216), expressed as the
  * natural Spark pipeline:
  *
  * {{{
  * wholeTextFiles(glob, defaultParallelism)          // F1 whole-file scan, a split per core
  *   .flatMap(mapf)                                  // F2 map apply
  *   .mapPartitions(groupChunks)                     // bounded map-side grouping, packed
  *   .repartitionAndSortWithinPartitions(fnv(n))     // F3-F6 partition+shuffle+sort
  *   .mapPartitions(groupScan(unpack(_), reducef))   // F7 sort-group + reduce
  *   .saveAsTextFile                                 // F8 "key value" text sink
  * }}}
  *
  * Scheduling, stage barriers, retries, shuffle transport and atomic
  * output commit (reference F9-F13: coordinator.go, rpc.go) are Spark's
  * DAGScheduler / FileOutputCommitter — deliberately not reimplemented.
  *
  * Scale notes:
  *   - The map phase asks for one split per core (the session's
  *     `defaultParallelism`); each file is still read whole, as one
  *     record, so a split holds whole files and there are never more
  *     splits than files.
  *   - Each map task groups its pairs by key in a hash table that holds
  *     at most [[MRJob.GroupBound]] values and is flushed as
  *     `(key, packed values)` chunks whenever it is full, so the shuffle
  *     moves and sorts one record per distinct key per flush instead of
  *     one per pair. A chunk's values are packed into one `Array[Byte]`
  *     (Kryo's string encoding, every char on its own), which the shuffle
  *     sizes and serializes as one primitive array, not an array of
  *     Strings. A hot key spans several chunks; no chunk outgrows the
  *     bound.
  *   - `reducef` receives values as an Iterator, never a materialized
  *     list — the reduce side streams each sorted chunk's values back out
  *     as pairs, so a hot key streams through the group-scan instead of OOMing
  *     (the reference materializes: src/mr/worker.go:200-204;
  *     use [[MRJob.materialized]] only for reference-compat functions).
  *   - Whole-file inputs are right for the reference's corpus but wrong
  *     for 100 TB; [[MRJob.onPairs]] accepts any RDD of records so a
  *     record-delimited source (spark.read.text, parquet columns) can
  *     feed the same map/reduce contract.
  */
object MRJob {

  /** FNV-1a 32-bit (offset 2166136261, prime 16777619) over UTF-8 bytes,
    * masked to non-negative — reference src/mr/worker.go:31-35. */
  def ihash(key: String): Int = {
    var h = 0x811c9dc5 // 2166136261 as a signed Int
    val bytes = key.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff)
      h *= 16777619
      i += 1
    }
    h & 0x7fffffff
  }

  /** Adapt a reference-style reduce function (all values materialized,
    * src/mr/worker.go:200-204) to the streaming facade contract. */
  def materialized(f: (String, Seq[String]) => String): (String, Iterator[String]) => String =
    (k, it) => f(k, it.toSeq)

  /** F1+F2: whole-file scan + map apply. `mapf` receives the full file
    * path and the complete contents, like the reference's
    * `mapf(filename, string(filecontent))` (src/mr/worker.go:125).
    * `wholeTextFiles` defaults to at most 2 splits; asking for one per
    * core runs the map phase on every core. */
  def mapFiles(spark: SparkSession, inputGlob: String,
               mapf: (String, String) => Seq[KV]): RDD[(String, String)] =
    spark.sparkContext
      .wholeTextFiles(inputGlob, spark.sparkContext.defaultParallelism)
      .flatMap { case (path, content) => mapf(path, content).iterator.map(kv => (kv.key, kv.value)) }

  /** F3-F7 on an arbitrary pair RDD: bounded map-side grouping,
    * hash-partition on key, per-partition key sort, streaming sorted
    * group-scan, reduce apply. One shuffle. Mirrors the reduce-side
    * two-pointer scan at src/mr/worker.go:194-209 without materializing
    * a partition, or a key's values, in memory. */
  def onPairs(pairs: RDD[(String, String)],
              reducef: (String, Iterator[String]) => String,
              nReduce: Int): RDD[(String, String)] =
    pairs
      .mapPartitions(groupChunks)
      .repartitionAndSortWithinPartitions(new FnvPartitioner(nReduce))
      .mapPartitions(chunks =>
        groupScan(chunks.flatMap { case (k, vs) => unpack(vs).map((k, _)) }, reducef),
        preservesPartitioning = true)

  /** Values a map task buffers in [[groupChunks]] before it flushes: a
    * constant, so the table's size does not depend on the key
    * distribution. At 64k, wc then indexer over a 2M-word Zipf corpus
    * in 4 map splits ship ~437k chunks instead of 2.34M pairs. */
  private[mr] val GroupBound: Int = 1 << 16

  /** Group a map task's pairs by key, [[GroupBound]] values at a time:
    * each flush emits one `(key, packed values)` chunk per distinct key
    * it saw, values in arrival order, packed by Kryo's
    * `Output.writeString` (null and any char sequence, lone surrogates
    * included, round-trip; [[unpack]] reads them back). The one per-key
    * collection of the facade, and it is bounded by the constant, not by
    * a key's frequency. */
  private[mr] def groupChunks(it: Iterator[(String, String)]): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private val table = new java.util.HashMap[String, Output]()
      private var flushed: Iterator[(String, Array[Byte])] = Iterator.empty
      override def hasNext: Boolean = flushed.hasNext || (it.hasNext && { fill(); true })
      override def next(): (String, Array[Byte]) =
        if (hasNext) flushed.next() else Iterator.empty.next()
      private def fill(): Unit = {
        table.clear()
        var n = 0
        while (n < GroupBound && it.hasNext) {
          val (k, v) = it.next()
          table.computeIfAbsent(k, _ => new Output(16, -1)).writeString(v)
          n += 1
        }
        flushed = table.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.toBytes))
      }
    }

  /** The values of one [[groupChunks]] chunk, lazily, in the order they
    * were packed. */
  private[mr] def unpack(chunk: Array[Byte]): Iterator[String] = new Iterator[String] {
    private val in = new Input(chunk)
    override def hasNext: Boolean = in.position < in.limit
    override def next(): String = if (hasNext) in.readString() else Iterator.empty.next()
  }

  /** Streaming group-scan over a key-sorted iterator: for each run of
    * equal keys, hand `reducef` a lazy iterator over the values; drain
    * whatever it didn't consume before advancing. */
  private[mr] def groupScan(
      it: Iterator[(String, String)],
      reducef: (String, Iterator[String]) => String): Iterator[(String, String)] =
    new Iterator[(String, String)] {
      private val buf = it.buffered
      override def hasNext: Boolean = buf.hasNext
      override def next(): (String, String) = {
        val key = buf.head._1
        val values = new Iterator[String] {
          override def hasNext: Boolean = buf.hasNext && buf.head._1 == key
          override def next(): String = buf.next()._2
        }
        val out = reducef(key, values)
        while (values.hasNext) values.next() // drain unconsumed tail
        (key, out)
      }
    }

  /** Full job: files in, `"key value"` text out, one part file per reduce
    * partition — the complete reference lifecycle (SURVEY.md §3.1).
    * Output visibility is atomic per job via Spark's FileOutputCommitter
    * (the analog of the reference's temp-file + rename commit,
    * src/mr/worker.go:184-214). */
  def run(spark: SparkSession, inputGlob: String,
          mapf: (String, String) => Seq[KV],
          reducef: (String, Iterator[String]) => String,
          nReduce: Int = 10, outDir: String): Unit =
    onPairs(mapFiles(spark, inputGlob, mapf), reducef, nReduce)
      .map { case (k, v) => s"$k $v" }
      .saveAsTextFile(outDir)

  /** Like [[run]] but collected to the driver — test/small-output helper
    * (the reference's sequential-oracle mode, src/main/mrsequential.go). */
  def runToLines(spark: SparkSession, inputGlob: String,
                 mapf: (String, String) => Seq[KV],
                 reducef: (String, Iterator[String]) => String,
                 nReduce: Int = 10): Array[String] =
    onPairs(mapFiles(spark, inputGlob, mapf), reducef, nReduce)
      .map { case (k, v) => s"$k $v" }
      .collect()
}
