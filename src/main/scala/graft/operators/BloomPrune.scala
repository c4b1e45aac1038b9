package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Explicit bloom-filter join pruning — the 100 TB shuffle-cutting
  * pattern Catalyst's `InjectRuntimeFilter` applies automatically when
  * its thresholds and join shape line up, available here as a
  * first-class operator for the cases the rule won't chase (multi-hop
  * dim filters, user-controlled nItems, non-equi follow-ups).
  *
  * Shape: the filtered dim's keys fold into ONE bloom sketch row
  * (partial map-side merge of bit arrays — the build never shuffles
  * more than one sketch per task), which reaches the fact side as a
  * scalar subquery; every fact row probes the sketch BEFORE the join
  * shuffle, so at 8.5% dim selectivity ~91% of the 100 TB fact side
  * never enters the exchange. False positives pass the probe, so the
  * exact semi join stays downstream for correctness — the bloom only
  * cuts shuffle input, never decides membership (same contract as the
  * injected runtime filter; differential + FP-rate spec in
  * BloomPruneSpec, plan audit in PlanAuditSpec).
  *
  * When to apply (measured, BASELINE.md §"Round-8: explicit bloom
  * pre-probe A/B (q93 pattern)"): ONLY in
  * front of a SHUFFLE join — there it wins even single-JVM at sf0.1
  * (1.27×) because pruned rows never enter the exchange, and the win
  * grows with fact size on a real network. In front of a broadcast
  * join it is pure overhead: the broadcast hash probe is already a
  * perfect filter, so the sketch build+probe buys nothing.
  */
object BloomPrune {
  import Tables._

  /** Register `fact` and `dim` as temp views and return fact rows whose
    * `factKey` might be in dim's `dimKey` set (bloom probe only — the
    * caller still applies the exact join). `nItems` sizes the sketch;
    * at the default FPP (3%) that is ~1.2 KB per 1k keys. */
  def bloomPrefilter(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, nItems: Long): DataFrame = {
    val s = fact.sparkSession
    val ftag = s"graft_bloom_fact_${System.identityHashCode(fact).toHexString}"
    val dtag = s"graft_bloom_dim_${System.identityHashCode(dim).toHexString}"
    fact.createOrReplaceTempView(ftag)
    dim.createOrReplaceTempView(dtag)
    s.sql(
      s"""SELECT f.* FROM $ftag f
         |WHERE graft_might_contain(
         |  (SELECT graft_bloom_agg(xxhash64($dimKey), ${nItems}L) FROM $dtag),
         |  xxhash64(f.$factKey))""".stripMargin)
  }

  /** Gated query: revenue by return flag over lineitems whose part is
    * small (p_size < 5, ~8.5% of parts) — bloom pre-probe, then the
    * exact semi join the oracle states directly. The oracle knows
    * nothing of the bloom: the gate proves the pre-filter is
    * result-invariant, exactly the property that makes it safe to
    * inject in front of any 100 TB shuffle. */
  def q93BloomPrune(s: SparkSession, d: String): DataFrame = {
    val dim = part(s, d).filter(col("p_size") < 5).select(col("p_partkey"))
    val pruned = bloomPrefilter(lineitem(s, d), dim, "l_partkey",
      "p_partkey", 4096L)
    pruned.join(dim, pruned("l_partkey") === dim("p_partkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  val q93Sql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 5)
      |GROUP BY 1""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q93_bloom_prune" -> (q93BloomPrune _, q93Sql),
  )
}
