package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL surface for Spark's OWN bloom-filter sketch expressions.
  *
  * `BloomFilterAggregate` / `BloomFilterMightContain` are the exact
  * expressions Catalyst's `InjectRuntimeFilter` rule plants when it
  * prunes a shuffle join's big side with the small side's key set —
  * they ship in every Spark build but are not registered in the public
  * function registry (the optimizer constructs them directly). Exposing
  * them as `graft_bloom_agg(xxhash64(k), nItems)` and
  * `graft_might_contain(bloom, xxhash64(k))` lets a pipeline author
  * apply the same pre-shuffle pruning EXPLICITLY — e.g. when the
  * selective dim filter spans more than one join hop, which the
  * injection rule will not chase.
  *
  * Reusing Spark's expressions rather than reimplementing the sketch
  * buys: codegen'd membership probes, the spill-safe
  * TypedImperativeAggregate build path with partial (map-side) merge of
  * the bit arrays, and bit-compatibility with the runtime-filter
  * infrastructure. `might_contain` requires the bloom side to be a
  * scalar subquery or literal (its own type check enforces this) — the
  * one-row build is driver-scalar by construction, never a row join.
  */
object BloomFilterFns {

  def register(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    reg.registerFunction(
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child) => new BloomFilterAggregate(child)
        case Seq(child, n) =>
          new BloomFilterAggregate(child,
            n.eval().asInstanceOf[Number].longValue())
        case _ => throw new IllegalArgumentException(
          "graft_bloom_agg(hashExpr[, estimatedNumItems])")
      })
    reg.registerFunction(
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "graft_might_contain"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
        case _ => throw new IllegalArgumentException(
          "graft_might_contain(bloom, hashExpr)")
      })
  }
}
