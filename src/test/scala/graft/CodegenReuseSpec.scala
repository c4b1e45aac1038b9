package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** A long-lived session compiles each generated class once: a query that
  * runs again finds its classes in Spark's codegen cache.
  *
  * `CodeGenerator`'s class cache is a JVM-wide singleton, sized from the
  * conf of the first session that generates code; here that is the
  * shared test session, built by `GraftSession.builder` like every
  * engine session. Compiles are read from Spark's own counter, which
  * counts every Janino compilation in the JVM. */
class CodegenReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val d = sf("sf0.001")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def query(prefix: String): org.apache.spark.sql.DataFrame = {
    val (_, fn) = SparkEntry.queries.find(_._1.startsWith(prefix + "_"))
      .getOrElse(fail(s"no registered query $prefix"))
    fn(spark, d)
  }

  /** Classes compiled while `prefixes` run once each, in order, through
    * the noop sink (the path Bench and the benchmark harness take). */
  private def compiledBy(prefixes: Seq[String]): Map[String, Long] =
    prefixes.map { p =>
      val before = compiles()
      query(p).write.format("noop").mode("overwrite").save()
      p -> (compiles() - before)
    }.toMap

  test("the session factory sets both codegen cache confs") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("the llm_ops rotation compiles nothing in its second round") {
    val rotation = Seq("q210", "q21", "q113", "q86")
    // the zero below means reuse, not an absent code generator
    rotation.foreach { p =>
      val df = query(p)
      df.queryExecution.toRdd.count()
      assert(collect(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w }.nonEmpty, s"$p runs no generated code")
    }
    compiledBy(rotation)
    val second = compiledBy(rotation)
    assert(second.values.sum == 0L, s"second round recompiled: $second")
  }

  test("q211 compiles nothing when it runs again") {
    compiledBy(Seq("q211"))
    val again = compiledBy(Seq("q211"))
    assert(again("q211") == 0L, s"q211 recompiled ${again("q211")} classes")
  }
}
