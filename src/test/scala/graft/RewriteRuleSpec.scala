package graft

import graft.operators.CurrentState
import graft.plans.RewriteLatestByToArgMax
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Specs for the window→argmax optimizer rule (K-group). The spec
  * session is a [[GraftSession]], so the rule is always on; the
  * reference result excludes it by name. */
class RewriteRuleSpec extends SparkSpecBase {

  // single-sort-key latest-row window: the argMax shape the rule targets
  private def latestByTs = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc)
    Tables.events(spark, sf)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("user_id", "event_id", "value")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq

  test("rule turns the latest-row window into a sort-free hash aggregate") {
    val plan = latestByTs.queryExecution.executedPlan.toString
    assert(plan.contains("max_by"), s"no max_by aggregate:\n$plan")
    assert(plan.contains("HashAggregate"), s"not a hash aggregate:\n$plan")
    assert(!plan.contains("Sort ["), s"sort still present:\n$plan")
    assert(!plan.contains("WindowGroupLimit"), s"window group limit remains:\n$plan")
  }

  test("rewritten plan returns exactly the window-based result") {
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, RewriteLatestByToArgMax.ruleName)
    val expected = try {
      val reference = latestByTs
      val plan = reference.queryExecution.optimizedPlan.toString
      assert(plan.contains("row_number"), s"reference is not the window plan:\n$plan")
      sortedRows(reference)
    } finally spark.conf.unset(excluded)
    assert(sortedRows(latestByTs) == expected)
  }

  test("rule leaves top-k windows (rn <= 3) untouched") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc)
    val df = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    assert(df.queryExecution.optimizedPlan.toString.contains("row_number"))
    assert(df.count() > 0)
  }

  test("rule leaves multi-key orderings untouched (kept as window group limit)") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val df = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(df.queryExecution.optimizedPlan.toString.contains("row_number"))
    assert(df.count() > 0)
  }
}
