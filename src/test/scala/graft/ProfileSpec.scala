package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec,
  TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The pure pieces of graft.tools.Profile: the plan normalization
  * behind its IDENTICAL/DIVERGED verdict and the plan-shape counter. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.collect()
    try df.queryExecution.executedPlan.toString
    finally spark.catalog.clearCache()
  }

  test("two builds of one registered query normalize to the same plan") {
    val (a, b) = (executedPlan("dedup_exact"), executedPlan("dedup_exact"))
    assert(a != b, "expression ids differ per build")
    assert(Profile.normalize(a) == Profile.normalize(b))
  }

  test("normalize strips run-varying ids, stage numbers and lambda names") {
    assert(Profile.normalize(
      "Project [doc_id#123L] plan_id=4 ShuffleQueryStage 7 lambda x_12") ==
      "Project [doc_id#x] plan_id=x ShuffleQueryStage x lambda x_n")
  }

  private def executedSparkPlan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.collect()
    try df.queryExecution.executedPlan
    finally spark.catalog.clearCache()
  }

  /** Every node the final plan runs: into adaptive plans, query
    * stages and subqueries, never into a cached relation's plan. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: InMemoryTableScanExec => Nil
    case o => o.children
  }) ++ p.subqueries).flatMap(walk)

  test("the plan-shape counter reads the final plan and sees q5_multijoin's broadcasts") {
    val shape = Profile.shape(executedSparkPlan("q5_multijoin")).toMap
    assert(shape.keySet == Set("scans", "exch", "reusedExch", "shuffleStages",
      "bcastStages", "tableCaches"))
    assert(shape("bcastStages") >= 1, shape)
    assert(shape("scans") >= 1, shape)
  }

  test("a cached query's shape counts the operators its plan runs, each cache once") {
    val plan = executedSparkPlan("dedup_simhash")
    val nodes = walk(plan)
    def n(f: SparkPlan => Boolean): Int = nodes.count(f)
    val shape = Profile.shape(plan).toMap
    assert(shape == Map(
      "scans" -> n(_.isInstanceOf[FileSourceScanExec]),
      "exch" -> n(p => p.isInstanceOf[Exchange] || p.isInstanceOf[ReusedExchangeExec]),
      "reusedExch" -> n(_.isInstanceOf[ReusedExchangeExec]),
      "shuffleStages" -> n(_.isInstanceOf[ShuffleQueryStageExec]),
      "bcastStages" -> n(_.isInstanceOf[BroadcastQueryStageExec]),
      "tableCaches" -> n(_.isInstanceOf[TableCacheQueryStageExec])), shape)
    // the plan string repeats each cached relation's plan per
    // reference, which is what the walk must not count
    assert(shape("tableCaches") >= 1, shape)
    assert("Scan parquet".r.findAllIn(plan.toString).length > shape("scans"), shape)
  }

  test("emptyScans flags a timed count() that pruned the query's work away") {
    // Bench.timed's count() is groupBy().count() over the query: on
    // dedup_exact column pruning drops every documents column (and
    // with them the window); q5_multijoin's joins keep their keys
    def countPlan(name: String): String = {
      val c = SparkEntry.queries(name)(spark, TestSpark.sf).groupBy().count()
      c.collect()
      try c.queryExecution.executedPlan.toString
      finally spark.catalog.clearCache()
    }
    assert(Profile.emptyScans(countPlan("dedup_exact")) >= 1)
    assert(Profile.emptyScans(countPlan("q5_multijoin")) == 0)
  }
}
