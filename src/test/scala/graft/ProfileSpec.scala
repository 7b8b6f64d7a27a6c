package graft

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

  test("the plan-shape counter reads the final plan and sees q5_multijoin's broadcasts") {
    val twoSections = "AdaptiveSparkPlan isFinalPlan=true\n" +
      "+- == Final Plan ==\n   BroadcastQueryStage 0\n   +- Scan parquet t\n" +
      "+- == Initial Plan ==\n   Scan parquet t\n"
    assert(Profile.shape(twoSections).toMap ==
      Map("scans" -> 1, "exch" -> 0, "reusedExch" -> 0, "shuffleStages" -> 0,
        "bcastStages" -> 1, "tableCaches" -> 0))
    val shape = Profile.shape(executedPlan("q5_multijoin")).toMap
    assert(shape("bcastStages") >= 1, shape)
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
