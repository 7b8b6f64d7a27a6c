package graft

import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 graftdocs connector: short-name registration, full reads,
  * and column pruning reaching the scan. */
class DataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("reads a document directory by short name") {
    val df = spark.read.format("graftdocs")
      .load(graft.sources.DemoDocs.materialize())
    val rows = df.collect()
    assert(rows.nonEmpty)
    val demo = rows.find(_.getAs[String]("source").endsWith("demo.txt")).get
    assert(demo.getAs[Long]("n_chars") > 1000)
    assert(demo.getAs[String]("text").length == demo.getAs[Long]("n_chars"))
  }

  test("column pruning reaches the scan") {
    val df = spark.read.format("graftdocs")
      .load(graft.sources.DemoDocs.materialize()).select("n_chars")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=n_chars"), plan)
    assert(df.collect().map(_.getLong(0)).sum > 0)
  }
}
