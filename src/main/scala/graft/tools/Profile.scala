package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  BroadcastQueryStageExec, ShuffleQueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Same-JVM profile of registered queries on Bench's session, warm-up
  * and timing (`Bench.timed`, including its clearCache + GC hygiene):
  *
  *   SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=… tools/run.sh \
  *     graft.tools.Profile q_triangles graph_clustering
  *
  * Four passes per query; pass 1 is the JIT/codegen warm-up. Each pass
  * prints one `[profile]` line: builder seconds (`fn(spark, dir)`,
  * which runs the query's eager jobs), action seconds (`count()`),
  * their sum, the Spark jobs started and the five slowest actions.
  * Per query it prints the final AQE plan shape of the timed action
  * (with `emptyScans`, its scans pruned to no column) and whether
  * the normalized slowest-action plan stayed IDENTICAL across passes — a wall-time flap over identical trees is JVM
  * state, not plan instability (the r11/r14 shingle and wedge-join
  * flaps). Plans of actions slower than 1 s go to
  * /tmp/graft_profile/<query>/pass<i>-<k>.txt, the timed action's
  * formatted explain to explain.txt. */
object Profile {
  private[graft] def normalize(plan: String): String =
    plan.replaceAll("#\\d+[A-Z]*", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      // AQE stage numbers and whole-stage-codegen ids are SUBMISSION
      // ORDER labels: two symmetric join sides legitimately swap them
      // run-to-run (witnessed on q_triangles' wedge sides) — identical
      // trees, different launch order
      .replaceAll("(Shuffle|Broadcast|TableCache|Result)QueryStage \\d+",
        "$1QueryStage x")
      .replaceAll("\\*\\(\\d+\\)", "*(x)")
      .replaceAll("\\[id=#x\\]", "")
      .replaceAll("InMemoryFileIndex\\([^)]*\\)[^,\\]]*", "InMemoryFileIndex(x)")
      .replaceAll("cachedrdd_\\d+", "cachedrdd_x")
      // lambda variable names (x_1, x_2, …) come from a global
      // per-session counter — run-varying by construction, same
      // class as expression ids (witnessed r16 on the shingle
      // family's transform(sequence(...)) lambdas)
      .replaceAll("lambda x_\\d+", "lambda x_n")
      .replaceAll("InMemoryTableScan[^\\n]*", "InMemoryTableScan x")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")

  /** Operator counts of an executed plan's final adaptive plan, the
    * only one that shows runtime exchange and stage reuse, by a walk
    * of the SparkPlan tree. The walk enters query stages but stops at
    * each InMemoryTableScan: a cached relation's plan ran when the
    * cache was filled, and the plan STRING prints it inline once per
    * reference (dedup_simhash's count() read scans=560 exch=907 that
    * way). `exch` counts reused exchanges too. */
  private[graft] def shape(plan: SparkPlan): Seq[(String, Int)] = {
    val nodes = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
      case p => p
    }
    def n(f: PartialFunction[SparkPlan, Unit]): Int = nodes.count(f.isDefinedAt)
    Seq("scans" -> n { case _: FileSourceScanExec => },
      "exch" -> n { case _: Exchange | _: ReusedExchangeExec => },
      "reusedExch" -> n { case _: ReusedExchangeExec => },
      "shuffleStages" -> n { case _: ShuffleQueryStageExec => },
      "bcastStages" -> n { case _: BroadcastQueryStageExec => },
      "tableCaches" -> n { case _: TableCacheQueryStageExec => })
  }

  /** Scans of the final plan that read no column (`ReadSchema:
    * struct<>`): the timed `count()` let column pruning drop every
    * column of that table, so whatever the query computed from it
    * (dedup_exact's window, say) never ran and the timing covers a
    * row count. */
  private[graft] def emptyScans(plan: String): Int =
    "ReadSchema: struct<>".r.findAllIn(finalPlan(plan)).length

  private def finalPlan(plan: String): String =
    plan.split("\n\\+- == Initial Plan ==", 2)(0)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val queries = graft.SparkEntry.queries
    args.foreach(n => require(queries.contains(n), s"unknown query: $n"))
    val spark = graft.GraftSession.localBench(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, QueryExecution)]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = recs.add((durationNs, qe))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    graft.Bench.warmUp(spark)
    // The listener bus and the status store are asynchronous: let them
    // drain first. The store keeps only spark.ui.retainedJobs jobs, so
    // the newest job id, not the id count, is what grows per job.
    def lastJob(): Int = {
      Thread.sleep(2000)
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).foldLeft(-1)(math.max)
    }
    var job = lastJob()
    args.foreach { name =>
      val outDir = s"/tmp/graft_profile/$name"
      graft.operators.LakeFs.rmTree(outDir)
      new java.io.File(outDir).mkdirs()
      val passes = (1 to 4).map { i =>
        recs.clear()
        val t = graft.Bench.timed(spark, queries(name), sfDir)
        val job0 = job
        job = lastJob()
        val actions = recs.toArray(Array.empty[(Long, QueryExecution)])
        val slowest = actions.sortBy(-_._1)
        println(f"[profile] $name pass $i: builder ${t.builderS}%.2f s" +
          f" + action ${t.actionS}%.2f s = ${t.seconds}%.2f s" +
          (if (t.ok) "" else " FAILED") + s", ${job - job0} jobs," +
          s" ${actions.length} actions, slowest: " +
          slowest.take(5).map(a => f"${a._1 / 1e9}%.2f").mkString(", "))
        slowest.takeWhile(_._1 > 1000000000L).zipWithIndex.foreach {
          case ((ns, qe), k) => Files.writeString(Paths.get(s"$outDir/pass$i-$k.txt"),
            f"action $k: ${ns / 1e9}%.2f s\n${qe.executedPlan}\n")
        }
        // the witness is the SLOWEST action's tree: that is where a
        // plan regression would live; the timed count() is the pass's
        // last action
        (slowest.headOption.map(a => normalize(a._2.executedPlan.toString)),
          actions.lastOption.filter(_ => t.ok).map(_._2))
      }
      passes.last._2.foreach { qe =>
        val plan = qe.executedPlan.toString
        println(s"[profile] $name plan: " +
          shape(qe.executedPlan).map { case (k, n) => s"$k=$n" }.mkString(" ") +
          s" emptyScans=${emptyScans(plan)}")
        Files.writeString(Paths.get(s"$outDir/explain.txt"),
          qe.explainString(FormattedMode))
      }
      val stable = passes.flatMap(_._1).distinct.lengthIs <= 1
      println(s"[profile] $name: normalized slowest-action plans across 4 passes " +
        (if (stable) "IDENTICAL - wall-time flap adjudicates to JVM state"
         else s"DIVERGED - inspect $outDir"))
    }
    spark.stop()
  }
}
