package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the client thread. `op` is the timed op index,
  * or -1 for set-up and post-run work. */
final class Span(val id: Int, val parent: Int, val name: String,
    val op: Int, val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = -1L
}

/** Spark-side counters attributed to one span. */
final class ExecStats {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, schedMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var filesRead = 0L
  var joinRows = 0L
  var sqlExecs, exchanges, reusedExchanges, scans, broadcasts = 0L
  var analysisMs, optimizerMs, planningMs = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "sched_ms" -> schedMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "input_bytes" -> inputBytes, "files_read" -> filesRead,
    "join_rows" -> joinRows,
    "sql_execs" -> sqlExecs, "exchanges" -> exchanges,
    "reused_exchanges" -> reusedExchanges, "scans" -> scans,
    "broadcasts" -> broadcasts, "analysis_ms" -> analysisMs,
    "optimizer_ms" -> optimizerMs, "planning_ms" -> planningMs)
}

/** The harness's only view into the engine: spans it opens around
  * calls into the engine's functions, plus listeners it registers on
  * the session. Jobs submitted from the client thread carry the
  * innermost span id as a local property; jobs and SQL executions
  * from other threads (the streaming micro-batch thread) are
  * attributed to the innermost client span open at their start time.
  *
  * When tracing is off, `span` runs its body and records nothing, and
  * no listener is registered. */
object Trace {
  val Prop = "perfbench.span"

  @volatile private var enabled = false
  private var installed = false
  private var spark: SparkSession = _
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val stats = mutable.Map[Int, ExecStats]()
  private val streamProgress = mutable.ArrayBuffer[Map[String, Any]]()
  @volatile private var currentOp = -1
  @volatile private var lastEventMs = 0L
  private val openJobs = mutable.Set[Int]()

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(ExecListener)
    s.listenerManager.register(PhaseListener)
    s.streams.addListener(StreamListener)
    installed = true
    enabled = true
  }

  /** Turn span recording on or off (the traced run alternates). */
  def setEnabled(on: Boolean): Unit = enabled = installed && on

  def setOp(op: Int): Unit = currentOp = op

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val sp = spans.synchronized {
      val s = new Span(spans.length + 1, parent.map(_.id).getOrElse(0),
        name, currentOp, System.currentTimeMillis, System.nanoTime)
      spans += s
      s
    }
    stack.push(sp)
    val sc = spark.sparkContext
    sc.setLocalProperty(Prop, sp.id.toString)
    try body
    finally {
      sp.endNs = System.nanoTime
      sp.endMs = System.currentTimeMillis
      stack.pop()
      sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
    }
  }

  /** Innermost span open at wall time `ms` (0 when none). */
  private def spanAt(ms: Long): Int = spans.synchronized {
    var best: Span = null
    spans.foreach { s =>
      if (s.startMs <= ms && ms <= s.endMs &&
          (best == null || s.startMs >= best.startMs)) best = s
    }
    if (best == null) 0 else best.id
  }

  private def st(span: Int): ExecStats = stats.getOrElseUpdate(span, new ExecStats)

  /** Wait until every job the listener saw has ended and the bus has
    * been quiet for a moment, so counters are complete. */
  def drain(): Unit = if (installed) {
    val deadline = System.currentTimeMillis + 15000
    def quiet = stats.synchronized(openJobs.isEmpty) &&
      System.currentTimeMillis - lastEventMs > 400
    while (!quiet && System.currentTimeMillis < deadline) Thread.sleep(50)
  }

  def record: Map[String, Any] = {
    drain()
    val sp = spans.synchronized(spans.toList).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> (if (s.endNs < 0) s.startNs else s.endNs))
    }
    val ex = stats.synchronized(stats.toList)
      .map { case (k, v) => k.toString -> v.toMap }.toMap
    Map("spans" -> sp, "exec" -> ex,
      "streaming" -> streamProgress.synchronized(streamProgress.toList))
  }

  // ---- Spark scheduler + SQL UI events ----
  private object ExecListener extends SparkListener {
    private val stageSpan = mutable.Map[Int, Int]()
    private val execSpan = mutable.Map[Long, Int]()
    private val execPlan = mutable.Map[Long, SparkPlanInfo]()
    private val execMetricNames = mutable.Map[Long, mutable.Map[Long, String]]()
    // accumulator ids of the "number of output rows" metric of join nodes
    private val joinRowAccs = mutable.Set[Long]()

    private def touch(): Unit = lastEventMs = System.currentTimeMillis

    override def onJobStart(e: SparkListenerJobStart): Unit = stats.synchronized {
      touch()
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      val span = prop.map(_.toInt).getOrElse(spanAt(e.time))
      e.stageIds.foreach(stageSpan(_) = span)
      st(span).jobs += 1
      openJobs += e.jobId
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = stats.synchronized {
      touch()
      openJobs -= e.jobId
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stats.synchronized {
        touch()
        st(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stats.synchronized {
      touch()
      val s = st(stageSpan.getOrElse(e.stageId, 0))
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        val info = e.taskInfo
        if (info != null) info.accumulables.foreach { a =>
          if (joinRowAccs(a.id)) a.update.foreach {
            case v: Long => s.joinRows += v
            case _ =>
          }
        }
        if (info != null && info.finishTime > 0) {
          val other = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime + info.gettingResultTime
          s.schedMs += math.max(0L, info.duration - other)
        }
      }
    }

    private def notePlan(id: Long, p: SparkPlanInfo): Unit = {
      execPlan(id) = p
      val names = execMetricNames.getOrElseUpdate(id, mutable.Map())
      def walk(n: SparkPlanInfo): Unit = {
        n.metrics.foreach(m => names(m.accumulatorId) = m.name)
        if (n.nodeName.contains("Join")) n.metrics
          .filter(_.name == "number of output rows")
          .foreach(m => joinRowAccs += m.accumulatorId)
        n.children.foreach(walk)
      }
      walk(p)
    }

    override def onOtherEvent(event: SparkListenerEvent): Unit =
      stats.synchronized {
        touch()
        event match {
          case e: SparkListenerSQLExecutionStart =>
            execSpan(e.executionId) = spanAt(e.time)
            notePlan(e.executionId, e.sparkPlanInfo)
          case e: SparkListenerSQLAdaptiveExecutionUpdate =>
            notePlan(e.executionId, e.sparkPlanInfo)
          case e: SparkListenerDriverAccumUpdates =>
            val names = execMetricNames.getOrElse(e.executionId, mutable.Map())
            val files = e.accumUpdates.collect {
              case (id, v) if names.get(id).contains("number of files read") => v
            }.sum
            st(execSpan.getOrElse(e.executionId, 0)).filesRead += files
          case e: SparkListenerSQLExecutionEnd =>
            val s = st(execSpan.getOrElse(e.executionId, 0))
            s.sqlExecs += 1
            execPlan.remove(e.executionId).foreach { p =>
              val shape = PlanShape.of(p)
              s.exchanges += shape.exchanges
              s.reusedExchanges += shape.reused
              s.scans += shape.scans
              s.broadcasts += shape.broadcasts
            }
            execMetricNames.remove(e.executionId)
          case _ =>
        }
      }
  }

  // ---- Catalyst phase times (QueryPlanningTracker) ----
  private object PhaseListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = stats.synchronized {
      lastEventMs = System.currentTimeMillis
      qe.tracker.phases.foreach { case (phase, p) =>
        val s = st(spanAt(p.startTimeMs))
        phase match {
          case "analysis" => s.analysisMs += p.durationMs
          case "optimization" => s.optimizerMs += p.durationMs
          case "planning" => s.planningMs += p.durationMs
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  // ---- streaming progress (StreamingQueryProgress.durationMs) ----
  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        streamProgress.synchronized {
          streamProgress += Map("op" -> currentOp, "batch" -> p.batchId,
            "rows" -> p.numInputRows, "duration_ms" -> d)
        }
      }
    }
  }
}

/** Exact shape counts of a final (AQE-updated) physical plan. */
final case class PlanShape(exchanges: Int, reused: Int, scans: Int,
    broadcasts: Int)

object PlanShape {
  def of(p: SparkPlanInfo): PlanShape = {
    var ex, re, sc, bc = 0
    def walk(n: SparkPlanInfo): Unit = {
      val name = n.nodeName
      if (name == "Exchange") ex += 1
      else if (name == "BroadcastExchange") { ex += 1; bc += 1 }
      else if (name == "ReusedExchange") re += 1
      else if (name.startsWith("Scan ") || name.startsWith("BatchScan")) sc += 1
      n.children.foreach(walk)
    }
    walk(p)
    PlanShape(ex, re, sc, bc)
  }
}
