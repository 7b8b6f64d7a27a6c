package graft.perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession
import graft.operators.LakeFs
import graft.queries.Vectors

/** What one timed op returns: its latency, the payload the Python side
  * checks, and extra latencies (lake reads) measured inside it. */
final case class OpResult(latencyS: Double, payload: Map[String, Any],
    reads: Seq[Double] = Nil)

/** A closed-loop workload: set-up (repeatable), then ops issued one at
  * a time by one client thread. */
trait Workload {
  /** Drop every piece of state a set-up builds. */
  def clean(): Unit
  /** One set-up repetition (after `clean`). */
  def setup(): Unit
  def warmupOps: Int
  /** Run op `i` (warm-up ops use indices >= Main.WarmBase). */
  def op(i: Int): OpResult
  /** Whether to issue timed op `i` after `elapsedS` seconds. */
  def more(i: Int, elapsedS: Double, seconds: Int): Boolean =
    elapsedS < seconds
  /** Untimed bookkeeping after each timed op; its time leaves the
    * timed window. */
  def afterOp(i: Int): Unit = ()
  /** Called once after warm-up, before the first timed op. */
  def startTimed(): Unit = ()
  /** Post-run payload for the output checks. */
  def finish(): Map[String, Any]
  /** Per-layer counters only the workload can see. */
  def counters: Map[String, Any] = Map.empty
  def itemsPerOp: Int
}

/** The benchmark's JVM side. Usage:
  * Main <workload> <seed> <seconds> <trace 0|1> <sfDir> <workDir> <out.json>
  *
  * Writes a raw record (op latencies, set-up phases, spans and
  * counters, check payloads) to out.json; perfbench/run.py turns it
  * into metrics and checks the outputs. */
object Main {
  val WarmBase = 1000000
  val Cores = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sfDir, workDir, outPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = traceS == "1"
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    val spark = GraftSession.localBench(Cores)
    val sessionReadyMs = System.currentTimeMillis
    if (trace) Trace.install(spark)

    val wl: Workload = workload match {
      case "rag_qa" => new RagQa(spark, sfDir, workDir, seed)
      case "ingest_serve" => new IngestServe(spark, sfDir, workDir, seed)
      case other => sys.error(s"unknown workload $other")
    }

    val setupReps = (0 until SetupReps).map { _ =>
      wl.clean()
      val t = System.nanoTime
      Trace.span("setup")(wl.setup())
      (System.nanoTime - t) / 1e9
    }

    val warm = (0 until wl.warmupOps).map(k => wl.op(WarmBase + k).latencyS)
    wl.startTimed()
    val firstOpMs = System.currentTimeMillis

    val ops = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime
    var excludedNs = 0L
    var i = 0
    def elapsed = (System.nanoTime - t0 - excludedNs) / 1e9
    while (wl.more(i, elapsed, seconds)) {
      // odd ops are traced, so each traced op lies between two
      // untraced ones (see metrics.trace_overhead)
      val traced = trace && i % 2 == 1
      Trace.setEnabled(traced)
      Trace.setOp(i)
      val start = System.nanoTime
      val rec = try {
        val r = Trace.span("op")(wl.op(i))
        Map("i" -> i, "ok" -> true, "lat_s" -> r.latencyS, "reads" -> r.reads,
          "traced" -> traced, "payload" -> r.payload)
      } catch {
        case e: Exception =>
          Map("i" -> i, "ok" -> false, "lat_s" -> (System.nanoTime - start) / 1e9,
            "reads" -> Nil, "traced" -> traced, "err" -> e.toString)
      }
      ops += rec
      val u = System.nanoTime
      wl.afterOp(i)
      excludedNs += System.nanoTime - u
      i += 1
    }
    val windowS = (System.nanoTime - t0 - excludedNs) / 1e9
    Trace.setOp(-1)
    Trace.setEnabled(trace)

    val (check, finishS) = time(wl.finish())
    val (funcs, funcsS) =
      time(if (trace) Functions.measure(spark, sfDir) else Map.empty[String, Double])
    val rec = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> Cores, "items_per_op" -> wl.itemsPerOp,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "first_op_ms" -> firstOpMs,
      "setup_reps_s" -> setupReps, "warmup_lat_s" -> warm,
      "window_s" -> windowS, "ops" -> ops,
      "finish_s" -> finishS, "functions_s" -> funcsS,
      "check" -> check, "counters" -> wl.counters, "functions" -> funcs,
      "trace_record" -> (if (trace) Trace.record else Map.empty),
      "rss_peak_mb" -> vmHwmMb)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(outPath), rec)
    spark.stop()
  }

  /** Peak resident set of this JVM (Linux VmHWM), in MB. */
  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Remove the engine's /tmp sidecars keyed to input dir `dir` (the
    * Tables mirror, frozen-model and index sidecars), whatever their
    * kind: `Vectors.sidecarDir(<kind>, dir)` for every /tmp/graft_<kind>. */
  def rmKeyed(dir: String): Unit =
    Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .foreach(f => LakeFs.rmTree(
        Vectors.sidecarDir(f.getName.stripPrefix("graft_"), dir)))

  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime
    val r = body
    (r, (System.nanoTime - t) / 1e9)
  }

  /** Deterministic per-op RNG from (seed, op index). */
  def rng(seed: Long, i: Int): scala.util.Random =
    new scala.util.Random(graft.functions.Sketches.splitmix64(seed * 1000003L + i))
}
