package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{LakeFs, ShingleIndex, Snapshots}
import graft.queries.Pipeline
import graft.sources.Tables
import graft.streaming.StreamOps

/** Continuous ingest beside reads. A MemoryStream feeds
  * StreamOps.cleanIngest (the corpus_clean gates per micro-batch);
  * each epoch adds 500 docs, and the epoch's kept docs are published
  * with Snapshots.publishAppend. After each epoch three seeded lake
  * reads run (a filtered graftsnap scan, a time-travel read, a point
  * lookup); then ShingleIndex.compact and Snapshots.maintainLog run
  * inline.
  *
  * The epoch schedule is fixed by the pool the generator wrote
  * (`<work>/ingest/documents.parquet`), so the union of emitted flags
  * can be checked against one-shot corpus_clean over the same pool. */
final class IngestServe(spark: SparkSession, dir: String, work: String,
    seed: Long) extends Workload {
  val EpochDocs = 500
  /** Snapshots.maintainLog folds the log once its tail reaches this. */
  val LogTail = 1
  private val poolDir = s"$work/ingest"
  private var pool: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var warmPool: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var modelIdx = ""

  /** One ingest stream with its own lake state. */
  private final class Ctx(root: String) {
    val exact = s"$root/exact"
    val shingle = s"$root/shingle"
    val out = s"$root/out"
    val lake = s"$root/lake"
    val roots = Seq(exact, shingle, out, out + "_ckpt", lake)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, String)]
    val q: StreamingQuery = StreamOps.cleanIngest(spark,
      ms.toDF().toDF("doc_id", "text"), exact, shingle, modelIdx, out)
    var epochs = 0
    val versions = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    val maintained = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var seen = Map.empty[String, Long]
    var writeBytes = 0L
    var textBytes = 0L
    var ingested = Vector.empty[Long]
  }
  private var ctx: Ctx = _
  private val perOp = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()

  // one warm-up epoch runs the ingest, publish and read paths once;
  // see DESIGN.md for the measured convergence
  override def warmupOps: Int = 1
  override def itemsPerOp: Int = EpochDocs

  private def epochsPlanned: Int = pool.length / EpochDocs

  override def more(i: Int, elapsedS: Double, budgetS: Int): Boolean =
    i < epochsPlanned

  override def clean(): Unit = {
    if (ctx != null) { ctx.q.stop(); ctx = null }
    Main.rmKeyed(poolDir)
    Main.rmKeyed(dir)
    LakeFs.rmTree(s"$work/state")
    LakeFs.rmTree(s"$work/warm")
  }

  private def load(d: String): IndexedSeq[(Long, String)] =
    Tables.documents(spark, d).select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq

  override def setup(): Unit = {
    modelIdx = Trace.span("operators.nb_model_build")(
      Pipeline.nbModelOf(spark, poolDir))
    pool = load(poolDir)
    warmPool = load(dir)
    require(pool.length % EpochDocs == 0 && epochsPlanned >= 1,
      s"ingest pool of ${pool.length} docs is not whole epochs")
    ctx = new Ctx(s"$work/warm")
  }

  override def startTimed(): Unit = {
    ctx.q.stop()
    LakeFs.rmTree(s"$work/warm")
    ctx = new Ctx(s"$work/state")
  }

  private def files(root: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f.getPath -> f.length) else Nil
    walk(new File(root)).toMap
  }

  private def snap(c: Ctx): Map[String, Long] = c.roots.flatMap(files).toMap

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  override def op(i: Int): OpResult = {
    val c = ctx
    val warm = i >= Main.WarmBase
    val k = if (warm) i - Main.WarmBase else i
    val src = if (warm) warmPool else pool
    val batch = src.slice(k * EpochDocs % src.length,
      k * EpochDocs % src.length + EpochDocs)
    val epoch = c.epochs
    val t0 = System.nanoTime
    c.ms.addData(batch: _*)
    Trace.span("streaming.process")(c.q.processAllAvailable())
    val keep = Trace.span("queries.kept") {
      spark.read.parquet(c.out).filter(col("epoch") === epoch && col("keep"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val version = Trace.span("operators.lake_publish") {
      val rows = batch.filter(d => keep(d._1)).map(d => Row(d._1, d._2))
      Snapshots.publishAppend(
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema),
        c.lake)
    }
    val lat = (System.nanoTime - t0) / 1e9
    c.epochs += 1
    c.versions += epoch -> version
    c.ingested ++= batch.map(_._1)
    c.textBytes += batch.map(_._2.getBytes("UTF-8").length.toLong).sum

    // seeded lake reads
    val r = Main.rng(seed, i)
    val ids = c.ingested
    def graftsnap = spark.read.format("graftsnap")
    val lo = ids(r.nextInt(ids.length))
    val asOf = 1L + r.nextInt(version.toInt)
    val point = ids(r.nextInt(ids.length))
    val reads = Seq(
      ("scan", Map("lo" -> lo, "hi" -> (lo + 200)), () =>
        graftsnap.load(c.lake).filter(col("doc_id").between(lo, lo + 200)).count()),
      ("as_of", Map("version" -> asOf), () =>
        graftsnap.option("versionAsOf", asOf).load(c.lake).count()),
      ("point", Map("doc_id" -> point), () =>
        graftsnap.load(c.lake).filter(col("doc_id") === point).count()))
      .map { case (kind, args, f) =>
        val (n, s) = Main.time(Trace.span(s"sources.read_$kind")(f()))
        (kind, args, n, s)
      }

    maintain(c, epoch)
    OpResult(lat, Map("epoch" -> epoch, "version" -> version,
      "kept" -> keep.size, "first_id" -> batch.head._1,
      "reads" -> reads.map { case (kind, args, n, s) =>
        Map("kind" -> kind, "args" -> args, "count" -> n, "s" -> s)
      }), reads.map(_._4))
  }

  /** Inline maintenance: shingle-index compaction, then the lake's
    * log maintenance (tail folded once it reaches LogTail). */
  private def maintain(c: Ctx, epoch: Int): Unit = {
    val before = snap(c)
    val (_, compactS) = Main.time(Trace.span("operators.shingle_compact")(
      ShingleIndex.compact(spark, c.shingle)))
    val (folded, maintainS) = Main.time(Trace.span("operators.lake_maintain")(
      Snapshots.maintainLog(spark, c.lake, maxTail = LogTail)))
    val rewritten = snap(c).collect {
      case (p, n) if !before.get(p).contains(n) => n
    }.sum
    c.maintained += Map("after_epoch" -> epoch, "compact_s" -> compactS,
      "maintain_s" -> maintainS, "bytes_rewritten" -> rewritten,
      "folded_version" -> folded)
  }

  /** Outside the timed window: list the ingest roots, charge new or
    * rewritten files to write_amp, and record the layout counters. */
  override def afterOp(i: Int): Unit = {
    val c = ctx
    val now = snap(c)
    c.writeBytes += now.collect { case (p, n) if !c.seen.get(p).contains(n) => n }.sum
    c.seen = now
    perOp += Map("op" -> i,
      "shingle_index_files" -> files(c.shingle).keys.count(_.endsWith(".parquet")),
      "lake_files" -> files(c.lake).keys.count(_.endsWith(".parquet")),
      "lake_versions" -> Snapshots.latestVersion(c.lake).getOrElse(0L),
      "write_bytes" -> c.writeBytes, "text_bytes" -> c.textBytes)
  }

  override def counters: Map[String, Any] = Map("per_op" -> perOp,
    "maintenance" -> ctx.maintained)

  override def finish(): Map[String, Any] = {
    val c = ctx
    c.q.stop()
    val flagCols = Seq("doc_id", "lang_ok", "quality_ok", "repetition_ok",
      "nb_ok", "not_exact_dup", "near_dup_drop", "keep")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(flagCols.map(col): _*).collect().map(_.toSeq.map {
        case b: Boolean => if (b) 1L else 0L
        case x => x
      }).toSeq
    val emitted = rows(spark.read.parquet(c.out))
    val epochOf = spark.read.parquet(c.out).select("doc_id", "epoch").collect()
      .map(r => r.getLong(0).toString -> r.get(1).toString.toLong).toMap
    val oneShot = rows(SparkEntry.queries("corpus_clean")(spark, poolDir))
    Map("emitted" -> emitted, "epoch_of" -> epochOf, "one_shot" -> oneShot,
      "versions" -> c.versions.map { case (e, v) => Seq(e.toLong, v) },
      "ingested" -> c.ingested.length,
      "write_bytes" -> c.writeBytes, "text_bytes" -> c.textBytes,
      "space_bytes" -> snap(c).values.sum)
  }
}
