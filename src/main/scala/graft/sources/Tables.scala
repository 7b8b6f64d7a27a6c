package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single place for loading the star-schema + document/vector tables.
  *
  * Mirrors the reference's document-ingestion entry point
  * (conversadocs/bones.py:47 `load_db`): where the reference walks a
  * file list on one machine, Graft reads a parquet lake — the loader
  * registry there maps to Spark `DataFrameReader` formats here
  * (parquet today; csv/json/orc/text are the same one-line call).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables larger than this get a splittable mirror; smaller ones
    * are broadcast-side dims where one task is already right. */
  private val MirrorThreshold = 512L * 1024

  /** SPLITTABLE-SCAN MIRROR (VERDICT r7 #8). The local testdata
    * tables are one file with ONE parquet row group, and Spark can
    * split a file only at row-group boundaries — so every cold first
    * stage serialized on one core at local[32] no matter what
    * `spark.sql.files.maxPartitionBytes` says. At 100 TB the input
    * arrives as many multi-row-group files and none of this path
    * runs; locally, the first read of a big table rewrites it ONCE
    * under /tmp/graft_mirror with 256 KB row groups (row order
    * preserved: single-task write, no shuffle — bytes identical,
    * layout finer), and every later read scans the mirror in
    * parallel. The mirror key embeds the source (size, mtime), so a
    * regenerated testdata table self-invalidates. DuckDB oracles
    * keep reading the ORIGINAL files — same rows either way. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(resolve(spark, dir, name))

  private def resolve(spark: SparkSession, dir: String,
      name: String): String = {
    val srcPath = s"$dir/$name.parquet"
    val src = new java.io.File(srcPath)
    if (!src.isFile || src.length < MirrorThreshold) return srcPath
    val sane = dir.replaceAll("/+$", "").replaceAll("[^a-zA-Z0-9]", "_")
    // Splits can only land on row-group boundaries, so the GROUP size
    // — not maxPartitionBytes — is the scan-parallelism floor (256 KB
    // groups cap the 594 KB documents table at 2-3 scan tasks). r17
    // A/B'd a 64 KB profile: flat on the heavy families, a
    // per-task-overhead loss on the sub-second rows — 256 KB stays
    // (see GraftSession.localBench). The block size is part of the
    // mirror key so a change to it self-invalidates.
    val block = 262144
    val dst = new java.io.File(
      s"/tmp/graft_mirror/$sane/$name-${src.length}-${src.lastModified}-b$block")
    if (!dst.isDirectory) synchronized {
      if (!dst.isDirectory) {
        dst.getParentFile.mkdirs()
        val tmp = new java.io.File(dst.getParent,
          s".${dst.getName}-${ProcessHandle.current.pid}.tmp")
        spark.read.parquet(srcPath).coalesce(1).write
          .option("parquet.block.size", block)
          .mode("overwrite").parquet(tmp.getPath)
        // atomic publish; a concurrent process winning the race is
        // fine — its mirror has identical content
        if (tmp.renameTo(dst)) {
          // a regenerated testdata table leaves its old (size, mtime)
          // mirror behind — reap stale siblings of this table on
          // publish so /tmp doesn't grow unbounded (ADVICE r8). Only
          // siblings quiet for >30 min: a just-superseded mirror may
          // still back lazy frames in a concurrently running process
          // (their source just changed, but don't yank files mid-scan)
          val grace = System.currentTimeMillis - 30L * 60 * 1000
          Option(dst.getParentFile.listFiles()).toSeq.flatten
            .filter(f => f.getName != dst.getName &&
              f.getName.matches(
                java.util.regex.Pattern.quote(name) +
                  "-\\d+-\\d+(-b\\d+)?") &&
              f.lastModified < grace)
            .foreach(rm)
        } else {
          rm(tmp)
          if (!dst.isDirectory) return srcPath // failed, nobody built it
        }
      }
    }
    dst.getPath
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events table's `ts` parquet physical type has varied across
    * testdata generations: TIMESTAMP(NANOS) (read as LONG via the
    * nanos-as-long legacy flag set in GraftSession.build) and plain
    * micros with isAdjustedToUTC=false (read as TIMESTAMP_NTZ).
    * Normalize both to the session-TZ TIMESTAMP every downstream
    * operator expects — the session runs in UTC, so the NTZ→LTZ cast
    * is the identity on the underlying micros, and the nanos→micros
    * division is lossless (the generator wrote whole-micro values,
    * matching DuckDB's micros truncation). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", df.col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Local recursive delete for the /tmp mirror tree only — the
    * mirror path is a local[32] workaround by design (see `resolve`),
    * so plain java.io is correct here; lake state goes through
    * operators.LakeFs instead. */
  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }
}
