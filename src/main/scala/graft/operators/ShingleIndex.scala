package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Maintained lake state for shingle-based near-dedup (the
  * queries.Dedup incremental path) — the third index to get the
  * build/append/read lifecycle (IvfIndex, SubstringIndex): the
  * already-indexed corpus's distinct (doc_id, shingle-hash) rows,
  * per-doc shingle counts, and the hot-shingle stop list.
  *
  * Layout under `indexDir`, each table a graftsnap append log
  * (`v=<n>` versions, see [[Snapshots]]):
  *   shingles/ (doc_id, s) — one row per distinct (doc, shingle); the
  *             candidate join's equi-key side AND the exact-verify
  *             source (shingle-set Jaccard is fully computable from
  *             the index — unlike the substring index, no corpus
  *             re-read at verify)
  *   sizes/    (doc_id, n) — Jaccard denominators
  *   stop/     (s) — shingles hot at derivation (df·2 > n_index_docs),
  *             one replace version per derivation
  *
  * An append commits the batch's shingles and sizes as one version
  * per table through Snapshots.publishEpoch, whose epoch tag sits
  * inside the version: a replayed epoch (foreachBatch retry, or a
  * crash between the tables) commits nothing twice, so the family's
  * raw intersection counts never see a duplicate row. The stop list
  * is derived by the first append that commits rows and is otherwise
  * FROZEN between compactions: the ingest consults the index's stop
  * list, it does not rescan the corpus (the dedup_incremental
  * contract since round 5). Appends therefore add batch shingles and
  * sizes only — O(batch) writes — and batch hot-shingle rows ARE
  * appended, because the exact-verify hot-correction needs the
  * batch's memberships too. [[compact]] refreshes stop at the
  * current doc count. Readers declare each table's schema and scan
  * the log's live version dirs.
  */
object ShingleIndex {

  /** The shingles layout as written. Readers declare the layouts
    * instead of inferring them: an inferring parquet read is a footer
    * job per load, and the streaming ingests load all three tables
    * every micro-batch. */
  val ShinglesSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("s", LongType)))

  /** The sizes layout as written. */
  val SizesSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("n", LongType)))

  /** The stop-list layout as written. */
  val StopSchema: StructType = StructType(Seq(StructField("s", LongType)))

  /** The epoch scope every append records on the shingles and sizes
    * logs (one stream per index dir). */
  private val Scope = "shidx"

  private def sizesOf(shingles: DataFrame): DataFrame =
    IndexLifecycle.laidOut(
      shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n")), SizesSchema)

  /** Re-derive the stop list over the whole committed index at its
    * current doc count and commit it as stop/'s next replace
    * version. */
  private def publishStop(spark: SparkSession, indexDir: String): Unit = {
    val nd = sizes(spark, indexDir).count()
    Snapshots.publishReplace(IndexLifecycle.laidOut(
      shingles(spark, indexDir).groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") * 2 > lit(nd)), StopSchema).coalesce(1),
      s"$indexDir/stop")
  }

  /** Batch-build from the index corpus's distinct (doc_id, s) rows:
    * a fresh log (whatever `indexDir` held is deleted, epoch tags
    * included, so no stale tag makes a later append look like a
    * replay) whose first version is `shingles`, committed under its
    * own scope — a stream appending to the built index starts at
    * epoch 0 too. */
  def build(spark: SparkSession, shingles: DataFrame,
      indexDir: String): Unit = {
    LakeFs.rmTree(indexDir)
    commitEpoch(spark, shingles, indexDir, "build", 0L)
  }

  /** Append micro-batch `epoch`'s shingles `bsh` — exactly once per
    * epoch — and derive the stop list if none is committed yet (so
    * an unbuilt index dir is built by its first non-empty batch).
    * Returns whether the index holds any rows now: a stream whose
    * batches have all been empty has none to read. */
  def append(spark: SparkSession, bsh: DataFrame, indexDir: String,
      epoch: Long): Boolean =
    commitEpoch(spark, bsh, indexDir, Scope, epoch)

  private def commitEpoch(spark: SparkSession, bsh: DataFrame,
      indexDir: String, scope: String, epoch: Long): Boolean = {
    Snapshots.publishEpoch(IndexLifecycle.laidOut(bsh, ShinglesSchema),
      s"$indexDir/shingles", scope, epoch)
    Snapshots.publishEpoch(sizesOf(bsh), s"$indexDir/sizes", scope, epoch)
    val built = Snapshots.latestVersion(s"$indexDir/shingles").isDefined
    if (built && Snapshots.latestVersion(s"$indexDir/stop").isEmpty)
      publishStop(spark, indexDir)
    built
  }

  private def table(spark: SparkSession, indexDir: String, name: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema)
      .parquet(Snapshots.logDataDirs(s"$indexDir/$name", None): _*)

  def shingles(spark: SparkSession, indexDir: String): DataFrame =
    table(spark, indexDir, "shingles", ShinglesSchema)

  def sizes(spark: SparkSession, indexDir: String): DataFrame =
    table(spark, indexDir, "sizes", SizesSchema)

  def stop(spark: SparkSession, indexDir: String): DataFrame =
    table(spark, indexDir, "stop", StopSchema)

  /** Maintenance, in bounded steps: re-derive stop at the current df
    * and doc count (so shingles that became hot through appends leave
    * the candidate join), fold only the shingles and sizes appended
    * since the last fold (Snapshots.maintainLog's tiered fold, which
    * collapses the chain into one base every few folds), and vacuum
    * what the folds and the new stop version subsume. Nothing is
    * dropped — hot-shingle membership rows are load-bearing (the
    * exact-verify hot correction reads them) — so the index reads
    * equal to a FRESH BUILD over the same docs (asserted in
    * DedupSpec). The stop refresh still scans the whole shingles
    * table. A no-op on an index no append has committed rows to. */
  def compact(spark: SparkSession, indexDir: String): Unit =
    if (Snapshots.latestVersion(s"$indexDir/shingles").isDefined) {
      publishStop(spark, indexDir)
      for (t <- Seq("shingles", "sizes")) {
        Snapshots.maintainLog(spark, s"$indexDir/$t", maxTail = 1)
        Snapshots.vacuumLog(s"$indexDir/$t")
      }
      Snapshots.vacuumLog(s"$indexDir/stop")
    }
}
