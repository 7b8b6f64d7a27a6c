package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Maintained lake state for shingle-based near-dedup (the
  * queries.Dedup incremental path) — the third index to get the
  * build/append/read lifecycle (IvfIndex, SubstringIndex): the
  * already-indexed corpus's distinct (doc_id, shingle-hash) rows,
  * per-doc shingle counts, and the build-time hot-shingle stop list.
  *
  * Layout under `indexDir`:
  *   shingles/ (doc_id, s), unpartitioned — one row per distinct
  *             (doc, shingle); the candidate join's
  *             equi-key side AND the exact-verify source (shingle-set
  *             Jaccard is fully computable from the index — unlike
  *             the substring index, no corpus re-read at verify)
  *   sizes/    (doc_id, n) — Jaccard denominators
  *   stop/     (s) — shingles hot at BUILD (df·2 > n_index_docs)
  *
  * The stop list is deliberately FROZEN at build: the ingest consults
  * the index's stop list, it does not rescan the corpus to rebuild
  * one (the dedup_incremental contract since round 5; refreshing it
  * is an offline compaction decision, exactly like IVF centroid
  * refit). Appends therefore add batch shingles and sizes only —
  * O(batch) writes, no index rewrite — and batch hot-shingle rows ARE
  * appended, because the exact-verify hot-correction needs the
  * batch's memberships too.
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

  private def sizesOf(shingles: DataFrame): DataFrame =
    IndexLifecycle.laidOut(
      shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n")), SizesSchema)

  private def stopOf(shingles: DataFrame, nd: Long): DataFrame =
    IndexLifecycle.laidOut(shingles.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") * 2 > lit(nd)), StopSchema)

  private def shinglesOf(shingles: DataFrame): DataFrame =
    IndexLifecycle.laidOut(shingles, ShinglesSchema)

  /** Batch-build from the index corpus's distinct (doc_id, s) rows. */
  def build(spark: SparkSession, shingles: DataFrame,
      indexDir: String): Unit = {
    sizesOf(shingles).write.mode(SaveMode.Overwrite).parquet(s"$indexDir/sizes")
    // doc count read back from the just-written sizes table: cheaper
    // than re-running the shingle pipeline for one scalar
    val nd = sizes(spark, indexDir).count()
    stopOf(shingles, nd).write.mode(SaveMode.Overwrite).parquet(s"$indexDir/stop")
    shinglesOf(shingles).write.mode(SaveMode.Overwrite)
      .parquet(s"$indexDir/shingles")
  }

  /** Incremental append: the batch's shingles and sizes, nothing
    * else touched. */
  def append(batchShingles: DataFrame, indexDir: String): Unit = {
    sizesOf(batchShingles).write.mode(SaveMode.Append).parquet(s"$indexDir/sizes")
    shinglesOf(batchShingles).write.mode(SaveMode.Append)
      .parquet(s"$indexDir/shingles")
  }

  def shingles(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(ShinglesSchema).parquet(s"$indexDir/shingles")

  def sizes(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(SizesSchema).parquet(s"$indexDir/sizes")

  def stop(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(StopSchema).parquet(s"$indexDir/stop")

  /** Offline compaction — the stop-list refresh the scaladoc above
    * defers to ("an offline compaction decision, exactly like IVF
    * centroid refit"): re-derive document frequencies and the doc
    * count over the FULL appended state and rewrite stop/ from them,
    * folding the per-append small files back into one layout pass.
    * Unlike SubstringIndex.compact nothing is dropped — hot-shingle
    * membership rows are load-bearing here (the
    * exact-verify hot correction reads them) — so compaction leaves
    * the index bit-equivalent to a FRESH BUILD over the same docs
    * (asserted in DedupSpec): shingles and sizes identical, stop
    * re-derived at current df/doc-count, so shingles that became hot
    * through appends finally leave the candidate join. Publish is the
    * shared IndexLifecycle aside-and-rename swap. */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    // .distinct() REPAIRS the torn-append window (epochOnce's
    // documented residual: an append whose marker write crashed
    // re-appends on retry, duplicating (doc_id, s) rows — which the
    // family's raw intersection counts would double-count forever).
    // In the normal path rows are already distinct, so this is
    // bit-neutral there (DedupSpec's compact == fresh-build pin);
    // sizes are re-derived from the deduped rows for the same reason.
    val sh = shingles(spark, indexDir).distinct().cache()
    val nd = sizes(spark, indexDir).select(col("doc_id")).distinct().count()
    IndexLifecycle.republish(indexDir) { tmp =>
      stopOf(sh, nd).coalesce(1).write.parquet(tmp + "/stop")
      shinglesOf(sh).write.parquet(tmp + "/shingles")
      sizesOf(sh).coalesce(1).write.parquet(tmp + "/sizes")
    }
    sh.unpersist()
  }
}
