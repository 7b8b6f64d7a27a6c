package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: the composed billion-scale ANN layout — coarse cells prune
  * the corpus (IvfIndex's half), product-quantized codes compress what
  * remains (PqIndex's half), and the codes are stored PARTITIONED BY
  * CELL, which is the point: a probe is a partition-pruned read of
  * 32x-compressed rows, so per query the bytes touched are
  * (nprobe/k_cells) x (1/32) of the raw corpus. This is the classic
  * inverted-file-with-PQ pipeline (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011) as lake
  * tables + column expressions.
  *
  * Layout under `indexDir`:
  *   centroids/ (cid, cv)            — the coarse quantizer (IvfIndex format)
  *   codebooks/ (j, c, ctr)          — the PQ model (PqIndex format)
  *   codes/     (vec_id, codes), partitioned by cid — the corpus
  *
  * Both models are fit on one bounded hash-ordered sample; the corpus
  * is touched ONCE by a single assign+encode scan. Append assigns and
  * encodes a new batch against the frozen models (bit-equal to a
  * one-shot build encode — spec-pinned), the same monotone-append
  * contract as IvfIndex/PqIndex/SubstringIndex/ShingleIndex.
  *
  * All vectors must be unit-normalized by the caller (vn): ADC then
  * approximates cosine directly, and cell distances are monotone in
  * angle — the knn_pq normalization argument applied to both halves.
  */
object IvfPq {

  /** Batch-build: fit both models on the sample, one assign+encode
    * corpus scan, lake layout out. `emb` = (vec_id, vn). Returns
    * (centroids, codebooks). */
  def build(spark: SparkSession, emb: DataFrame, indexDir: String,
      kCells: Int, m: Int, kCodes: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val sample = IvfIndex.fitSample(emb, "vn")
    require(sample.length >= math.max(kCells, kCodes),
      s"IVF-PQ sample ${sample.length} smaller than k")
    val centers = IvfIndex.lloyd(sample, kCells, seed = 42L, iters = 10)
    val books = PqIndex.fit(sample, m, kCodes)
    import spark.implicits._
    IndexLifecycle.laidOut(centers.zipWithIndex
        .map { case (cv, i) => (i, cv.toSeq) }.toSeq.toDF("cid", "cv"),
        IvfIndex.CentroidsSchema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$indexDir/centroids")
    PqIndex.persistBooks(spark, books, s"$indexDir/codebooks")
    writeCodes(centers, books, emb, SaveMode.Overwrite, indexDir)
    (centers, books)
  }

  /** Incremental append against the frozen models. */
  def append(spark: SparkSession, newEmb: DataFrame,
      indexDir: String): Unit =
    writeCodes(IvfIndex.loadCentroids(spark, indexDir),
      PqIndex.loadBooks(spark, indexDir), newEmb, SaveMode.Append, indexDir)

  /** Offline refit of BOTH models — the composed form of
    * IvfIndex.refit and PqIndex.refit, and it follows the PQ half's
    * constraint: codes are lossy, so refit re-reads the source corpus
    * (one sample fit + one assign+encode scan, priced exactly like
    * build). Published via the IndexLifecycle aside-and-rename swap;
    * bit-equal to a fresh build over the same corpus. */
  def refit(spark: SparkSession, emb: DataFrame, indexDir: String,
      kCells: Int, m: Int, kCodes: Int): Unit = {
    IndexLifecycle.republish(indexDir) { tmp =>
      build(spark, emb, tmp, kCells, m, kCodes); ()
    }
  }

  /** The one corpus scan: nearest-cell assignment + PQ encode, laid
    * out partitioned by cell (repartition first — the IvfIndex
    * argument: otherwise every task writes a file per cell).
    * Assignment honors the LiteralCentroidMax dispatch exactly like
    * IvfIndex.build and the probe side: past it, k·dim centroid
    * literals would blow up codegen, so assignment switches to the
    * broadcast-join plan (spec-asserted bit-equal in VectorSpec). */
  private def writeCodes(centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]], emb: DataFrame,
      mode: SaveMode, indexDir: String): Unit = {
    val withV = emb.select(col("vec_id"), col("vn").as("v"))
    val assigned =
      if (centers.length <= IvfIndex.LiteralCentroidMax)
        IvfIndex.assignLiteral(centers, withV)
      else IvfIndex.assignJoin(centers, withV.withColumn("n2",
        graft.functions.VectorExprs.norm2(col("v"))))
    assigned
      .select(col("vec_id"), PqIndex.encode(col("v"), books).as("codes"),
        col("cid"))
      .repartition(col("cid"))
      .write.mode(mode).partitionBy("cid").parquet(s"$indexDir/codes")
  }

  def codes(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/codes")

  /** Probe + ADC shortlist: for each (query_id, vq) — vq unit-normal —
    * select the nprobe nearest cells, ADC-score ONLY vectors in those
    * cells (partition-pruned read of the codes table), and return the
    * per-query shortlist (query_id, neighbor_id) via the bounded
    * map-side TopKAgg — no Window, at most `shortlistK` rows per query
    * per partition through the shuffle. Exact re-ranking of the
    * shortlist is the CALLER's step (it owns the raw vectors). */
  def shortlist(spark: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int, shortlistK: Int): DataFrame = {
    val centers = IvfIndex.loadCentroids(spark, indexDir)
    val books = PqIndex.loadBooks(spark, indexDir)
    val probes = IvfIndex.probeSelection(
      centers,
      queries.select(col("query_id"), col("vq"),
        PqIndex.dtab(col("vq"), books).as("dt")),
      nprobe, useJoin = centers.length > IvfIndex.LiteralCentroidMax)
    val cells = codes(spark, indexDir)
      .select(col("vec_id").as("neighbor_id"), col("codes"), col("cid"))
    broadcast(probes.select(col("query_id"), col("dt"), col("cid")))
      .join(cells, Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", PqIndex.adcScore(col("dt"), col("codes"), books))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopK.topkBy(col("adc"), col("neighbor_id"),
        shortlistK).as("top"))
      .select(col("query_id"), explode(col("top")("id")).as("neighbor_id"))
  }
}
