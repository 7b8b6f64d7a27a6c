package graft.operators

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Manifest-based data skipping for snapshot versions — the file
  * half of what Iceberg manifests / Delta checkpoints add on top of
  * parquet's own row-group statistics. At lake scale a selective
  * scan's first cost is not reading data, it is OPENING 100k file
  * footers to discover that most contain nothing in range; a manifest
  * holding per-FILE column min/max lets the planner drop those files
  * from the scan list without touching them, and parquet row-group
  * pruning then works inside the files that survive.
  *
  * The manifest (`_SNAP_STATS`, one `file \t col \t min \t max` line
  * per entry) is built by reading ONLY the footers of the files the
  * publish just wrote — O(files) metadata reads, no data I/O, and the
  * footers are hot in the page cache at publish time. The driver-side
  * loop is embarrassingly parallel; a 100k-file table runs it as a
  * job over the path list (same per-file work, distributed). Bounds
  * are exact decimal strings (never a rounded double — a mantissa-
  * clipped bound could prune a file that still holds matching rows).
  *
  * Pruning contract: a file is dropped only when its recorded
  * [min,max] PROVABLY misses the requested range; files with no
  * entry for the column (missing stats, schema evolution, binary
  * types) are always KEPT — pruning may only ever reduce I/O, never
  * rows. Stats cover numeric columns (int32/int64/float/double);
  * clustering the layout first (repartitionByRange / ZOrder) is what
  * makes the per-file ranges tight enough to prune. */
object SnapStats {

  private[operators] val ManifestName = "_SNAP_STATS"

  private def numeric(v: Any): Option[BigDecimal] = v match {
    case l: java.lang.Long => Some(BigDecimal(l.longValue))
    case i: java.lang.Integer => Some(BigDecimal(i.intValue))
    case d: java.lang.Double => Some(BigDecimal(d.doubleValue))
    case f: java.lang.Float => Some(BigDecimal(f.floatValue.toDouble))
    case _ => None // binary/bool: no manifest entry — file stays kept
  }

  /** The parquet data files directly under `dir`. */
  private def dataFiles(dir: String) =
    LakeFs.list(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }

  /** True iff a parquet file directly under `dir` holds a row, read
    * off the footers: a written version's emptiness costs no job. */
  private[operators] def holdsRows(dir: String): Boolean =
    dataFiles(dir).exists { st =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, LakeFs.hadoopConf))
      try r.getRecordCount > 0 finally r.close()
    }

  /** Build the `_SNAP_STATS` manifest for the parquet files directly
    * under `dir`, covering `cols`. An entry is written only when
    * EVERY row group of the file carries usable numeric stats for the
    * column — a partial bound is not a bound. */
  def writeManifest(dir: String, cols: Seq[String]): Unit = {
    val conf = LakeFs.hadoopConf
    val sb = new StringBuilder
    dataFiles(dir).foreach { st =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = reader.getFooter.getBlocks
        cols.foreach { c =>
          var mn: BigDecimal = null
          var mx: BigDecimal = null
          var covered = 0
          var ok = true
          blocks.forEach { b =>
            b.getColumns.forEach { cc =>
              if (cc.getPath.toDotString == c) {
                covered += 1
                val s = cc.getStatistics
                if (s == null || !s.hasNonNullValue) ok = false
                else (numeric(s.genericGetMin), numeric(s.genericGetMax)) match {
                  case (Some(lo), Some(hi)) =>
                    if (mn == null || lo < mn) mn = lo
                    if (mx == null || hi > mx) mx = hi
                  case _ => ok = false
                }
              }
            }
          }
          if (ok && covered == blocks.size && mn != null)
            sb.append(st.getPath.getName).append('\t').append(c)
              .append('\t').append(mn).append('\t').append(mx).append('\n')
        }
      } finally reader.close()
    }
    LakeFs.write(s"$dir/$ManifestName", sb.toString)
  }

  /** File paths under `dir` a [lo, hi] scan on `col` must read:
    * manifest-pruned when a manifest exists (files whose recorded
    * range provably misses [lo, hi] drop; files without an entry for
    * `col` stay), every parquet file when it does not. */
  def prunedPaths(dir: String, col: String,
      lo: BigDecimal, hi: BigDecimal): Seq[String] =
    prunedPaths(dir, col, Some(lo), Some(hi))

  /** Half-open variant: `None` on a side means unbounded (the
    * graftsnap pushdown shape — a bare `k > 5` has no upper bound). */
  def prunedPaths(dir: String, col: String,
      lo: Option[BigDecimal], hi: Option[BigDecimal]): Seq[String] = {
    val files = dataFiles(dir).map(_.getPath)
    LakeFs.readString(s"$dir/$ManifestName") match {
      case None => files.map(_.toString)
      case Some(manifest) =>
        val ranges = manifest.linesIterator.flatMap { line =>
          line.split('\t') match {
            case Array(f, c, mn, mx) if c == col =>
              Some(f -> (BigDecimal(mn), BigDecimal(mx)))
            case _ => None
          }
        }.toMap
        files.filter { p =>
          ranges.get(p.getName) match {
            case Some((mn, mx)) =>
              lo.forall(mx >= _) && hi.forall(mn <= _)
            case None => true // no stats — never prune blind
          }
        }.map(_.toString)
    }
  }

  /** The rows of `dir` with `c` in [lo, hi]: manifest prunes the file
    * list, the residual filter stays in the plan (so parquet
    * row-group pruning and correctness both hold whatever the
    * manifest said). An all-pruned scan still returns the right
    * (empty) result with the right schema. */
  def scanRange(s: SparkSession, dir: String, c: String,
      lo: Long, hi: Long): DataFrame = {
    val paths = prunedPaths(dir, c, BigDecimal(lo), BigDecimal(hi))
    readPaths(s, dir, paths).filter(col(c) >= lo && col(c) <= hi)
  }

  private def readPaths(s: SparkSession, dir: String,
      paths: Seq[String]): DataFrame =
    if (paths.nonEmpty) s.read.parquet(paths: _*)
    else s.read.parquet(dir).filter(lit(false))

  private def bloomName(c: String) = s"_SNAP_BLOOM_$c"

  /** Per-FILE Bloom index over long key column `c` — the point-lookup
    * complement to the min/max manifest: on UNCLUSTERED data every
    * file spans the full key range and min/max prunes nothing, but a
    * per-file Bloom rejects the files that cannot contain an equality
    * probe's key (Delta's Bloom index shape). Built in ONE Spark
    * aggregation grouped by input_file_name() (BloomAgg — mergeable
    * sketch buffers, map-side partials), so the build is a single
    * data pass at publish/OPTIMIZE time, amortized across every point
    * lookup after; the driver holds one `fpp`-sized bitmap per file.
    * Stored as `_SNAP_BLOOM_<col>`: fileName \t base64(filter). */
  def writeBloom(s: SparkSession, dir: String, c: String,
      expectedPerFile: Long = 1000000L, fpp: Double = 0.01): Unit = {
    import org.apache.spark.sql.functions.input_file_name
    val rows = s.read.parquet(dir)
      .groupBy(input_file_name().as("__f"))
      .agg(graft.functions.BloomAgg.bloom(col(c), expectedPerFile, fpp)
        .as("__bits"))
      .collect()
    val b64 = java.util.Base64.getEncoder
    val sb = new StringBuilder
    rows.foreach { r =>
      val name = new org.apache.hadoop.fs.Path(r.getString(0)).getName
      sb.append(name).append('\t')
        .append(b64.encodeToString(r.getAs[Array[Byte]](1))).append('\n')
    }
    LakeFs.write(s"$dir/${bloomName(c)}", sb.toString)
  }

  /** File paths an equality probe `c = value` must read: Bloom-pruned
    * when the index exists (a filter that rejects the key PROVES the
    * file cannot contain it — false positives only ever keep extra
    * files), every parquet file when it does not; files missing from
    * the index are kept. */
  def pointPaths(dir: String, c: String, value: Long): Seq[String] = {
    val files = dataFiles(dir).map(_.getPath)
    LakeFs.readString(s"$dir/${bloomName(c)}") match {
      case None => files.map(_.toString)
      case Some(idx) =>
        val b64 = java.util.Base64.getDecoder
        val blooms = idx.linesIterator.flatMap { line =>
          line.split('\t') match {
            case Array(f, bits) =>
              Some(f -> org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(b64.decode(bits))))
            case _ => None
          }
        }.toMap
        files.filter { p =>
          blooms.get(p.getName).forall(_.mightContainLong(value))
        }.map(_.toString)
    }
  }

  /** The rows of `dir` with `c` = `value`, Bloom-pruned at file level
    * with the exact equality filter still in the plan (false
    * positives scan and filter away; correctness never depends on the
    * index). */
  def scanPoint(s: SparkSession, dir: String, c: String,
      value: Long): DataFrame =
    readPaths(s, dir, pointPaths(dir, c, value)).filter(col(c) === value)
}
