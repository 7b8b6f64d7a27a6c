package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Build-once lifecycle for maintained lake indexes (SubstringIndex,
  * IvfIndex, PqIndex, IvfPq, the PCA, BM25, tokenizer and NB-model
  * sidecars, the dedup cluster state).
  *
  * A real ingest builds its index ONCE and appends per batch;
  * re-deriving the whole index on every query would bill every read
  * for the build. The guard here makes that the default for every
  * index-backed query: the index lives at a STABLE path (so oracle
  * SQL can read its frozen-model sidecars), and the completion marker
  * CONTAINS the source+format version key — freshness and
  * completeness are one atomic check. A regenerated corpus or a
  * changed derivation bumps the key, the marker mismatches, and the
  * index rebuilds in place; no versioned sibling dirs accumulate
  * under /tmp (the r8 ADVICE growth finding).
  *
  * All filesystem access goes through [[LakeFs]], so index dirs may
  * live on local disk, HDFS, or an object store. Publish is one swap
  * shared by [[buildOnce]] and [[republish]]: the current tree is
  * renamed ASIDE, the process-private build dir renames in, and the
  * aside copy is reaped only after — a failed swap-in restores it.
  * Atomic per rename on HDFS/local; on object stores rename degrades
  * to copy+delete (see LakeFs's contract), which widens the swap's
  * not-atomic window — readers holding open objects are unaffected
  * (immutable objects), but a LISTING mid-swap can see a partial
  * tree, so on S3-class stores prefer indexes kept as graftsnap logs
  * (write-then-marker, no rename swap: ShingleIndex and the clean
  * twin's exact index already are). Two processes racing build
  * equivalent indexes and one rename wins — never a half-overwritten
  * hybrid under a marker. The marker is re-checked immediately before
  * the swap (the r8 ADVICE TOCTOU finding: a racer may have published
  * a complete index between our freshness check and our publish —
  * deleting it would orphan the racer's lazily-evaluated readers
  * mid-scan).
  */
object IndexLifecycle {

  private val Marker = "_GRAFT_INDEX_COMPLETE"

  /** The key the published index at `dir` was built under, if its
    * marker exists. A contentless marker (pre-r9 layout) reads as ""
    * and matches no key — legacy indexes rebuild once. */
  private def publishedKey(dir: String): Option[String] =
    LakeFs.readString(s"$dir/$Marker").map(_.trim)

  /** Source-version + FORMAT-version key for index freshness. `fmt`
    * must change whenever the index derivation changes (window width,
    * fingerprint scheme, shingle width, stop rule, quantizer knobs,
    * layout) — otherwise a code change would silently serve a stale
    * incompatible index from /tmp.
    *
    * For a single-file source, (length, mtime) is the version. For a
    * DIRECTORY-style parquet source those two reflect nothing about
    * content (the r8 ADVICE staleness finding), so the key is derived
    * from the leaf files instead: an MD5 over every leaf's relative
    * path, length, and mtime — any rewrite of any part changes it.
    * (On object stores mtime is the PUT time of the immutable object,
    * which versions exactly as well as a local mtime.) */
  def sourceKey(srcPath: String, fmt: String): String =
    LakeFs.status(srcPath) match {
      case Some(st) if st.isFile =>
        s"${st.getLen}-${st.getModificationTime}-$fmt"
      case Some(st) if st.isDirectory =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val rootLen = st.getPath.toString.length
        LakeFs.leaves(srcPath)
          .map(l => (l.getPath.toString.drop(rootLen), l))
          .sortBy(_._1)
          .foreach { case (rel, l) =>
            // RELATIVE path, not basename: moving a same-named file
            // between partition subdirs must change the key
            md.update(
              s"$rel:${l.getLen}:${l.getModificationTime}|".getBytes("UTF-8"))
          }
        val hex = md.digest().take(8).map("%02x".format(_)).mkString
        s"d$hex-$fmt"
      case _ => s"absent-$fmt" // build runs and fails with the real error
    }

  /** In-place maintenance publish (compaction, refit): run `rewrite`
    * into a process-private dir, carry the freshness marker and the
    * `_GRAFT_EPOCH_*` applied-epoch markers over unchanged
    * (compaction changes the LAYOUT, not the logical content a key
    * describes, nor the ingest history the epoch markers record),
    * and publish it through the shared swap. The published path is
    * absent only for the instant between the two renames (a truly
    * atomic directory SWAP exists on no filesystem Spark targets);
    * open readers keep their handles on the aside copy until it is
    * reaped.
    *
    * Race guard: the marker is captured BEFORE the rewrite reads any
    * state and compared again at swap time — if a concurrent
    * buildOnce republished under a different key mid-compaction (the
    * source changed under us), this compaction's output describes
    * superseded state, so it ABORTS and leaves the racer's fresh
    * index in place rather than stamping old content with a new key. */
  def republish(idxDir: String)(rewrite: String => Unit): Unit = {
    val keyAtStart = publishedKey(idxDir)
    val tmp = s"$idxDir.compact-${ProcessHandle.current.pid}"
    LakeFs.rmTree(tmp)
    rewrite(tmp)
    keyAtStart.foreach(k => LakeFs.write(s"$tmp/$Marker", k))
    // losing the applied-epoch markers across a compact/refit would
    // re-open the at-least-once window for any in-flight epoch
    // retry. A marker vanishing mid-copy means a racer republished
    // under us; the superseded check below aborts then, so skipping
    // it is safe.
    LakeFs.list(idxDir)
      .filter(_.getPath.getName.startsWith("_GRAFT_EPOCH_"))
      .foreach { st =>
        val name = st.getPath.getName
        LakeFs.readString(st.getPath.toString)
          .foreach(c => LakeFs.write(s"$tmp/$name", c))
      }
    if (publishedKey(idxDir) != keyAtStart) {
      LakeFs.rmTree(tmp); return // superseded
    }
    swap(idxDir, tmp)
  }

  /** The one publish swap: move the tree at `idxDir` (if any) ASIDE,
    * rename `tmp` in, then reap the aside copy. A failed swap-in puts
    * the aside copy back, so the published path never stays absent;
    * either failure deletes `tmp` (never leak an index-sized build
    * dir) and throws. */
  private def swap(idxDir: String, tmp: String): Unit = {
    val aside = s"$idxDir.old-${ProcessHandle.current.pid}"
    LakeFs.rmTree(aside)
    val hadTree = LakeFs.exists(idxDir)
    if (hadTree && !LakeFs.rename(idxDir, aside)) {
      LakeFs.rmTree(tmp)
      sys.error(s"index publish failed (aside rename) for $idxDir")
    }
    if (!LakeFs.rename(tmp, idxDir)) {
      // a tree that cannot go back (a racer's landed) is reaped
      if (hadTree && !LakeFs.rename(aside, idxDir)) LakeFs.rmTree(aside)
      LakeFs.rmTree(tmp)
      sys.error(s"index publish failed (swap rename) for $idxDir")
    }
    LakeFs.rmTree(aside)
  }

  /** Idempotent-append guard for the streaming ingests: run `append`
    * only if micro-batch `epoch` has not already been applied to the
    * index at `idxDir`, and mark it applied afterwards. foreachBatch
    * re-runs a whole micro-batch with the SAME epoch id on
    * failure/restart, and a parquet append commits at JOB level (a
    * crashed append leaves only uncommitted _temporary files), so the
    * retry matrix is: crash mid-append → nothing committed, clean
    * re-append; crash after the marker → append skipped, the
    * epoch-keyed emit re-runs idempotently. The residual window —
    * a crash BETWEEN job commit and marker write — can duplicate one
    * epoch's appended rows; the index users absorb that at read (the
    * substring and vector families' countDistinct/min/distinct reads,
    * the fingerprint family's candidate distinct, the names index's
    * anti-join, the cluster state's self-healing union-find), and the
    * two-version twins state it in their scaladocs. A family whose
    * reads would double-count duplicates must not use this guard: the
    * shingle family's raw intersection counts would, so ShingleIndex
    * and the clean twin's exact index are graftsnap logs appended
    * through Snapshots.publishEpoch, whose epoch tag sits inside the
    * committed version. Markers are one empty file
    * per epoch at the index root (underscore-prefixed: invisible to
    * Spark's file listing) and survive compact/refit (republish
    * carries them over). Serves index dirs and the twins committing
    * TWO lake versions per epoch (cdcIngestBatch, expectIngest);
    * one-version twins use Snapshots.publishEpoch. */
  def epochOnce(idxDir: String, epoch: Long)(append: => Unit): Unit =
    markerOnce(idxDir, s"_GRAFT_EPOCH_$epoch")(append)

  /** [[epochOnce]] scoped to one named producer: epoch ids are
    * per-query counters, so when SEVERAL streams feed one root (the
    * fan-in StreamOps.expectIngest) each stream's epoch 0 is a
    * different fact — the marker carries the
    * stream id (`_GRAFT_EPOCH_<streamId>_<epoch>`). Retention reaps these per
    * stream (Snapshots' vacuum family parses the id back off the
    * name — everything up to the final underscore). */
  def epochOnceFor(idxDir: String, streamId: String, epoch: Long)(
      append: => Unit): Unit = {
    require(streamId.matches("[A-Za-z0-9_-]+"),
      s"streamId must be [A-Za-z0-9_-]+: '$streamId'")
    markerOnce(idxDir, s"_GRAFT_EPOCH_${streamId}_$epoch")(append)
  }

  /** The marker-gated body both epoch guards share: skip if
    * `idxDir/marker` exists, else run `append` and write the marker
    * last. */
  private def markerOnce(idxDir: String, marker: String)(
      append: => Unit): Unit = {
    val m = s"$idxDir/$marker"
    if (LakeFs.isFile(m)) return
    append
    LakeFs.mkdirs(idxDir) // first-ever append may create it
    LakeFs.write(m, "")
  }

  /** The writer side of a declared index layout: `df`'s columns in
    * `schema`'s order and types, so what a reader declares with
    * `spark.read.schema(schema)` is what was written (a drifting
    * writer would otherwise read back as silent nulls). */
  def laidOut(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Run `build` into a private dir and publish it at `idxDir` —
    * unless a complete index built under the SAME `key` is already
    * published there, in which case this is a no-op and the caller
    * reads the existing state. Specs that exercise the lifecycle
    * itself bypass this and call their build directly. */
  def buildOnce(idxDir: String, key: String)(build: String => Unit): Unit = {
    // an empty key would match a contentless pre-r9 marker (or a prior
    // empty-key publish) and freeze the index forever — every caller
    // must key to its source+format version
    require(key.nonEmpty, s"buildOnce requires a freshness key: $idxDir")
    if (publishedKey(idxDir).contains(key)) return
    val tmp = idxDir + ".build-" + ProcessHandle.current.pid
    LakeFs.rmTree(tmp) // a crashed same-pid build (pid reuse) must not pollute ours
    build(tmp)
    LakeFs.write(s"$tmp/$Marker", key)
    // Re-check at publish time: a racer finishing first published an
    // equivalent index — keep theirs, never delete a complete
    // matching index out from under its readers (TOCTOU guard); a
    // swap lost to such a racer is fine for the same reason.
    if (publishedKey(idxDir).contains(key)) { LakeFs.rmTree(tmp); return }
    try swap(idxDir, tmp)
    catch {
      case _: RuntimeException if publishedKey(idxDir).contains(key) => ()
    }
  }
}
