package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{array, col, concat, count, explode, lit, max, raise_error, struct, when}

/** Versioned snapshot tables — the time-travel/ACID-read layer a lake
  * without a table format still needs (the core of what Iceberg's
  * version-hint file and Delta's _last_checkpoint provide, reduced to
  * its minimal marker protocol):
  *
  *   <root>/v=<n>/...parquet         one immutable snapshot
  *   <root>/v=<n>/_SNAP_COMMITTED    publish marker, written LAST
  *
  * Readers resolve a snapshot by scanning version dirs and taking the
  * highest COMMITTED one (or the highest committed <= an as-of
  * version) — so a writer that crashes mid-write leaves a torn,
  * marker-less directory that is simply invisible: readers never see
  * a partial table, and the next publish allocates past it. Every
  * writer commits through one claimed path ([[commit]]), so any
  * number of concurrent writers land at distinct versions;
  * read-modify-write cycles use [[publishIf]] (compare-and-swap), no
  * log service required.
  *
  * All filesystem access goes through [[LakeFs]], so a root may be a
  * local path, `hdfs://`, or `s3a://` — publish is write-then-marker
  * (never a rename), which holds on object stores too: the marker
  * create is the atomic commit point (see LakeFs's store-by-store
  * contract for the exact guarantees). Resolution is one directory
  * listing, O(versions) names, no data reads; publishing is one
  * parquet write (all the cost is the data). Old snapshots are
  * retired by `vacuum` (keep the newest K committed), the retention
  * job every versioned lake runs. */
object Snapshots {

  private val Marker = "_SNAP_COMMITTED"
  private val Base = "_SNAP_BASE"
  private val Tombstone = "_SNAP_TOMBSTONE"
  private val VDir = "^v=(\\d+)$".r

  /** (version, dir) pairs under `root`, ascending. One listing. */
  private def versions(root: String): Seq[(Long, String)] =
    LakeFs.list(root).flatMap { st =>
      st.getPath.getName match {
        case VDir(n) => Some(n.toLong -> st.getPath.toString)
        case _ => None
      }
    }.sortBy(_._1)

  /** The commit bit of a version dir — exposed for the VACUUM
    * dry-run's per-row report. */
  private[graft] def isCommittedDir(dir: String): Boolean =
    isCommitted(dir)

  private def isCommitted(dir: String): Boolean =
    LakeFs.isFile(s"$dir/$Marker")

  private def hasBase(dir: String): Boolean =
    LakeFs.isFile(s"$dir/$Base")

  private def hasTombstone(dir: String): Boolean =
    LakeFs.isFile(s"$dir/$Tombstone")

  private val BaseFromMarker = "^_SNAP_BASE_FROM_(\\d+)$".r

  /** Tiered-fold marker: this version subsumes exactly the committed
    * versions in (f, thisVersion) — see [[compactLogTail]]. */
  private def baseFrom(dir: String): Option[Long] =
    LakeFs.list(dir).iterator.map(_.getPath.getName).collectFirst {
      case BaseFromMarker(f) => f.toLong
    }

  private def committed(root: String): Seq[(Long, String)] =
    versions(root).filter { case (_, d) => isCommitted(d) }

  /** Every version-dir data write goes through here: timestamps land
    * as INT64 micros (the graftsnap streaming source cannot decode
    * the deprecated INT96 default; micros is the Iceberg/Delta
    * convention), set for THIS write and restored after so the
    * engine's other sinks keep the session default. Concurrent
    * snapshot writers race only on setting the same value — benign
    * (a restore landing mid-write at worst reverts a sibling to
    * INT96, which the stream source rejects loudly, never reads
    * wrong). */
  private def writeVersion(df: DataFrame, dir: String,
      partCols: Seq[String] = Nil): Unit = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = conf.get(key)
    conf.set(key, "TIMESTAMP_MICROS")
    try {
      val w = df.write.mode(SaveMode.ErrorIfExists)
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .parquet(dir)
    } finally conf.set(key, prev)
  }

  // ---- the commit protocol: one claimed path for every writer ----
  //
  // Writers coordinate through CLAIM markers at the table root:
  // `_SNAP_CLAIM_<n>` is created-if-absent BEFORE any data is written
  // to v=<n>, and `createMarker` is the same atomic primitive the
  // commit marker uses (LakeFs contract) — so two writers can never
  // both own a version number. A claimant that crashes leaves a
  // claim + torn dir: invisible to readers, its number never reused
  // (allocation takes max over dirs AND claims). Claims at or below
  // the latest committed version are garbage (that number can never
  // be allocated again) and are reaped by vacuum/vacuumLog; claims
  // ABOVE it are indistinguishable from a live in-flight writer and
  // are only reaped by `vacuumClaims`, an administrative call that —
  // like every vacuum — assumes no writer is live.

  private val ClaimMarker = "^_SNAP_CLAIM_(\\d+)$".r

  private def claims(root: String): Seq[Long] =
    LakeFs.list(root).flatMap { st =>
      st.getPath.getName match {
        case ClaimMarker(n) => Some(n.toLong)
        case _ => None
      }
    }

  /** Atomically claim the next free version number — the only
    * version allocator: one root listing (version dirs and claims
    * alike) and one atomic create-if-absent per attempt, re-listing
    * on loss. With no live claim this is the highest `v=<n>` dir
    * (torn ones included) plus one. */
  private def claimNext(root: String): Long = {
    var attempts = 0
    while (attempts < 1000) {
      val n = LakeFs.list(root).iterator.map(_.getPath.getName).collect {
        case VDir(v) => v.toLong
        case ClaimMarker(c) => c.toLong
      }.maxOption.getOrElse(0L) + 1
      if (LakeFs.createMarker(s"$root/_SNAP_CLAIM_$n")) return n
      attempts += 1
    }
    sys.error(s"claimNext($root): lost the claim race 1000 times")
  }

  /** The one version commit: claim `n`, run `write` into `v=<n>`,
    * create the kind `markers` (base, tombstone, …), then the commit
    * marker, and release the claim. Any number of concurrent callers
    * commit at DISTINCT versions — union semantics make every
    * interleaving correct on the append log; on the snapshot flavor a
    * slow writer's version can land below an already-visible newer
    * one and simply never becomes latest. With `expected` the commit
    * is the compare-and-swap of [[publishIf]]: `n` must be
    * `expected + 1`, or every number between them a dead dir. A
    * `write` that throws releases the claim and leaves its torn dir
    * (invisible, its number never reused); since every writer holds
    * its claim until it commits or fails, a `v=<k>` dir with neither
    * commit marker nor claim is dead, so a failed publish blocks no
    * later [[publishIf]]. Returns the committed version. */
  private def commit(root: String, expected: Option[Long] = None,
      markers: Seq[String] = Nil)(write: String => Unit): Long = {
    val n = claimNext(root)
    val dir = s"$root/v=$n"
    try {
      expected.foreach { e =>
        // claims are listed BEFORE any commit marker is probed: a
        // writer drops its claim only after its commit marker, so a
        // number unclaimed then and uncommitted after is dead for good
        lazy val held = claims(root).toSet
        def dead(k: Long) = !held(k) && LakeFs.isDir(s"$root/v=$k") &&
          !isCommitted(s"$root/v=$k")
        if (n <= e || !(e + 1 until n).forall(dead))
          throw new SnapshotConflict(
            s"publishIf($root): expected to commit v=${e + 1} but " +
              s"claimed v=$n — a concurrent writer (or a dead claim; " +
              "run vacuumClaims) got there first; re-read and retry")
      }
      write(dir)
      markers.foreach(m =>
        require(LakeFs.createMarker(s"$dir/$m"), s"$m marker v=$n"))
      require(LakeFs.createMarker(s"$dir/$Marker"),
        s"snapshot v=$n already committed under our claim — protocol bug")
    } finally LakeFs.rmFile(s"$root/_SNAP_CLAIM_$n")
    n
  }

  /** Write `df` as the next snapshot of `root` and commit it.
    * Returns the published version. Allocation skips past torn
    * (uncommitted) directories and live claims, never reusing their
    * numbers. */
  def publish(df: DataFrame, root: String): Long =
    commit(root)(writeVersion(df, _))

  /** Thrown when [[publishIf]] loses the optimistic-concurrency race;
    * callers re-read the table, recompute, and retry. */
  final class SnapshotConflict(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Compare-and-swap publish — the read-modify-write commit (MERGE,
    * compaction): succeeds only as the first live version after
    * `expected`, the latest committed version the caller's read
    * started from. Soundness is the Delta-style contiguity rule
    * carried by claims: we atomically claim `n`; if `n == expected+1`
    * then NO other writer holds or can take any number in between, so
    * no commit can ever appear between our read state and our new
    * version — lost updates are impossible. If `n > expected + 1`
    * someone else claimed first and we throw [[SnapshotConflict]] —
    * unless every number in between is a dead dir (torn, unclaimed:
    * its writer failed), which no commit can ever fill. A CRASHED
    * claimant still holds its claim and inflates `n`, making the
    * conflict spurious — after `vacuumClaims` the retry goes through;
    * conflicts can be false-positive, never false-negative. */
  def publishIf(df: DataFrame, root: String, expected: Long): Long =
    commit(root, Some(expected))(writeVersion(df, _))

  /** Reap ALL claim markers — the recovery for claims left by crashed
    * writers above the latest committed version, which block
    * [[publishIf]] (never correctness). Assumes no writer is live,
    * exactly like vacuum assumes no reader needs reaped versions. */
  def vacuumClaims(root: String): Unit =
    claims(root).foreach(n => LakeFs.rmFile(s"$root/_SNAP_CLAIM_$n"))

  /** Claims at or below the latest committed version can never be
    * allocated again (allocation is max over dirs and claims) — pure
    * listing garbage, safe to reap under live writers. */
  private def reapDeadClaims(root: String): Unit =
    committed(root).lastOption.foreach { case (latest, _) =>
      claims(root).filter(_ <= latest)
        .foreach(n => LakeFs.rmFile(s"$root/_SNAP_CLAIM_$n"))
    }

  /** The latest committed snapshot, or (with `asOf`) the newest
    * committed snapshot at or before that version — time travel. */
  def read(s: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame =
    s.read.parquet(readDirs(root, asOf): _*)

  /** The shallow-clone marker: a version directory holding this file
    * has NO data files of its own — each line of the marker names a
    * DATA DIRECTORY whose parquet files ARE this version's content
    * (Delta SHALLOW CLONE semantics: a metadata-only copy, zero data
    * movement). Written RESOLVED at clone time (a clone of a clone
    * lists the original data dirs), so reader resolution is always
    * single-level. */
  private[graft] val CloneMarker = "_SNAP_CLONE"

  /** Data location(s) of a version dir: itself, unless it is a
    * shallow clone — then the source dirs its marker names. Every
    * version-data read in this file and the graftsnap connectors
    * routes through this resolver. */
  private[graft] def dataDirs(dir: String): Seq[String] =
    LakeFs.readString(s"$dir/$CloneMarker") match {
      case Some(m) =>
        val dirs = m.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
        require(dirs.nonEmpty, s"torn clone marker in $dir")
        dirs
      case None => Seq(dir)
    }

  private def cloneInto(window: Seq[(Long, String)], srcRoot: String,
      dstRoot: String, logFlavor: Boolean): Long = {
    require(window.nonEmpty, s"cloneTable: no committed state in $srcRoot")
    val pin = window.last._1
    // pin the source FIRST: once the tag exists, the source's vacuum
    // family keeps the whole referenced as-of window (tags already
    // participate in every retention keep-set), so the clone can
    // never dangle. Idempotent name per (dst, version); a re-clone of
    // the same state reuses the existing pin.
    val tagName = "clone-" +
      dstRoot.replaceAll("[^A-Za-z0-9_.-]", "_") + s"-v$pin"
    if (!tags(srcRoot).contains(tagName)) tag(srcRoot, tagName, pin)
    val dirs = window.flatMap { case (_, d) => dataDirs(d) }
    // a LOG clone is a full-state version: its base marker makes log
    // readers treat it as subsuming everything below (cloning INTO a
    // live log behaves like RESTORE-from-elsewhere). A SNAPSHOT clone
    // must NOT carry one — vacuum() refuses roots with base markers
    // (the append-log guard), so the marker would permanently break
    // the destination's snapshot retention path.
    commit(dstRoot, markers = if (logFlavor) Seq(Base) else Nil) { dir =>
      LakeFs.mkdirs(dir)
      LakeFs.write(s"$dir/$CloneMarker", dirs.mkString("\n"))
    }
  }

  /** SHALLOW CLONE of a snapshot-flavor table: publish `srcRoot`'s
    * current (or as-of) state as the next committed version of
    * `dstRoot` without copying a byte — the dev/test-table and
    * what-if-experiment primitive every table format ships. The new
    * version is a [[CloneMarker]] pointer; reads resolve through
    * [[dataDirs]]; writes to the clone publish ordinary full versions
    * (copy-on-write divergence — the source never sees them); the
    * source version is pinned by an immutable tag so its retention
    * never reaps the referenced files. Returns the clone's version. */
  def cloneTable(s: SparkSession, srcRoot: String, dstRoot: String,
      asOf: Option[Long] = None): Long = {
    val live = committed(srcRoot)
    val pick = asOf match {
      case Some(v) => live.takeWhile(_._1 <= v)
      case None => live
    }
    cloneInto(pick.takeRight(1), srcRoot, dstRoot, logFlavor = false)
  }

  /** SHALLOW CLONE of an append-log root: the clone's one version
    * points at the source's whole as-of reader window (the union
    * [[readLog]] resolves), flattened — so the clone reads the same
    * rows with none of the source's version structure. Tombstoned
    * (merge-on-read) windows are refused, the raw-fold rule: a clone
    * flattens the union, which would turn deletes into rows — clone
    * the compacted state (compactLogMerged) instead. */
  def cloneLog(s: SparkSession, srcRoot: String, dstRoot: String,
      asOf: Option[Long] = None): Long = {
    requireNoTombstones(srcRoot, "cloneLog",
      "compactLogMerged, then cloneLog", asOf)
    val window = logWindow(srcRoot, asOf)
    // fix for the flattening hazard: the clone's one version reads
    // its dirs as ONE multi-path scan, which takes a single footer's
    // schema — an evolved window would silently drop later columns
    // that readLog's unionByName path null-fills. Refuse; compact the
    // source first (the fold resolves the union with null-fill).
    val schemas = window.flatMap { case (_, d) => dataDirs(d) }
      .map(d => s.read.parquet(d).schema).distinct
    require(schemas.sizeIs <= 1,
      s"cloneLog($srcRoot): the window spans ${schemas.size} distinct " +
        "schemas — a flattened clone would drop evolved columns; run " +
        "compactLog on the source first")
    cloneInto(window, srcRoot, dstRoot, logFlavor = true)
  }

  /** Release the clone pins `dstRoot` holds on `srcRoot` — the
    * retention counterpart of [[cloneTable]]/[[cloneLog]] (ADVICE
    * r13: without it every clone pins a source version forever).
    * Call ONLY after the clone root is deleted or abandoned: a
    * dropped pin lets the source's vacuum reap the files a live
    * clone still reads through its [[CloneMarker]]. Matches exactly
    * the `clone-<sanitized dst>-v<n>` names cloneInto writes (the
    * all-digit suffix guard keeps a dst whose own name ends in
    * `-v<k>` from sweeping another table's pins). Returns the number
    * of pins released. */
  def dropClonePins(srcRoot: String, dstRoot: String): Int = {
    val prefix = "clone-" +
      dstRoot.replaceAll("[^A-Za-z0-9_.-]", "_") + "-v"
    val mine = tags(srcRoot).keys.filter(n => n.startsWith(prefix) &&
      n.stripPrefix(prefix).toLongOption.isDefined).toSeq
    mine.foreach(untag(srcRoot, _))
    mine.size
  }

  /** Latest committed version number, None when the table is empty. */
  def latestVersion(root: String): Option[Long] =
    committed(root).lastOption.map(_._1)

  /** Latest committed version holding actual DATA rows — skips
    * delete-metadata batches (key tombstones, position-delete
    * vectors), whose footers must never be mistaken for the table
    * schema. The graftsnap connector infers from this. */
  private[graft] def latestDataVersion(root: String): Option[Long] =
    committed(root).reverseIterator.collectFirst {
      case (v, d) if !hasTombstone(d) && !hasPosDelete(d) => v
    }

  /** Newest version committed at or before `tsMillis` — the shared
    * TIMESTAMP AS OF resolution (see [[readAsOfTimestamp]] for the
    * clock caveat). One listing + O(versions) marker stats. */
  def versionAtTimestamp(root: String, tsMillis: Long): Long =
    committed(root).takeWhile { case (v, _) =>
      commitTimestamp(root, v).exists(_ <= tsMillis)
    }.lastOption.map(_._1).getOrElse(sys.error(
      s"no snapshot committed at or before ts=$tsMillis in $root"))

  /** The resolved log reader window's parquet data files, for the
    * graftsnap BATCH scan: same window resolution as [[readLog]]
    * (compaction subsumption, as-of), same tombstone refusal (a raw
    * file union would surface delete key-batches as data — MoR logs
    * read through [[readLogMerged]]), files in (version, name) order.
    * Schema evolution needs no unionByName here: the graftsnap
    * per-file reader null-fills columns a FILE lacks against the
    * table schema, which is exactly unionWindow's null-fill semantics
    * applied at the page level. */
  private[graft] def batchFiles(root: String,
      asOf: Option[Long]): Seq[String] =
    batchFiles(root, asOf, Map.empty)

  /** With PUSHED filter bounds: each window version's file list is
    * intersected across the bound columns through its own `_SNAP_STATS`
    * manifest ([[SnapStats.prunedPaths]]) — versions without a
    * manifest (or columns without stats) contribute ALL their files,
    * so pruning only ever reduces I/O, never rows; the engine keeps
    * every pushed filter as a residual for exactly that reason. */
  private[graft] def batchFiles(root: String, asOf: Option[Long],
      bounds: Map[String, (Option[BigDecimal], Option[BigDecimal])])
      : Seq[String] = {
    requireNoTombstones(root, "graftsnap batch read", "Snapshots.readLogMerged",
      asOf)
    // resolve clone versions FIRST so pruning consults the SOURCE
    // dirs' manifests (a clone dir holds neither files nor manifests)
    logWindow(root, asOf).flatMap { case (_, d) => dataDirs(d) }
      .flatMap { d =>
        // d is already resolved — skip dataFiles' own clone probe
        val all = graft.sources.SnapshotStreamTable.dataFilesRaw(d)
        bounds.foldLeft(all) { case (acc, (c, (lo, hi))) =>
          val kept = SnapStats.prunedPaths(d, c, lo, hi).toSet
          acc.filter(kept)
        }
      }
  }

  // ---- named tags: immutable version pins (the Iceberg-tag shape) ----

  private val TagPrefix = "_SNAP_TAG_"

  /** Pin committed version `v` under an immutable name — the
    * audit/reproducibility ref ("train-run-2026-08-14" → v=17) every
    * versioned lake grows: `read(asOf = tagVersion(..))` reproduces
    * the exact table a job consumed, and the vacuum family KEEPS
    * every version a tag needs — for a log root, the tag's whole
    * as-of reader window — so retention can run freely without
    * destroying pinned history. Tags are immutable: re-tagging a
    * live name refuses (untag first); untag + the next vacuum reaps
    * the no-longer-pinned versions. One marker file per tag at the
    * root, named content-free listing like every other marker. */
  def tag(root: String, name: String, v: Long): Unit = {
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"tag name must be [A-Za-z0-9_.-]+: '$name'")
    require(committed(root).exists(_._1 == v),
      s"tag '$name': v=$v is not a committed version of $root")
    val p = s"$root/$TagPrefix$name"
    require(!LakeFs.isFile(p),
      s"tag '$name' already exists (tags are immutable — untag first)")
    LakeFs.write(p, v.toString)
  }

  /** All tags as name → version (one root listing). A marker whose
    * content doesn't parse is a TORN write: fail loudly — silently
    * skipping it would drop the pin from the vacuum keep-set and let
    * retention destroy tagged history. */
  def tags(root: String): Map[String, Long] =
    pinMarkers(root, TagPrefix, "tag")

  private def pinMarkers(root: String, prefix: String,
      kind: String): Map[String, Long] =
    LakeFs.list(root).flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith(prefix) || !st.isFile) None
      else {
        val v = LakeFs.readString(st.getPath.toString)
          .flatMap(c => c.trim.toLongOption)
          .getOrElse(sys.error(
            s"torn $kind marker $n in $root — repair or remove it " +
              "before any read/retention runs"))
        Some(n.stripPrefix(prefix) -> v)
      }
    }.toMap

  def tagVersion(root: String, name: String): Long =
    tags(root).getOrElse(name, sys.error(s"no tag '$name' in $root"))

  def untag(root: String, name: String): Unit =
    LakeFs.rmFile(s"$root/$TagPrefix$name")

  /** Snapshot-flavor read of the tagged version; log roots use
    * `readLog(s, root, asOf = Some(tagVersion(root, name)))`. */
  def readTag(s: SparkSession, root: String, name: String): DataFrame =
    read(s, root, asOf = Some(tagVersion(root, name)))

  // ---- branches: writable refs over the append log ----------------

  private val BranchPrefix = "_SNAP_BRANCH_"

  private def branchRoot(root: String, name: String): String =
    s"$root/branch=$name"

  /** Fork the append log at its current latest version: the branch
    * pins that base (its marker's content, honored by the vacuum
    * family exactly like a tag pin) and all branch WRITES land in a
    * branch-scoped sub-log (`branch=<name>/v=*` — invisible to main
    * readers, whose version listing matches only root `v=N` dirs, so
    * isolation needs no filtering at all). Union semantics make the
    * branch conflict-free by construction: a branch read is
    * base-as-of ∪ branch appends, and merging is re-appending the
    * branch's rows onto main — commutative with anything main
    * appended meanwhile (the append-only contract; tombstoned MoR
    * branches are refused, like compactLog refuses them). The
    * staging/backfill shape: land and validate a risky backfill on a
    * branch, merge when green, drop when not. */
  def createBranch(root: String, name: String): Long = {
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"branch name must be [A-Za-z0-9_.-]+: '$name'")
    // branches ride RAW log union semantics: on a MoR root the raw
    // base read would resurrect tombstoned keys and surface tombstone
    // key-batches as data — refuse loudly, like compactLog
    requireNoTombstones(root, "createBranch", "branching a MoR log", None)
    val base = latestVersion(root).getOrElse(
      sys.error(s"createBranch '$name': $root has no committed version"))
    val p = s"$root/$BranchPrefix$name"
    require(!LakeFs.isFile(p), s"branch '$name' already exists")
    LakeFs.write(p, base.toString)
    base
  }

  /** All branches as name → pinned base version (one root listing);
    * torn markers fail loudly, as in [[tags]]. */
  def branches(root: String): Map[String, Long] =
    pinMarkers(root, BranchPrefix, "branch")

  private def branchBase(root: String, name: String): Long =
    branches(root).getOrElse(name, sys.error(s"no branch '$name' in $root"))

  /** Append one batch to the branch — O(batch), the branch sub-log's
    * own version space. */
  def publishBranch(df: DataFrame, root: String, name: String): Long = {
    branchBase(root, name) // must exist
    publishAppend(df, branchRoot(root, name))
  }

  /** Branch read: the pinned base window ∪ the branch's appends.
    * The raw union is safe because createBranch refuses tombstoned
    * roots and the pinned as-of window predates any tombstone
    * published after the fork. */
  def readBranch(s: SparkSession, root: String, name: String): DataFrame = {
    val base = readLog(s, root, asOf = Some(branchBase(root, name)))
    val br = branchRoot(root, name)
    if (committed(br).isEmpty) base
    else base.unionByName(readLog(s, br), allowMissingColumns = true)
  }

  private val FromBranchPrefix = "_SNAP_FROM_BRANCH_"

  /** Merge the branch back: every branch row re-appends onto main as
    * ONE new version (append-only union semantics — commutative with
    * main's interim appends, so there is nothing to reconcile), then
    * the branch marker and sub-log are dropped. No-op publish when
    * the branch never wrote. Returns the published version, if any.
    *
    * Crash-safe WITHOUT a separate protocol step: the merge version
    * carries a `_SNAP_FROM_BRANCH_<name>` marker written BEFORE its
    * commit marker (the _SNAP_BASE discipline — a committed version
    * always knows what it is), so a retry of a merge that crashed
    * anywhere finds either (a) no committed from-branch version
    * above the branch's base → the publish never committed, publish
    * now (a torn merge dir is invisible, its number never reused); or
    * (b) one → skip the re-publish that would double every row and
    * just complete the drop. Name reuse is safe: a previous
    * same-name branch's merge committed BEFORE this branch was
    * created, so it sits at or below this branch's base and the
    * `> base` scan never sees it. */
  def mergeBranch(s: SparkSession, root: String,
      name: String): Option[Long] = {
    val base = branchBase(root, name)
    val br = branchRoot(root, name)
    val already = committed(root).collectFirst {
      case (v, d) if v > base &&
          LakeFs.isFile(s"$d/$FromBranchPrefix$name") => v
    }
    val v =
      if (committed(br).isEmpty) None
      else already.orElse {
        requireNoTombstones(br, "mergeBranch", "a MoR branch merge", None)
        Some(commit(root, markers = Seq(FromBranchPrefix + name))(
          writeVersion(readLog(s, br), _)))
      }
    dropBranch(root, name)
    v
  }

  /** Abandon the branch: marker and sub-log gone, main untouched. */
  def dropBranch(root: String, name: String): Unit = {
    LakeFs.rmFile(s"$root/$BranchPrefix$name")
    LakeFs.rmTree(branchRoot(root, name))
  }

  /** Commit time of version `v` (epoch millis) — the commit marker's
    * modification time, which IS the commit event (the marker create
    * is the atomic commit point, so its timestamp is authoritative
    * the same way Delta reads commit times off the log entry). */
  def commitTimestamp(root: String, v: Long): Option[Long] =
    LakeFs.status(s"$root/v=$v/$Marker").map(_.getModificationTime)

  /** TIMESTAMP AS OF: the newest snapshot committed at or before
    * `tsMillis`. Resolution cost is one listing + O(versions) marker
    * stats — no data reads. Clock caveat (same as every table
    * format's timestamp travel): commit times are the STORE's clock,
    * monotone per table only because versions commit in order on one
    * writer path; don't mix writers with skewed clocks and expect
    * timestamp travel to interleave them correctly. */
  def readAsOfTimestamp(s: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    s.read.parquet(
      dataDirs(s"$root/v=${versionAtTimestamp(root, tsMillis)}"): _*)

  /** RESTORE TO VERSION, snapshot flavor: republish version `v`'s
    * content as the NEW latest version — history stays immutable (the
    * bad versions remain time-travelable until vacuum), exactly
    * Delta's RESTORE semantics. Cost is one snapshot rewrite. */
  def restore(s: SparkSession, root: String, v: Long): Long =
    publish(read(s, root, asOf = Some(v)), root)

  /** RESTORE for the append log: fold the reader window AS OF `v`
    * into a new compacted base — readers after it see exactly the
    * state at `v`, later (bad) appends are subsumed, and history
    * below stays time-travelable until vacuumLog. */
  def restoreLog(s: SparkSession, root: String, v: Long,
      partCols: Seq[String] = Nil): Long = {
    requireNoTombstones(root, "restoreLog", "restoreLogMerged",
      asOf = Some(v))
    commitCompacted(readLog(s, root, asOf = Some(v)), root, partCols)
  }

  /** RESTORE for the merge-on-read log: resolve latest-wins state as
    * of `v` (tombstones applied, then dropped) into the new base. */
  def restoreLogMerged(s: SparkSession, root: String, key: String,
      v: Long): Long =
    commitCompacted(readLogMerged(s, root, key, asOf = Some(v)), root)

  /** Publish + per-file min/max manifest over `statCols`
    * (SnapStats.writeManifest — footer reads only), written BEFORE
    * the commit marker so a committed version's manifest is part of
    * the committed artifact (a crash between them leaves a torn,
    * invisible dir exactly like any other torn write). Cluster the
    * frame on the stat column first (repartitionByRange / ZOrder) —
    * tight per-file ranges are what make the manifest prune. */
  def publishWithStats(df: DataFrame, root: String,
      statCols: Seq[String]): Long =
    commit(root) { dir =>
      writeVersion(df, dir)
      SnapStats.writeManifest(dir, statCols)
    }

  /** Publish with a Hive-style partition layout INSIDE the version
    * dir (`v=<n>/<col>=<val>/...`): Spark's partition discovery
    * restores the columns on read and Catalyst prunes whole partition
    * directories for filters on them — the coarse skipping layer the
    * manifest and Bloom indexes refine under, and the layout a
    * date/source-partitioned 100 TB table ships with. Same marker
    * protocol, same immutability; snapshot flavor (the single-dir
    * read path — the log union's multi-path scan does not carry
    * per-version partition discovery). */
  def publishPartitioned(df: DataFrame, root: String,
      partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "publishPartitioned: no partition columns")
    commit(root)(writeVersion(df, _, partCols))
  }

  /** Build the per-file Bloom index over `c` for the LATEST committed
    * snapshot (SnapStats.writeBloom) — the OPTIMIZE-style post-publish
    * job for point-lookup tables; one data pass, amortized across
    * every readPoint after. */
  def addBloom(s: SparkSession, root: String, c: String,
      expectedPerFile: Long = 1000000L, fpp: Double = 0.01): Unit = {
    val dir = resolveDir(root, None)
    // a clone's data dirs belong to the SOURCE table — writing index
    // sidecars into them would mutate a dir this root does not own
    require(!LakeFs.isFile(s"$dir/$CloneMarker"),
      s"addBloom($root): the latest version is a shallow clone — " +
        "index the source table, or materialize first (compactLog)")
    SnapStats.writeBloom(s, dir, c, expectedPerFile, fpp)
  }

  /** Equality probe over the resolved snapshot with Bloom file
    * skipping — on unclustered data min/max prunes nothing (every
    * file spans the key range) but a per-file Bloom rejects the files
    * that cannot hold the key; the exact filter stays in the plan. */
  def readPoint(s: SparkSession, root: String, c: String, value: Long,
      asOf: Option[Long] = None): DataFrame =
    dataDirs(resolveDir(root, asOf))
      .map(d => SnapStats.scanPoint(s, d, c, value))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Data dirs of the resolved snapshot-flavor version (clone markers
    * followed) — the SQL catalog's snapshot read window. */
  private[graft] def readDirs(root: String,
      asOf: Option[Long]): Seq[String] =
    dataDirs(resolveDir(root, asOf))

  private def resolveDir(root: String, asOf: Option[Long]): String = {
    val live = committed(root)
    val pick = asOf match {
      case Some(v) => live.takeWhile(_._1 <= v).lastOption
      case None => live.lastOption
    }
    pick.getOrElse(sys.error(
      s"no committed snapshot in $root" +
        asOf.map(v => s" at or before v=$v").getOrElse("")))._2
  }

  /** Range scan over the resolved snapshot with manifest-based FILE
    * skipping (SnapStats.scanRange): files whose recorded [min,max]
    * provably miss [lo, hi] never enter the scan list — at lake scale
    * that saves opening the 100k footers that contain nothing in
    * range — and the residual filter stays in the plan, so parquet
    * row-group pruning and correctness hold whatever the manifest
    * said. Versions without a manifest degrade to a full scan plus
    * filter, never to wrong rows. */
  def readPruned(s: SparkSession, root: String, c: String,
      lo: Long, hi: Long, asOf: Option[Long] = None): DataFrame =
    dataDirs(resolveDir(root, asOf))
      .map(d => SnapStats.scanRange(s, d, c, lo, hi))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Append-log flavor: each committed version holds one BATCH, and
    * a reader resolves the UNION of every committed version (up to an
    * as-of version) — the CDC/ingest-table shape where publishing a
    * micro-batch costs O(batch), never an O(table) rewrite. Torn
    * directories stay invisible exactly as in the snapshot flavor. */
  def publishAppend(df: DataFrame, root: String): Long = publish(df, root)

  /** Append one batch WITH a per-file min/max manifest, so
    * [[readLogPruned]] can skip this version's files — cluster the
    * batch on the stat column first (an ingest that sorts each
    * micro-batch by its time/sequence key gets tight per-file ranges
    * for free). */
  def publishAppendWithStats(df: DataFrame, root: String,
      statCols: Seq[String]): Long = publishWithStats(df, root, statCols)

  /** Manifest-based file skipping ACROSS the log union: resolve the
    * reader window (compaction subsumption, as-of) and prune every
    * version's file list through its own manifest — a selective range
    * scan over a streaming-ingested log opens only the files whose
    * recorded [min,max] can hold [lo, hi] (Iceberg prunes its
    * manifests across snapshots the same way). Versions without a
    * manifest contribute ALL their files — pruning reduces I/O, never
    * rows — and the residual filter stays in the plan. Survivors land
    * in ONE multi-path FileScan; identical schemas assumed across the
    * window (the ingest-log case — an evolved log reads through
    * [[readLog]]'s unionByName path instead). */
  def readLogPruned(s: SparkSession, root: String, c: String,
      lo: Long, hi: Long, asOf: Option[Long] = None): DataFrame = {
    // a tombstone key-batch is a different schema AND different
    // semantics (delete marker, not rows) — the raw pruned union
    // would surface it as data; merge-on-read logs resolve through
    // readLogMerged (or fold via optimizeMerged, then prune)
    // the guard must inspect the window this read RESOLVES (asOf),
    // not the current one: a clean-now log can still have tombstone
    // batches inside a time-traveled window (they'd surface as data),
    // and tombstones published after asOf must not refuse a clean one
    requireNoTombstones(root, "readLogPruned", "readLogMerged", asOf)
    val window = logWindow(root, asOf)
    // clone versions resolve to their source dirs FIRST, so a cloned
    // window prunes through the SOURCE's own manifests
    val paths = window.flatMap { case (_, d) => dataDirs(d) }.flatMap {
      d => SnapStats.prunedPaths(d, c, BigDecimal(lo), BigDecimal(hi))
    }
    val base =
      if (paths.nonEmpty) s.read.parquet(paths: _*)
      else s.read.parquet(window.flatMap(w => dataDirs(w._2)): _*)
        .filter(lit(false))
    base.filter(col(c) >= lo && col(c) <= hi)
  }

  /** The file inventory a read of this table would scan — one row
    * per data file of the current reader window (snapshot flavor:
    * the latest version; log flavor: the whole window), clone
    * versions resolving to their SOURCE files and partitioned
    * versions walking their hive leaves. Driver-side listings only
    * (the same listings every scan pays) — the queryable/joinable
    * `t.files` metadata table Iceberg/Delta ship. */
  def filesFrame(s: SparkSession, root: String,
      snapshotFlavor: Boolean): DataFrame = {
    import s.implicits._
    val live = committed(root)
    val window =
      if (live.isEmpty) Nil
      else if (snapshotFlavor) Seq(live.last)
      else logWindow(root, None)
    window.flatMap { case (v, d) =>
      dataDirs(d).flatMap(dd => LakeFs.leaves(dd)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => (v, st.getPath.toString, st.getLen)))
    }.toDF("version", "file_path", "size_bytes")
  }

  /** DESCRIBE HISTORY: one row per version directory with the
    * protocol markers decoded — the operational surface a table
    * format ships for inspection and debugging. Driver-side listing
    * only (O(versions) marker stats, no data reads). */
  def history(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    val byV = tags(root).toSeq.groupBy(_._2)
      .view.mapValues(_.map(_._1).sorted).toMap
    versions(root).map { case (v, d) =>
      (v, isCommitted(d), hasBase(d), hasTombstone(d),
        LakeFs.isFile(s"$d/${SnapStats.ManifestName}"),
        commitTimestamp(root, v), baseFrom(d),
        byV.getOrElse(v, Seq.empty),
        LakeFs.isFile(s"$d/$CloneMarker"))
    }.toDF("version", "committed", "compacted_base", "tombstone",
      "has_stats", "committed_at_ms", "base_from", "tags",
      "shallow_clone")
  }

  /** DESCRIBE DETAIL: one-row table summary — sizes, file counts,
    * version/pin counts, flavor flags — from driver-side listings
    * only (the reader window's data dirs are resolved through
    * [[dataDirs]], so clone versions report their SOURCE bytes: the
    * honest answer to "how much data does this table read"). */
  def detail(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    val live = committed(root)
    // DESCRIBE DETAIL on an empty/uncreated table is a summary, not a
    // read — answer with a zero row instead of logWindow's
    // "no committed snapshot" failure (ADVICE r13)
    val window = if (live.isEmpty) Nil else logWindow(root, None)
    // recursive: hive-partitioned versions keep their files one
    // `col=val` level down (flat dirs are their own leaves)
    def pq(dirs: Seq[String]) = dirs.flatMap(d => LakeFs.leaves(d))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    // two read costs, because the flavor decides which one a reader
    // pays: window_* = the log union readLog resolves; latest_* = the
    // one version a snapshot-flavor read() scans
    val files = pq(window.flatMap { case (_, d) => dataDirs(d) })
    val latestFiles = pq(live.lastOption.toSeq
      .flatMap { case (_, d) => dataDirs(d) })
    Seq((latestVersion(root).getOrElse(0L), live.size.toLong,
      (versions(root).size - live.size).toLong, window.size.toLong,
      files.size.toLong, files.map(_.getLen).sum,
      latestFiles.size.toLong, latestFiles.map(_.getLen).sum,
      tags(root).size.toLong, branches(root).size.toLong,
      window.exists { case (_, d) => hasTombstone(d) },
      window.count { case (_, d) =>
        LakeFs.isFile(s"$d/$CloneMarker") }.toLong))
      .toDF("latest_version", "n_committed", "n_torn", "window_versions",
        "n_data_files", "size_bytes", "latest_data_files",
        "latest_size_bytes", "n_tags", "n_branches",
        "has_tombstones", "n_clone_versions")
  }

  /** Highest committed version ever reaped by retention — the
    * stream-loss fence: a checkpointed stream whose offset is BELOW
    * this may have unread raw appends already deleted (and their fold
    * is skipped as a rewrite), so resuming it would silently drop
    * rows. Written monotonically by vacuum/vacuumLog, checked by
    * [[streamWindow]], which fails LOUDLY instead — the same contract
    * Delta's source enforces when VACUUM outruns a streaming reader. */
  private val StreamHorizon = "_SNAP_STREAM_HORIZON"

  private def streamHorizon(root: String): Long =
    LakeFs.readString(s"$root/$StreamHorizon")
      .map(_.trim.toLong).getOrElse(0L)

  private def raiseStreamHorizon(root: String, reaped: Seq[Long]): Unit =
    reaped.maxOption.foreach { hi =>
      if (hi > streamHorizon(root))
        LakeFs.write(s"$root/$StreamHorizon", hi.toString)
    }

  /** The streaming reader's batch window (sources.SnapshotStreamSource,
    * `format("graftsnap")`): committed versions in (after, until],
    * skipping tombstone key-batches (delete markers, not data rows)
    * and — once a stream is past its first batch — compaction bases,
    * which are rewrites of rows the stream already delivered (the
    * skip IS the exactly-once guarantee across OPTIMIZE, the same
    * contract Delta's streaming source keeps over compacted files).
    * A FIRST batch (after == 0) on an already-compacted log starts AT
    * the newest base inside the window — the initial-snapshot batch,
    * exactly the prefix [[readLog]] resolves. */
  def streamWindow(root: String, after: Long,
      until: Long): Seq[(Long, String)] = {
    val horizon = streamHorizon(root)
    require(after == 0L || after >= horizon,
      s"graftsnap stream at offset v=$after resumed BEHIND the " +
        s"retention horizon v=$horizon of $root: raw appends it never " +
        "read have been vacuumed (their fold is a rewrite the stream " +
        "skips) — restart the stream from a fresh checkpoint to " +
        "re-read the current table state")
    if (after == 0L)
      // fresh stream: exactly the reader window (chained through
      // bases and tiered folds — never the raw version list, which
      // would double-deliver folded rows)
      logWindow(root, Some(until))
        .filterNot { case (_, d) => hasTombstone(d) || hasPosDelete(d) }
    else
      committed(root)
        .filter { case (v, _) => v > after && v <= until }
        .filterNot { case (_, d) =>
          hasTombstone(d) || hasPosDelete(d) ||
            hasBase(d) || baseFrom(d).isDefined
        }
  }

  /** Tombstone batch for the merge-on-read log: `keys` (a frame of
    * just the merge-key column) marks those keys deleted as of this
    * version. Invisible to the plain `readLog` union semantics —
    * tombstones only act through [[readLogMerged]], which is the
    * reader a keyed log uses. O(batch) like any append; the deletes
    * are folded away by [[compactLogMerged]]. */
  def publishDeletes(keys: DataFrame, root: String): Long =
    commit(root, markers = Seq(Tombstone))(writeVersion(keys, _))

  // ---- position deletes (deletion vectors) -----------------------
  //
  // The merge-on-read delete for KEYLESS tables — what Delta deletion
  // vectors / Iceberg v2 position-delete files do: a delete batch
  // names (data file, row position) pairs instead of key values, so a
  // GDPR point delete on a raw event log needs no key column and no
  // O(table) copy-on-write rewrite. Positions are stable because data
  // files are immutable after their version's commit marker — the
  // same invariant the streaming source's exactly-once replay rests
  // on. The flow: [[readLogPos]] exposes each row's (_file, _pos)
  // address, the caller filters to the rows to delete and publishes
  // the address pairs ([[publishPositionDeletes]], O(batch)), and
  // [[readLogDv]] resolves current state by anti-joining the window's
  // delete set — AQE broadcasts it in the common deletes≪data case.
  // [[compactLogDv]] folds the vectors away into a plain base.

  private val PosDelete = "_SNAP_POSDELETE"

  private def hasPosDelete(dir: String): Boolean =
    LakeFs.isFile(s"$dir/$PosDelete")

  /** The raw log union with each row's POSITION ADDRESS attached:
    * `_file` (the data file's scan path) and `_pos` (row index within
    * that file, parquet `_metadata.row_index`). Delete batches are
    * built FROM this frame — filter to the doomed rows, select
    * `_file`/`_pos`, publish — which guarantees the address
    * representation matches what [[readLogDv]]'s scan produces.
    * Tombstone and position-delete versions are excluded (they are
    * delete metadata, not rows). */
  def readLogPos(s: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame = {
    val window = logWindow(root, asOf)
      .filterNot { case (_, d) => hasTombstone(d) || hasPosDelete(d) }
    require(window.nonEmpty, s"no data versions in $root")
    def withPos(df: DataFrame): DataFrame =
      df.select(col("*"),
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_pos"))
    val frames = window.map { case (_, d) =>
      s.read.parquet(dataDirs(d): _*) }
    if (!anyPartitionedDir(window.flatMap(w => dataDirs(w._2))) &&
        frames.map(_.schema).distinct.sizeIs == 1)
      withPos(s.read.parquet(
        window.flatMap(w => dataDirs(w._2)): _*))
    else frames.map(withPos)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Publish one position-delete batch: `deletes` must be exactly the
    * (`_file`, `_pos`) address pairs of a [[readLogPos]] read.
    * O(batch) like every append; acts only through [[readLogDv]]. */
  def publishPositionDeletes(deletes: DataFrame, root: String): Long = {
    require(deletes.columns.toSeq.sorted == Seq("_file", "_pos"),
      "publishPositionDeletes takes exactly (_file, _pos) — select " +
        "them from a readLogPos frame")
    commit(root, markers = Seq(PosDelete))(
      writeVersion(deletes.select(col("_file"), col("_pos").cast("long")), _))
  }

  /** MERGE-ON-READ with deletion vectors: the raw union minus every
    * position named by a delete batch in the window — ONE anti-join
    * on the (file, pos) address, no key column required. Key
    * tombstones don't mix with position deletes in one window (two
    * delete disciplines over the same rows would need a defined
    * precedence — refuse instead; pick one per table). Time travel to
    * a version before a delete batch resurfaces the rows, exactly
    * like every other as-of read. */
  def readLogDv(s: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame = {
    require(!logWindow(root, asOf).exists { case (_, d) =>
        hasTombstone(d) },
      s"readLogDv($root): window holds KEY tombstones — one delete " +
        "discipline per table; use readLogMerged")
    val data = readLogPos(s, root, asOf)
    val delDirs = logWindow(root, asOf)
      .filter { case (_, d) => hasPosDelete(d) }
      .flatMap { case (_, d) => dataDirs(d) }
    val out =
      if (delDirs.isEmpty) data
      else data.join(
        s.read.parquet(delDirs: _*).distinct(),
        Seq("_file", "_pos"), "left_anti")
    out.drop("_file", "_pos")
  }

  /** Fold the deletion vectors away: rewrite the resolved state as
    * one compacted base (the periodic job that keeps read-side
    * anti-join cost bounded, Delta's PURGE). */
  def compactLogDv(s: SparkSession, root: String): Long =
    commitCompacted(readLogDv(s, root), root)

  /** True when the reader window carries delete-metadata batches
    * (key tombstones or position-delete vectors) — the windows a raw
    * file scan cannot serve. The SQL catalog probes this to route
    * between the parquet delegate and an execution-time refusal. */
  private[graft] def hasDeleteMetadata(root: String,
      asOf: Option[Long]): Boolean =
    logWindow(root, asOf).exists { case (_, d) =>
      hasTombstone(d) || hasPosDelete(d) }

  /** Union schema of the window's DATA versions only — delete
    * metadata ((key…) / (_file,_pos) footers) never contributes
    * columns to the table shape a SQL reader sees. */
  private[graft] def dataWindowSchema(s: SparkSession, root: String,
      asOf: Option[Long]): org.apache.spark.sql.types.StructType = {
    val w = logWindow(root, asOf)
      .filterNot { case (_, d) => hasTombstone(d) || hasPosDelete(d) }
    require(w.nonEmpty, s"no data versions in $root")
    val frames = w.map { case (_, d) => s.read.parquet(dataDirs(d): _*) }
    if (frames.map(_.schema).distinct.sizeIs == 1) frames.head.schema
    else frames.reduce(_.unionByName(_, allowMissingColumns = true)).schema
  }

  /** The reader window's data DIRECTORIES (clone markers resolved) —
    * the scan roots a hive-partitioned catalog table hands Spark's
    * file index: partition discovery needs the version DIRS as base
    * paths (a flat file list loses the `col=val` dir components that
    * carry the partition values). */
  private[graft] def logDataDirs(root: String,
      asOf: Option[Long]): Seq[String] =
    logWindow(root, asOf).flatMap { case (_, d) => dataDirs(d) }

  /** The window of committed versions a log reader unions: everything
    * up to `asOf` (or all), except that a COMPACTED version (base
    * marker, see compactLog) subsumes everything at or before it. */
  private def logWindow(root: String,
      asOf: Option[Long]): Seq[(Long, String)] = {
    val live = asOf match {
      case Some(v) => committed(root).takeWhile(_._1 <= v)
      case None => committed(root)
    }
    require(live.nonEmpty, s"no committed snapshot in $root" +
      asOf.map(v => s" at or before v=$v").getOrElse(""))
    // walk newest → oldest, chaining through compaction boundaries:
    // a full base subsumes everything below it (stop); a tiered
    // tail-fold (BASE_FROM f, see compactLogTail) subsumes exactly
    // (f, v) — skip down to f and keep resolving, so L1 folds chain
    // onto older folds/bases/appends without ever rewriting them
    var out: List[(Long, String)] = Nil
    var bound = Long.MaxValue
    var i = live.length - 1
    while (i >= 0) {
      val (v, d) = live(i)
      if (v <= bound) {
        out = (v, d) :: out
        if (hasBase(d)) i = 0 // full base: nothing below survives
        else baseFrom(d).foreach(f => bound = f)
      }
      i -= 1
    }
    out
  }

  /** Hive-partitioned version dirs (publishPartitioned) must read
    * per-dir: Spark's partition discovery refuses multiple roots
    * (CONFLICTING_DIRECTORY_STRUCTURES), while a per-root read
    * discovers each dir's own `col=val` layout cleanly. */
  private def anyPartitionedDir(dirs: Seq[String]): Boolean =
    dirs.exists(d => LakeFs.list(d).exists(st =>
      st.isDirectory && st.getPath.getName.contains("=")))

  /** One frame per window version with SCHEMA EVOLUTION resolved
    * driver-side: all schemas equal → a single multi-path FileScan
    * (O(versions) paths in one scan); otherwise fold `unionByName`
    * with null-fill, so a version that ADDED a column reads back with
    * the old versions null-filled — column order is the oldest
    * version's columns followed by each later addition in version
    * order (deterministic). Footer reads are O(versions) and
    * compactLog folds the count back down. */
  private def unionWindow(s: SparkSession,
      window: Seq[(Long, String)]): DataFrame = {
    val dirs = window.flatMap(w => dataDirs(w._2))
    val frames = window.map { case (_, d) =>
      s.read.parquet(dataDirs(d): _*) }
    if (!anyPartitionedDir(dirs) &&
        frames.map(_.schema).distinct.sizeIs == 1)
      s.read.parquet(dirs: _*)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Union of all committed versions (<= `asOf` when given), newest
    * compacted version subsuming its prefix. Tombstone versions are
    * pure key batches and DO appear here (the raw log view); use
    * [[readLogMerged]] for merge-on-read semantics. Empty log errors
    * like an empty snapshot table. */
  def readLog(s: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame =
    unionWindow(s, logWindow(root, asOf))

  /** MERGE-ON-READ over the append log: latest version wins per
    * `key`, and a key whose newest occurrence is a tombstone batch
    * ([[publishDeletes]]) is dropped. Resolution is one argmax-struct
    * aggregation — `max(struct(version, cols…))` per key — a single
    * shuffle on the merge key, no window sort. Within one version a
    * duplicated key resolves by the lexicographic max of its row (a
    * deterministic answer to what standard MERGE calls ambiguous —
    * keep keys unique per batch for the SQL-equivalent semantics).
    * This is the read a change-heavy 100 TB table uses between
    * compactions: appends stay O(batch) and the merge cost is paid by
    * readers until [[compactLogMerged]] folds it away. */
  def readLogMerged(s: SparkSession, root: String, key: String,
      asOf: Option[Long] = None): DataFrame = {
    val window = logWindow(root, asOf)
    require(!window.exists { case (_, d) => hasPosDelete(d) },
      s"readLogMerged($root): window holds POSITION deletes — one " +
        "delete discipline per table; use readLogDv")
    val frames = window.map { case (v, d) =>
      s.read.parquet(dataDirs(d): _*)
        .withColumn("_graft_v", lit(v))
        .withColumn("_graft_tomb", lit(hasTombstone(d)))
    }
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    val dataCols = all.columns
      .filterNot(c => c == key || c == "_graft_v" || c == "_graft_tomb")
    val packed: Column = max(struct(
      (col("_graft_v") +: col("_graft_tomb") +: dataCols.map(col)): _*))
    all.groupBy(col(key)).agg(packed.as("_graft_w"))
      .filter(!col("_graft_w._graft_tomb"))
      .select(col(key) +: dataCols.map(c => col(s"_graft_w.$c").as(c)): _*)
  }

  /** CHANGE DATA FEED between two committed versions of a keyed MoR
    * log: the net-effect row changes a downstream consumer applies to
    * move from the table state at `from` to the state at `to`. Emits
    * Delta-CDF-shaped rows — `change_type` in insert / delete /
    * update_preimage / update_postimage (updates carry both images,
    * unchanged keys emit nothing).
    *
    * Cost shape: the two merged states (one argmax aggregation each)
    * plus ONE full-outer equi-join on the key and a single projection
    * — no window sort, no driver collection. Note the raw log already
    * IS a change log (tombstones + appends in version order — stream
    * consumers tail `readLog`); readChanges is the NET diff, which
    * collapses intermediate churn: a key upserted five times between
    * the versions emits one update, inserted-then-deleted emits
    * nothing. Schema evolution across the boundary null-fills the old
    * side, so an added column surfaces as an update on rows whose
    * other fields never moved — exactly what a consumer must apply. */
  def readChanges(s: SparkSession, root: String, key: String,
      from: Long, to: Long): DataFrame = {
    require(from <= to, s"readChanges: from=$from must be <= to=$to")
    val before = readLogMerged(s, root, key, asOf = Some(from))
    val after = readLogMerged(s, root, key, asOf = Some(to))
    val dataCols =
      (before.columns ++ after.columns).distinct.filterNot(_ == key)
    // typed null-fill: an untyped NullType column would make the two
    // image structs type-incompatible the moment schema evolution
    // leaves a column on only one side; newer side wins on conflict
    val colType = (before.schema.fields ++ after.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    def side(df: DataFrame, k: String, v: String): DataFrame = {
      val widened = dataCols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(colType(c))))
      widened.select(col(key).as(k),
        struct(dataCols.map(col): _*).as(v))
    }
    val b = side(before, "_bk", "_bv")
    val a = side(after, "_ak", "_av")
    def change(tag: String, k: Column, v: Column): Column =
      struct(lit(tag).as("change_type"), k.as(key), v.as("_v"))
    b.join(a, col("_bk") === col("_ak"), "full_outer")
      .filter(col("_bk").isNull || col("_ak").isNull ||
        !(col("_bv") <=> col("_av")))
      .select(explode(
        when(col("_bk").isNull,
          array(change("insert", col("_ak"), col("_av"))))
        .when(col("_ak").isNull,
          array(change("delete", col("_bk"), col("_bv"))))
        .otherwise(array(
          change("update_preimage", col("_bk"), col("_bv")),
          change("update_postimage", col("_ak"), col("_av")))))
        .as("_c"))
      .select(col("_c.change_type").as("change_type") +:
        col(s"_c.$key").as(key) +:
        dataCols.map(c => col(s"_c._v.$c").as(c)): _*)
  }

  /** The small-files job the append log needs: fold every committed
    * version the current reader would union into ONE new compacted
    * version. The base marker is written BEFORE the commit marker, so
    * a committed compaction always knows it subsumes its prefix and a
    * crash mid-compaction leaves an invisible torn dir — readers are
    * never double-counted and never see a partial fold. Old versions
    * stay on disk (readers mid-flight may hold them; time travel to
    * pre-compaction boundaries keeps working) until vacuumLog reaps
    * them. Returns the compacted version. */
  def compactLog(s: SparkSession, root: String,
      partCols: Seq[String] = Nil): Long = {
    requireNoTombstones(root, "compactLog", "compactLogMerged")
    commitCompacted(readLog(s, root), root, partCols)
  }

  /** Folding a raw union over tombstone batches would re-write the
    * delete markers as DATA rows (key-only, null-filled) in the
    * compacted base — merge-on-read readers after the fold would
    * resurrect every deleted key. Refuse up front; the merged
    * variants fold tombstones away correctly. */
  private def requireNoTombstones(root: String, op: String,
      mergedOp: String, asOf: Option[Long] = None): Unit = {
    require(!logWindow(root, asOf).exists { case (_, d) => hasTombstone(d) },
      s"$op($root): the reader window holds tombstone batches " +
        s"(merge-on-read log) — a raw fold would turn deletes into " +
        s"rows; use $mergedOp")
    require(!logWindow(root, asOf).exists { case (_, d) => hasPosDelete(d) },
      s"$op($root): the reader window holds position-delete batches " +
        "(deletion-vector log) — a raw fold would turn delete vectors " +
        "into rows; use readLogDv/compactLogDv")
  }

  /** Merge-on-read compaction: fold the log through
    * [[readLogMerged]] — upserts applied, tombstones dropped — into
    * one compacted base, so readers after it pay no merge cost and
    * the tombstone batches below are subsumed. */
  def compactLogMerged(s: SparkSession, root: String, key: String): Long =
    commitCompacted(readLogMerged(s, root, key), root)

  /** TIERED compaction (the L0→L1 fold): fold only the raw appends
    * accumulated since the newest compaction boundary into one new
    * version carrying `_SNAP_BASE_FROM_<f>` — "subsumes exactly
    * (f, me)". [[compactLog]] rewrites the WHOLE reader window every
    * time, O(table); on a 100 TB log ingesting thousands of
    * micro-batches a day that rewrite is the bottleneck, and every
    * log-structured store answers it the same way: fold small runs
    * into bigger runs and let readers chain across tiers. Window
    * resolution walks newest→oldest through the chain (logWindow), so
    * a reader sees [older base/fold chain] ++ [this fold] ++ [newer
    * appends] — O(tiers + new appends) paths, and periodic full
    * compactLog still collapses the chain to one base.
    *
    * Append-only contract, same as compactLog: tombstoned (MoR)
    * windows are refused, and a fold collapses the tail's versions to
    * ONE version number — [[readLogMerged]]'s latest-wins across the
    * folded tail degrades to its within-version tiebreak, so keyed
    * upsert logs compact through [[compactLogMerged]] instead. */
  def compactLogTail(s: SparkSession, root: String): Long = {
    val window = logWindow(root, None)
    val boundary = window.lastIndexWhere { case (_, d) =>
      hasBase(d) || baseFrom(d).isDefined
    }
    val tail = window.drop(boundary + 1)
    val fromV = if (boundary < 0) 0L else window(boundary)._1
    require(tail.nonEmpty,
      s"compactLogTail($root): no raw appends above the newest " +
        "compaction boundary — nothing to fold")
    require(!tail.exists { case (_, d) => hasTombstone(d) },
      s"compactLogTail($root): the tail holds tombstone batches " +
        "(merge-on-read log) — a raw fold would turn deletes into " +
        "rows; use compactLogMerged")
    val folded = unionWindow(s, tail)
    commit(root, markers = Seq(s"_SNAP_BASE_FROM_$fromV"))(
      writeVersion(folded, _))
  }

  /** OPTIMIZE ZORDER for the append log — the nightly layout job a
    * 100 TB lake runs: fold the current reader window into ONE
    * compacted version laid out on the Morton curve of (cx, cy)
    * (ZOrder.clustered — one stats broadcast, one range shuffle into
    * `files` shards, a within-partition sort) and carrying a per-file
    * min/max manifest over BOTH keys, written before the commit
    * marker. Compaction (small files folded), multi-dimensional
    * clustering (selective scans on either key prune through
    * [[readPruned]]), and data skipping stats all land in one data
    * pass; the base marker subsumes the prefix exactly like
    * compactLog, so reads are unchanged and later appends stack on
    * top. Snapshot-flavor tables get the same layout by publishing
    * ZOrder.clustered output through [[publishWithStats]] directly. */
  def optimize(s: SparkSession, root: String, cx: String, cy: String,
      files: Int = 16): Long = {
    requireNoTombstones(root, "optimize", "optimizeMerged")
    commitOptimized(s, readLog(s, root), root, cx, cy, files)
  }

  /** OPTIMIZE for the merge-on-read log: resolve latest-wins per
    * `key` and fold tombstones away FIRST ([[readLogMerged]]), then
    * lay the merged state out z-ordered with stats — one job that
    * pays the merge cost once so every reader after it pays neither
    * merge nor full-scan. */
  def optimizeMerged(s: SparkSession, root: String, key: String,
      cx: String, cy: String, files: Int = 16): Long =
    commitOptimized(s, readLogMerged(s, root, key), root, cx, cy, files)

  private def commitOptimized(s: SparkSession, folded: DataFrame,
      root: String, cx: String, cy: String, files: Int): Long = {
    val clustered = ZOrder.clustered(folded, cx, cy, files)
    commit(root, markers = Seq(Base)) { dir =>
      writeVersion(clustered, dir)
      SnapStats.writeManifest(dir, Seq(cx, cy))
    }
  }

  /** REPLACE the table's readable content with `df` in one committed
    * version carrying the base marker — log readers see exactly `df`
    * afterward (the window collapses to this version), while history
    * below stays time-travelable until vacuumLog. The graftsnap DSv2
    * write maps SaveMode.Overwrite here; it is also the manual
    * "rebuild the table" primitive next to restoreLog's
    * as-of-flavored one. */
  def publishReplace(df: DataFrame, root: String,
      partCols: Seq[String] = Nil): Long =
    commitCompacted(df, root, partCols)

  private def commitCompacted(folded: DataFrame, root: String,
      partCols: Seq[String] = Nil): Long =
    commit(root, markers = Seq(Base))(writeVersion(folded, _, partCols))

  /** The versions a log-flavor VACUUM would reap RIGHT NOW — the
    * DRY RUN view, and vacuumLog's own reap set (one computation, so
    * the plan and the action can never drift): keep exactly the
    * current reader window (which chains through tiered BASE_FROM
    * folds — a fold's own inputs are subsumed but the older segments
    * it chains ONTO are still read), PLUS every tagged/branch-pinned
    * version's whole as-of window (a pinned log read unions its own
    * window — keeping just the tagged dir would read a truncated
    * table); everything committed outside is subsumed, torn dirs
    * below the latest commit are invisible already. */
  def vacuumLogPlan(root: String): Seq[(Long, String)] = {
    val live = committed(root)
    if (live.isEmpty) Nil
    else {
      val keep = logWindow(root, None).map(_._1).toSet ++
        (tags(root).values.toSet ++ branches(root).values)
          .flatMap((tv: Long) => logWindow(root, Some(tv)).map(_._1))
      val latest = live.last._1
      versions(root).filter { case (v, d) =>
        (isCommitted(d) && !keep(v)) || (!isCommitted(d) && v < latest)
      }
    }
  }

  /** Log retention: delete committed versions strictly below the
    * newest compacted version (they are subsumed and no longer read),
    * torn dirs below the latest commit (reaped whether or not a
    * compaction exists), and epoch markers below the newest
    * `keepEpochs` (foreachBatch only ever replays the LATEST epoch,
    * so older markers gate nothing and would otherwise grow the root
    * listing — walked by every read/publish — without bound under a
    * long-lived stream). Time travel below the compaction boundary is
    * given up — the same trade every log-structured table's retention
    * makes. */
  def vacuumLog(root: String, keepEpochs: Int = 8): Unit = {
    val live = committed(root)
    if (live.nonEmpty) {
      val toReap = vacuumLogPlan(root)
      // fence FIRST: a crash between fence and delete over-fences
      // (streams refused while the data still exists — safe); the
      // other order would leave a window where a lagging stream
      // silently skips rows whose dirs are already gone
      raiseStreamHorizon(root,
        toReap.collect { case (v, d) if isCommitted(d) => v })
      // promote in-version epoch tags (_SNAP_EPOCH_<scope>_<e>,
      // epochGuard's crash-recovery witness) to root hints
      // BEFORE the dir is deleted — otherwise reaping a committed
      // version whose root hint was never written (crash between
      // commit marker and hint) would erase the only record that the
      // epoch ran, and a later replay would double it. Committed dirs
      // only: a torn version's epoch never happened.
      val SinkTag = "^_SNAP_EPOCH_(.+)$".r
      toReap.foreach { case (_, d) =>
        if (isCommitted(d))
          LakeFs.list(d).map(_.getPath.getName).foreach {
            case SinkTag(se) =>
              val h = s"$root/_GRAFT_EPOCH_$se"
              if (!LakeFs.isFile(h)) LakeFs.write(h, "")
            case _ => ()
          }
      }
      toReap.foreach { case (_, d) => LakeFs.rmTree(d) }
      reapEpochMarkers(root, keepEpochs)
      reapDeadClaims(root)
    }
  }

  /** The exactly-once guard both epoch commits share: an epoch of
    * `scope` is done when its root hint `_GRAFT_EPOCH_<scope>_<epoch>`
    * exists (the fast path) or a committed version carries its tag
    * `_SNAP_EPOCH_<scope>_<epoch>`, which the commit creates BEFORE
    * its commit marker — so no crash point lets a replay double the
    * epoch, and correctness never depends on the hint. The scan walks
    * committed versions newest first and stops at this scope's first
    * tag at or below `epoch` (a scope's epochs are monotone). Else
    * `publish` runs; the hint is written last either way. */
  private def epochGuard(root: String, scope: String, epoch: Long)(
      publish: => Option[Long]): Option[Long] = {
    require(scope.matches("[A-Za-z0-9_-]+"),
      s"scope must be [A-Za-z0-9_-]+: '$scope'")
    val hint = s"$root/_GRAFT_EPOCH_${scope}_$epoch"
    if (LakeFs.isFile(hint)) return None
    val TagRe = s"^_SNAP_EPOCH_${scope}_(\\d+)$$".r
    val committedBefore = versions(root).reverseIterator
      .filter { case (_, d) => isCommitted(d) }
      .flatMap { case (_, d) =>
        LakeFs.list(d).iterator.map(_.getPath.getName).collectFirst {
          case TagRe(e) if e.toLong <= epoch => e.toLong
        }
      }
      .nextOption().contains(epoch)
    val v = if (committedBefore) None else publish
    LakeFs.mkdirs(root)
    LakeFs.write(hint, "")
    v
  }

  private def epochTag(scope: String, epoch: Long): String =
    s"_SNAP_EPOCH_${scope}_$epoch"

  private object NoRows extends scala.util.control.ControlThrowable

  /** Exactly-once per-epoch append, the streaming twins' lake
    * publish: `df` commits as ONE version tagged with `scope`'s
    * `epoch` under [[epochGuard]]. Epoch ids are per-query counters,
    * so each producer on a root needs its own scope. A frame with no
    * rows commits no version (an empty version dir would poison the
    * log's schema inference), read off the written footers rather
    * than a probe job. Returns the version; None when already done
    * or empty. */
  def publishEpoch(df: DataFrame, root: String, scope: String,
      epoch: Long): Option[Long] =
    epochGuard(root, scope, epoch) {
      try Some(commit(root, markers = Seq(epochTag(scope, epoch))) { dir =>
        writeVersion(df, dir)
        if (!SnapStats.holdsRows(dir)) { LakeFs.rmTree(dir); throw NoRows }
      })
      catch { case NoRows => None }
    }

  /** Commit task-staged parquet files as ONE new committed log
    * version — the DSv2 streaming sink's commit half (the executors
    * already wrote `staged`; this is pure control-plane: renames and
    * markers, no data I/O), exactly once under [[epochGuard]].
    *
    * Staged files fold into one attempt-unique commit dir (task-retry
    * orphans in the staging area are never swept in — only the files
    * the driver's commit messages name), the next version number is
    * claimed through [[commit]] (concurrent fan-in writers get
    * distinct numbers) and the dir is renamed onto it, then epoch tag
    * → commit marker → claim release → hint. An empty epoch writes
    * the hint only (no empty version dir — the [[publishEpoch]] rule).
    * Returns the version, None when already done or empty. */
  def commitStagedEpoch(root: String, staged: Seq[String], scope: String,
      epoch: Long, stageDir: String): Option[Long] = {
    val v = epochGuard(root, scope, epoch) {
      if (staged.isEmpty) None
      else {
        // fold the committed task files into an attempt-unique dir (a
        // crashed prior attempt's partially-filled commit dir must
        // never be reused — its leftovers would double rows)
        val commitDir = s"$stageDir/commit-${java.util.UUID.randomUUID}"
        LakeFs.mkdirs(commitDir)
        staged.foreach { f =>
          val name = new org.apache.hadoop.fs.Path(f).getName
          require(LakeFs.rename(f, s"$commitDir/$name"),
            s"staged file vanished or collided: $f")
        }
        LakeFs.mkdirs(root)
        // the version number comes from the claim marker
        // (create-if-absent is atomic, and claims are visible to every
        // other allocator), NOT from probing rename: LakeFs.rename's
        // exists-check is check-then-act, and Hadoop rename moves a
        // directory INTO an existing destination — two fan-in writers
        // probing the same n would nest the loser's commit dir inside
        // the winner's version and silently lose it
        Some(commit(root, markers = Seq(epochTag(scope, epoch))) { dir =>
          require(LakeFs.rename(commitDir, dir),
            s"claimed $dir but the rename failed — torn state?")
        })
      }
    }
    LakeFs.rmTree(stageDir)
    v
  }

  /** Per-expectation violation counts of a committed publishExpect
    * version (empty for versions published without expectations). */
  def expectReport(root: String, version: Long): Map[String, Long] =
    LakeFs.readString(s"$root/v=$version/$ExpectMarker") match {
      case None => Map.empty
      case Some(body) => body.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(n, c) = l.split("\t"); n -> c.toLong
      }.toMap
    }

  private val ExpectMarker = "_SNAP_EXPECT"

  /** Outcome of [[publishExpect]]: the committed main version (None
    * when every row violated in drop/quarantine mode — an empty
    * version is never published, the lakePipe rule), the per-
    * expectation violation counts, and the quarantine version holding
    * the violating rows (quarantine mode, when any existed). */
  final case class ExpectResult(version: Option[Long],
      violations: Map[String, Long], quarantineVersion: Option[Long])

  /** Publish a batch THROUGH named CHECK expectations — the
    * Delta-constraint / DLT-expectation shape, the lake's admission
    * control: bad rows stop at the table boundary instead of
    * poisoning every downstream reader.
    *
    * A row PASSES an expectation iff its predicate is exactly true —
    * NULL is a violation (the data-quality reading, stricter than SQL
    * CHECK's null-passes: an expectation that cannot be evaluated is
    * not evidence of health). Modes:
    *
    *  - `"fail"`: any violation aborts — nothing is written at all
    *    (stronger than the torn-dir rule: not even a torn dir).
    *  - `"drop"`: passing rows publish; violations are counted away.
    *  - `"quarantine"`: passing rows publish; violating rows land in
    *    the `root/_quarantine` sub-log (a FIRST-CLASS snapshot log —
    *    time travel, compaction, reprocess-and-merge-back all work),
    *    each row tagged `_violated` with the comma-joined names of
    *    the expectations it failed (kept a flat string so the
    *    quarantine log stays in the streamed-log primitive subset).
    *
    * The violation counts are written INTO the version dir
    * (`_SNAP_EXPECT`, before the commit marker — a committed version
    * always knows what it is) and read back via [[expectReport]].
    * Cost: one extra aggregate pass over the cached batch (the
    * metrics), then the split writes touch each row once. */
  def publishExpect(df: DataFrame, root: String,
      expectations: Seq[(String, Column)],
      mode: String = "fail"): ExpectResult = {
    require(expectations.nonEmpty, "publishExpect needs >= 1 expectation")
    expectations.foreach { case (n, _) =>
      require(n.matches("[A-Za-z0-9_-]+"),
        s"expectation name must be [A-Za-z0-9_-]+: '$n'") }
    require(Set("fail", "drop", "quarantine")(mode),
      s"mode must be fail|drop|quarantine: '$mode'")
    import org.apache.spark.sql.functions.{coalesce, concat_ws, not, sum}
    def passes(e: Column): Column = coalesce(e, lit(false))
    val cached = df.cache()
    try {
      val counts = cached.select(expectations.map { case (n, e) =>
        sum(when(not(passes(e)), 1L).otherwise(0L)).as(n)
      }: _*).collect().headOption
        .map(r => expectations.indices
          .map(i => expectations(i)._1 ->
            (if (r.isNullAt(i)) 0L else r.getLong(i))).toMap)
        .getOrElse(expectations.map(_._1 -> 0L).toMap)
      val totalBad = counts.values.sum
      if (mode == "fail") require(totalBad == 0L,
        s"expectations violated under mode=fail: " +
          counts.filter(_._2 > 0).map { case (n, c) => s"$n=$c" }
            .mkString(", "))
      val allPass = expectations.map(e => passes(e._2))
        .reduce(_ && _)
      val good = cached.filter(allPass)
      val version =
        if (good.isEmpty) None
        else Some(commit(root) { dir =>
          writeVersion(good, dir)
          LakeFs.write(s"$dir/$ExpectMarker",
            expectations.map { case (en, _) =>
              s"$en\t${counts(en)}" }.mkString("\n"))
        })
      val qv =
        if (mode == "quarantine" && totalBad > 0L) {
          val bad = cached.filter(not(allPass))
            .withColumn("_violated", concat_ws(",",
              expectations.map { case (en, e) =>
                when(not(passes(e)), lit(en)) }: _*))
          Some(publishAppend(bad, s"$root/_quarantine"))
        } else None
      ExpectResult(version, counts, qv)
    } finally { cached.unpersist(); () }
  }

  /** MERGE-publish: the next snapshot is the previous one with
    * `upserts` applied by `key` (matched rows replaced, new keys
    * appended) and `deleteKeys` dropped (tombstones) — the MERGE INTO
    * shape on top of the snapshot protocol, so every merge is itself
    * an immutable, time-travelable version and a crashed merge leaves
    * the table on its previous snapshot (torn-dir rule). Cost is one
    * anti-join plus the snapshot rewrite — the copy-on-write flavor;
    * a change-heavy table amortizes through the append log +
    * [[readLogMerged]]/[[compactLogMerged]] instead.
    *
    * Standard MERGE INTO ambiguity rule enforced: a target key may be
    * matched by at most ONE source row, so duplicate keys within
    * `upserts` and any upserts∩deleteKeys overlap are rejected up
    * front. The grouped source-key frame is CACHED and shared between
    * the eager check and the anti-join (sources compute once, never a
    * second validation pass over derived inputs); the check itself is
    * a separate eager action on purpose — an in-plan raise_error on
    * the join's build side can be optimized AWAY with the join (e.g.
    * empty-relation propagation when the target snapshot is empty),
    * silently publishing the duplicates it was guarding against. */
  def publishMerge(s: SparkSession, root: String, key: String,
      upserts: DataFrame, deleteKeys: DataFrame): Long = {
    val k = col(key)
    val srcKeys = upserts.select(k).unionAll(deleteKeys.select(k))
      .groupBy(k).agg(count(lit(1)).as("_n"))
      .cache()
    try {
      val ambiguous = srcKeys.filter(col("_n") > 1).limit(1).count()
      require(ambiguous == 0L,
        s"MERGE ambiguity: a $key value appears more than once across " +
          "upserts + deleteKeys; each target key may match one source row")
      val next = read(s, root)
        .join(srcKeys.select(k), Seq(key), "left_anti")
        .unionByName(upserts)
      publish(next, root)
    } finally srcKeys.unpersist()
  }

  /** The OPTIMIZE scheduling policy — what keeps a continuously
    * ingesting log's reader window BOUNDED without a human running
    * compactions: fold the raw tail into an L1 fold once it exceeds
    * `maxTail` versions (O(tail) each time), and collapse the whole
    * chain into one full base once the chain holds `maxChain` folds
    * (the rare O(table) event — amortized, ingest pays O(batch) +
    * occasional O(tail) and the window never exceeds maxTail +
    * maxChain paths). Call after ingest batches or on a schedule;
    * returns the version a fold committed, None when within bounds.
    * Raw-append contract (tombstoned tails throw, compactLogTail's
    * rule); keyed MoR logs schedule compactLogMerged instead. */
  def maintainLog(s: SparkSession, root: String, maxTail: Int = 8,
      maxChain: Int = 4): Option[Long] = {
    require(maxTail >= 1 && maxChain >= 1, "maintainLog: bounds >= 1")
    val window = logWindow(root, None)
    // only TIERED folds count toward the chain bound: a terminal full
    // base is the collapsed state, and counting it would make
    // maxChain=1 rewrite the whole table on every call forever
    val folds = window.count { case (_, d) => baseFrom(d).isDefined }
    val tail = window.length -
      (window.lastIndexWhere { case (_, d) =>
        hasBase(d) || baseFrom(d).isDefined
      } + 1)
    if (folds >= maxChain) Some(compactLog(s, root))
    else if (tail >= maxTail) Some(compactLogTail(s, root))
    else None
  }

  private val EpochMarker = "^_GRAFT_EPOCH_(\\d+)$".r
  // scoped form (epochGuard's hints, epochOnceFor): scope is
  // everything up to the FINAL underscore — epochs are plain digits,
  // so the greedy split is unambiguous
  private val ScopedEpochMarker = "^_GRAFT_EPOCH_(.+)_(\\d+)$".r

  /** Keep the newest `keep` epoch markers PER PRODUCER (the unscoped
    * single-writer markers are one producer), reap the rest —
    * foreachBatch only ever replays the latest epoch of its own
    * query, so older markers gate nothing and would otherwise grow
    * the root listing without bound under long-lived streams. */
  private def reapEpochMarkers(root: String, keep: Int): Unit = {
    val epochs = LakeFs.list(root).flatMap { st =>
      st.getPath.getName match {
        case EpochMarker(e) =>
          Some((None: Option[String], e.toLong, st.getPath.toString))
        case ScopedEpochMarker(sid, e) =>
          Some((Some(sid), e.toLong, st.getPath.toString))
        case _ => None
      }
    }
    epochs.groupBy(_._1).values.foreach { stream =>
      stream.sortBy(_._2).dropRight(keep)
        .foreach { case (_, _, p) => LakeFs.rmFile(p) }
    }
  }

  /** The snapshot-flavor reap set — the DRY RUN view and vacuum's
    * own plan (shared, so they cannot drift). Same guards as the
    * action: compacted append-log roots refuse. */
  def vacuumPlan(root: String, keep: Int): Seq[(Long, String)] = {
    require(keep > 0, s"vacuum(keep=$keep): retention must keep >= 1 snapshot")
    val live = committed(root)
    require(!live.exists { case (_, d) =>
      hasBase(d) || baseFrom(d).isDefined },
      s"$root is an append-log root (compacted versions present); " +
        "vacuum would delete versions readLog still unions — use vacuumLog")
    if (live.isEmpty) Nil
    else {
      val keepFrom = live.takeRight(keep).head._1
      val latest = live.last._1
      // tagged/branch-pinned versions never reap
      val pinned = tags(root).values.toSet ++ branches(root).values
      versions(root).filter { case (v, d) =>
        (isCommitted(d) && v < keepFrom && !pinned(v)) ||
          (!isCommitted(d) && v < latest)
      }
    }
  }

  /** Retention for the SNAPSHOT flavor: keep the newest `keep`
    * committed snapshots, delete every older committed one AND every
    * torn directory below the newest committed version (torn dirs are
    * invisible to readers and safe to reap once a newer commit
    * exists). Epoch markers are retained for the newest `keep` epochs
    * and reaped below that — foreachBatch only ever replays the
    * LATEST epoch, so a marker older than the retention horizon can
    * no longer gate anything.
    *
    * REFUSES on an append-log root that has been compacted (any
    * version carrying a base marker): log readers union a window, so
    * snapshot-retention semantics here would silently delete versions
    * `readLog` still reads — use [[vacuumLog]] for log roots. */
  def vacuum(root: String, keep: Int): Unit = {
    val toReap = vacuumPlan(root, keep)
    if (committed(root).nonEmpty) {
      raiseStreamHorizon(root, // fence before delete, as in vacuumLog
        toReap.collect { case (v, d) if isCommitted(d) => v })
      toReap.foreach { case (_, d) => LakeFs.rmTree(d) }
      reapEpochMarkers(root, keep)
      reapDeadClaims(root)
    }
  }
}
