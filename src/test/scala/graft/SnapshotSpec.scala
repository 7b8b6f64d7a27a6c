package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeFs, Snapshots}

/** Laws of the versioned snapshot tables (operators.Snapshots): time
  * travel, torn-write invisibility, and vacuum retention. */
class SnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_snap_spec/$tag"
    LakeFs.rmTree(root)
    new java.io.File(root).mkdirs()
    root
  }

  test("time travel: as-of reads resolve the newest committed version at or before") {
    import spark.implicits._
    val root = freshRoot("timetravel")
    val v1 = Snapshots.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val v2 = Snapshots.publish(Seq((1L, "a2")).toDF("k", "v"), root)
    assert(v1 == 1L && v2 == 2L)
    assert(Snapshots.latestVersion(root).contains(2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(Snapshots.read(spark, root)) == Set(1L -> "a2"))
    assert(rows(Snapshots.read(spark, root, asOf = Some(1L)))
      == Set(1L -> "a", 2L -> "b"))
    // as-of BETWEEN versions resolves downward, as-of before v1 errors
    assert(rows(Snapshots.read(spark, root, asOf = Some(5L))) == Set(1L -> "a2"))
    intercept[RuntimeException](Snapshots.read(spark, root, asOf = Some(0L)))
  }

  test("a torn write is invisible and its version number is never reused") {
    import spark.implicits._
    val root = freshRoot("torn")
    Snapshots.publish(Seq((1L, "a")).toDF("k", "v"), root)
    // simulate a writer crash: data present, no commit marker
    val torn = new java.io.File(s"$root/v=2")
    torn.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/v=2/part-junk.parquet"), "garbage")
    assert(Snapshots.latestVersion(root).contains(1L),
      "reader must not see the uncommitted version")
    assert(Snapshots.read(spark, root).count() == 1L)
    // the next publish allocates PAST the torn dir — never reuses it
    val v3 = Snapshots.publish(Seq((9L, "c")).toDF("k", "v"), root)
    assert(v3 == 3L, s"allocated v=$v3 over a torn v=2")
    assert(Snapshots.read(spark, root).collect().map(_.getLong(0)).toSet
      == Set(9L))
  }

  test("vacuum keeps the newest K committed snapshots and reaps torn dirs") {
    import spark.implicits._
    val root = freshRoot("vacuum")
    (1 to 5).foreach(i =>
      Snapshots.publish(Seq((i.toLong, s"v$i")).toDF("k", "v"), root))
    // a torn dir below the latest commit is reaped too
    new java.io.File(s"$root/v=2").delete() // replace committed v2 …
    LakeFs.rmTree(s"$root/v=2")
    new java.io.File(s"$root/v=2").mkdirs() // … with a torn shell
    Snapshots.vacuum(root, keep = 2)
    val left = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith("v=")).toSet
    assert(left == Set("v=4", "v=5"), s"after vacuum: $left")
    // retention fenced the reaped committed versions for streams
    assert(LakeFs.readString(s"$root/_SNAP_STREAM_HORIZON")
      .map(_.trim) == Some("3"))
    assert(Snapshots.read(spark, root).collect().head.getString(1) == "v5")
    assert(Snapshots.read(spark, root, asOf = Some(4L))
      .collect().head.getString(1) == "v4")
    intercept[RuntimeException](Snapshots.read(spark, root, asOf = Some(3L)))
  }

  test("merge publish: matched rows replaced, new keys appended, tombstones dropped, base intact") {
    import spark.implicits._
    val root = freshRoot("merge")
    val v1 = Snapshots.publish(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    Snapshots.publishMerge(spark, root, "k",
      upserts = Seq((2L, "b2"), (9L, "new")).toDF("k", "v"),
      deleteKeys = Seq(3L).toDF("k"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(Snapshots.read(spark, root))
      == Set(1L -> "a", 2L -> "b2", 9L -> "new"))
    // the merge is itself a version: the base stays time-travelable
    assert(rows(Snapshots.read(spark, root, asOf = Some(v1)))
      == Set(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("append log: readers see the union prefix; as-of cuts at version boundaries") {
    import spark.implicits._
    val root = freshRoot("log")
    Snapshots.publishAppend(Seq(1L, 2L).toDF("k"), root)
    Snapshots.publishAppend(Seq(3L).toDF("k"), root)
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    assert(ks(Snapshots.readLog(spark, root)) == Set(1L, 2L, 3L))
    assert(ks(Snapshots.readLog(spark, root, asOf = Some(1L))) == Set(1L, 2L))
    intercept[IllegalArgumentException](
      Snapshots.readLog(spark, root, asOf = Some(0L)))
  }

  test("log compaction folds the union, preserves reads, and vacuumLog reaps the prefix") {
    import spark.implicits._
    val root = freshRoot("compact")
    Snapshots.publishAppend(Seq(1L, 2L).toDF("k"), root)
    Snapshots.publishAppend(Seq(3L).toDF("k"), root)
    Snapshots.publishAppend(Seq(4L).toDF("k"), root)
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val c = Snapshots.compactLog(spark, root)
    assert(c == 4L)
    // reads unchanged; the reader now unions ONE path, not three
    assert(ks(Snapshots.readLog(spark, root)) == Set(1L, 2L, 3L, 4L))
    // pre-compaction time travel still works while the prefix remains
    assert(ks(Snapshots.readLog(spark, root, asOf = Some(2L))) == Set(1L, 2L, 3L))
    // appends after compaction stack on top of the fold
    Snapshots.publishAppend(Seq(9L).toDF("k"), root)
    assert(ks(Snapshots.readLog(spark, root)) == Set(1L, 2L, 3L, 4L, 9L))
    Snapshots.vacuumLog(root)
    val left = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("v=")).toSet
    assert(left == Set("v=4", "v=5"), s"after vacuumLog: $left")
    assert(ks(Snapshots.readLog(spark, root)) == Set(1L, 2L, 3L, 4L, 9L),
      "reads must survive the reap")
  }

  test("schema evolution: a version that adds a column reads back null-filled across the log") {
    import spark.implicits._
    val root = freshRoot("evolve")
    Snapshots.publishAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // later ingest adds a column — the first thing a real log hits
    Snapshots.publishAppend(
      Seq((3L, "c", 0.5)).toDF("k", "v", "score"), root)
    val df = Snapshots.readLog(spark, root)
    assert(df.columns.toSeq == Seq("k", "v", "score"),
      "oldest version's columns first, additions appended in version order")
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(0.5))))
    // time travel across the boundary sees the old schema's window
    assert(Snapshots.readLog(spark, root, asOf = Some(1L)).columns.toSeq
      == Seq("k", "v"))
    // compaction folds the evolved union into one wide base
    Snapshots.compactLog(spark, root)
    assert(Snapshots.readLog(spark, root).columns.toSeq
      == Seq("k", "v", "score"))
    assert(Snapshots.readLog(spark, root).count() == 3L)
  }

  test("merge-on-read log == copy-on-write publishMerge on the same batches") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val up1 = Seq((2L, "b2"), (9L, "new")).toDF("k", "v")
    val del1 = Seq(3L).toDF("k")
    val up2 = Seq((9L, "new2"), (1L, "a2")).toDF("k", "v")

    val cow = freshRoot("mor_cow")
    Snapshots.publish(base, cow)
    Snapshots.publishMerge(spark, cow, "k", up1, del1)
    Snapshots.publishMerge(spark, cow, "k", up2, spark.emptyDataset[Long].toDF("k"))

    val mor = freshRoot("mor_log")
    Snapshots.publishAppend(base, mor)
    Snapshots.publishAppend(up1, mor)
    Snapshots.publishDeletes(del1, mor)
    Snapshots.publishAppend(up2, mor)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = Set(1L -> "a2", 2L -> "b2", 4L -> "d", 9L -> "new2")
    assert(rows(Snapshots.read(spark, cow)) == expect)
    assert(rows(Snapshots.readLogMerged(spark, mor, "k")) == expect)
    // as-of before the tombstone still sees the key
    assert(rows(Snapshots.readLogMerged(spark, mor, "k", asOf = Some(2L)))
      == Set(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d", 9L -> "new"))
    // plain readLog ignores merge semantics: raw union incl. tombstone keys
    assert(Snapshots.readLog(spark, mor).count() == 4L + 2L + 1L + 2L)
    // compaction folds upserts + tombstones away; reads are unchanged
    // and later appends merge on top of the folded base
    val c = Snapshots.compactLogMerged(spark, mor, "k")
    assert(rows(Snapshots.readLogMerged(spark, mor, "k")) == expect)
    assert(Snapshots.readLog(spark, mor).count() == 4L, "folded base only")
    Snapshots.publishAppend(Seq((4L, "d9")).toDF("k", "v"), mor)
    assert(rows(Snapshots.readLogMerged(spark, mor, "k"))
      == Set(1L -> "a2", 2L -> "b2", 4L -> "d9", 9L -> "new2"))
    Snapshots.vacuumLog(mor)
    assert(rows(Snapshots.readLogMerged(spark, mor, "k"))
      == Set(1L -> "a2", 2L -> "b2", 4L -> "d9", 9L -> "new2"),
      "reads must survive the reap")
    assert(c == 5L)
  }

  test("publishMerge rejects ambiguous sources (dup upsert keys, upsert+delete overlap)") {
    import spark.implicits._
    val root = freshRoot("merge_ambig")
    Snapshots.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // eager guard over the cached grouped source keys (deliberately
    // NOT in-plan: an optimizer that eliminates the join — empty
    // target — would eliminate an embedded raise_error with it)
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Exception] {
      Snapshots.publishMerge(spark, root, "k",
        upserts = Seq((2L, "x"), (2L, "y")).toDF("k", "v"),
        deleteKeys = spark.emptyDataset[Long].toDF("k"))
    }
    assert(msgChain(e1).contains("MERGE ambiguity"), msgChain(e1))
    val e2 = intercept[Exception] {
      Snapshots.publishMerge(spark, root, "k",
        upserts = Seq((2L, "x")).toDF("k", "v"),
        deleteKeys = Seq(2L).toDF("k"))
    }
    assert(msgChain(e2).contains("MERGE ambiguity"), msgChain(e2))
    // the eager guard rejects BEFORE any write — no version, no dir
    assert(Snapshots.latestVersion(root).contains(1L))
    // the guard also holds when the TARGET snapshot is empty (the
    // state where empty-relation propagation would have eliminated an
    // in-plan raise_error together with the anti-join)
    val emptyRoot = freshRoot("merge_ambig_empty")
    Snapshots.publish(
      Seq.empty[(Long, String)].toDF("k", "v"), emptyRoot)
    val e3 = intercept[Exception] {
      Snapshots.publishMerge(spark, emptyRoot, "k",
        upserts = Seq((2L, "x"), (2L, "y")).toDF("k", "v"),
        deleteKeys = spark.emptyDataset[Long].toDF("k"))
    }
    assert(msgChain(e3).contains("MERGE ambiguity"), msgChain(e3))
    val v = Snapshots.publishMerge(spark, root, "k",
      upserts = Seq((2L, "x")).toDF("k", "v"),
      deleteKeys = spark.emptyDataset[Long].toDF("k"))
    assert(v > 1L && Snapshots.read(spark, root).count() == 2L,
      "a valid merge proceeds after the rejected attempts")
  }

  test("vacuum refuses on a compacted append-log root; vacuumLog reaps epoch markers") {
    import spark.implicits._
    val root = freshRoot("vacuum_guard")
    Snapshots.publishAppend(Seq(1L).toDF("k"), root)
    Snapshots.publishAppend(Seq(2L).toDF("k"), root)
    Snapshots.compactLog(spark, root)
    intercept[IllegalArgumentException](Snapshots.vacuum(root, keep = 1))
    assert(Snapshots.readLog(spark, root).count() == 2L,
      "refused vacuum must not have deleted anything")
    // a long-lived stream's epoch markers are reaped past the horizon
    (1L to 12L).foreach(e =>
      Snapshots.publishEpoch(Seq(100L + e).toDF("k"), root, "ret", e))
    Snapshots.vacuumLog(root, keepEpochs = 8)
    val markers = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith("_GRAFT_EPOCH_")).toSet
    assert(markers == (5L to 12L).map(e => s"_GRAFT_EPOCH_ret_$e").toSet,
      s"newest 8 epoch markers retained: $markers")
    assert(Snapshots.readLog(spark, root).count() == 14L)
  }

  test("vacuumLog without any compaction still reaps torn dirs below the latest commit") {
    import spark.implicits._
    val root = freshRoot("vacuum_log_nc")
    Snapshots.publishAppend(Seq(1L).toDF("k"), root)
    // torn dir between commits
    new java.io.File(s"$root/v=2").mkdirs()
    Snapshots.publishAppend(Seq(3L).toDF("k"), root)
    Snapshots.vacuumLog(root)
    val left = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("v=")).toSet
    assert(left == Set("v=1", "v=3"), s"after vacuumLog: $left")
    assert(Snapshots.readLog(spark, root).count() == 2L)
  }

  test("manifest stats prune files a selective range scan provably misses") {
    import spark.implicits._
    import graft.operators.SnapStats
    val root = freshRoot("prune")
    // clustered layout: 8 files, each a tight contiguous key range
    val df = spark.range(0L, 8000L).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.col("k") * 2)
      .repartitionByRange(8, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k")
    val v = graft.operators.Snapshots.publishWithStats(df, root, Seq("k"))
    val dir = s"$root/v=$v"
    val all = SnapStats.prunedPaths(dir, "k",
      BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue))
    assert(all.size == 8, s"expected 8 data files, saw ${all.size}")
    // a ~1/8 range must hit strictly fewer files than the full list —
    // the file-level data-skipping proof
    val narrow = SnapStats.prunedPaths(dir, "k",
      BigDecimal(2000), BigDecimal(2500))
    assert(narrow.nonEmpty && narrow.size < all.size,
      s"manifest failed to prune: ${narrow.size} of ${all.size}")
    // pruned read == plain filter, rows exact
    val pruned = graft.operators.Snapshots
      .readPruned(spark, root, "k", 2000L, 2500L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == (2000L to 2500L).map(k => (k, k * 2)).toSet)
    // a column with NO manifest entry never prunes — and the scan is
    // still correct through the kept-everything path
    val noStats = SnapStats.prunedPaths(dir, "v",
      BigDecimal(0), BigDecimal(1))
    assert(noStats.size == all.size, "missing stats must keep every file")
    assert(graft.operators.Snapshots
      .readPruned(spark, root, "v", 0L, 10L).count() == 6L) // v=0,2,..,10
    // an all-pruned range returns empty with the right schema
    val none = graft.operators.Snapshots
      .readPruned(spark, root, "k", 100000L, 200000L)
    assert(none.columns.toSeq == Seq("k", "v") && none.count() == 0L)
  }

  test("bloom index prunes point lookups where min/max cannot") {
    import spark.implicits._
    import graft.operators.SnapStats
    val root = freshRoot("bloom")
    // 8 files clustered on k, with a SECOND key v pseudo-randomly
    // spread: every file spans nearly the full v range, so a min/max
    // manifest is useless for v — the bloom's exact use case
    val df = spark.range(0L, 8000L).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions
        .expr("pmod(k * 1000003, 100000007)"))
      .repartitionByRange(8, org.apache.spark.sql.functions.col("k"))
      .sortWithinPartitions("k")
    val ver = graft.operators.Snapshots.publishWithStats(df, root, Seq("k", "v"))
    val dir = s"$root/v=$ver"
    graft.operators.Snapshots.addBloom(spark, root, "v",
      expectedPerFile = 2000L)
    val all = SnapStats.pointPaths(dir, "k", 1L) // no bloom for k: all kept
    assert(all.size == 8)
    // probe an existing v: bloom keeps far fewer files than min/max
    // would (v's per-file min/max span ~everything)
    val probeV = (1234L * 1000003L) % 100000007L
    val kept = SnapStats.pointPaths(dir, "v", probeV)
    assert(kept.nonEmpty && kept.size <= 2,
      s"bloom kept ${kept.size} of ${all.size} files")
    val rows = graft.operators.Snapshots.readPoint(spark, root, "v", probeV)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1234L, probeV)))
    // no-false-drop law: every 97th key must come back exactly
    (0L until 8000L by 97L).foreach { k =>
      val v = (k * 1000003L) % 100000007L
      val got = graft.operators.Snapshots.readPoint(spark, root, "v", v)
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(k), s"bloom dropped k=$k")
    }
    // an absent key usually resolves to ZERO files and still reads
    // empty with the right schema
    val none = graft.operators.Snapshots.readPoint(spark, root, "v", 99999999L)
    assert(none.columns.toSeq == Seq("k", "v") && none.count() == 0L)
  }

  test("streaming CDC ingest: op-stream lands as MoR versions; replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("cdc")
    LakeFs.rmTree(root + "_ckpt")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, String)]
    val q = graft.streaming.StreamOps.cdcIngest(spark,
      ms.toDF().toDF("_op", "k", "v"), root, "k")
    def merged() = Snapshots.readLogMerged(spark, root, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    try {
      ms.addData(("u", 1L, "a"), ("u", 2L, "b")); q.processAllAvailable()
      // one batch carrying upserts AND deletes: delete wins for 1
      ms.addData(("u", 2L, "b2"), ("u", 1L, "a2"), ("d", 1L, ""))
      q.processAllAvailable()
      assert(merged() == Set(2L -> "b2"))
    } finally q.stop()
    // foreachBatch retry with the SAME epoch publishes nothing
    val before = Snapshots.latestVersion(root)
    graft.streaming.StreamOps.cdcIngestBatch(
      Seq(("u", 2L, "b2"), ("d", 1L, "")).toDF("_op", "k", "v"),
      1L, root, "k")
    assert(Snapshots.latestVersion(root) == before, "epoch replay re-published")
    // the residual window (replay under a FRESH epoch id, as after a
    // crash between publish and marker) duplicates versions but the
    // merged read is IDENTICAL — latest-wins over equal rows
    graft.streaming.StreamOps.cdcIngestBatch(
      Seq(("u", 2L, "b2"), ("u", 1L, "a2"), ("d", 1L, "")).toDF("_op", "k", "v"),
      99L, root, "k")
    assert(merged() == Set(2L -> "b2"), "MoR replay must be idempotent")
    // compaction folds the whole op history into one base
    Snapshots.compactLogMerged(spark, root, "k")
    assert(merged() == Set(2L -> "b2"))
    assert(Snapshots.readLog(spark, root).count() == 1L)
  }

  test("streaming snapshot ingest: micro-batches become committed versions exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("stream")
    LakeFs.rmTree(root + "_ckpt")
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = graft.streaming.StreamOps.snapshotIngest(spark,
      ms.toDF().toDF("k"), root)
    try {
      ms.addData(1L, 2L); q.processAllAvailable()
      ms.addData(3L); q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.latestVersion(root).contains(2L),
      "each micro-batch must publish exactly one committed version")
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    assert(ks(Snapshots.readLog(spark, root)) == Set(1L, 2L, 3L))
    // a reader pinned to the first epoch's boundary sees that prefix
    assert(ks(Snapshots.readLog(spark, root, asOf = Some(1L))) == Set(1L, 2L))
    // foreachBatch retry: replaying the last epoch publishes nothing
    graft.streaming.StreamOps.snapshotIngestBatch(
      Seq(3L).toDF("k"), 1L, root)
    assert(Snapshots.latestVersion(root).contains(2L),
      "epoch replay appended a duplicate version")
    assert(ks(Snapshots.readLog(spark, root)) == Set(1L, 2L, 3L))
    // the crash between the version's commit marker and its root hint:
    // with every hint gone the committed version witnesses the epoch
    LakeFs.list(root).map(_.getPath.getName)
      .filter(_.startsWith("_GRAFT_EPOCH_"))
      .foreach(h => LakeFs.rmFile(s"$root/$h"))
    graft.streaming.StreamOps.snapshotIngestBatch(
      Seq(3L).toDF("k"), 1L, root)
    assert(Snapshots.latestVersion(root).contains(2L),
      "a replay without its hint published a duplicate version")
    assert(ks(Snapshots.readLog(spark, root)) == Set(1L, 2L, 3L))
    // an empty micro-batch publishes no version
    graft.streaming.StreamOps.snapshotIngestBatch(
      Seq.empty[Long].toDF("k"), 2L, root)
    assert(Snapshots.latestVersion(root).contains(2L))
  }

  test("concurrent publishers land at distinct versions and lose no rows") {
    import spark.implicits._
    val root = freshRoot("occ_append")
    val writers = 8
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (1 to writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await()
            Snapshots.publish(Seq(w.toLong).toDF("k"), root)
          }
        })
      }
      gate.countDown()
      val versions = futures.map(_.get()).toSet
      assert(versions.size == writers,
        s"claim arbitration must hand out distinct versions: $versions")
      assert(Snapshots.readLog(spark, root).collect().map(_.getLong(0)).toSet
        == (1 to writers).map(_.toLong).toSet,
        "every concurrent append must be readable")
      // claims are released after commit — the root listing is bounded
      assert(!LakeFs.list(root)
        .exists(_.getPath.getName.startsWith("_SNAP_CLAIM_")))
    } finally pool.shutdown()
  }

  test("publishIf: CAS succeeds at expected+1, stale writers conflict, no lost update") {
    import spark.implicits._
    val root = freshRoot("occ_cas")
    val v1 = Snapshots.publish(Seq(0L).toDF("n"), root)
    // two read-modify-write writers both read latest=v1; first wins
    def bump(expected: Long): Long = {
      val cur = Snapshots.read(spark, root, asOf = Some(expected))
        .head().getLong(0)
      Snapshots.publishIf(Seq(cur + 1L).toDF("n"), root, expected)
    }
    val v2 = bump(v1)
    assert(v2 == v1 + 1)
    val e = intercept[Snapshots.SnapshotConflict](bump(v1))
    assert(e.getMessage.contains("re-read and retry"))
    // the loser retries against the fresh latest and both increments land
    bump(v2)
    assert(Snapshots.read(spark, root).head().getLong(0) == 2L,
      "CAS retry must preserve both increments — no lost update")
    // a dead claim (crashed writer) blocks CAS conservatively …
    val latest = Snapshots.latestVersion(root).get
    assert(LakeFs.createMarker(s"$root/_SNAP_CLAIM_${latest + 1}"))
    intercept[Snapshots.SnapshotConflict](bump(latest))
    // … until vacuumClaims reaps it; correctness was never at risk
    Snapshots.vacuumClaims(root)
    bump(latest)
    assert(Snapshots.read(spark, root).head().getLong(0) == 3L)
  }

  test("every writer commits above a live claim and leaves it in place") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def df(ks: Long*) = ks.map(k => (k, k * 10L)).toDF("k", "y")
    // plant a live claim on the number the writer would otherwise take
    // (the highest v=<n> dir + 1): the writer must go past it, and the
    // claim — another writer's — must survive the commit; every
    // writer runs, and the offenders are reported together
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    def aboveClaim(root: String, what: String)(writer: => Long): Unit = {
      val planted = Snapshots.latestVersion(root).getOrElse(0L) + 1
      val claim = s"$root/_SNAP_CLAIM_$planted"
      assert(LakeFs.createMarker(claim))
      val v = writer
      assert(Snapshots.latestVersion(root).contains(v), s"$what: v=$v")
      if (v <= planted) bad += s"$what committed v=$v over claim $planted"
      if (!LakeFs.isFile(claim)) bad += s"$what removed claim $planted"
    }
    val log = freshRoot("claim_log")
    Snapshots.publishAppend(df(1L, 2L), log)
    aboveClaim(log, "publishAppend")(Snapshots.publishAppend(df(3L), log))
    aboveClaim(log, "publishWithStats")(
      Snapshots.publishWithStats(df(4L), log, Seq("k")))
    aboveClaim(log, "maintainLog/compactLogTail")(
      Snapshots.maintainLog(spark, log, maxTail = 1).get)
    aboveClaim(log, "compactLog")(Snapshots.compactLog(spark, log))
    aboveClaim(log, "optimize")(Snapshots.optimize(spark, log, "k", "y", 2))
    aboveClaim(log, "restore")(Snapshots.restore(spark, log, 2L))
    Snapshots.createBranch(log, "b")
    Snapshots.publishBranch(df(5L), log, "b")
    aboveClaim(log, "mergeBranch")(Snapshots.mergeBranch(spark, log, "b").get)
    aboveClaim(log, "publishExpect")(Snapshots.publishExpect(
      df(6L), log, Seq("pos" -> (col("k") > 0L))).version.get)
    val dst = freshRoot("claim_clone")
    Snapshots.publish(df(7L), dst)
    aboveClaim(dst, "cloneTable")(Snapshots.cloneTable(spark, log, dst))
    val part = freshRoot("claim_part")
    aboveClaim(part, "publishPartitioned")(
      Snapshots.publishPartitioned(df(1L), part, Seq("y")))
    val mor = freshRoot("claim_mor")
    Snapshots.publishAppend(df(1L, 2L), mor)
    aboveClaim(mor, "publishDeletes")(
      Snapshots.publishDeletes(Seq(1L).toDF("k"), mor))
    val dv = freshRoot("claim_dv")
    Snapshots.publishAppend(df(1L, 2L), dv)
    aboveClaim(dv, "publishPositionDeletes")(Snapshots.publishPositionDeletes(
      Snapshots.readLogPos(spark, dv).filter(col("k") === 1L)
        .select("_file", "_pos"), dv))
    assert(Snapshots.readLogDv(spark, dv).select("k").as[Long].collect()
      .toSeq == Seq(2L))
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("a publish whose write throws releases its claim") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val root = freshRoot("claim_release")
    val v1 = Snapshots.publish(Seq(1L).toDF("k"), root)
    val boom = spark.range(0, 8).select(
      when(col("id") > 3L, raise_error(lit("boom"))).otherwise(col("id"))
        .as("k"))
    def claimsLeft = LakeFs.list(root)
      .exists(_.getPath.getName.startsWith("_SNAP_CLAIM_"))
    // the CAS publish first: it claims v1 + 1 and its write throws
    intercept[Exception](Snapshots.publishIf(boom, root, v1))
    assert(!claimsLeft, "a failed publishIf left its claim behind")
    intercept[Exception](Snapshots.publish(boom, root))
    assert(!claimsLeft, "a failed publish left its claim behind")
    // both torn dirs hold no claim and no commit marker: dead, so a
    // CAS from v1 commits past them instead of conflicting for good
    val v = Snapshots.publishIf(Seq(2L).toDF("k"), root, expected = v1)
    assert(v == v1 + 3 && Snapshots.latestVersion(root).contains(v))
    assert(Snapshots.read(spark, root).as[Long].collect().toSeq == Seq(2L))
    // the torn dirs stay invisible; CAS from the fresh latest commits
    assert(Snapshots.publishIf(Seq(3L).toDF("k"), root, v) == v + 1)
    assert(!claimsLeft)
  }

  test("change data feed: net diff between versions with Delta-CDF change types") {
    import spark.implicits._
    val root = freshRoot("cdf")
    Snapshots.publishAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root) // v1
    val from = Snapshots.latestVersion(root).get
    Snapshots.publishAppend(Seq((2L, "b2"), (4L, "d")).toDF("k", "v"), root)
    Snapshots.publishDeletes(Seq(3L).toDF("k"), root)
    // churn that must collapse in the net diff: 4 upserted twice
    // surfaces once, 5 inserted-then-deleted surfaces not at all
    Snapshots.publishAppend(Seq((4L, "d2"), (5L, "e")).toDF("k", "v"), root)
    Snapshots.publishDeletes(Seq(5L).toDF("k"), root)
    val to = Snapshots.latestVersion(root).get
    val changes = Snapshots.readChanges(spark, root, "k", from, to)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(changes == Set(
      ("update_preimage", 2L, "b"), ("update_postimage", 2L, "b2"),
      ("delete", 3L, "c"),
      ("insert", 4L, "d2")),
      s"got $changes")
    // identical versions diff to nothing; from==to is legal
    assert(Snapshots.readChanges(spark, root, "k", to, to).isEmpty)
    // schema evolution across the boundary: an added column surfaces
    // as an update (typed null pre-image) even when nothing else moved
    Snapshots.publishAppend(Seq((1L, "a", 7L)).toDF("k", "v", "w"), root)
    val evolved = Snapshots.readChanges(spark, root, "k", to,
        Snapshots.latestVersion(root).get)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(evolved == Set(
      ("update_preimage", 1L, -1L), ("update_postimage", 1L, 7L)),
      s"got $evolved")
  }

  test("optimize: z-order compaction preserves reads, adds stats, stacks appends") {
    import spark.implicits._
    val root = freshRoot("optimize")
    // fragmented interleaved appends: every batch spans the full key range
    (0 until 4).foreach { b =>
      Snapshots.publishAppend(
        (0 until 64).map(i => (i.toLong * 4 + b, (i % 8).toLong, s"r$b-$i"))
          .toDF("x", "y", "v").repartition(4), root)
    }
    val before = Snapshots.readLog(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val v = Snapshots.optimize(spark, root, "x", "y", files = 8)
    assert(Snapshots.readLog(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      == before, "optimize must not change table content")
    // the fold subsumes: one version in the reader window
    assert(Snapshots.readLog(spark, root).inputFiles
      .forall(_.contains(s"v=$v")), "reads must resolve only the fold")
    // manifest-backed pruning now works on BOTH z-order keys
    val prunedX = Snapshots.readPruned(spark, root, "x", 0L, 31L)
    assert(prunedX.inputFiles.length < Snapshots.read(spark, root).inputFiles.length,
      "selective x-range scan must skip files after optimize")
    assert(prunedX.collect().map(_.getLong(0)).toSet == (0L to 31L).toSet)
    // appends stack on top of the fold
    Snapshots.publishAppend(Seq((999L, 0L, "tail")).toDF("x", "y", "v"), root)
    assert(Snapshots.readLog(spark, root).count() == 257L)
  }

  test("raw folds refuse on MoR logs; optimizeMerged folds tombstones away") {
    import spark.implicits._
    val root = freshRoot("optimize_mor")
    Snapshots.publishAppend(
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")).toDF("k", "y", "v"),
      root)
    Snapshots.publishAppend(Seq((2L, 21L, "b2")).toDF("k", "y", "v"), root)
    Snapshots.publishDeletes(Seq(3L).toDF("k"), root)
    // a raw fold would resurrect deleted key 3 as a null-filled row
    intercept[IllegalArgumentException](Snapshots.compactLog(spark, root))
    intercept[IllegalArgumentException](
      Snapshots.optimize(spark, root, "k", "y"))
    val merged = Snapshots.readLogMerged(spark, root, "k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    Snapshots.optimizeMerged(spark, root, "k", "k", "y", files = 2)
    // post-fold: same merged read, and the raw fold is now legal again
    assert(Snapshots.readLogMerged(spark, root, "k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet == merged)
    assert(merged == Set(1L -> "a", 2L -> "b2"))
    Snapshots.compactLog(spark, root)
  }

  test("multi-writer streaming ingest: two streams fan into one log exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("multi_stream")
    LakeFs.rmTree(root + "_ckpt_s1"); LakeFs.rmTree(root + "_ckpt_s2")
    val m1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val m2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q1 = graft.streaming.StreamOps.snapshotIngestConcurrent(
      spark, m1.toDF().toDF("k"), root, "s1")
    val q2 = graft.streaming.StreamOps.snapshotIngestConcurrent(
      spark, m2.toDF().toDF("k"), root, "s2")
    try {
      // both streams' epoch 0 run — the scoped markers must not
      // swallow the second producer's first batch
      m1.addData(1L, 2L); m2.addData(10L, 20L)
      q1.processAllAvailable(); q2.processAllAvailable()
      m1.addData(3L); m2.addData(30L)
      q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    def ks() = Snapshots.readLog(spark, root)
      .collect().map(_.getLong(0)).toSet
    assert(ks() == Set(1L, 2L, 3L, 10L, 20L, 30L))
    assert(Snapshots.latestVersion(root).contains(4L),
      "four micro-batches must land as four distinct versions")
    // per-stream replay: s1's last epoch republishes nothing, while
    // s2 at a NEW epoch still can
    graft.streaming.StreamOps.snapshotIngestConcurrentBatch(
      Seq(3L).toDF("k"), 1L, root, "s1")
    assert(Snapshots.latestVersion(root).contains(4L), "s1 replay re-published")
    graft.streaming.StreamOps.snapshotIngestConcurrentBatch(
      Seq(40L).toDF("k"), 2L, root, "s2")
    assert(ks() == Set(1L, 2L, 3L, 10L, 20L, 30L, 40L))
    // retention keeps the newest markers PER producer
    Snapshots.vacuumLog(root, keepEpochs = 1)
    val markers = LakeFs.list(root).map(_.getPath.getName)
      .filter(_.startsWith("_GRAFT_EPOCH_"))
    assert(markers.toSet == Set("_GRAFT_EPOCH_s1_1", "_GRAFT_EPOCH_s2_2"),
      s"got $markers")
  }

  test("partitioned publish: discovery restores the column, filters prune dirs") {
    import spark.implicits._
    val root = freshRoot("partitioned")
    val data = (0 until 40).map(i => (i.toLong, s"src${i % 4}", s"d$i"))
    Snapshots.publishPartitioned(
      data.toDF("k", "source", "v").repartition(4), root, Seq("source"))
    val back = Snapshots.read(spark, root)
    assert(back.columns.toSet == Set("k", "source", "v"),
      "partition discovery must restore the partition column")
    assert(back.collect().map(r =>
        (r.getAs[Long]("k"), r.getAs[String]("source"), r.getAs[String]("v")))
      .toSet == data.toSet)
    // a filter on the partition column reads strictly fewer files —
    // count files the executed scan ACTUALLY selected (inputFiles
    // lists the relation's full index, blind to partition pruning)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
    }
    val prunedFiles =
      filesRead(Snapshots.read(spark, root).filter($"source" === "src1"))
    val fullFiles = filesRead(Snapshots.read(spark, root))
    assert(prunedFiles < fullFiles,
      s"partition filter must prune directories ($prunedFiles vs $fullFiles)")
    assert(back.filter($"source" === "src1").count() == 10L)
    // time travel across a repartitioned layout change
    Snapshots.publishPartitioned(
      data.toDF("k", "source", "v").filter($"k" < 8), root, Seq("source"))
    assert(Snapshots.read(spark, root).count() == 8L)
    assert(Snapshots.read(spark, root, asOf = Some(1L)).count() == 40L)
  }

  test("readLogPruned skips files across the union; history decodes the markers") {
    import spark.implicits._
    val root = freshRoot("log_pruned")
    // three clustered, stats-carrying appends over disjoint key bands
    (0 until 3).foreach { b =>
      Snapshots.publishAppendWithStats(
        (0 until 100).map(i => (b * 100L + i, s"b$b-$i")).toDF("k", "v")
          .repartitionByRange(2, $"k").sortWithinPartitions($"k"),
        root, Seq("k"))
    }
    // one manifest-less append: its files must always be kept
    Snapshots.publishAppend(Seq((400L, "loose")).toDF("k", "v"), root)
    val pruned = Snapshots.readLogPruned(spark, root, "k", 120L, 160L)
    assert(pruned.collect().map(_.getLong(0)).toSet == (120L to 160L).toSet,
      "pruned read must equal the plain filter")
    val keptFiles = (1L to 4L).map(v =>
      graft.operators.SnapStats
        .prunedPaths(s"$root/v=$v", "k", BigDecimal(120), BigDecimal(160))
        .length)
    val allFiles = (1L to 4L).map(v =>
      graft.operators.SnapStats
        .prunedPaths(s"$root/v=$v", "k", BigDecimal(Long.MinValue),
          BigDecimal(Long.MaxValue)).length)
    assert(keptFiles.sum < allFiles.sum,
      s"manifests must drop files across the window ($keptFiles vs $allFiles)")
    assert(keptFiles.last == allFiles.last,
      "the manifest-less version must keep all its files")
    // the history surface decodes the protocol markers per version
    Snapshots.compactLog(spark, root)
    val h = Snapshots.history(spark, root).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(4))).toList
    assert(h == List((1L, true, false, true), (2L, true, false, true),
      (3L, true, false, true), (4L, true, false, false),
      (5L, true, true, false)),
      s"got $h")
  }

  test("RESTORE republishes an old state as the new latest; timestamp travel resolves by commit time") {
    import spark.implicits._
    val root = freshRoot("restore")
    Snapshots.publish(Seq((1L, "good")).toDF("k", "v"), root)
    val t1 = Snapshots.commitTimestamp(root, 1L).get
    Thread.sleep(30) // distinct commit-marker mtimes
    Snapshots.publish(Seq((1L, "bad"), (2L, "worse")).toDF("k", "v"), root)
    // timestamp travel: at t1 the table was v1
    assert(Snapshots.readAsOfTimestamp(spark, root, t1)
      .collect().map(_.getString(1)).toSeq == Seq("good"))
    assert(Snapshots.readAsOfTimestamp(spark, root, System.currentTimeMillis())
      .count() == 2L)
    intercept[RuntimeException](
      Snapshots.readAsOfTimestamp(spark, root, t1 - 1000000L))
    // restore to v1: new version, old content, history immutable
    val v3 = Snapshots.restore(spark, root, 1L)
    assert(v3 == 3L)
    assert(Snapshots.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq(1L -> "good"))
    assert(Snapshots.read(spark, root, asOf = Some(2L)).count() == 2L,
      "the bad version stays time-travelable after restore")
    // history carries the commit timestamps
    val h = Snapshots.history(spark, root).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(h.forall(!_.isNullAt(5)) &&
      h.map(_.getLong(5)).toSeq.sorted == h.map(_.getLong(5)).toSeq,
      "committed_at_ms present and monotone")
  }

  test("restoreLogMerged folds the as-of state into a new base") {
    import spark.implicits._
    val root = freshRoot("restore_log")
    Snapshots.publishAppend(
      Seq((1L, "a1"), (2L, "b1")).toDF("k", "v"), root) // v1
    Snapshots.publishAppend(Seq((1L, "a2")).toDF("k", "v"), root) // v2
    Snapshots.publishDeletes(Seq(Tuple1(2L)).toDF("k"), root) // v3: drop k=2
    assert(Snapshots.readLogMerged(spark, root, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set(1L -> "a2"))
    // restore to the state at v2: k=2 resurrected, k=1 at a2
    val v4 = Snapshots.restoreLogMerged(spark, root, "k", 2L)
    assert(v4 == 4L)
    assert(Snapshots.readLogMerged(spark, root, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set(1L -> "a2", 2L -> "b1"))
    // raw restoreLog refuses a window holding tombstones
    intercept[IllegalArgumentException](
      Snapshots.restoreLog(spark, root, 3L))
    // ...but is fine on a pre-tombstone window
    val v5 = Snapshots.restoreLog(spark, root, 2L)
    assert(Snapshots.readLog(spark, root).count() == 3L &&
      v5 == 5L, "raw as-of window folded: v1+v2 rows")
  }

  test("review fixes: asOf tombstone guard, stream horizon fence, evolved-log stream null-fill") {
    import spark.implicits._
    // (1) readLogPruned guards the window it RESOLVES: a log whose
    // CURRENT window is clean (tombstones folded away) must still
    // refuse a time-traveled window that holds the tombstone batch —
    // and tombstones after asOf must not refuse a clean window
    val mor = freshRoot("asof_guard")
    Snapshots.publishAppendWithStats(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), mor, Seq("k")) // v1
    Snapshots.publishDeletes(Seq(Tuple1(2L)).toDF("k"), mor) // v2 tombstone
    Snapshots.compactLogMerged(spark, mor, "k") // v3: clean base
    assert(Snapshots.readLogPruned(spark, mor, "k", 0L, 10L).count() == 1L,
      "current window is clean, pruned read works")
    intercept[IllegalArgumentException](
      Snapshots.readLogPruned(spark, mor, "k", 0L, 10L, asOf = Some(2L)))
    assert(Snapshots.readLogPruned(spark, mor, "k", 0L, 10L,
      asOf = Some(1L)).count() == 2L,
      "pre-tombstone as-of window is clean and readable")

    // (2) retention fences lagging streams LOUDLY: an offset below
    // the horizon fails instead of silently skipping vacuumed rows
    val fenced = freshRoot("horizon")
    (1 to 4).foreach(i => Snapshots.publishAppend(
      Seq((i.toLong, s"r$i")).toDF("k", "v"), fenced))
    assert(Snapshots.streamWindow(fenced, 2L, 4L).map(_._1) == Seq(3L, 4L))
    Snapshots.compactLogTail(spark, fenced) // v5 folds 1..4
    Snapshots.vacuumLog(fenced) // reaps raw v1..v4, fences them
    val e = intercept[IllegalArgumentException](
      Snapshots.streamWindow(fenced, 2L, 5L))
    assert(e.getMessage.contains("retention horizon"), e.getMessage)
    // a fresh stream (offset 0) reads the folded state fine
    assert(Snapshots.streamWindow(fenced, 0L, 5L).map(_._1) == Seq(5L))
    // an up-to-date stream is unaffected
    Snapshots.publishAppend(Seq((9L, "r9")).toDF("k", "v"), fenced)
    assert(Snapshots.streamWindow(fenced, 5L, 6L).map(_._1) == Seq(6L))

    // (3) a fresh graftsnap stream over a schema-EVOLVED log
    // null-fills required columns that old files lack (readLog's
    // unionByName semantics), instead of crashing executor-side
    val evo = freshRoot("evolved_stream")
    Snapshots.publishAppend(Seq(Tuple1(1L)).toDF("k"), evo)
    Snapshots.publishAppend(Seq((2L, "x")).toDF("k", "v"), evo)
    val ckpt = "/tmp/graft_snap_spec/evolved_stream_ckpt"
    LakeFs.rmTree(ckpt)
    val got = scala.collection.mutable.ArrayBuffer[(Long, Option[String])]()
    val q = spark.readStream.format("graftsnap").load(evo)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getString(1))))
        got.synchronized { got ++= rows }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.sortBy(_._1).toList ==
      List(1L -> None, 2L -> Some("x")), got.toList.toString)

    // (4) timestamp columns stream through (INT64 micros, the
    // engine's own write shape) value-exact
    val tsRoot = freshRoot("ts_stream")
    val src = Seq((1L, "2024-03-01 10:30:00.123456"),
      (2L, "2024-03-02 11:00:00")).toDF("k", "s")
      .withColumn("ts", org.apache.spark.sql.functions
        .to_timestamp($"s")).select($"k", $"ts")
    Snapshots.publishAppend(src, tsRoot)
    val ckpt2 = "/tmp/graft_snap_spec/ts_stream_ckpt"
    LakeFs.rmTree(ckpt2)
    val ts = scala.collection.mutable.ArrayBuffer[(Long, java.sql.Timestamp)]()
    val q2 = spark.readStream.format("graftsnap").load(tsRoot)
      .writeStream.option("checkpointLocation", ckpt2)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getLong(0), r.getTimestamp(1)))
        ts.synchronized { ts ++= rows }
        ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    val expected = src.collect().map(r => (r.getLong(0), r.getTimestamp(1)))
      .sortBy(_._1).toList
    assert(ts.sortBy(_._1).toList == expected, ts.toList.toString)
  }

  test("maintainLog bounds the reader window under continuous ingest") {
    import spark.implicits._
    val root = freshRoot("maintain")
    var fullFolds = 0
    var tailFolds = 0
    (1 to 30).foreach { i =>
      Snapshots.publishAppend(Seq((i.toLong, s"r$i")).toDF("k", "v"), root)
      Snapshots.maintainLog(spark, root, maxTail = 4, maxChain = 3)
        .foreach { v =>
          if (Snapshots.history(spark, root).collect()
            .exists(r => r.getLong(0) == v && r.getBoolean(2))) fullFolds += 1
          else tailFolds += 1
        }
      val window = Snapshots.readLog(spark, root)
      assert(window.count() == i.toLong, s"rows lost/duplicated at $i")
      Snapshots.vacuumLog(root)
      val dirs = LakeFs.list(root).count(_.getPath.getName.startsWith("v="))
      assert(dirs <= 4 + 3,
        s"window unbounded at step $i: $dirs version dirs")
    }
    assert(tailFolds > 0 && fullFolds > 0,
      s"both tiers must fire (tail=$tailFolds, full=$fullFolds)")
    assert(Snapshots.readLog(spark, root).select("k").distinct().count()
      == 30L)
  }

  test("lakePipe: lake-to-lake streaming pipeline, exactly-once end to end across restart") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bronze = freshRoot("pipe_bronze")
    val silver = freshRoot("pipe_silver")
    LakeFs.rmTree(bronze + "_ckpt")
    LakeFs.rmTree(silver + "_ckpt_" +
      bronze.replaceAll("[^A-Za-z0-9_-]", "-"))
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val ingest = graft.streaming.StreamOps.snapshotIngest(spark,
      ms.toDF().toDF("k"), bronze)
    def pipe() = graft.streaming.StreamOps.lakePipe(spark, bronze, silver) {
      df => df.filter(org.apache.spark.sql.functions.col("k") % 2 === 0)
        .withColumn("k2", org.apache.spark.sql.functions.col("k") * 2)
    }
    def silverKs = Snapshots.readLog(spark, silver).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the source infers its schema off the upstream table, so the
    // pipe starts after bronze's first committed version exists
    ms.addData(0L to 9L: _*); ingest.processAllAvailable()
    val p1 = pipe()
    try {
      p1.processAllAvailable()
      assert(silverKs == (0L to 9L by 2).map(k => (k, k * 2)).toSet)
      ms.addData(10L to 19L: _*); ingest.processAllAvailable()
      p1.processAllAvailable()
      assert(silverKs == (0L to 19L by 2).map(k => (k, k * 2)).toSet)
    } finally p1.stop()
    try {
      // upstream keeps ingesting while the pipe is DOWN...
      ms.addData(20L, 21L, 22L); ingest.processAllAvailable()
      // ...and an all-odd batch must advance the pipe without
      // publishing an (empty) version
      ms.addData(23L, 25L); ingest.processAllAvailable()
      val p2 = pipe()
      try {
        p2.processAllAvailable()
        assert(silverKs == (0L to 22L by 2).map(k => (k, k * 2)).toSet,
          "restarted pipe must resume exactly once, skipping empty output")
        // downstream is a first-class lake table: compaction + travel
        val sv = Snapshots.latestVersion(silver).get
        Snapshots.compactLog(spark, silver)
        ms.addData(24L); ingest.processAllAvailable()
        p2.processAllAvailable()
        assert(silverKs == (0L to 24L by 2).map(k => (k, k * 2)).toSet)
        assert(Snapshots.readLog(spark, silver, asOf = Some(sv)).count() ==
          (0L to 22L by 2).size, "silver time travel across the pipe")
      } finally p2.stop()
    } finally ingest.stop()
  }

  test("lakePipe fan-in: two pipes into one downstream root, neither swallows the other's epochs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val srcA = freshRoot("fanin_a")
    val srcB = freshRoot("fanin_b")
    val dst = freshRoot("fanin_dst")
    Seq(srcA, srcB).foreach { r =>
      LakeFs.rmTree(r + "_ckpt")
      LakeFs.rmTree(dst + "_ckpt_" + r.replaceAll("[^A-Za-z0-9_-]", "-"))
    }
    val msA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val msB = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val inA = graft.streaming.StreamOps.snapshotIngest(spark,
      msA.toDF().toDF("k"), srcA)
    val inB = graft.streaming.StreamOps.snapshotIngest(spark,
      msB.toDF().toDF("k"), srcB)
    msA.addData(1L, 2L); inA.processAllAvailable()
    msB.addData(10L, 20L); inB.processAllAvailable()
    // both pipes' FIRST batch is epoch 0 — the unscoped marker would
    // swallow whichever starts second
    val pA = graft.streaming.StreamOps.lakePipe(spark, srcA, dst)(identity)
    val pB = graft.streaming.StreamOps.lakePipe(spark, srcB, dst)(identity)
    try {
      pA.processAllAvailable(); pB.processAllAvailable()
      assert(Snapshots.readLog(spark, dst).collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 10L, 20L),
        "fan-in lost a producer's first batch")
    } finally { pA.stop(); pB.stop(); inA.stop(); inB.stop() }
  }

  test("compactLogTail folds O(tail), readers chain across tiers, vacuumLog keeps the chain") {
    import spark.implicits._
    val root = freshRoot("tiered")
    def batch(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    (0 until 3).foreach(b => Snapshots.publishAppend(
      batch(b * 10, b * 10 + 9), root)) // v1..v3
    val v4 = Snapshots.compactLogTail(spark, root) // first fold: all 30
    assert(v4 == 4L)
    assert(Snapshots.readLog(spark, root).count() == 30L)
    Snapshots.publishAppend(batch(30, 39), root) // v5
    Snapshots.publishAppend(batch(40, 49), root) // v6
    val v7 = Snapshots.compactLogTail(spark, root)
    assert(v7 == 7L)
    // THE tiered claim: the L1 fold rewrote only the tail (v5+v6),
    // never the 30 rows already folded into v4
    assert(spark.read.parquet(s"$root/v=7").count() == 20L)
    val all = Snapshots.readLog(spark, root)
    assert(all.count() == 50L &&
      all.select("k").distinct().count() == 50L,
      "chained window must union each row exactly once")
    // time travel resolves through the chain boundary
    assert(Snapshots.readLog(spark, root, asOf = Some(5L)).count() == 40L)
    assert(Snapshots.readLog(spark, root, asOf = Some(4L)).count() == 30L)
    // history decodes the fold boundaries
    val bf = Snapshots.history(spark, root).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(6)) None else Some(r.getLong(6)))).toMap
    assert(bf(4L) == Some(0L) && bf(7L) == Some(4L) && bf(5L).isEmpty)
    // a fresh stream on the chained log delivers the window once
    val ckpt = s"/tmp/graft_snap_spec/tiered_ckpt"
    LakeFs.rmTree(ckpt)
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("graftsnap").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(_.getLong(0))
        seen.synchronized { seen ++= rows }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(seen.sorted == (0L to 49L))
      // a mid-stream tail fold is a rewrite of delivered rows: skipped
      Snapshots.publishAppend(batch(50, 54), root) // v8
      q.processAllAvailable()
      Snapshots.compactLogTail(spark, root) // v9 = fold(v8)
      q.processAllAvailable()
      assert(seen.sorted == (0L to 54L), "fold must not re-deliver")
    } finally q.stop()
    // retention keeps exactly the chain {4, 7, 9}
    Snapshots.vacuumLog(root)
    assert(LakeFs.list(root).map(_.getPath.getName)
      .filter(_.startsWith("v=")).toSet == Set("v=4", "v=7", "v=9"))
    assert(Snapshots.readLog(spark, root).count() == 55L)
    // a full compaction still collapses the chain to one base
    val v10 = Snapshots.compactLog(spark, root)
    Snapshots.vacuumLog(root)
    assert(LakeFs.list(root).map(_.getPath.getName)
      .filter(_.startsWith("v=")).toSet == Set(s"v=$v10"))
    assert(Snapshots.readLog(spark, root).count() == 55L)
    // refusal: nothing above the boundary / tombstoned tail
    intercept[IllegalArgumentException](Snapshots.compactLogTail(spark, root))
    Snapshots.publishDeletes(Seq(Tuple1(0L)).toDF("k"), root)
    intercept[IllegalArgumentException](Snapshots.compactLogTail(spark, root))
  }

  test("graftsnap stream tails the log exactly once, skipping compaction bases and tombstones") {
    import spark.implicits._
    val root = freshRoot("stream_src")
    val ckpt = s"/tmp/graft_snap_spec/stream_src_ckpt"
    LakeFs.rmTree(ckpt)
    def batch(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    Snapshots.publishAppend(batch(0, 9), root)
    Snapshots.publishAppend(batch(10, 19), root)

    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def start() = spark.readStream.format("graftsnap").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getLong(0), r.getString(1)))
        seen.synchronized { seen ++= rows }
        ()
      }.start()

    val q = start()
    try {
      q.processAllAvailable()
      assert(seen.sorted == (0 to 19).map(i => (i.toLong, s"r$i")),
        "initial batch must deliver both committed versions once")
      // publish mid-stream through both publish entry points
      Snapshots.publishAppend(batch(20, 29), root)
      Snapshots.publish(batch(30, 39), root)
      q.processAllAvailable()
      assert(seen.sorted == (0 to 39).map(i => (i.toLong, s"r$i")),
        "mid-stream versions must arrive exactly once")
      // a compaction base is a rewrite of already-streamed rows: skipped
      Snapshots.compactLog(spark, root)
      // a tombstone key-batch is a delete marker, not data: skipped
      Snapshots.publishDeletes(Seq(Tuple1(0L)).toDF("k"), root)
      Snapshots.publishAppend(batch(40, 44), root)
      q.processAllAvailable()
      assert(seen.sorted == (0 to 44).map(i => (i.toLong, s"r$i")),
        "compaction + tombstone must not re-deliver or add rows")
    } finally q.stop()

    // restart from the same checkpoint: only NEW versions replay
    seen.clear()
    Snapshots.publishAppend(batch(45, 49), root)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.sorted == (45 to 49).map(i => (i.toLong, s"r$i")),
        "restart must resume at the checkpointed version, not re-read")
    } finally q2.stop()

    // a FRESH stream on the compacted log: base delivered once as the
    // initial snapshot, with column pruning pushed into record assembly
    val ckpt2 = s"/tmp/graft_snap_spec/stream_src_ckpt2"
    LakeFs.rmTree(ckpt2)
    val ks = scala.collection.mutable.ArrayBuffer[Long]()
    val q3 = spark.readStream.format("graftsnap").load(root)
      .select($"k")
      .writeStream.option("checkpointLocation", ckpt2)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(_.getLong(0))
        ks.synchronized { ks ++= rows }
        ()
      }.start()
    try {
      q3.processAllAvailable()
      assert(ks.sorted == (0L to 49L),
        "fresh stream = newest base + later appends, exactly once")
    } finally q3.stop()
  }

  test("shallow clone: zero-copy reads, copy-on-write divergence, source retention pinned") {
    import spark.implicits._
    val src = freshRoot("clone_src")
    val dst = freshRoot("clone_dst")
    Snapshots.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), src)
    Snapshots.publish(Seq((1L, "a2")).toDF("k", "v"), src)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

    // clone v1 (as-of) — reads resolve to the SOURCE's files
    val cv = Snapshots.cloneTable(spark, src, dst, asOf = Some(1L))
    assert(cv == 1L)
    assert(rows(Snapshots.read(spark, dst)) == Set(1L -> "a", 2L -> "b"))
    // shallow: the clone dir holds NO parquet data of its own
    assert(LakeFs.list(s"$dst/v=1").forall(st =>
      !st.getPath.getName.endsWith(".parquet")), "clone copied data")
    // history surfaces the clone
    assert(Snapshots.history(spark, dst).filter("shallow_clone")
      .count() == 1L)

    // copy-on-write divergence: a publish to the clone never touches src
    Snapshots.publish(Seq((9L, "z")).toDF("k", "v"), dst)
    assert(rows(Snapshots.read(spark, dst)) == Set(9L -> "z"))
    assert(rows(Snapshots.read(spark, src)) == Set(1L -> "a2"))
    assert(rows(Snapshots.read(spark, dst, asOf = Some(1L)))
      == Set(1L -> "a", 2L -> "b"), "clone version stays travelable")

    // the clone pinned src v=1 with a tag, so retention keeps it
    Snapshots.vacuum(src, keep = 1)
    assert(rows(Snapshots.read(spark, dst, asOf = Some(1L)))
      == Set(1L -> "a", 2L -> "b"), "source vacuum broke the clone")

    // re-cloning the same state reuses the pin (idempotent tag)
    val dst2 = freshRoot("clone_dst2")
    Snapshots.cloneTable(spark, src, dst2)
    Snapshots.cloneTable(spark, src, freshRoot("clone_dst2b"))
    assert(rows(Snapshots.read(spark, dst2)) == Set(1L -> "a2"))
  }

  test("shallow clone of an append log: window flattened, graftsnap reads it, MoR refused") {
    import spark.implicits._
    val src = freshRoot("clonelog_src")
    val dst = freshRoot("clonelog_dst")
    Snapshots.publishAppend(Seq((1L, "a")).toDF("k", "v"), src)
    Snapshots.publishAppend(Seq((2L, "b")).toDF("k", "v"), src)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Snapshots.cloneLog(spark, src, dst)
    assert(rows(Snapshots.read(spark, dst)) == Set(1L -> "a", 2L -> "b"))
    // the clone is a full-state base: appends on top of it union
    Snapshots.publishAppend(Seq((3L, "c")).toDF("k", "v"), dst)
    assert(rows(Snapshots.readLog(spark, dst))
      == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // the graftsnap batch connector resolves clone versions natively
    assert(rows(spark.read.format("graftsnap").load(dst))
      == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // source compaction + retention cannot dangle the clone: the tag
    // pins the cloned window
    Snapshots.compactLog(spark, src)
    Snapshots.vacuumLog(src)
    assert(rows(Snapshots.read(spark, dst, asOf = Some(1L)))
      == Set(1L -> "a", 2L -> "b"), "source vacuumLog broke the clone")
    // merge-on-read windows are refused (a clone flattens the union)
    val mor = freshRoot("clonelog_mor")
    Snapshots.publishAppend(Seq((1L, "a")).toDF("k", "v"), mor)
    Snapshots.publishDeletes(Seq(1L).toDF("k"), mor)
    intercept[IllegalArgumentException](
      Snapshots.cloneLog(spark, mor, freshRoot("clonelog_mor_dst")))

    // OPTIMIZE materializes: compacting the CLONE root folds the
    // pointer window into real local files — after it, the clone
    // owns its data and the source pin is the only remaining tie
    Snapshots.compactLog(spark, dst)
    assert(rows(Snapshots.read(spark, dst))
      == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    val latest = Snapshots.latestVersion(dst).get
    assert(LakeFs.list(s"$dst/v=$latest").exists(st =>
      st.getPath.getName.endsWith(".parquet")),
      "compaction did not materialize the clone")
  }

  test("DESCRIBE DETAIL summarizes versions, files, bytes, and pins") {
    import spark.implicits._
    val root = freshRoot("detail")
    Snapshots.publishAppend(Seq((1L, "a")).toDF("k", "v"), root)
    Snapshots.publishAppend(Seq((2L, "b"), (3L, "c")).toDF("k", "v"), root)
    Snapshots.tag(root, "rel1", 1L)
    val d = Snapshots.detail(spark, root).collect()(0)
    assert(d.getAs[Long]("latest_version") == 2L)
    assert(d.getAs[Long]("n_committed") == 2L)
    assert(d.getAs[Long]("n_torn") == 0L)
    assert(d.getAs[Long]("window_versions") == 2L)
    assert(d.getAs[Long]("n_data_files") >= 2L)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Long]("n_tags") == 1L)
    assert(!d.getAs[Boolean]("has_tombstones"))
    // a clone root reports its SOURCE bytes through the resolver
    val dst = freshRoot("detail_clone")
    Snapshots.cloneLog(spark, root, dst)
    val cd = Snapshots.detail(spark, dst).collect()(0)
    assert(cd.getAs[Long]("n_clone_versions") == 1L)
    assert(cd.getAs[Long]("size_bytes") == d.getAs[Long]("size_bytes"))
    // an EMPTY (never-published) table answers with a zero row, not
    // a "no committed snapshot" failure (ADVICE r13)
    val e = Snapshots.detail(spark, freshRoot("detail_empty")).collect()(0)
    assert(e.getAs[Long]("latest_version") == 0L)
    assert(e.getAs[Long]("n_committed") == 0L)
    assert(e.getAs[Long]("size_bytes") == 0L)
  }

  test("position deletes: keyless MoR point deletes equal the copy-on-write rewrite; fold, travel, guards") {
    import spark.implicits._
    val root = freshRoot("posdel")
    // a KEYLESS raw log (no merge key — exactly where key tombstones
    // cannot reach), two appended batches
    Snapshots.publishAppend(
      (1L to 5L).map(i => (i, s"r$i")).toDF("k", "v"), root)
    Snapshots.publishAppend(
      (6L to 10L).map(i => (i, s"r$i")).toDF("k", "v"), root)
    def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq

    // address the doomed rows positionally and publish the vector
    val pos = Snapshots.readLogPos(spark, root)
    assert(pos.columns.toSeq.takeRight(2) == Seq("_file", "_pos"))
    val dv = Snapshots.publishPositionDeletes(
      pos.filter(org.apache.spark.sql.functions.col("k").isin(2L, 7L, 9L))
        .select(org.apache.spark.sql.functions.col("_file"), org.apache.spark.sql.functions.col("_pos")), root)
    assert(dv == 3L)
    assert(ks(Snapshots.readLogDv(spark, root))
      == Seq(1L, 3L, 4L, 5L, 6L, 8L, 10L))
    // schema out = data schema, no address columns
    assert(Snapshots.readLogDv(spark, root).columns.toSeq == Seq("k", "v"))

    // COPY-ON-WRITE EQUALITY: the DV read equals the full rewrite
    val cow = freshRoot("posdel_cow")
    Snapshots.publish(
      (1L to 10L).filterNot(Set(2L, 7L, 9L))
        .map(i => (i, s"r$i")).toDF("k", "v"), cow)
    assert(Snapshots.readLogDv(spark, root)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Snapshots.read(spark, cow)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet,
      "deletion-vector read must equal the copy-on-write rewrite")

    // time travel BEFORE the delete batch resurfaces the rows; a
    // second vector composes; double-deleting a position is idempotent
    assert(ks(Snapshots.readLogDv(spark, root, asOf = Some(2L)))
      == (1L to 10L))
    Snapshots.publishPositionDeletes(
      pos.filter(org.apache.spark.sql.functions.col("k").isin(2L, 4L)) // k=2 again + k=4
        .select(org.apache.spark.sql.functions.col("_file"), org.apache.spark.sql.functions.col("_pos")), root)
    assert(ks(Snapshots.readLogDv(spark, root))
      == Seq(1L, 3L, 5L, 6L, 8L, 10L))

    // guards: raw folds, keyed merge, graftsnap batch, stream all
    // refuse or skip the vector batches
    intercept[IllegalArgumentException](Snapshots.compactLog(spark, root))
    intercept[IllegalArgumentException](
      Snapshots.readLogMerged(spark, root, "k"))
    intercept[IllegalArgumentException](
      spark.read.format("graftsnap").load(root).collect())
    val ckpt = freshRoot("posdel_ckpt")
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("graftsnap").load(root).select($"k")
      .writeStream.option("checkpointLocation", s"$ckpt/c")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= df.collect().map(_.getLong(0)) }; ()
      }.start()
    try { q.processAllAvailable() } finally q.stop()
    assert(got.sorted.toSeq == (1L to 10L),
      "the stream tails the RAW appends and must skip vector batches")

    // compactLogDv folds the vectors into a plain base: raw readers
    // and the DV reader agree afterwards, and the fold is travelable
    val base = Snapshots.compactLogDv(spark, root)
    assert(ks(Snapshots.readLog(spark, root))
      == Seq(1L, 3L, 5L, 6L, 8L, 10L))
    assert(ks(Snapshots.readLogDv(spark, root))
      == Seq(1L, 3L, 5L, 6L, 8L, 10L))
    assert(ks(Snapshots.readLogDv(spark, root, asOf = Some(base - 1)))
      == Seq(1L, 3L, 5L, 6L, 8L, 10L))
  }

  test("dropClonePins releases exactly the abandoned clone's source pins") {
    import spark.implicits._
    val src = freshRoot("pin_src")
    Snapshots.publish(Seq((1L, "a")).toDF("k", "v"), src)
    Snapshots.publish(Seq((2L, "b")).toDF("k", "v"), src)
    val dstA = freshRoot("pin_dst_a")
    val dstB = freshRoot("pin_dst_b")
    Snapshots.cloneTable(spark, src, dstA, asOf = Some(1L))
    Snapshots.cloneTable(spark, src, dstB)
    assert(Snapshots.tags(src).size == 2)
    // abandon A: its pin goes, B's stays (prefix match is exact)
    LakeFs.rmTree(dstA)
    assert(Snapshots.dropClonePins(src, dstA) == 1)
    val left = Snapshots.tags(src)
    assert(left.size == 1 && left.values.toSeq == Seq(2L),
      s"B's pin must survive: $left")
    // idempotent; and with B's pin dropped too, vacuum can finally
    // reap v=1 (the retention leak the pin release exists to close)
    assert(Snapshots.dropClonePins(src, dstA) == 0)
    LakeFs.rmTree(dstB)
    assert(Snapshots.dropClonePins(src, dstB) == 1)
    Snapshots.vacuum(src, keep = 1)
    assert(Snapshots.versionAtTimestamp(src, Long.MaxValue) == 2L)
    assert(!LakeFs.exists(s"$src/v=1"), "vacuum kept the unpinned v=1")
  }

}
