package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeFs, Snapshots}

/** The SQL catalog over the snapshot lake (sources.GraftCatalog):
  * CREATE/INSERT/SELECT, VERSION AS OF / TIMESTAMP AS OF time travel,
  * flavor semantics, programmatic interop, and the plan shape (the
  * scan must be Spark's vectorized parquet scan with pushdown, not a
  * row-decoding custom reader). */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.lake",
      "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.lake.root", Root)
    s
  }

  private val Root = "/tmp/graft_catalog_spec"

  private def fresh(name: String): String = {
    val p = s"$Root/$name"
    LakeFs.rmTree(p)
    p
  }

  test("CREATE / INSERT INTO / SELECT on a log table; window unions; OVERWRITE replaces") {
    fresh("t1")
    spark.sql("CREATE TABLE lake.t1 (k BIGINT, v STRING)")
    // empty created table: SELECT answers 0 rows with the declared schema
    val empty = spark.sql("SELECT * FROM lake.t1")
    assert(empty.columns.toSeq == Seq("k", "v") && empty.count() == 0L)
    spark.sql("INSERT INTO lake.t1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO lake.t1 VALUES (3, 'c')")
    def rows(sql: String): Set[(Long, String)] =
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows("SELECT * FROM lake.t1")
      == Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "log flavor SELECT = reader-window union")
    // each INSERT INTO landed as one committed version; time travel
    assert(Snapshots.latestVersion(s"$Root/t1").contains(2L))
    assert(rows("SELECT * FROM lake.t1 VERSION AS OF 1")
      == Set(1L -> "a", 2L -> "b"))
    // TIMESTAMP AS OF through the commit-time resolution
    val t1 = Snapshots.commitTimestamp(s"$Root/t1", 1L).get
    assert(rows(s"SELECT * FROM lake.t1 TIMESTAMP AS OF " +
      s"timestamp_millis(${t1})") == Set(1L -> "a", 2L -> "b"))
    // INSERT OVERWRITE = publishReplace: window collapses, history stays
    spark.sql("INSERT OVERWRITE lake.t1 VALUES (9, 'z')")
    assert(rows("SELECT * FROM lake.t1") == Set(9L -> "z"))
    assert(rows("SELECT * FROM lake.t1 VERSION AS OF 2")
      == Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "overwrite must keep history travelable")
    // the SQL table IS a Snapshots root — programmatic readers agree
    assert(Snapshots.readLog(spark, s"$Root/t1").count() == 1L)
  }

  test("snapshot flavor: SELECT reads latest only; INSERT INTO is CAS append; programmatic interop") {
    fresh("t2")
    spark.sql("CREATE TABLE lake.t2 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('flavor'='snapshot')")
    spark.sql("INSERT INTO lake.t2 VALUES (1, 'a')")
    spark.sql("INSERT INTO lake.t2 VALUES (2, 'b')")
    def rows(sql: String): Set[(Long, String)] =
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows("SELECT * FROM lake.t2") == Set(1L -> "a", 2L -> "b"),
      "snapshot INSERT INTO = current ∪ new, published whole")
    assert(rows("SELECT * FROM lake.t2 VERSION AS OF 1") == Set(1L -> "a"))
    // an INSERT INTO failing inside its write job leaves a torn v=3 and
    // blocks no later INSERT INTO
    intercept[Exception](spark.sql("INSERT INTO lake.t2 SELECT " +
      "IF(id > 1, CAST(raise_error('boom') AS BIGINT), id), 'x' FROM range(4)"))
    assert(LakeFs.isDir(s"$Root/t2/v=3"))
    spark.sql("INSERT INTO lake.t2 VALUES (3, 'c')")
    assert(rows("SELECT * FROM lake.t2") == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // a programmatic publish is immediately visible through SQL
    import spark.implicits._
    Snapshots.publish(Seq((7L, "p")).toDF("k", "v"), s"$Root/t2")
    assert(rows("SELECT * FROM lake.t2") == Set(7L -> "p"))
    // and a bare programmatic root (no CREATE TABLE ever) is queryable
    val raw = fresh("raw")
    Snapshots.publishAppend(Seq((1L, "x")).toDF("k", "v"), raw)
    Snapshots.publishAppend(Seq((2L, "y")).toDF("k", "v"), raw)
    assert(rows("SELECT * FROM lake.raw") == Set(1L -> "x", 2L -> "y"),
      "zero-migration: an existing snapshot root is a catalog table")
    // a root of FULL-STATE versions must be registered as snapshot —
    // the unregistered log default would union (double-count) it
    val rawSnap = fresh("rawsnap")
    Snapshots.publish(Seq((1L, "x"), (2L, "y")).toDF("k", "v"), rawSnap)
    Snapshots.publish(Seq((1L, "x2"), (2L, "y")).toDF("k", "v"), rawSnap)
    graft.sources.GraftCatalog.register(rawSnap, "snapshot")
    assert(rows("SELECT * FROM lake.rawsnap") == Set(1L -> "x2", 2L -> "y"),
      "registered snapshot root must read latest state only")
  }

  test("plan shape: catalog scans are vectorized parquet with pushdown; writes to time travel refuse; MoR refuses") {
    fresh("t3")
    spark.sql("CREATE TABLE lake.t3 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.t3 VALUES (1, 'a'), (2, 'b')")
    val df = spark.sql("SELECT k FROM lake.t3 WHERE k > 1")
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,1)]"),
      s"filters must reach the parquet scan:\n$s")
    assert(plan.exists(_.supportsColumnar),
      s"catalog scan must be columnar (vectorized parquet):\n$s")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // time-travel relations are read-only
    val e = intercept[Exception](
      spark.sql("INSERT INTO lake.t3 VERSION AS OF 1 VALUES (9, 'z')"))
    assert(e.getMessage != null)
    // a tombstoned (merge-on-read) window refuses the raw SQL union
    import spark.implicits._
    val mor = fresh("mor")
    Snapshots.publishAppend(Seq((1L, "a")).toDF("k", "v"), mor)
    Snapshots.publishDeletes(Seq(1L).toDF("k"), mor)
    val e2 = intercept[Exception](spark.sql("SELECT * FROM lake.mor").collect())
    assert(e2.getMessage.contains("readLogMerged"),
      s"MoR window must refuse with the merge-read hint: ${e2.getMessage}")
  }

  test("SQL DELETE and TRUNCATE ride the snapshot protocol with travelable history") {
    fresh("t4")
    spark.sql("CREATE TABLE lake.t4 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.t4 VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    // filter-based DSv2 delete: the condition must live in the v1
    // Filter algebra (IN/ranges/string ops/bool combos — arithmetic
    // like k % 2 = 0 is correctly refused at analysis, not mis-run)
    spark.sql("DELETE FROM lake.t4 WHERE k IN (2, 4)")
    def ks(sql: String): Seq[Long] =
      spark.sql(sql).collect().map(_.getLong(0)).sorted.toSeq
    assert(ks("SELECT k FROM lake.t4") == Seq(1L, 3L))
    // the delete is one committed version; pre-delete state travels
    assert(ks("SELECT k FROM lake.t4 VERSION AS OF 1")
      == Seq(1L, 2L, 3L, 4L))
    // NULL conditions keep rows (SQL semantics): delete WHERE v='c'
    // on a row set containing a null v
    spark.sql("INSERT INTO lake.t4 VALUES (9, NULL)")
    spark.sql("DELETE FROM lake.t4 WHERE v = 'c'")
    assert(ks("SELECT k FROM lake.t4") == Seq(1L, 9L))
    // a SQL DELETE composes with prior POSITIONAL deletes: it folds
    // the vectors while applying the filter
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dvRoot = s"$Root/t4dv"; fresh("t4dv")
    graft.operators.Snapshots.publishAppend(
      (1L to 6L).map(i => (i, s"r$i")).toDF("k", "v"), dvRoot)
    val pos = graft.operators.Snapshots.readLogPos(spark, dvRoot)
    graft.operators.Snapshots.publishPositionDeletes(
      pos.filter(col("k") === 2L).select(col("_file"), col("_pos")), dvRoot)
    spark.sql("DELETE FROM lake.t4dv WHERE k >= 5")
    assert(ks("SELECT k FROM lake.t4dv") == Seq(1L, 3L, 4L))
    // TRUNCATE publishes an empty travelable version
    spark.sql("TRUNCATE TABLE lake.t4")
    assert(spark.sql("SELECT * FROM lake.t4").count() == 0L)
    assert(ks("SELECT k FROM lake.t4 VERSION AS OF 1")
      == Seq(1L, 2L, 3L, 4L))
  }

  test("SQL UPDATE: expression assignments, pre-update RHS, NULL-keeps, travelable history, DV fold") {
    fresh("t6")
    spark.sql("CREATE TABLE lake.t6 (k BIGINT, v STRING, p DOUBLE)")
    spark.sql(
      "INSERT INTO lake.t6 VALUES (1,'a',1.0), (2,'b',2.0), (3,NULL,3.0)")
    // arbitrary expressions (beyond the DELETE Filter algebra), RHS
    // reads the PRE-update row, NULL condition keeps the row
    spark.sql(
      "UPDATE lake.t6 SET v = concat(v, '!'), p = p * 10 WHERE v < 'c'")
    def all(sql: String): Set[(Long, String, Double)] =
      spark.sql(sql).collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).orNull,
          r.getDouble(2))).toSet
    assert(all("SELECT * FROM lake.t6")
      == Set((1L, "a!", 10.0), (2L, "b!", 20.0), (3L, null, 3.0)),
      "NULL v < 'c' is not TRUE — row 3 must stay unchanged")
    // the update is ONE committed version; pre-update state travels
    assert(all("SELECT * FROM lake.t6 VERSION AS OF 1")
      == Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, null, 3.0)))
    // (UPDATE has no VERSION AS OF grammar — the prepare() travel
    // guard is defensive; the write-path refusal is pinned by the
    // INSERT INTO … VERSION AS OF case above)
    // an UPDATE over a deletion-vector window folds the vectors first
    // (the SQL DELETE rule) and then applies — one discipline per op
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dvRoot = s"$Root/t6dv"; fresh("t6dv")
    Snapshots.publishAppend(
      (1L to 4L).map(i => (i, s"r$i")).toDF("k", "v"), dvRoot)
    val pos = Snapshots.readLogPos(spark, dvRoot)
    Snapshots.publishPositionDeletes(
      pos.filter(col("k") === 2L).select(col("_file"), col("_pos")), dvRoot)
    spark.sql("UPDATE lake.t6dv SET v = upper(v) WHERE k >= 3")
    assert(spark.sql("SELECT v FROM lake.t6dv").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("R3", "R4", "r1"),
      "DV-deleted row 2 must not resurface through the update")
  }

  test("SQL MERGE INTO: matched update/delete, insert, not-matched-by-source, star forms, ambiguity errors") {
    fresh("t7")
    spark.sql("CREATE TABLE lake.t7 (k BIGINT, v STRING, p DOUBLE)")
    spark.sql(
      "INSERT INTO lake.t7 VALUES (1,'a',1.0), (2,'b',2.0), (3,'c',3.0)")
    spark.sql(
      """MERGE INTO lake.t7 t
        |USING (SELECT * FROM VALUES (2,'m',9.0), (4,'n',4.0), (3,'x',0.0)
        |       AS src(k, v, p)) src
        |ON t.k = src.k
        |WHEN MATCHED AND src.v = 'x' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = src.v, p = src.p
        |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (src.k, src.v, src.p)
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'orphan'
        |""".stripMargin)
    def all(sql: String): Set[(Long, String, Double)] =
      spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(all("SELECT * FROM lake.t7") == Set(
      (1L, "orphan", 1.0), // not matched by source → update
      (2L, "m", 9.0),      // matched → update
      (4L, "n", 4.0)),     // not matched → insert; 3 matched 'x' → delete
      "all four merge branches must apply")
    // the merge is ONE committed version; pre-merge state travels
    assert(all("SELECT * FROM lake.t7 VERSION AS OF 1")
      == Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    // star forms (analyzer-expanded) ride the same path
    spark.sql(
      """MERGE INTO lake.t7 t
        |USING (SELECT * FROM VALUES (4,'N',44.0), (9,'i',9.0)
        |       AS src(k, v, p)) src
        |ON t.k = src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assert(all("SELECT * FROM lake.t7") == Set(
      (1L, "orphan", 1.0), (2L, "m", 9.0), (4L, "N", 44.0), (9L, "i", 9.0)))
    // SQL-standard cardinality: >1 source matches per target row errors
    val e = intercept[Exception](spark.sql(
      """MERGE INTO lake.t7 t
        |USING (SELECT * FROM VALUES (2,'y',0.0), (2,'z',0.0)
        |       AS src(k, v, p)) src
        |ON t.k = src.k
        |WHEN MATCHED THEN UPDATE SET v = src.v
        |""".stripMargin))
    assert(e.getMessage.contains("MERGE ambiguity"),
      s"duplicate source matches must error: ${e.getMessage}")
    // MERGE into an EMPTY created table: pure insert bootstrap
    fresh("t8")
    spark.sql("CREATE TABLE lake.t8 (k BIGINT, v STRING)")
    spark.sql(
      """MERGE INTO lake.t8 t
        |USING (SELECT * FROM VALUES (1,'a'), (2,'b') AS src(k, v)) src
        |ON t.k = src.k
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assert(spark.sql("SELECT k FROM lake.t8").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("CTAS: CREATE TABLE AS SELECT lands as declared schema + one committed version") {
    fresh("t5")
    spark.sql("CREATE TABLE lake.t5 AS " +
      "SELECT id AS k, CAST(id * 2 AS STRING) AS v FROM range(5)")
    val rows = spark.sql("SELECT k, v FROM lake.t5").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == (0L until 5L).map(i => (i, (i * 2).toString)).toSet)
    assert(graft.operators.Snapshots.latestVersion(s"$Root/t5")
      .contains(1L), "CTAS = create + one INSERT version")
    // and the created metadata survives a catalog round-trip
    assert(spark.sql("SELECT * FROM lake.t5 VERSION AS OF 1").count() == 5L)
  }

  test("maintenance SQL: OPTIMIZE, VACUUM, DESCRIBE HISTORY/DETAIL map 1:1 onto the programmatic API") {
    fresh("m1")
    spark.sql("CREATE TABLE lake.m1 (k BIGINT, x DOUBLE, y DOUBLE)")
    (1 to 3).foreach(i => spark.sql(
      s"INSERT INTO lake.m1 SELECT id + ${i * 100}, CAST(id AS DOUBLE), " +
        s"CAST(id * 2 AS DOUBLE) FROM range(10)"))
    // DESCRIBE HISTORY: SQL output == Snapshots.history (schema pinned
    // equal so drift fails loudly) — 3 committed versions
    val hist = spark.sql("DESCRIBE HISTORY lake.m1")
    assert(hist.schema == Snapshots.history(spark, s"$Root/m1").schema,
      "SQL history schema must match the programmatic frame")
    assert(hist.collect().length == 3)
    // OPTIMIZE ZORDER BY: one committed base version with stats
    val opt = spark.sql("OPTIMIZE lake.m1 ZORDER BY (x, y)").collect()
    assert(opt.head.getLong(1) == 4L &&
      opt.head.getString(2) == "zorder(x,y)")
    assert(spark.sql("SELECT COUNT(*) FROM lake.m1").head.getLong(0) == 30L,
      "optimize must not change table content")
    // DESCRIBE DETAIL: window collapsed to the base
    val det = spark.sql("DESC DETAIL lake.m1")
    assert(det.schema == Snapshots.detail(spark, s"$Root/m1").schema)
    val d = det.collect().head
    assert(d.getLong(0) == 4L && d.getLong(3) == 1L,
      s"after OPTIMIZE the reader window must be 1 version: $d")
    // VACUUM (log flavor): reaps below the window, content intact
    spark.sql("VACUUM lake.m1")
    assert(spark.sql("SELECT COUNT(*) FROM lake.m1").head.getLong(0) == 30L)
    assert(spark.sql("DESCRIBE HISTORY lake.m1").collect().length == 1,
      "vacuum must reap the subsumed versions")
    // RETAIN refuses on log flavor (the window IS the retention unit)
    val e = intercept[Exception](
      spark.sql("VACUUM lake.m1 RETAIN 2 VERSIONS"))
    assert(e.getMessage.contains("reader window"))
    // snapshot flavor: RETAIN keeps newest n
    fresh("m2")
    spark.sql("CREATE TABLE lake.m2 (k BIGINT) " +
      "TBLPROPERTIES ('flavor'='snapshot')")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT OVERWRITE lake.m2 VALUES ($i)"))
    spark.sql("VACUUM lake.m2 RETAIN 2 VERSIONS")
    assert(spark.sql("DESCRIBE HISTORY lake.m2").collect().length == 2)
    assert(spark.sql("SELECT k FROM lake.m2").head.getLong(0) == 3L)
    // OPTIMIZE refuses on snapshot flavor; plain DESCRIBE still parses
    intercept[Exception](spark.sql("OPTIMIZE lake.m2"))
    assert(spark.sql("DESCRIBE lake.m2").collect()
      .map(_.getString(0)).contains("k"),
      "standard DESCRIBE must still reach Spark's parser")
  }

  test("streaming through the catalog: readStream.table tails the log, writeStream.toTable appends versions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    fresh("s1"); fresh("s2")
    spark.sql("CREATE TABLE lake.s1 (k BIGINT, v STRING)")
    spark.sql("CREATE TABLE lake.s2 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.s1 VALUES (1, 'a'), (2, 'b')")
    // readStream.table → the graftsnap commit-log tail, feeding
    // writeStream.toTable → staged-epoch committed versions: the
    // whole lake-to-lake hop in table names, no paths
    val ck = s"$Root/_ck_s1"; LakeFs.rmTree(ck)
    val q = spark.readStream.table("lake.s1")
      .filter(col("k") =!= 99L)
      .writeStream.option("checkpointLocation", ck)
      .toTable("lake.s2")
    try {
      q.processAllAvailable()
      // a second upstream INSERT is one more committed version — the
      // tail delivers exactly the delta
      spark.sql("INSERT INTO lake.s1 VALUES (3, 'c'), (99, 'x')")
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql("SELECT k FROM lake.s2").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "both upstream versions must land, filtered, exactly once")
    assert(Snapshots.latestVersion(s"$Root/s2").exists(_ >= 2L),
      "each epoch publishes one committed version")
    // snapshot flavor refuses both streaming directions with hints
    fresh("s3")
    spark.sql("CREATE TABLE lake.s3 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('flavor'='snapshot')")
    spark.sql("INSERT INTO lake.s3 VALUES (1, 'a')")
    val ck2 = s"$Root/_ck_s3"; LakeFs.rmTree(ck2)
    val e = intercept[Exception] {
      val bad = spark.readStream.table("lake.s3")
        .writeStream.option("checkpointLocation", ck2)
        .format("noop").start()
      try bad.processAllAvailable() finally bad.stop()
    }
    assert(e.getMessage.contains("tail the upstream log"),
      s"snapshot-flavor streaming read must refuse: ${e.getMessage}")
    // MemoryStream → toTable(catalog) for a second writer shape
    fresh("s4")
    spark.sql("CREATE TABLE lake.s4 (v BIGINT)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    val ck3 = s"$Root/_ck_s4"; LakeFs.rmTree(ck3)
    val q2 = ms.toDF().withColumnRenamed("value", "v")
      .writeStream.option("checkpointLocation", ck3)
      .toTable("lake.s4")
    try {
      ms.addData(1L, 2L); q2.processAllAvailable()
      ms.addData(3L); q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.sql("SELECT v FROM lake.s4").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("ALTER TABLE ADD COLUMN: metadata-only evolution, null-fill, next INSERT carries the shape") {
    fresh("a1")
    spark.sql("CREATE TABLE lake.a1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.a1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE lake.a1 ADD COLUMN score DOUBLE")
    // no data moved: still one committed version; old rows null-fill
    assert(Snapshots.latestVersion(s"$Root/a1").contains(1L),
      "ADD COLUMN must be metadata-only (no new version)")
    val rows = spark.sql("SELECT k, v, score FROM lake.a1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", None)))
    // the next INSERT writes the evolved shape; the window union
    // resolves the mixed-schema versions
    spark.sql("INSERT INTO lake.a1 VALUES (3, 'c', 0.5)")
    val r3 = spark.sql("SELECT score FROM lake.a1 WHERE k = 3").head
    assert(r3.getDouble(0) == 0.5)
    assert(spark.sql("SELECT * FROM lake.a1").count() == 3L)
    // UPDATE can backfill the new column
    spark.sql("UPDATE lake.a1 SET score = CAST(k AS DOUBLE) " +
      "WHERE score IS NULL")
    assert(spark.sql("SELECT SUM(score) FROM lake.a1").head.getDouble(0)
      == 3.5)
    // guards: NOT NULL adds and retypes refuse
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.a1 ADD COLUMN bad BIGINT NOT NULL"))
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.a1 ALTER COLUMN k TYPE INT"))
    // duplicate add refuses
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.a1 ADD COLUMN score DOUBLE"))
  }

  test("RENAME/DROP COLUMN: copy-on-write rewrite, metadata-only when never materialized, guards") {
    fresh("a2")
    spark.sql("CREATE TABLE lake.a2 (k BIGINT, v STRING, x DOUBLE)")
    spark.sql("INSERT INTO lake.a2 VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    // rename = ONE copy-on-write version; data follows the new name
    spark.sql("ALTER TABLE lake.a2 RENAME COLUMN v TO label")
    assert(Snapshots.latestVersion(s"$Root/a2").contains(2L),
      "rename must publish exactly one rewrite version")
    assert(spark.sql("SELECT label FROM lake.a2 ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // history below the rewrite keeps the old physical shape
    assert(spark.sql("SELECT * FROM lake.a2 VERSION AS OF 1")
      .columns.contains("v"),
      "time travel must read what the old version physically was")
    // drop = one more rewrite version
    spark.sql("ALTER TABLE lake.a2 DROP COLUMN x")
    assert(spark.sql("SELECT * FROM lake.a2").columns.toSeq
      == Seq("k", "label"))
    assert(Snapshots.latestVersion(s"$Root/a2").contains(3L))
    // the next INSERT carries the new shape; the window composes
    spark.sql("INSERT INTO lake.a2 VALUES (3, 'c')")
    assert(spark.sql("SELECT * FROM lake.a2").count() == 3L)
    // a declared-only column (ADD COLUMN never materialized) does
    // column surgery METADATA-ONLY — no rewrite at any table size
    spark.sql("ALTER TABLE lake.a2 ADD COLUMN tmp DOUBLE")
    val vBefore = Snapshots.latestVersion(s"$Root/a2").get
    spark.sql("ALTER TABLE lake.a2 RENAME COLUMN tmp TO tmp2")
    assert(spark.sql("SELECT * FROM lake.a2").columns.contains("tmp2"))
    spark.sql("ALTER TABLE lake.a2 DROP COLUMN tmp2")
    assert(Snapshots.latestVersion(s"$Root/a2").contains(vBefore),
      "declared-only surgery must not publish versions")
    // guards: name collision, missing column, IF EXISTS no-op
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.a2 RENAME COLUMN label TO k"))
    intercept[Exception](spark.sql("ALTER TABLE lake.a2 DROP COLUMN nope"))
    spark.sql("ALTER TABLE lake.a2 DROP COLUMN IF EXISTS nope")
    // a CHECK referencing the column blocks surgery until dropped
    spark.sql("ALTER TABLE lake.a2 ADD CONSTRAINT pos CHECK (k > 0)")
    intercept[Exception](spark.sql(
      "ALTER TABLE lake.a2 RENAME COLUMN k TO kk"))
    intercept[Exception](spark.sql("ALTER TABLE lake.a2 DROP COLUMN k"))
    spark.sql("ALTER TABLE lake.a2 DROP CONSTRAINT pos")
    spark.sql("ALTER TABLE lake.a2 RENAME COLUMN k TO kk")
    assert(spark.sql("SELECT SUM(kk) FROM lake.a2").head.getLong(0) == 6L)
  }

  test("column surgery on partitioned and snapshot-flavor tables") {
    // partitioned: renaming the partition column re-lays the hive
    // layout under the new name; dropping it refuses
    fresh("a3")
    spark.sql("CREATE TABLE lake.a3 (k BIGINT, day STRING) " +
      "PARTITIONED BY (day)")
    spark.sql("INSERT INTO lake.a3 VALUES (1, 'd1'), (2, 'd2')")
    spark.sql("ALTER TABLE lake.a3 RENAME COLUMN day TO dt")
    assert(spark.sql("SELECT k FROM lake.a3 WHERE dt = 'd2'")
      .head.getLong(0) == 2L)
    intercept[Exception](spark.sql("ALTER TABLE lake.a3 DROP COLUMN dt"))
    // non-partition column surgery keeps the layout + pruning intact
    spark.sql("ALTER TABLE lake.a3 RENAME COLUMN k TO id")
    assert(spark.sql("SELECT id FROM lake.a3 WHERE dt = 'd1'")
      .head.getLong(0) == 1L)
    // snapshot flavor: rewrite goes through the plain publish path
    fresh("a4")
    spark.sql("CREATE TABLE lake.a4 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('flavor'='snapshot')")
    spark.sql("INSERT INTO lake.a4 VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE lake.a4 RENAME COLUMN v TO w")
    assert(spark.sql("SELECT w FROM lake.a4 ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    spark.sql("ALTER TABLE lake.a4 DROP COLUMN w")
    assert(spark.sql("SELECT * FROM lake.a4").columns.toSeq == Seq("k"))
    // empty table: surgery is metadata-only (no version exists yet)
    fresh("a5")
    spark.sql("CREATE TABLE lake.a5 (k BIGINT, v STRING)")
    spark.sql("ALTER TABLE lake.a5 RENAME COLUMN v TO w")
    spark.sql("ALTER TABLE lake.a5 DROP COLUMN w")
    assert(Snapshots.latestVersion(s"$Root/a5").isEmpty)
    spark.sql("INSERT INTO lake.a5 VALUES (7)")
    assert(spark.sql("SELECT * FROM lake.a5").columns.toSeq == Seq("k"))
  }

  test("RESTORE TABLE and SHALLOW CLONE through SQL") {
    fresh("r1"); fresh("r2")
    spark.sql("CREATE TABLE lake.r1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.r1 VALUES (1, 'good')")
    spark.sql("INSERT INTO lake.r1 VALUES (2, 'bad')")
    // RESTORE folds the as-of window into a new base — the bad tail
    // is subsumed, history below stays travelable
    val res = spark.sql("RESTORE TABLE lake.r1 TO VERSION AS OF 1")
      .collect().head
    assert(res.getLong(1) == 1L && res.getLong(2) == 3L)
    assert(spark.sql("SELECT v FROM lake.r1").collect()
      .map(_.getString(0)).toSeq == Seq("good"))
    assert(spark.sql("SELECT COUNT(*) FROM lake.r1 VERSION AS OF 2")
      .head.getLong(0) == 2L, "pre-restore history must stay travelable")
    // TIMESTAMP form resolves through commit times
    val t1 = Snapshots.commitTimestamp(s"$Root/r1", 1L).get
    val ts = new java.sql.Timestamp(t1).toString
    val res2 = spark.sql(
      s"RESTORE TABLE lake.r1 TO TIMESTAMP AS OF '$ts'").collect().head
    assert(res2.getLong(1) == 1L)
    // SHALLOW CLONE: zero-copy pointer version, divergent writes
    spark.sql("CREATE TABLE lake.r2 SHALLOW CLONE lake.r1")
    assert(spark.sql("SELECT v FROM lake.r2").collect()
      .map(_.getString(0)).toSeq == Seq("good"))
    spark.sql("INSERT INTO lake.r2 VALUES (9, 'clone-only')")
    assert(spark.sql("SELECT COUNT(*) FROM lake.r2").head.getLong(0) == 2L)
    assert(spark.sql("SELECT COUNT(*) FROM lake.r1").head.getLong(0) == 1L,
      "clone writes must never reach the source")
    // clone onto an existing table refuses
    intercept[Exception](
      spark.sql("CREATE TABLE lake.r2 SHALLOW CLONE lake.r1"))
    // as-of clone pins the picked version
    fresh("r3")
    spark.sql("CREATE TABLE lake.r3 SHALLOW CLONE lake.r1 VERSION AS OF 2")
    assert(spark.sql("SELECT COUNT(*) FROM lake.r3").head.getLong(0) == 2L)
  }

  test("PARTITIONED BY: hive layout per version, partition pruning, row-level ops preserve layout") {
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    fresh("p1"); fresh("p2")
    spark.sql("CREATE TABLE lake.p1 (k BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (day)")
    // the hive rule: partition columns move LAST in the table schema
    assert(spark.table("lake.p1").columns.toSeq == Seq("k", "v", "day"))
    spark.sql("INSERT INTO lake.p1 VALUES " +
      "(1, 1.0, 'a'), (2, 2.0, 'b'), (3, 3.0, 'a')")
    spark.sql("INSERT INTO lake.p1 VALUES (4, 4.0, 'b'), (5, 5.0, 'c')")
    // on-disk: hive dirs inside each version dir
    assert(LakeFs.list(s"$Root/p1/v=1").exists(st =>
      st.isDirectory && st.getPath.getName == "day=a"),
      "INSERT must lay hive partition dirs inside the version dir")
    def rows(sql: String): Set[(Long, String)] =
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows("SELECT k, day FROM lake.p1") ==
      Set(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "b", 5L -> "c"),
      "partition columns must restore through discovery, window unioned")
    assert(rows("SELECT k, day FROM lake.p1 VERSION AS OF 1") ==
      Set(1L -> "a", 2L -> "b", 3L -> "a"))
    // partition PRUNING: a filter on the partition column must shrink
    // the scanned file set to that partition's dirs before any footer
    // opens — the whole point of the layout at 100 TB
    val pruned = spark.sql("SELECT k FROM lake.p1 WHERE day = 'a'")
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b }.get
    val files = scan.inputPartitions.collect {
      case f: FilePartition => f.files.map(_.filePath.toString).toSeq
    }.flatten
    assert(files.nonEmpty && files.forall(_.contains("day=a")),
      s"partition filter must prune to day=a dirs only:\n$files")
    // DELETE (CoW) preserves the hive layout in the replacement base
    spark.sql("DELETE FROM lake.p1 WHERE day = 'c'")
    assert(rows("SELECT k, day FROM lake.p1") ==
      Set(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "b"))
    assert(LakeFs.list(s"$Root/p1/v=3").exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("day=")),
      "row-level CoW publish must keep the partition layout")
    // OPTIMIZE compacts keeping layout; ZORDER refuses on partitioned
    spark.sql("OPTIMIZE lake.p1")
    assert(LakeFs.list(s"$Root/p1/v=4").exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("day=")))
    assert(rows("SELECT k, day FROM lake.p1") ==
      Set(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "b"))
    intercept[Exception](
      spark.sql("OPTIMIZE lake.p1 ZORDER BY (k, v)"))
    // RESTORE re-lays the as-of state partitioned; CLONE carries the
    // partition meta so the clone reads (and prunes) identically
    spark.sql("RESTORE TABLE lake.p1 TO VERSION AS OF 1")
    assert(rows("SELECT k, day FROM lake.p1") ==
      Set(1L -> "a", 2L -> "b", 3L -> "a"))
    spark.sql("CREATE TABLE lake.p2 SHALLOW CLONE lake.p1")
    assert(rows("SELECT k, day FROM lake.p2") ==
      Set(1L -> "a", 2L -> "b", 3L -> "a"),
      "a clone of a partitioned table must restore partition values")
    // refusals: snapshot flavor, unknown column, all-columns, streaming
    intercept[Exception](spark.sql(
      "CREATE TABLE lake.pbad (k BIGINT, d STRING) PARTITIONED BY (d) " +
        "TBLPROPERTIES ('flavor'='snapshot')"))
    intercept[Exception](spark.sql(
      "CREATE TABLE lake.pbad (k BIGINT, d STRING) PARTITIONED BY (nope)"))
    intercept[Exception](spark.sql(
      "CREATE TABLE lake.pbad (d STRING) PARTITIONED BY (d)"))
    // streaming refusal surfaces on the stream thread
    val q = spark.readStream.table("lake.p1").writeStream
      .format("noop").start()
    val se = intercept[Exception] { q.processAllAvailable() }
    assert(se.getMessage.contains("PARTITIONED"))
    q.stop()
  }

  test("partitioned scan: dynamic partition pruning through a dimension join") {
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    fresh("dpp1")
    spark.sql("CREATE TABLE lake.dpp1 (k BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (day)")
    spark.sql("INSERT INTO lake.dpp1 VALUES " +
      "(1, 1.0, 'a'), (2, 2.0, 'b'), (3, 3.0, 'c'), (4, 4.0, 'a')")
    // dim carries the day selection only at RUNTIME (no static filter
    // on the fact's partition column anywhere in the query); it must
    // be a FILE relation with a selective predicate — the shape the
    // PartitionPruning rule requires (a local relation constant-folds
    // its filter away before the rule sees it)
    import spark.implicits._
    Seq(("a", "keep"), ("b", "drop"), ("c", "drop")).toDF("day", "tag")
      .write.mode("overwrite").parquet(s"$Root/dpp1_dim")
    spark.read.parquet(s"$Root/dpp1_dim").createOrReplaceTempView("dim")
    val df = spark.sql("SELECT f.k FROM lake.dpp1 f JOIN dim d " +
      "ON f.day = d.day WHERE d.tag = 'keep'")
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => scansOf(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scansOf)
    }
    val scans = scansOf(df.queryExecution.executedPlan)
    val factScan = scans.find(_.schema.fieldNames.contains("k")).get
    val desc = factScan.toString
    // the planner injected the DPP subquery (RuntimeFilters) AND the
    // wrapper folded the dim side's values into the partition filters
    // (IN (a)) — the file listing then keeps day=a dirs only
    // (inputPartitions above is the PRE-runtime plan; the folded
    // filter is the witness the runtime listing prunes on)
    assert(desc.contains("dynamicpruningexpression"),
      s"no DPP runtime filter on the fact scan:\n$desc")
    assert(desc.contains("IN (a)"),
      s"runtime values must fold into PartitionFilters:\n$desc")
  }

  test("metadata tables: t.history / t.files / t.detail are queryable, joinable relations") {
    fresh("m1")
    spark.sql("CREATE TABLE lake.m1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.m1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO lake.m1 VALUES (3, 'c')")
    // history: one row per version dir, committed bit, joinable
    val h = spark.sql(
      "SELECT version, committed FROM lake.m1.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(h == Seq(1L -> true, 2L -> true))
    // files: the reader window's inventory; sizes positive; JOIN
    // against history through a real relational plan
    val f = spark.sql(
      """SELECT h.version, COUNT(*) AS n, SUM(f.size_bytes) AS b
        |FROM lake.m1.files f JOIN lake.m1.history h USING (version)
        |GROUP BY h.version ORDER BY h.version""".stripMargin).collect()
    assert(f.length == 2 && f.forall(_.getLong(2) > 0L))
    // detail: the one-row summary, same frame as DESCRIBE DETAIL
    val d = spark.sql(
      "SELECT latest_version, n_committed FROM lake.m1.detail").collect()
    assert(d.toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((2L, 2L)))
    // snapshot-flavor files = the LATEST version only
    fresh("m2")
    spark.sql("CREATE TABLE lake.m2 (k BIGINT) " +
      "TBLPROPERTIES ('flavor'='snapshot')")
    spark.sql("INSERT INTO lake.m2 VALUES (1)")
    spark.sql("INSERT INTO lake.m2 VALUES (2)")
    val vs = spark.sql("SELECT DISTINCT version FROM lake.m2.files")
      .collect().map(_.getLong(0)).toSeq
    assert(vs == Seq(2L), "snapshot files = latest version's inventory")
    // time travel does not apply to metadata tables
    intercept[Exception](spark.sql(
      "SELECT * FROM lake.m1.history VERSION AS OF 1").collect())
    // a REAL table named like a metadata leaf wins over the trick
    fresh("m3"); LakeFs.rmTree(s"$Root/m3")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.m3")
    spark.sql("CREATE TABLE lake.m3.files (k BIGINT)")
    spark.sql("INSERT INTO lake.m3.files VALUES (7)")
    assert(spark.sql("SELECT k FROM lake.m3.files").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("CHECK constraints: ADD validates existing rows, INSERT/UPDATE/MERGE enforce, DROP releases") {
    fresh("c1"); fresh("c2")
    spark.sql("CREATE TABLE lake.c1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.c1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE lake.c1 ADD CONSTRAINT pos CHECK (k > 0)")
    // INSERT enforcement comes from Spark's own constraint planning
    // (the table reports enforced CHECKs): per-row, executor-side
    val e1 = intercept[Exception](
      spark.sql("INSERT INTO lake.c1 VALUES (-5, 'bad')"))
    assert(e1.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"))
    spark.sql("INSERT INTO lake.c1 VALUES (7, 'ok')")
    assert(spark.sql("SELECT COUNT(*) FROM lake.c1").head.getLong(0) == 3L)
    // NULL passes (SQL CHECK semantics)
    spark.sql("INSERT INTO lake.c1 VALUES (NULL, 'null-ok')")
    // adding a constraint existing rows violate refuses
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE lake.c1 ADD CONSTRAINT neg CHECK (k < 0)"))
    assert(e2.getMessage.contains("CONSTRAINT"))
    // UPDATE/MERGE run through the graft row-level commands (outside
    // Spark's write planning) — publishState's inline raise_error
    // filter enforces there
    val e3 = intercept[Exception](
      spark.sql("UPDATE lake.c1 SET k = -k WHERE v = 'ok'"))
    assert(e3.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"))
    assert(spark.sql("SELECT COUNT(*) FROM lake.c1 WHERE k = 7")
      .head.getLong(0) == 1L, "a refused UPDATE must not publish")
    spark.sql("UPDATE lake.c1 SET k = k + 10 WHERE v = 'ok'")
    val e4 = intercept[Exception](spark.sql(
      s"""MERGE INTO lake.c1 t USING (SELECT 17 AS k) s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET k = -1""".stripMargin))
    assert(e4.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"))
    // a clone inherits the constraint
    spark.sql("CREATE TABLE lake.c2 SHALLOW CLONE lake.c1")
    val e5 = intercept[Exception](
      spark.sql("INSERT INTO lake.c2 VALUES (-3, 'bad')"))
    assert(e5.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"))
    // streaming writes refuse while a constraint exists
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[(Long, String)]
      LakeFs.rmTree(s"$Root/_ck_c1")
      val q = ms.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", s"$Root/_ck_c1")
        .toTable("lake.c1")
      ms.addData((5L, "x"))
      val e6 = intercept[Exception] { q.processAllAvailable() }
      assert(e6.getMessage.contains("CHECK"))
      q.stop()
    }
    // DROP releases enforcement
    spark.sql("ALTER TABLE lake.c1 DROP CONSTRAINT pos")
    spark.sql("INSERT INTO lake.c1 VALUES (-9, 'now ok')")
  }

  test("SHOW CREATE TABLE renders schema, flavor, partitioning, constraints") {
    fresh("sc1")
    spark.sql("CREATE TABLE lake.sc1 (k BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (day)")
    spark.sql("ALTER TABLE lake.sc1 ADD CONSTRAINT vpos CHECK (v >= 0)")
    val ddl = spark.sql("SHOW CREATE TABLE lake.sc1")
      .collect().head.getString(0)
    assert(ddl.contains("CREATE TABLE lake.sc1"), ddl)
    assert(ddl.contains("PARTITIONED BY (day)"), ddl)
    assert(ddl.contains("'flavor' = 'log'"), ddl)
    assert(ddl.toLowerCase.contains("check (v >= 0)") ||
      ddl.contains("vpos"), s"constraint must render:\n$ddl")
  }

  test("VACUUM DRY RUN previews the reap set without deleting; plan equals the action") {
    fresh("v1")
    spark.sql("CREATE TABLE lake.v1 (k BIGINT)")
    spark.sql("INSERT INTO lake.v1 VALUES (1)")
    spark.sql("INSERT INTO lake.v1 VALUES (2)")
    spark.sql("OPTIMIZE lake.v1") // window collapses to v3
    val dry = spark.sql("VACUUM lake.v1 DRY RUN").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).sortBy(_._1)
    assert(dry.map(_._1).toSeq == Seq(1L, 2L),
      s"versions below the compacted base are the reap set: ${dry.toSeq}")
    assert(dry.forall(r => r._2 && r._3 > 0),
      "committed dirs with real files")
    // nothing deleted: both versions still travelable
    assert(spark.sql("SELECT COUNT(*) FROM lake.v1 VERSION AS OF 1")
      .head.getLong(0) == 1L)
    // the action reaps EXACTLY the previewed set
    spark.sql("VACUUM lake.v1")
    assert(spark.sql("SELECT COUNT(*) FROM lake.v1").head.getLong(0) == 2L)
    intercept[Exception](
      spark.sql("SELECT COUNT(*) FROM lake.v1 VERSION AS OF 1").collect())
    assert(spark.sql("VACUUM lake.v1 DRY RUN").collect().isEmpty,
      "post-vacuum dry run is empty")
    // snapshot flavor routes through RETAIN with the same guards
    fresh("v2")
    spark.sql("CREATE TABLE lake.v2 (k BIGINT) " +
      "TBLPROPERTIES ('flavor'='snapshot')")
    spark.sql("INSERT INTO lake.v2 VALUES (1)")
    spark.sql("INSERT INTO lake.v2 VALUES (2)")
    spark.sql("INSERT INTO lake.v2 VALUES (3)")
    val d2 = spark.sql("VACUUM lake.v2 RETAIN 2 VERSIONS DRY RUN")
      .collect().map(_.getLong(0)).toSeq
    assert(d2 == Seq(1L), s"keep newest 2 → reap v1 only: $d2")
    intercept[Exception](spark.sql("VACUUM lake.v2 DRY RUN").collect())
  }

  test("multi-column PARTITIONED BY, INSERT OVERWRITE, and partitioned CTAS") {
    fresh("p3"); fresh("p4")
    spark.sql("CREATE TABLE lake.p3 (k BIGINT, day STRING, src STRING, " +
      "v DOUBLE) PARTITIONED BY (day, src)")
    assert(spark.table("lake.p3").columns.toSeq ==
      Seq("k", "v", "day", "src"))
    spark.sql("INSERT INTO lake.p3 VALUES " +
      "(1, 1.0, 'a', 'x'), (2, 2.0, 'a', 'y'), (3, 3.0, 'b', 'x')")
    // nested hive layout: day=…/src=… inside the version dir
    assert(LakeFs.list(s"$Root/p3/v=1/day=a").exists(st =>
      st.isDirectory && st.getPath.getName == "src=y"),
      "multi-column layouts nest in declaration order")
    def rows(sql: String): Set[(Long, String, String)] =
      spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows("SELECT k, day, src FROM lake.p3") ==
      Set((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x")))
    // pruning composes across both columns
    assert(spark.sql(
      "SELECT k FROM lake.p3 WHERE day = 'a' AND src = 'y'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // INSERT OVERWRITE re-lays the full state partitioned, travelable
    spark.sql("INSERT OVERWRITE lake.p3 VALUES (9, 9.0, 'c', 'z')")
    assert(rows("SELECT k, day, src FROM lake.p3") ==
      Set((9L, "c", "z")))
    assert(LakeFs.list(s"$Root/p3/v=2").exists(st =>
      st.isDirectory && st.getPath.getName == "day=c"))
    assert(spark.sql("SELECT COUNT(*) FROM lake.p3 VERSION AS OF 1")
      .head.getLong(0) == 3L)
    // CTAS with PARTITIONED BY: create + first write in one statement
    spark.sql("CREATE TABLE lake.p4 PARTITIONED BY (day) AS " +
      "SELECT k, v, day FROM lake.p3 VERSION AS OF 1")
    assert(spark.sql("SELECT k FROM lake.p4 WHERE day = 'a'")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(LakeFs.list(s"$Root/p4/v=1").exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("day=")),
      "CTAS must lay the declared partitioning")
  }

  test("table_changes TVF: inserts/updates/deletes between versions; literal-arg and catalog guards") {
    val root = fresh("tvf1")
    spark.sql("CREATE TABLE lake.tvf1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.tvf1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO lake.tvf1 VALUES (2, 'B'), (4, 'd')")
    // version 3: tombstone key 3 through the programmatic MoR path —
    // the TVF must see the SAME directories the catalog name means
    import spark.implicits._
    Snapshots.publishDeletes(
      Seq(3L).toDF("k"), root)
    def changes(from: Long, to: Long): Set[(String, Long, String)] =
      spark.sql(s"SELECT change_type, k, v FROM " +
          s"table_changes('lake.tvf1', 'k', $from, $to)")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.getString(2)).getOrElse(""))).toSet
    assert(changes(1, 2) == Set(
      ("update_preimage", 2L, "b"), ("update_postimage", 2L, "B"),
      ("insert", 4L, "d")))
    assert(changes(2, 3) == Set(("delete", 3L, "c")))
    assert(changes(1, 3) == Set(
      ("update_preimage", 2L, "b"), ("update_postimage", 2L, "B"),
      ("insert", 4L, "d"), ("delete", 3L, "c")))
    assert(changes(1, 1) == Set.empty)
    // TVF output ≡ the programmatic readChanges it fronts
    val prog = Snapshots.readChanges(spark, root, "k", 1, 3)
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)).getOrElse(""))).toSet
    assert(prog == changes(1, 3))
    // guards: non-literal args, unqualified name, non-graft catalog
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM table_changes('lake.tvf1', 'k', 1, k)")
        .collect())
    assert(e1.getMessage != null)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM table_changes('tvf1', 'k', 1, 2)")
        .collect())
    assert(e2.getMessage.contains("catalog-qualified"))
    val e3 = intercept[Exception](
      spark.sql(
        "SELECT * FROM table_changes('spark_catalog.x', 'k', 1, 2)")
        .collect())
    assert(e3.getMessage.contains("not a graft lake catalog"))
  }

  test("atomic REPLACE/CTAS: history preserved, abort leaves the table untouched, flavor pinned") {
    val root = fresh("rt1")
    spark.sql("CREATE TABLE lake.rt1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.rt1 VALUES (1, 'a'), (2, 'b')")
    def rows(sql: String): Set[(Long, String)] =
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // REPLACE AS SELECT = ONE committed version over the same root
    spark.sql("REPLACE TABLE lake.rt1 AS SELECT 9L AS k, 'z' AS v")
    assert(rows("SELECT * FROM lake.rt1") == Set(9L -> "z"))
    // pre-replace state stays travelable (the whole point vs drop+create)
    assert(rows("SELECT * FROM lake.rt1 VERSION AS OF 1")
      == Set(1L -> "a", 2L -> "b"))
    // data-less CREATE OR REPLACE: empty travelable version, new shape
    spark.sql("CREATE OR REPLACE TABLE lake.rt1 (k BIGINT, v STRING, w BIGINT)")
    val post = spark.sql("SELECT * FROM lake.rt1")
    assert(post.columns.toSeq == Seq("k", "v", "w") && post.count() == 0L)
    assert(rows("SELECT k, v FROM lake.rt1 VERSION AS OF 2")
      == Set(9L -> "z"))
    // fresh-table CTAS rides the same staged path
    fresh("rt2")
    spark.sql("CREATE TABLE lake.rt2 AS SELECT 1L AS k, 'x' AS v")
    assert(rows("SELECT * FROM lake.rt2") == Set(1L -> "x"))
    // REPLACE on a missing table refuses
    intercept[Exception](spark.sql(
      "REPLACE TABLE lake.rt_missing AS SELECT 1L AS k"))
    // flavor is pinned under REPLACE
    val e = intercept[Exception](spark.sql(
      "CREATE OR REPLACE TABLE lake.rt1 (k BIGINT) " +
        "TBLPROPERTIES ('flavor'='snapshot')"))
    assert(e.getMessage.contains("cannot change"))
    // mid-write failure aborts: live state untouched, staging reaped
    val before = rows("SELECT * FROM lake.rt2")
    intercept[Exception](spark.sql(
      "REPLACE TABLE lake.rt2 AS SELECT k, v FROM lake.rt2 " +
        "WHERE raise_error('boom') IS NULL"))
    assert(rows("SELECT * FROM lake.rt2") == before)
    assert(!graft.operators.LakeFs.list(Root)
      .exists(_.getPath.getName.contains("__stage__")),
      "staging directory survived an abort")
  }

  test("REPLACE of a PARTITIONED log table actually replaces (base marker)") {
    // r14 defect: the partitioned branch of commitStagedChanges used
    // publishPartitioned (plain append, no base marker), so logWindow
    // kept unioning the pre-replace rows — REPLACE silently did not
    // replace. The fix routes through publishReplace(partCols).
    fresh("rp1")
    spark.sql("CREATE TABLE lake.rp1 (k BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO lake.rp1 VALUES (1, 'a'), (2, 'b')")
    spark.sql(
      "REPLACE TABLE lake.rp1 PARTITIONED BY (p) " +
        "AS SELECT 9L AS k, 'c' AS p")
    val live = spark.sql("SELECT k, p FROM lake.rp1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(live == Set(9L -> "c"),
      s"pre-replace rows survived a partitioned REPLACE: $live")
    // pre-replace history stays travelable below the base marker
    val old = spark.sql("SELECT k, p FROM lake.rp1 VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(old == Set(1L -> "a", 2L -> "b"))
    // subsequent appends union onto the replaced base only
    spark.sql("INSERT INTO lake.rp1 VALUES (10, 'd')")
    val after = spark.sql("SELECT k FROM lake.rp1")
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(9L, 10L))
  }

  test("namespaces, SHOW TABLES, DROP, and identifier hygiene") {
    fresh("ns1")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.ns1")
    spark.sql("CREATE TABLE lake.ns1.inner (k BIGINT)")
    spark.sql("INSERT INTO lake.ns1.inner VALUES (5)")
    assert(spark.sql("SELECT * FROM lake.ns1.inner")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    val shown = spark.sql("SHOW TABLES IN lake.ns1")
      .collect().map(_.getString(1)).toSet
    assert(shown == Set("inner"))
    assert(spark.sql("SHOW NAMESPACES IN lake").collect()
      .map(_.getString(0)).contains("ns1"))
    spark.sql("DROP TABLE lake.ns1.inner")
    assert(!LakeFs.exists(s"$Root/ns1/inner"))
    // path traversal cannot escape the root
    intercept[Exception](spark.sql("SELECT * FROM lake.`..`.etc"))
  }
}
