package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeFs, Snapshots}

/** THE protocol law of the append log, checked over seeded-random op
  * interleavings (the example-based SnapshotSpec pins each operation;
  * this pins their COMPOSITION): whatever order appends, exactly-once
  * epoch appends and their replays, tiered folds, full compactions,
  * auto-maintenance, and vacuums interleave in, `readLog` returns
  * exactly the multiset of rows ever appended —
  * no loss, no duplication — and operations that refuse (nothing to
  * fold) refuse cleanly without corrupting the table. This is the
  * invariant a 100 TB ingest relies on when compaction jobs, retention
  * jobs, and readers run unsynchronized against one table. */
class SnapshotLawSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("any interleaving of append/tail-fold/full-fold/maintain/vacuum preserves the row multiset") {
    import spark.implicits._
    (0 until 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_snap_spec/law_$seed"
      LakeFs.rmTree(root)
      new java.io.File(root).mkdirs()
      var appended = List.empty[Long]
      var nextId = 0L
      // live tags: name -> the row multiset its as-of read must
      // return FOREVER (until untagged), whatever folds/vacuums run
      var pinned = Map.empty[String, List[Long]]
      // live branch: (name, rows at fork, branch's own appends) —
      // readBranch must return fork ∪ branch-appends FOREVER, whatever
      // main folds/vacuums run; merge moves the appends onto main
      var branch: Option[(String, List[Long], List[Long])] = None
      var nextBranchId = 1000000L
      // the last publishEpoch: (epoch, its rows), replayable
      var epoch = 0L
      var lastEpoch: Option[(Long, List[Long])] = None
      (0 until 12).foreach { step =>
        rnd.nextInt(9) match {
          case 0 | 1 | 2 => // appends dominate, as in a real ingest
            val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
              nextId += 1; nextId
            }.toList
            appended = appended ++ rows
            Snapshots.publishAppend(rows.toDF("k"), root)
          case 3 if appended.nonEmpty =>
            // may refuse (no raw tail above the boundary): refusal
            // must be clean, never corrupting
            try Snapshots.compactLogTail(spark, root)
            catch { case _: IllegalArgumentException => () }
          case 4 if appended.nonEmpty =>
            Snapshots.compactLog(spark, root)
          case 5 if appended.nonEmpty =>
            Snapshots.maintainLog(spark, root, maxTail = 3, maxChain = 2)
            Snapshots.vacuumLog(root)
          case 6 if appended.nonEmpty =>
            // toggle one pin: tag the current latest (its as-of read
            // is today's multiset, and must stay exactly that through
            // every later fold/vacuum), or drop the existing tag
            pinned.headOption match {
              case Some((name, _)) =>
                Snapshots.untag(root, name); pinned -= name
              case None =>
                val name = s"pin$step"
                Snapshots.tag(root, name,
                  Snapshots.latestVersion(root).get)
                pinned += name -> appended
            }
          case 7 if appended.nonEmpty =>
            branch match {
              case None =>
                val name = s"b$step"
                Snapshots.createBranch(root, name)
                branch = Some((name, appended, Nil))
              case Some((name, fork, bRows)) => rnd.nextInt(3) match {
                case 0 =>
                  val rows = (0 until 1 + rnd.nextInt(2)).map { _ =>
                    nextBranchId += 1; nextBranchId
                  }.toList
                  Snapshots.publishBranch(rows.toDF("k"), root, name)
                  branch = Some((name, fork, bRows ++ rows))
                case 1 =>
                  Snapshots.mergeBranch(spark, root, name)
                  appended = appended ++ bRows
                  branch = None
                case _ =>
                  Snapshots.dropBranch(root, name)
                  branch = None
              }
            }
          case 8 =>
            // an exactly-once epoch append whose root hint is lost (a
            // crash between commit marker and hint), sometimes
            // replayed: the committed version's own epoch tag — or the
            // hint vacuumLog promoted from it before reaping the
            // version — must make the replay publish nothing
            lastEpoch match {
              case Some((e, rows)) if rnd.nextBoolean() =>
                assert(Snapshots.publishEpoch(rows.toDF("k"), root, "law",
                  e).isEmpty, s"epoch $e replayed at seed=$seed step=$step")
              case _ =>
                epoch += 1
                val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
                  nextId += 1; nextId
                }.toList
                appended = appended ++ rows
                assert(Snapshots.publishEpoch(rows.toDF("k"), root, "law",
                  epoch).nonEmpty)
                LakeFs.rmFile(s"$root/_GRAFT_EPOCH_law_$epoch")
                lastEpoch = Some(epoch -> rows)
            }
          case _ => () // fold/vacuum before the first append: no-op
        }
        if (appended.nonEmpty) {
          val got = Snapshots.readLog(spark, root)
            .collect().map(_.getLong(0)).sorted.toList
          assert(got == appended.sorted,
            s"multiset broken at seed=$seed step=$step: " +
              s"expected ${appended.size} rows, got ${got.size}")
        }
        pinned.foreach { case (name, want) =>
          val got = Snapshots.readLog(spark, root,
              asOf = Some(Snapshots.tagVersion(root, name)))
            .collect().map(_.getLong(0)).sorted.toList
          assert(got == want.sorted,
            s"pinned read broken at seed=$seed step=$step tag=$name: " +
              s"expected ${want.size} rows, got ${got.size}")
        }
        branch.foreach { case (name, fork, bRows) =>
          val got = Snapshots.readBranch(spark, root, name)
            .collect().map(_.getLong(0)).sorted.toList
          assert(got == (fork ++ bRows).sorted,
            s"branch read broken at seed=$seed step=$step branch=$name: " +
              s"expected ${fork.size + bRows.size} rows, got ${got.size}")
        }
      }
    }
  }
}
