package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LakeFs, Snapshots}
import graft.streaming.StreamOps

/** Streaming triangle maintenance (StreamOps.triangleIngest): the
  * per-epoch deltas must sum to EXACTLY the one-shot triangle count
  * of the full edge set, whatever the batch split, with duplicate
  * edges (within a batch, across batches) as no-ops and replayed
  * epochs idempotent, even after a crash that lost the stats hint. */
class TriangleStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Idx = "/tmp/graft_tri_stream"

  /** Brute-force reference count over a canonical edge set. */
  private def brute(edges: Set[(Long, Long)]): Long = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    (for {
      a <- nodes; b <- nodes if a < b && edges((a, b))
      c <- nodes if b < c && edges((b, c)) && edges((a, c))
    } yield 1).size.toLong
  }

  test("edge-stream deltas sum to the one-shot count; dups and replays are no-ops") {
    LakeFs.rmTree(Idx); LakeFs.rmTree(Idx + "_ckpt")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long)]
    val q = StreamOps.triangleIngest(spark,
      ms.toDF().toDF("x", "y"), Idx)
    // batch 1: one closed triangle + a tail; (2,1) duplicates (1,2)
    ms.addData((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 1L))
    q.processAllAvailable()
    assert(StreamOps.triangleTotal(spark, Idx) == 1L)
    // batch 2: closes three more triangles through old edges —
    // (1,2,4) via NNO, (1,3,4) and (2,3,4) via NOO — plus an
    // isolated edge and a cross-batch duplicate of (1,2)
    ms.addData((2L, 4L), (1L, 4L), (5L, 6L), (1L, 2L))
    q.processAllAvailable()
    q.stop()
    val all = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L),
      (1L, 4L), (5L, 6L))
    assert(brute(all) == 4L, "reference count sanity")
    assert(StreamOps.triangleTotal(spark, Idx) == 4L,
      "deltas must sum to the one-shot count")
    val edgeRows = Snapshots.readLog(spark, s"$Idx/edges").count()
    assert(edgeRows == all.size.toLong,
      "duplicate edges must never reach the index")
    // a replayed epoch (same id, same rows) is a full no-op: the
    // stats marker skips the delta, the anti-join empties the append
    StreamOps.triangleIngestBatch(spark,
      Seq((2L, 4L), (1L, 4L), (5L, 6L), (1L, 2L)).toDF("x", "y"),
      epoch = 1L, Idx)
    assert(StreamOps.triangleTotal(spark, Idx) == 4L)
    assert(Snapshots.readLog(spark, s"$Idx/edges").count() == edgeRows)
    // a NEW epoch re-sending only known edges is also a no-op
    StreamOps.triangleIngestBatch(spark,
      Seq((1L, 3L), (3L, 4L)).toDF("x", "y"), epoch = 7L, Idx)
    assert(StreamOps.triangleTotal(spark, Idx) == 4L)
    // torn-crash point: stats recorded but edge append lost — the
    // replay must re-derive the append without double-counting
    StreamOps.triangleIngestBatch(spark,
      Seq((4L, 5L)).toDF("x", "y"), epoch = 8L, Idx)
    val t8 = StreamOps.triangleTotal(spark, Idx)
    // simulate the replay AFTER both landed: everything skips
    StreamOps.triangleIngestBatch(spark,
      Seq((4L, 5L)).toDF("x", "y"), epoch = 8L, Idx)
    assert(StreamOps.triangleTotal(spark, Idx) == t8)
    // crash point after the stats commit: neither the stats hint nor
    // the edge version's commit marker landed; (3,5) closes (3,4,5)
    val b9 = Seq((3L, 5L)).toDF("x", "y")
    StreamOps.triangleIngestBatch(spark, b9, epoch = 9L, Idx)
    assert(StreamOps.triangleTotal(spark, Idx) == t8 + 1)
    LakeFs.list(s"$Idx/stats").map(_.getPath.getName)
      .filter(_.startsWith("_GRAFT_EPOCH_"))
      .foreach(h => LakeFs.rmFile(s"$Idx/stats/$h"))
    val edgesV = Snapshots.latestVersion(s"$Idx/edges").get
    LakeFs.rmFile(s"$Idx/edges/v=$edgesV/_SNAP_COMMITTED")
    StreamOps.triangleIngestBatch(spark, b9, epoch = 9L, Idx)
    assert(StreamOps.triangleTotal(spark, Idx) == t8 + 1,
      "the replayed epoch's delta was counted twice")
    assert(Snapshots.readLog(spark, s"$Idx/edges").count() == edgeRows + 2)
  }
}
