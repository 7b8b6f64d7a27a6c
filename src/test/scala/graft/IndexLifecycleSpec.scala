package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexLifecycle, LakeFs}

/** IndexLifecycle's build-once and republish contract: a same-key
  * buildOnce is a no-op, a new key rebuilds in place, and republish
  * keeps the freshness key and the applied-epoch markers. Filesystem
  * only — no Spark job runs. */
class IndexLifecycleSpec extends AnyFunSuite {
  private val dir = "/tmp/graft_lifecycle_spec"

  private def content(d: String): Option[String] =
    LakeFs.readString(s"$d/data")

  /** Nothing but the published dir is left beside it: no build,
    * compaction or aside copy leaks. */
  private def noSiblings(): Unit = {
    val parent = new java.io.File(dir).getParentFile
    val leaks = parent.listFiles().map(_.getName)
      .filter(n => n.startsWith(new java.io.File(dir).getName + "."))
    assert(leaks.isEmpty, leaks.mkString(","))
  }

  test("buildOnce: a same-key call is a no-op, a new key rebuilds in place") {
    LakeFs.rmTree(dir)
    var builds = 0
    def build(tag: String)(tmp: String): Unit = {
      builds += 1
      LakeFs.write(s"$tmp/data", tag)
    }
    IndexLifecycle.buildOnce(dir, "k1")(build("one"))
    assert(builds == 1 && content(dir).contains("one"))
    IndexLifecycle.buildOnce(dir, "k1")(build("two"))
    assert(builds == 1 && content(dir).contains("one"),
      "a same-key buildOnce must not rebuild")
    IndexLifecycle.buildOnce(dir, "k2")(build("three"))
    assert(builds == 2 && content(dir).contains("three"),
      "a new key must rebuild")
    assert(LakeFs.readString(s"$dir/_GRAFT_INDEX_COMPLETE").contains("k2"))
    noSiblings()
    LakeFs.rmTree(dir)
  }

  test("republish keeps the freshness key and the applied-epoch markers") {
    LakeFs.rmTree(dir)
    IndexLifecycle.buildOnce(dir, "k1")(tmp => LakeFs.write(s"$tmp/data", "raw"))
    IndexLifecycle.epochOnce(dir, 3L)(())
    IndexLifecycle.epochOnceFor(dir, "s", 4L)(())
    IndexLifecycle.republish(dir)(tmp => LakeFs.write(s"$tmp/data", "compacted"))
    assert(content(dir).contains("compacted"))
    assert(LakeFs.readString(s"$dir/_GRAFT_INDEX_COMPLETE").contains("k1"))
    assert(LakeFs.isFile(s"$dir/_GRAFT_EPOCH_3") &&
      LakeFs.isFile(s"$dir/_GRAFT_EPOCH_s_4"))
    // the carried markers still gate their epochs
    var ran = false
    IndexLifecycle.epochOnce(dir, 3L) { ran = true }
    IndexLifecycle.epochOnceFor(dir, "s", 4L) { ran = true }
    assert(!ran, "a republished index replayed an applied epoch")
    // and the same key still matches: no rebuild after compaction
    IndexLifecycle.buildOnce(dir, "k1")(_ => sys.error("rebuilt"))
    noSiblings()
    LakeFs.rmTree(dir)
  }
}
