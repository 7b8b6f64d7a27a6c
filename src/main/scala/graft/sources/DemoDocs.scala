package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The demo corpus doc_load_files loads: seeded prose written to
  * `demo.txt` under one declared root, so the registered query and
  * its specs need nothing outside the repository. Same bytes on every
  * call and every machine (java.util.Random's LCG is specified). */
object DemoDocs {

  /** PlanSpec's scan whitelist declares `/tmp/graft_demo/`. */
  val Root = "/tmp/graft_demo/demo_docs"

  /** Write the corpus under [[Root]] unless it is already there, and
    * return the root. The file lands by rename from a dot-prefixed
    * temp name, which the loaders skip, so a concurrent reader never
    * sees a partial file. */
  def materialize(): String = {
    val words = ("graft spark lake stream shingle index query document " +
      "corpus token snapshot epoch batch vector cluster quality filter " +
      "dedup retrieval answer context chunk").split(' ')
    val rnd = new scala.util.Random(7)
    def sentence = Seq.fill(6 + rnd.nextInt(10))(
      words(rnd.nextInt(words.length))).mkString(" ").capitalize + "."
    val text = Seq.fill(8)(Seq.fill(5)(sentence).mkString(" "))
      .mkString("\n\n")
    val dst = Paths.get(Root, "demo.txt")
    if (!Files.exists(dst) || Files.readString(dst, UTF_8) != text) {
      Files.createDirectories(dst.getParent)
      val tmp = Files.writeString(
        Files.createTempFile(dst.getParent, ".demo.txt", ".tmp"), text)
      Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
    Root
  }
}
