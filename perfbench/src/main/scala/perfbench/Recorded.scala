package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Output hashes recorded in `perfbench/expected/` at the commit that
  * added the benchmark, one `<key>\t<rows:hash>` line per output; `#`
  * starts a comment. A mismatch message names the key and the hash this
  * run got, which is the line to record when an output changes on
  * purpose. */
object Recorded {
  def read(f: File): Map[String, ResultHash] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, h) = l.split("\t"); k -> ResultHash.parse(h) }.toMap

  /** Compares every output this run got with the recorded one. An output
    * that failed is absent from `got`; its failure is counted already. */
  def check(f: File, got: Map[String, ResultHash], out: Outcome): Unit = {
    val want = read(f)
    got.toSeq.sortBy(_._1).foreach { case (k, g) =>
      if (!want.get(k).contains(g))
        out.mismatch(s"$k\t$g (recorded: ${want.get(k).fold("nothing")(_.toString)})")
    }
    Main.info(s"checked ${got.size} outputs against the ${want.size} recorded in ${f.getName}")
  }
}
