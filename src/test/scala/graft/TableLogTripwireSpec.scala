package graft

import org.scalatest.funsuite.AnyFunSuite

/** The table log's on-disk format lives in TableLog.scala alone, so a new
  * sink cannot hand-roll a manifest name, a marker filter or an unclaimed
  * rename again.
  */
class TableLogTripwireSpec extends AnyFunSuite {

  test("outside TableLog.scala no src/main file spells a log path or " +
    "entry suffix, calls the claim, or filters marker lines") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"lint expects to run from the repo root; " +
      s"missing ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val banned = Seq(
      """(?<!\w)_(commits|refs|pairs|last_checkpoint)\b""",
      "\\.manifest\"",
      """\.tombstone""",
      """\bclaimVersion\b""",
      """startsWith\(\s*"#"\s*\)""").map(_.r)
    val files = walk(root).filterNot(_.getName == "TableLog.scala")
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (l, n) <- {
        val s = scala.io.Source.fromFile(f, "UTF-8")
        try s.getLines().toVector finally s.close()
      }.zipWithIndex
      if banned.exists(_.findFirstIn(l).nonEmpty)
    } yield s"${f.getPath}:${n + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
