package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every staged layout in src/main is built through Staging.layout, so a
  * new stager cannot hand-roll the marker/stamp sequence again and let it
  * drift from the crash-ordering rules kept in Staging.scala.
  */
class StagingTripwireSpec extends AnyFunSuite {

  test("src/main reaches Staging only through layout, current, dir and " +
    "fingerprint, and names the stamp file only in Staging.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"lint expects to run from the repo root; " +
      s"missing ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val allowed = Set("layout", "current", "dir", "fingerprint")
    val member = """\bStaging\s*\.\s*(\w+)""".r
    // split so this file does not match its own search
    val stampName = "_GRAFT_" + "SRC_STAMP"
    val files = walk(root).filterNot(_.getName == "Staging.scala")
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (l, n) <- {
        val s = scala.io.Source.fromFile(f, "UTF-8")
        try s.getLines().toVector finally s.close()
      }.zipWithIndex
      bad = member.findAllMatchIn(l).map(_.group(1))
        .filterNot(allowed).toSeq
      if bad.nonEmpty || l.contains(stampName)
    } yield s"${f.getPath}:${n + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
