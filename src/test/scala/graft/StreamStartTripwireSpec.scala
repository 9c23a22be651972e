package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every streaming query in src/main starts in StreamingOps.runStream, so
  * a new stream key gets the fork-free checkpoint I/O and the restored
  * session conf without anyone having to remember them.
  */
class StreamStartTripwireSpec extends AnyFunSuite {

  test("src/main starts streaming queries only in StreamingOps.runStream") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"lint expects to run from the repo root; " +
      s"missing ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // split so this file does not match its own search
    val needles = Seq(".start" + "(", ".toTable" + "(")
    val helper = "def runStream" + "("
    val files = walk(root).map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try f -> s.getLines().toVector finally s.close()
    }
    // the helper's body: its def line to the first line closing it
    def body(lines: Vector[String]): Range = {
      val i = lines.indexWhere(_.contains(helper))
      if (i < 0) 0 until 0 else i to lines.indexWhere(_ == "  }", i)
    }
    val owners = files.filter(_._2.exists(_.contains(helper)))
    assert(owners.map(_._1.getName) === Seq("StreamingOps.scala"))
    val (_, ops) = owners.head
    assert(body(ops).exists(n => ops(n).contains(".start" + "(")))
    val hits = for {
      (f, lines) <- files
      inHelper = body(lines)
      (l, n) <- lines.zipWithIndex
      if needles.exists(l.contains) && !inHelper.contains(n)
    } yield s"${f.getPath}:${n + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
