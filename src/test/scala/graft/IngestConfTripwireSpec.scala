package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ingest tasks read the scan's broadcast conf (XmlIngest.taskConf); a
  * `Configuration` built under ingest/ or sources/ would re-parse the
  * default resources per task and drop the session's filesystem settings.
  */
class IngestConfTripwireSpec extends AnyFunSuite {

  test("src/main ingest and sources build no Hadoop Configuration") {
    val roots = Seq("src/main/scala/graft/ingest",
      "src/main/scala/graft/sources").map(new java.io.File(_))
    roots.foreach(d => assert(d.isDirectory, s"lint expects to run from " +
      s"the repo root; missing ${d.getAbsolutePath}"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // split so this file does not match its own search
    val needles = Seq("new Configuration" + "(",
      "new org.apache.hadoop.conf.Configuration" + "(")
    val hits = for {
      f <- roots.flatMap(walk)
      text = { val s = scala.io.Source.fromFile(f, "UTF-8")
        try s.mkString finally s.close() }
      n <- needles if text.contains(n)
    } yield s"${f.getPath}: $n"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
