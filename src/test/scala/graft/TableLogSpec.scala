package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** The table log's one write rule: an entry is claimed, never renamed
  * over. Whether a bare rename onto an existing file replaces it depends
  * on the `FileSystem` class serving `file:`, so the claim is driven
  * through two of them; and the append-only ref and pair logs must keep
  * every entry when writers race.
  */
class TableLogSpec extends SparkSpec {

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def bytesOf(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private val entryNames = Seq("v00000.manifest", "00000.ref", "00000.pair",
    "v00000.checkpoint")

  private def refusesSecondClaim(fs: FileSystem, root: String): Unit =
    entryNames.foreach { name =>
      val dir = new Path(root, name.replace('.', '_'))
      assert(TableLog.claim(fs, dir, name, "first"),
        s"${fs.getClass.getName}: the first claim of $name must win")
      assert(!TableLog.claim(fs, dir, name, "second"),
        s"${fs.getClass.getName}: a second claim of $name must be refused")
      assert(bytesOf(fs, new Path(dir, name)) === "first",
        s"${fs.getClass.getName}: the second claim replaced $name")
    }

  test("the claim refuses a second writer of an existing entry on an " +
    "uncached Hadoop LocalFileSystem and on the session's file: FS") {
    val root = freshDir("graft_claim_rule")
    try {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      val local = new Path(root).getFileSystem(conf)
      assert(local.isInstanceOf[LocalFileSystem])
      refusesSecondClaim(local, s"$root/local")
      val session = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(session.getUri.getScheme === "file")
      refusesSecondClaim(session, s"$root/session")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  /** Run `publish(writer, i)` from two threads, four times each. */
  private def race(publish: (Int, Int) => Unit): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { w =>
      new Thread(() =>
        try { gate.await(); (1 to 4).foreach(i => publish(w, i)) }
        catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); gate.countDown()
    threads.foreach(_.join())
    assert(failures.isEmpty, s"writer thread failed: ${failures.peek()}")
  }

  /** (entry name, content) of every `suffix` entry under `dir`. */
  private def entries(dir: String, suffix: String): Seq[(String, String)] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(suffix))
      .map(p => (p.getName, bytesOf(fs, p).trim)).sortBy(_._1).toSeq
  }

  test("two racing ref publishers land 8 dense entries, none lost") {
    val root = freshDir("graft_ref_race")
    try {
      race((w, i) => TableLog.publishRef(spark, root, "main", w * 10 + i))
      val got = entries(s"$root/_refs/main", ".ref")
      assert(got.map(_._1) === (0 until 8).map(n => f"$n%05d.ref"),
        s"8 dense ref entries expected: $got")
      assert(got.map(_._2.toInt).sorted ===
        (for (w <- 1 to 2; i <- 1 to 4) yield w * 10 + i).sorted,
        s"a racing publish was lost or duplicated: $got")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }

  test("two racing pair committers land 8 dense entries, none lost") {
    val root = freshDir("graft_pair_race")
    try {
      race((w, i) => TableLog.pairCommit(spark, root, w, i))
      val got = entries(s"$root/_pairs", ".pair")
      assert(got.map(_._1) === (0 until 8).map(n => f"$n%05d.pair"),
        s"8 dense pair entries expected: $got")
      assert(got.map(_._2).sorted ===
        (for (w <- 1 to 2; i <- 1 to 4) yield s"$w,$i").sorted,
        s"a racing pair commit was lost or duplicated: $got")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
  }
}
