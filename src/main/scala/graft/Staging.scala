package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Every staged layout — partitioned/bucketed/orc/z-order tables,
  * manifest logs, streaming sources, persisted indexes, file corpora —
  * is built through [[layout]], so the path, currency and crash-ordering
  * rules live in one function instead of one copy per stager.
  *
  * A layout lives at `dir(prefix, sfDir)` and is CURRENT when its root
  * carries both `_SUCCESS` and a `_GRAFT_SRC_STAMP` equal to the
  * fingerprint of its source paths plus the identity of the code that
  * built it. Anything else is stale: the root is deleted and rebuilt.
  * Both files are `_`-prefixed, so every Spark file reader (batch and
  * stream) skips them when the layout is itself read as a source.
  */
object Staging {

  /** `/tmp/<prefix>_<sanitized sfDir>` — stable across runs for the same
    * inputs, distinct across scale factors. Also the home of per-call
    * scratch outputs that rebuild on every call and need no stamp.
    */
  def dir(prefix: String, sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/${prefix}_" +
      sfDir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Metadata fingerprint of source paths: md5 over every data file's
    * (path, length, mtime), listed recursively through the Hadoop
    * FileSystem. O(#files) listing, never reads data — so a staged
    * index's currency check stays free even when the source table is
    * 100 TB. Parquet writers never modify files in place (new files or
    * new mtimes on rewrite), so (path, length, mtime) moving is exactly
    * "the source changed".
    */
  def fingerprint(s: SparkSession, srcs: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    srcs.foreach { src =>
      val p = new Path(src)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          entries +=
            s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
        }
      }
      entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The layout `dir(prefix, sfDir)` derived from `sources`, built by
    * `build(path)` unless it is already current. The order is the crash
    * contract: a stale root is deleted BEFORE the build, and `_SUCCESS`
    * then the stamp are written only AFTER it returns. A build that
    * throws or a process that dies mid-build leaves no stamp, so the
    * next call rebuilds; a stamp written before the data could serve a
    * partial layout as current. Serving a layout derived from an older
    * source or by older code is a silent-wrong-answer class, not a perf
    * bug — hence the stamp covers both.
    *
    * All marker I/O runs driver-side through the FileSystem of `s`'s
    * Hadoop conf — the same client the layout's data is written with.
    * With java.io/java.nio a remote staging dir would keep its markers
    * on driver-local disk, never be current, and re-stage on every call.
    */
  def layout(s: SparkSession, prefix: String, sfDir: String,
      sources: String*)(build: String => Unit): String = {
    val path = dir(prefix, sfDir)
    val stamp = stampOf(s, sources)
    if (!isCurrent(s, path, stamp)) {
      val (fs, p) = fsFor(s, path)
      fs.delete(p, true)
      build(path)
      fs.create(new Path(p, "_SUCCESS"), true).close()
      val out = fs.create(new Path(p, Stamp), true)
      try out.write(stamp.getBytes("UTF-8"))
      finally out.close()
    }
    path
  }

  /** The layout's path iff it is current — a read-only probe that never
    * builds (the codebook memos read a persisted index's codebook when
    * one exists and train otherwise).
    */
  def current(s: SparkSession, prefix: String, sfDir: String,
      sources: String*): Option[String] =
    Some(dir(prefix, sfDir)).filter(isCurrent(s, _, stampOf(s, sources)))

  private val Stamp = "_GRAFT_SRC_STAMP"

  private def fsFor(s: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  /** True iff the build completed (`_SUCCESS`) AND its stamp equals
    * `stamp`; a missing marker or a missing/different stamp is stale.
    */
  private def isCurrent(s: SparkSession, path: String,
      stamp: String): Boolean = {
    val (fs, p) = fsFor(s, path)
    val f = new Path(p, Stamp)
    fs.exists(new Path(p, "_SUCCESS")) && fs.exists(f) && {
      val buf = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
      val in = fs.open(f)
      try { in.readFully(0, buf); new String(buf, "UTF-8") == stamp }
      finally in.close()
    }
  }

  private def stampOf(s: SparkSession, sources: Seq[String]): String =
    s"${fingerprint(s, sources: _*)}@$buildId"

  /** md5 over the bytes of the jar or classes directory holding this
    * class (each file keyed by its relative path), computed once per JVM
    * and only by a JVM that stages: two checkouts, or an old and a new
    * build, on one host then never read each other's layouts.
    */
  private lazy val buildId: String = {
    val root = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val md = java.security.MessageDigest.getInstance("MD5")
    if (java.nio.file.Files.isDirectory(root)) {
      val walk = java.nio.file.Files.walk(root)
      val files = try walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_)).toVector
        finally walk.close()
      files.map(f => root.relativize(f).toString -> f).sortBy(_._1)
        .foreach { case (rel, f) =>
          md.update(rel.getBytes("UTF-8"))
          md.update(java.nio.file.Files.readAllBytes(f))
        }
    } else md.update(java.nio.file.Files.readAllBytes(root))
    md.digest().map("%02x".format(_)).mkString
  }
}
