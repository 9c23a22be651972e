package graft

import org.apache.spark.sql.functions._

/** Write-audit-publish: the audit gate must actually reject the bad
  * commit, reads must resolve the ref (not the log head), the ref log
  * must survive a crash mid-publish with the previous pointer intact,
  * and re-publishing must be monotone.
  */
class WapSpec extends SparkSpec {

  private lazy val path = queries.Physical.wapSinkStaged(spark, sf)

  test("the bad batch is committed but quarantined: main serves v1, " +
    "the log head is v2, and the audit verdicts are reproducible") {
    assert(TableLog.versions(spark, path).size === 3)
    assert(TableLog.readRef(spark, path, "main") === Some(1))
    assert(queries.Physical.auditPasses(spark, path, 1),
      "the good batch must pass the audit it passed at staging")
    assert(!queries.Physical.auditPasses(spark, path, 2),
      "the null-keyed batch must fail the audit")
    // reading through the ref never sees the bad rows
    val v = TableLog.readRef(spark, path, "main").get
    val live = TableLog.scan(spark, path, Some(v))
    assert(live.filter(col("o_orderkey").isNull).count() === 0)
    // ...but the quarantined commit is still fully readable for forensics
    val head = TableLog.scan(spark, path, Some(2))
    assert(head.filter(col("o_orderkey").isNull).count() > 0)
  }

  test("a crash mid-publish leaves the previous pointer serving reads " +
    "(append-only ref log, never mutate-in-place)") {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$path/_refs/main")
    val before = TableLog.readRef(spark, path, "main")
    // simulate the crash window: a torn temp file exists, no rename ran
    val tmp = new org.apache.hadoop.fs.Path(dir, ".99999.tmp")
    val out = fs.create(tmp, true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    try {
      assert(TableLog.readRef(spark, path, "main") === before,
        "an unrenamed temp must be invisible to readers")
    } finally fs.delete(tmp, false)
  }

  test("publish is monotone and idempotent-safe: re-pointing at the " +
    "same version appends a new entry and resolution still works") {
    // round-trip against a throwaway dir, NOT the staged sink: a spec
    // that appends to graft_wap_sink's _refs/main log would mutate a
    // fixture production keys read (r15 advice — a trap for any future
    // assertion on ref-log length or last-entry identity)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_wap_reflog").toString
    try {
      assert(TableLog.readRef(spark, tmp, "main") === None)
      TableLog.publishRef(spark, tmp, "main", 0)
      TableLog.publishRef(spark, tmp, "main", 1)
      // idempotent re-point: appends a THIRD entry, resolves the same
      TableLog.publishRef(spark, tmp, "main", 1)
      assert(TableLog.readRef(spark, tmp, "main") === Some(1))
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/_refs/main"))
        .map(_.getPath.getName).filter(_.endsWith(".ref"))
      assert(entries.length === 3, "append-only: every publish is kept")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    }
  }
}
