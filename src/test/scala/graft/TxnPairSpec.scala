package graft

import org.apache.spark.sql.functions._

/** Multi-table atomic commit (the pair log) and the vacuum dry-run
  * report — the invariants the oracle can't see: the crash window
  * between the two single-table commits must be invisible (readers get
  * the old CONSISTENT pair, never new-fact/old-view), and the report
  * must account for reclaimable bytes without mutating anything.
  */
class TxnPairSpec extends SparkSpec {

  private def hfs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitSlice(path: String, v: Int,
      df: org.apache.spark.sql.DataFrame): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$path/data/v$v")
    val files = hfs(path)
      .listStatus(new org.apache.hadoop.fs.Path(s"$path/data/v$v"))
      .map(_.getPath).filter(_.getName.startsWith("part-"))
      .map(_.toString).sorted.toSeq
    TableLog.commit(spark, path, v, files)
  }

  private def viewOf(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("grp").agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,2)")).as("s"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDecimal(2).toPlainString)).sortBy(_._1).toSeq

  test("a crash between the fact commit and the view commit publishes " +
    "NOTHING: readers resolve the previous pair, which stays " +
    "view==recompute consistent") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_pair_spec").toString
    try {
      val fact0 = (0L until 10L).map(i => (i % 3, i * 1.5)).toDF("grp", "x")
      val fact1 = (0L until 15L).map(i => (i % 3, i * 1.5)).toDF("grp", "x")
      // txn 0: fact v0 + view v0 + pair record — the bootstrap publish
      commitSlice(s"$tmp/fact", 0, fact0)
      commitSlice(s"$tmp/view", 0, viewOf(fact0))
      TableLog.pairCommit(spark, tmp, 0, 0)
      assert(TableLog.readPair(spark, tmp) === Some((0, 0)))
      // txn 1 CRASHES after the fact commit: the new fact version exists
      // in its own log...
      commitSlice(s"$tmp/fact", 1, fact1)
      // ...but the published pair is UNCHANGED, and reading through it
      // is consistent — the view equals a recompute from the SAME fact
      // version the pair names, not from the log head
      assert(TableLog.readPair(spark, tmp) === Some((0, 0)))
      val (fv, vv) = TableLog.readPair(spark, tmp).get
      val view = TableLog
        .scan(spark, s"$tmp/view", Some(vv))
      val recompute = viewOf(TableLog
        .scan(spark, s"$tmp/fact", Some(fv)))
      assert(rowsOf(view) === rowsOf(recompute),
        "the pair-resolved (fact, view) must agree exactly")
      // a torn pair-log temp (crash mid-publish) is equally invisible
      val dir = new org.apache.hadoop.fs.Path(s"$tmp/_pairs")
      val torn = new org.apache.hadoop.fs.Path(dir, ".00001.tmp")
      val out = hfs(tmp).create(torn, true)
      try out.write("1,1".getBytes("UTF-8")) finally out.close()
      assert(TableLog.readPair(spark, tmp) === Some((0, 0)))
      hfs(tmp).delete(torn, false)
      // recovery completes the transaction: view v1, then ONE pair
      // record flips readers to the new consistent pair
      commitSlice(s"$tmp/view", 1, viewOf(fact1))
      TableLog.pairCommit(spark, tmp, 1, 1)
      assert(TableLog.readPair(spark, tmp) === Some((1, 1)))
      val v1 = TableLog.scan(spark, s"$tmp/view", Some(1))
      val r1 = viewOf(TableLog
        .scan(spark, s"$tmp/fact", Some(1)))
      assert(rowsOf(v1) === rowsOf(r1))
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the staged pair fixture resolves (1, 1) — the post-merge pair") {
    val pp = queries.Physical.pairTxnStaged(spark, sf)
    assert(TableLog.readPair(spark, pp) === Some((1, 1)))
  }

  test("sink_vacuum_report accounts bytes without deleting: every " +
    "doomed file exists with nonzero length before AND after") {
    val path = queries.Physical.vacuumReportSinkStaged(spark, sf)
    val f = hfs(path)
    def bytesOf(doomed: Seq[String]): Long =
      doomed.map(p => f.getFileStatus(
        new org.apache.hadoop.fs.Path(p)).getLen).sum
    val doomed1 = TableLog.vacuumPlan(spark, path, 1)
    assert(doomed1.size === 14, "retain-1: v0 (6) + v1 (6) + orphan (2)")
    assert(bytesOf(doomed1) > 0)
    q("sink_vacuum_report").collect() // the dry run
    // nothing deleted, no tombstone committed, log length unchanged
    assert(doomed1.forall(p =>
      f.exists(new org.apache.hadoop.fs.Path(p))),
      "a REPORT must never delete")
    assert(bytesOf(doomed1) > 0)
    assert(TableLog.versions(spark, path).size === 3)
    val names = f.listStatus(
      new org.apache.hadoop.fs.Path(path, "_commits"))
      .map(_.getPath.getName)
    assert(!names.exists(_.endsWith(".tombstone")),
      "a dry run must not commit vacuum work")
  }
}
