package graft

import org.apache.spark.sql.functions._

/** Retention VACUUM (tombstone-then-delete) and CDC apply: the two
  * operations that complete the transaction-log lifecycle. The crash
  * windows exercised here are the ones that make or break a destructive
  * GC: dying between the tombstone commit and the physical deletes must
  * leave a readable table plus a resumable work list, and a re-run must
  * finish the job without condemning anything new.
  */
class VacuumSpec extends SparkSpec {

  private def fixture(): String = {
    // a private copy of the source so this spec's vacuum never races the
    // shared staged fixture other suites read
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vacuum_spec").toString
    Tables(spark, sf, "orders").limit(600)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    queries.Physical.vacuumSinkStaged(spark, dir)
  }

  private def fs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(path: String): Set[String] = {
    val f = fs(path)
    val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$path/data"), true)
    val out = scala.collection.mutable.Set.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-")) out += p.toString
    }
    out.toSet
  }

  test("vacuum retention-1: retained files survive, superseded files and " +
    "the aged orphan are deleted, the live snapshot is unchanged") {
    val path = fixture()
    val liveBefore = TableLog.scan(spark, path, None)
      .orderBy("o_orderkey").collect()
    val retained = TableLog.snapshot(spark, path, None).files
      .map(f => new org.apache.hadoop.fs.Path(f).toString).toSet
    val before = dataFiles(path)
    assert((before -- retained).nonEmpty, "fixture must have vacuum work")
    val (condemned, deleted) =
      TableLog.vacuumRetention(spark, path, retain = 1)
    assert(condemned > 0 && deleted === condemned)
    assert(dataFiles(path) === retained,
      "exactly the retained file set must remain")
    val liveAfter = TableLog.scan(spark, path, None)
      .orderBy("o_orderkey").collect()
    assert(liveAfter === liveBefore, "vacuum changed the live snapshot")
    // second vacuum: nothing left to condemn
    val (c2, d2) = TableLog.vacuumRetention(spark, path, 1)
    assert(c2 === 0 && d2 === 0, "vacuum must be idempotent")
  }

  test("vacuum never condemns a file referenced by ANY retained version " +
    "(retention-2 keeps the append history readable)") {
    val path = fixture()
    val v1Before = TableLog.scan(spark, path, Some(1))
      .count()
    val (condemned, _) =
      TableLog.vacuumRetention(spark, path, retain = 2)
    // retained v1 references v0's files too (append carries by
    // reference), so only the orphan is deletable
    assert(condemned > 0, "the aged orphan must still be condemned")
    assert(TableLog.scan(spark, path, Some(1)).count()
      === v1Before, "a retained time-travel read lost files")
    assert(TableLog.scan(spark, path, Some(2)).count()
      === v1Before, "the compacted live set must be intact")
  }

  test("crash between tombstone and delete: the table stays readable, " +
    "resume finishes exactly the tombstoned work, and a post-recovery " +
    "vacuum finds nothing new") {
    val path = fixture()
    val liveBefore = TableLog.scan(spark, path, None)
      .orderBy("o_orderkey").collect()
    // the crash: tombstone committed, process dies before any delete
    val tomb = TableLog.vacuumTombstone(spark, path, retain = 1)
    assert(tomb.nonEmpty, "fixture must have vacuum work")
    val doomed = tomb.get
    assert(doomed.forall(f => fs(path)
      .exists(new org.apache.hadoop.fs.Path(f))),
      "no file may be deleted before the tombstone is committed")
    assert(TableLog.scan(spark, path, None)
      .orderBy("o_orderkey").collect() === liveBefore,
      "a committed-but-unexecuted tombstone must not affect readers")
    // recovery: resume executes the pending tombstone idempotently
    assert(TableLog.vacuumResume(spark, path) === doomed.size)
    assert(doomed.forall(f => !fs(path)
      .exists(new org.apache.hadoop.fs.Path(f))))
    assert(TableLog.vacuumResume(spark, path) === 0,
      "a completed tombstone must not replay")
    val (c2, d2) = TableLog.vacuumRetention(spark, path, 1)
    assert(c2 === 0 && d2 === 0)
    assert(TableLog.scan(spark, path, None)
      .orderBy("o_orderkey").collect() === liveBefore)
  }

  test("the in-flight-writer guard: a data file newer than the latest " +
    "commit is never condemned") {
    val path = fixture()
    // an uncommitted writer lands AFTER the last manifest — mtime-newer
    Thread.sleep(5)
    Tables(spark, sf, "orders").limit(10)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$path/data/inflight")
    val inflight = dataFiles(path).filter(_.contains("/inflight/"))
    assert(inflight.nonEmpty)
    TableLog.vacuumRetention(spark, path, retain = 1)
    assert(inflight.forall(f => fs(path)
      .exists(new org.apache.hadoop.fs.Path(f))),
      "vacuum condemned a possibly-in-flight write")
  }

  test("log vacuum: old manifests age out, the latest snapshot is " +
    "unchanged, time travel beyond the horizon fails LOUDLY, and a " +
    "post-truncation append cannot reuse an aged-out version number") {
    val path = fixture()
    TableLog.vacuumRetention(spark, path, retain = 1)
    val liveBefore = TableLog.scan(spark, path, None)
      .orderBy("o_orderkey").collect()
    assert(TableLog.versions(spark, path).size === 3)
    assert(TableLog.vacuumLog(spark, path, keepLast = 1) === 2)
    val left = TableLog.versions(spark, path)
    assert(left === Seq(2))
    assert(TableLog.scan(spark, path, None)
      .orderBy("o_orderkey").collect() === liveBefore)
    // beyond the horizon: loud failure, never silent wrong data
    intercept[IllegalArgumentException] {
      TableLog.scan(spark, path, Some(0))
    }
    // the next commit numbers PAST the truncated history — a
    // commits.size-based committer would claim v00001 here, a version
    // number readers' histories already used
    val v = TableLog.commitCas(spark, path,
      Seq("late/append-file"))
    assert(v === 3, s"expected v3 after truncation, got v$v")
    assert(TableLog.versions(spark, path)
      === Seq(2, 3))
    // and idempotence: nothing left to age out below the horizon
    assert(TableLog.vacuumLog(spark, path, keepLast = 2) === 0)
  }

  test("CDC apply is idempotent: re-applying the feed to the ALREADY-" +
    "SYNCED replica changes nothing, and the replica equals the source") {
    val once = SparkEntry.queries("sink_changefeed_apply")(spark, sf)
      .collect()
    // the replica must equal the post-merge source snapshot exactly
    val merge = queries.Physical.mergeSinkStaged(spark, sf)
    val src = TableLog.scan(spark, merge, None)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_orderstatus").collect()
    assert(once.nonEmpty && once === src,
      "replica diverged from the source snapshot")
    // the crash-replay window: the feed is delivered AGAIN to a replica
    // that already has it. minus-keys-then-union must be a fixpoint.
    val m0 = TableLog.snapshot(spark, merge, Some(0)).files
    val m1 = TableLog.snapshot(spark, merge, Some(1)).files
    val before = spark.read.parquet(m0.diff(m1): _*)
      .select(col("o_orderkey"), col("o_orderstatus").as("st0"),
        col("o_totalprice").as("tp0"))
    val after = spark.read.parquet(m1.diff(m0): _*)
      .select(col("o_orderkey"), col("o_orderstatus").as("st1"),
        col("o_totalprice").as("tp1"))
    val feed = before.join(after, Seq("o_orderkey"), "full_outer")
      .withColumn("op",
        when(col("st0").isNull, "insert")
          .when(col("st1").isNull, "delete")
          .when(col("st0") =!= col("st1") ||
            col("tp0") =!= col("tp1"), "update")
          .otherwise("unchanged"))
      .filter(col("op") =!= "unchanged")
    val synced = spark.read.parquet(
      Staging.dir("graft_cdc_replica_v1", sf))
    val reapplied = synced
      .join(feed.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(feed.filter(col("op") =!= "delete")
        .select(col("o_orderkey"), col("st1").as("o_orderstatus"),
          col("tp1").as("o_totalprice")))
    assert(reapplied.orderBy("o_orderkey").collect() ===
      synced.orderBy("o_orderkey").collect(),
      "re-delivered feed mutated an already-synced replica")
  }
}
