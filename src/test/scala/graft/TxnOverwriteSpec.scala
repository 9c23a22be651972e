package graft

/** Log-level pins for the transactional partition-overwrite sink — the
  * properties the DuckDB oracles can't check because they live in the
  * manifest files, not the query output: the v1 commit actually REMOVED
  * partition F's v0 files (not just appended), v0's manifest is
  * physically untouched by the overwrite, and the crashed v2 writer's
  * bytes are on disk but referenced by no snapshot.
  */
class TxnOverwriteSpec extends SparkSpec {

  private lazy val path = queries.Physical.txnOverwriteStaged(spark, sf)

  private def manifest(v: Int): Seq[String] = {
    val f = new java.io.File(s"$path/_commits", f"v$v%05d.manifest")
    assert(f.exists(), s"missing manifest v$v")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toSeq finally src.close()
  }

  test("the overwrite commit swaps partition F's files and leaves the " +
    "rest of the snapshot untouched") {
    val v0 = manifest(0)
    val v1 = manifest(1)
    val v0F = v0.filter(_.contains("/status=F/"))
    assert(v0F.nonEmpty, "fixture must have a partition F at v0")
    // removed: no v0 F-file survives into v1
    assert(v1.intersect(v0F).isEmpty, "v1 still references replaced files")
    // replaced: v1 carries the rewritten partition from the v1 data dir
    assert(v1.exists(_.contains("/v1/status=F/")), "rewritten F missing")
    // untouched: every non-F v0 file is still referenced verbatim
    val v0rest = v0.filterNot(_.contains("/status=F/"))
    assert(v0rest.forall(v1.contains), "non-overwritten partitions moved")
  }

  test("the crashed overwrite's bytes exist on disk but no snapshot " +
    "references them") {
    val orphanDir = new java.io.File(s"$path/data/v2/status=O")
    assert(orphanDir.isDirectory &&
      orphanDir.listFiles.exists(_.getName.startsWith("part-")),
      "fixture must carry the crashed writer's data files")
    Seq(0, 1).foreach { v =>
      assert(!manifest(v).exists(_.contains("/v2/")),
        s"v$v references the uncommitted slice")
    }
  }

  test("sink_manifest_skipping prunes files by manifest stats (strictly " +
    "fewer than the layout's file count) and loses no qualifying row") {
    import org.apache.spark.sql.functions._
    val path = queries.Physical.statsManifestStaged(spark, sf)
    val stats = spark.read.parquet(s"$path/stats").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stats.length === 8, "range layout should produce 8 files")
    val bounds = Tables(spark, sf, "orders")
      .agg(floor(max("o_orderkey") * 0.37).cast("long"),
        floor(max("o_orderkey") * 0.55).cast("long")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val pruned = stats.filter { case (_, mn, mx) => mx >= lo && mn <= hi }
    assert(pruned.nonEmpty && pruned.length < stats.length,
      s"pruning must drop files: ${pruned.length}/${stats.length}")
    // the pruned read equals a full-scan filter over the same layout
    val full = spark.read.parquet(s"$path/data")
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi).count()
    val viaManifest = q("sink_manifest_skipping").collect()
      .map(_.getLong(1)).sum
    assert(viaManifest === full)
  }

  // ---- MERGE upsert (copy-on-write manifest transaction) ----

  private lazy val mergePath = queries.Physical.mergeSinkStaged(spark, sf)

  private def mergeManifest(v: Int): Seq[String] = {
    val f = new java.io.File(s"$mergePath/_commits", f"v$v%05d.manifest")
    assert(f.exists(), s"missing merge manifest v$v")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toSeq finally src.close()
  }

  test("merge rewrites only the matched files: untouched v0 files are " +
    "carried by reference, touched ones replaced, inserts appended") {
    val v0 = mergeManifest(0)
    val v1 = mergeManifest(1)
    val carried = v0.filter(v1.contains)
    val replaced = v0.filterNot(v1.contains)
    assert(carried.nonEmpty, "merge must carry untouched files verbatim")
    assert(replaced.nonEmpty, "merge must replace at least one file")
    assert(replaced.size < v0.size,
      s"matched-file pruning must not rewrite the whole table " +
        s"(${replaced.size}/${v0.size})")
    assert(v1.exists(_.contains("/v1_rewrite/")), "rewritten files missing")
    assert(v1.exists(_.contains("/v1_insert/")), "insert files missing")
  }

  test("merge time travel: v0 serves the pre-merge table (no 'U' rows), " +
    "the latest snapshot has them, the crashed merge stays invisible") {
    import org.apache.spark.sql.functions._
    val v0 = TableLog.scan(spark, mergePath, Some(0))
    assert(v0.filter(col("o_orderstatus") === "U").count() === 0L)
    val latest = TableLog.scan(spark, mergePath, None)
    assert(latest.filter(col("o_orderstatus") === "U").count() > 0L)
    // crashed second merge: bytes on disk, no snapshot reference
    val orphanDir = new java.io.File(s"$mergePath/data/v2_crash")
    assert(orphanDir.isDirectory &&
      orphanDir.listFiles.exists(_.getName.startsWith("part-")),
      "fixture must carry the crashed merge's data files")
    assert(latest.filter(col("o_orderstatus") === "X").count() === 0L)
    // target(2/3 of orders) + inserts(1/3) = all of orders, exactly once
    assert(latest.count() === Tables(spark, sf, "orders").count())
  }

  // ---- compaction as a manifest transaction ----

  test("compaction commits a strictly smaller file list with identical " +
    "rows, and the pre-compaction version keeps serving") {
    val path = queries.Physical.compactTxnStaged(spark, sf)
    def m(v: Int): Seq[String] = {
      val f = new java.io.File(s"$path/_commits", f"v$v%05d.manifest")
      assert(f.exists(), s"missing compact manifest v$v")
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).toSeq finally src.close()
    }
    val before = m(1)
    val after = m(2)
    assert(after.size <= 3 && after.size < before.size,
      s"compaction must shrink the file list (${before.size} -> " +
        s"${after.size})")
    assert(after.forall(_.contains("/compacted/")),
      "the compacted snapshot must reference only compacted files")
    val v1 = TableLog.scan(spark, path, Some(1))
    val v2 = TableLog.scan(spark, path, Some(2))
    assert(v1.count() === v2.count(), "compaction changed the row count")
    // the small files stay referenced by v1 — compaction never deletes
    assert(before.forall(f => new java.io.File(
      new java.net.URI(f).getPath).exists()),
      "pre-compaction files must survive for time travel / vacuum aging")
  }

  // ---- optimistic concurrency (CAS commit) ----

  test("CAS commit: two racing writers interleave without clobbering — " +
    "every append lands exactly once and every version is dense") {
    val path = graft.Staging.dir("graft_spec_caslog", sf)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    TableLog.commitCas(spark, path, Seq("seed/file0"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 2).map { w =>
      new Thread(() =>
        try (1 to 4).foreach { i =>
          TableLog.commitCas(spark, path,
            Seq(s"w$w/file$i"), Seq("writer" -> s"w$w"))
        } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"writer thread failed: ${failures.peek()}")
    val commits = TableLog.versions(spark, path)
    assert(commits.size === 9, s"9 dense versions expected: $commits")
    val latest = TableLog.snapshot(spark, path, None).files
    val expected = Set("seed/file0") ++
      (for (w <- 1 to 2; i <- 1 to 4) yield s"w$w/file$i")
    assert(latest.toSet === expected, "a lost race dropped or duplicated " +
      s"an append: $latest")
    assert(latest.size === latest.distinct.size)
  }

  test("CAS claim primitive: two claimants of one version WITHOUT the " +
    "JVM lock resolve to exactly one winner (cross-process arbitration)") {
    // drives claimVersion bare — this models two DRIVER PROCESSES, which
    // the per-log JVM lock cannot see. On local FS the old rename-based
    // claim let both "win" (POSIX rename overwrites); the link(2) claim
    // must arbitrate in the kernel. Repeat to shake scheduling.
    val path = graft.Staging.dir("graft_spec_casclaim", sf)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    (0 until 20).foreach { round =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/r$round/_commits")
      fs.mkdirs(dir)
      val dst = new org.apache.hadoop.fs.Path(dir, "v00000.manifest")
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 2).map { w =>
        val tmp = new org.apache.hadoop.fs.Path(dir, s".v00000.w$w.tmp")
        val out = fs.create(tmp, true)
        out.write(s"writer$w/file".getBytes("UTF-8")); out.close()
        new Thread(() => {
          gate.await()
          if (TableLog.claimVersion(fs, tmp, dst))
            wins.incrementAndGet()
        })
      }
      threads.foreach(_.start()); gate.countDown()
      threads.foreach(_.join())
      assert(wins.get === 1,
        s"round $round: ${wins.get} claimants won version 0 — the claim " +
          "primitive failed to arbitrate")
      // and the winner's content is intact (no torn/clobbered manifest)
      val lines = TableLog.snapshot(spark, s"$path/r$round", Some(0)).files
      assert(lines.size === 1 && lines.head.matches("writer[12]/file"))
    }
  }

  // ---- streaming exactly-once into the txn manifest ----

  test("stream txn committer: replaying a committed batch is a no-op, a " +
    "crash between data write and commit is invisible, and recovery " +
    "commits exactly once") {
    import graft.streaming.StreamingOps
    val sink = graft.Staging.dir("graft_spec_streamtxn", sf)
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(sink), true)
    def liveRows: Long =
      TableLog.scan(spark, sink, None).count()
    def commits: Int = TableLog.versions(spark, sink).size
    val b0 = Tables.events(spark, sf).limit(5)
    StreamingOps.commitBatchTxn(spark, sink, b0, 0L)
    assert(commits === 1 && liveRows === 5L)
    // replay of a FULLY COMMITTED batch (crash after manifest rename,
    // before checkpoint commit): the marker makes it a no-op
    StreamingOps.commitBatchTxn(spark, sink, b0, 0L)
    assert(commits === 1, "replayed batch must not commit again")
    assert(liveRows === 5L, "replayed batch double-counted")
    // crash BEFORE the rename: batch 1's data lands, no manifest —
    // readers must not see it
    val b1 = Tables.events(spark, sf).limit(8)
    b1.write.mode("overwrite").parquet(s"$sink/data/batch_1")
    assert(commits === 1 && liveRows === 5L,
      "uncommitted batch data leaked into the snapshot")
    // recovery: the checkpoint replays batch 1; the deterministic
    // rewrite overwrites the orphan and ONE commit publishes it
    StreamingOps.commitBatchTxn(spark, sink, b1, 1L)
    assert(commits === 2 && liveRows === 13L)
    StreamingOps.commitBatchTxn(spark, sink, b1, 1L)
    assert(commits === 2 && liveRows === 13L,
      "post-recovery replay double-counted")
    // replay of an OLD batch after newer commits landed: the replay
    // check reads only the latest manifest, so this passes only
    // because every commit carries the full committed-id marker set
    // forward — a committer that recorded just its own id would
    // double-count batch 0 here
    StreamingOps.commitBatchTxn(spark, sink, b0, 0L)
    assert(commits === 2 && liveRows === 13L,
      "old-batch replay after newer commits double-counted")
  }

  test("stream_manifest_txn lands every event exactly once end-to-end") {
    val out = q("stream_manifest_txn").collect()
    val expected = Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val (et, cnt, nIds) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(cnt === nIds, s"$et: duplicated event ids")
      assert(cnt === expected(et), s"$et: wrong count")
    }
  }

  test("time travel: the v0 snapshot still equals the full pre-overwrite " +
    "table after the overwrite landed") {
    import org.apache.spark.sql.functions._
    val v0 = TableLog.scan(spark, path, Some(0))
    val expected = Tables(spark, sf, "orders").count()
    assert(v0.count() === expected)
    // and the latest snapshot is strictly smaller on partition F only
    val latest = TableLog.scan(spark, path, None)
    val byStatus = latest.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val v0ByStatus = v0.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    v0ByStatus.foreach { case (st, n) =>
      if (st == "F") assert(byStatus.getOrElse(st, 0L) < n, st)
      else assert(byStatus.getOrElse(st, 0L) === n, st)
    }
  }
}
