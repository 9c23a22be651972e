package graft

import org.apache.spark.sql.functions._

/** Checkpointed delta-manifest log (`sink_log_checkpoint`): the read
  * cost contract — a reader at checkpoint+j opens exactly j delta
  * manifests — plus replay correctness through the mid-log compaction
  * (removals must actually remove).
  */
class LogCheckpointSpec extends SparkSpec {

  private lazy val path =
    queries.Physical.checkpointSinkStaged(spark, sf)

  test("a reader at checkpoint+j opens exactly j delta manifests; " +
    "before the first checkpoint it replays from v0") {
    // fixture: checkpoints at v4 and v8
    val expect = Map(3 -> (-1, 4), 4 -> (4, 0), 5 -> (4, 1),
      6 -> (4, 2), 7 -> (4, 3), 8 -> (8, 0), 9 -> (8, 1))
    expect.foreach { case (v, (ck, opened)) =>
      val (_, gotCk, gotOpened) =
        TableLog.checkpointResolve(spark, path, Some(v))
      assert((gotCk, gotOpened) === ((ck, opened)),
        s"asOf=$v: expected ck=$ck opened=$opened, " +
          s"got ck=$gotCk opened=$gotOpened")
    }
    // the latest read goes through the pointer, not a listing scan
    val (_, ck, opened) =
      TableLog.checkpointResolve(spark, path, None)
    assert(ck === 8 && opened === 1)
  }

  test("replay through the compaction is exact: v6 carries the same " +
    "rows as v5 through different files, and v9 is the full table") {
    def rowsAt(v: Int) = {
      val (files, _, _) =
        TableLog.checkpointResolve(spark, path, Some(v))
      spark.read.parquet(files: _*)
    }
    val v5 = rowsAt(5); val v6 = rowsAt(6)
    assert(v5.count() === v6.count())
    assert(v5.agg(sum("o_orderkey")).head().getLong(0) ===
      v6.agg(sum("o_orderkey")).head().getLong(0),
      "compaction must not change content")
    val (f5, _, _) = TableLog.checkpointResolve(spark, path, Some(5))
    val (f6, _, _) = TableLog.checkpointResolve(spark, path, Some(6))
    assert(f5.toSet !== f6.toSet, "compaction must change the file set")
    val full = Tables(spark, sf, "orders").count()
    assert(rowsAt(9).count() === full,
      "v9 must resolve the complete table (no lost or duplicated slice)")
  }

  test("a crash between checkpoint file and pointer is safe: with the " +
    "pointer pointing at the OLDER checkpoint, reads are slower but " +
    "identical") {
    // simulate by resolving asOf=9 (listing scan finds ck=8) vs the
    // would-be stale-pointer path: base at ck=4 + replay 5..9
    val (files9, _, _) =
      TableLog.checkpointResolve(spark, path, Some(9))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckFile = new org.apache.hadoop.fs.Path(
      s"$path/_commits", "v00004.checkpoint")
    val in = fs.open(ckFile)
    val base = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
    val live = scala.collection.mutable.LinkedHashSet(base: _*)
    (5 to 9).foreach { v =>
      TableLog.snapshot(spark, path, Some(v)).files.foreach { l =>
        if (l.startsWith("+")) live += l.drop(1)
        else if (l.startsWith("-")) live -= l.drop(1)
      }
    }
    assert(live.toSet === files9.toSet,
      "an older checkpoint + longer replay must resolve the same set")
  }

  test("a torn/empty _last_checkpoint pointer degrades to the listing " +
    "scan instead of failing every latest-read") {
    val (filesOk, ckOk, _) =
      TableLog.checkpointResolve(spark, path, None)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(s"$path/_commits",
      "_last_checkpoint")
    def writePtr(bytes: Array[Byte]): Unit = {
      val out = fs.create(ptr, true)
      try out.write(bytes) finally out.close()
    }
    try {
      writePtr(Array.emptyByteArray) // the torn-write worst case
      val (filesTorn, ckTorn, _) =
        TableLog.checkpointResolve(spark, path, None)
      assert(ckTorn === ckOk,
        "fallback must land on the newest checkpoint from the listing")
      assert(filesTorn.toSet === filesOk.toSet,
        "a torn pointer must not change what a latest-read resolves")
    } finally writePtr(ckOk.toString.getBytes("UTF-8"))
  }
}
