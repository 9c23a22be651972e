package graft

import org.apache.spark.sql.functions._

/** Streaming incremental view maintenance over the transaction log:
  * replay idempotence (the crash-before-checkpoint case — re-applying
  * a version must be a structural no-op) and convergence of the
  * streaming fold to the batch recompute.
  */
class StreamIvmSpec extends SparkSpec {

  private def finalView(state: String) =
    TableLog.scan(spark, state, None)
      .filter(col("n") > 0)
      .select(col("o_orderstatus"), col("n").as("n_orders"),
        round(col("rev").cast("double"), 2).as("revenue"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  test("re-applying an already-folded version is a no-op: the view log " +
    "does not grow and the content does not move") {
    val fact = queries.Physical.mergeSinkStaged(spark, sf)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_ivm_spec").toString
    try {
      val state = s"$tmp/state"
      streaming.StreamingOps.applyIvmVersion(spark, fact, state, 0)
      streaming.StreamingOps.applyIvmVersion(spark, fact, state, 1)
      val commits = TableLog.versions(spark, state)
      assert(commits.size === 2, "one view version per applied version")
      val before = rowsOf(finalView(state))
      // the replays a crash between view commit and checkpoint advance
      // would produce — both versions, in both orders
      streaming.StreamingOps.applyIvmVersion(spark, fact, state, 1)
      streaming.StreamingOps.applyIvmVersion(spark, fact, state, 0)
      assert(TableLog.versions(spark, state) === commits,
        "a replay must not append a view version")
      assert(rowsOf(finalView(state)) === before,
        "a replay must not move the view")
      // and the maintained view equals the batch IVM recompute
      assert(before === rowsOf(q("sink_changefeed_ivm")))
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the streaming key converges to the batch recompute") {
    assert(rowsOf(q("stream_changefeed_ivm")) ===
      rowsOf(q("sink_changefeed_ivm")))
  }
}
