package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Structured Streaming semantics under controlled batch boundaries
  * (SURVEY §5.2: out-of-order within watermark accepted, late beyond
  * watermark dropped, stateful dedup emits once). MemoryStream gives
  * explicit control over what arrives in which micro-batch.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window + watermark: out-of-order within watermark counted, " +
    "late beyond watermark dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
    val query = agg.writeStream.format("memory").queryName("t_tumble")
      .outputMode("append").start()

    // batch 1: two in [10:00,11:00), one in [11:00,12:00); wm → 10:55
    mem.addData((ts("2024-01-01 10:05:00"), "a"),
      (ts("2024-01-01 10:15:00"), "b"), (ts("2024-01-01 11:05:00"), "c"))
    query.processAllAvailable()
    // batch 2: 12:30 advances wm to 12:20; 10:20 is out-of-order but its
    // window is still open → counted; 09:30's window closed → dropped
    mem.addData((ts("2024-01-01 12:30:00"), "d"),
      (ts("2024-01-01 10:20:00"), "late-ok"),
      (ts("2024-01-01 09:30:00"), "too-late"))
    query.processAllAvailable()
    // batch 3: push wm far ahead so every window flushes
    mem.addData((ts("2024-01-01 15:00:00"), "e"))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("t_tumble")
      .select(col("window.start").cast("string"), col("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("2024-01-01 10:00:00") === 3) // 10:05, 10:15 + late-ok 10:20
    assert(out("2024-01-01 11:00:00") === 1)
    assert(!out.contains("2024-01-01 09:00:00")) // dropped beyond watermark
  }

  test("dropDuplicatesWithinWatermark emits each id once across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val dedup = mem.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val query = dedup.writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()

    mem.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:30"), 1L),
      (ts("2024-01-01 10:01:00"), 2L))
    query.processAllAvailable()
    mem.addData((ts("2024-01-01 10:02:00"), 1L), // dup from batch 1, in wm
      (ts("2024-01-01 10:03:00"), 3L))
    query.processAllAvailable()
    query.stop()

    val ids = spark.table("t_dedup").select("id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(ids === Seq(1L, 2L, 3L))
  }

  test("byStateStreaming: open session survives micro-batches, closes on " +
    "in-data gap and on event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val src = mem.toDF().toDF("ts", "user_id").withWatermark("ts", "0 seconds")
    val sessions = graft.operators.Sessionize.byStateStreaming(
      spark, src, col("user_id"), col("ts"), 30L * 60 * 1000 * 1000)
    val query = sessions.writeStream.format("memory").queryName("t_sess_ss")
      .outputMode("append").start()
    // batch 1: two events 10 min apart → one open session (nothing emitted)
    mem.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 1L))
    query.processAllAvailable()
    assert(spark.table("t_sess_ss").count() === 0)
    // batch 2: 11:30 is > 30 min after 10:10 → closes the first session
    // in-data; the event itself opens a new session
    mem.addData((ts("2024-01-01 11:30:00"), 1L))
    query.processAllAvailable()
    // batch 3: another user far in the future pushes the watermark past
    // 11:30 + 30 min → the open session times out and is emitted
    mem.addData((ts("2024-01-01 15:00:00"), 2L))
    query.processAllAvailable()
    // batch 4: empty-ish nudge so the timeout-emitted row lands in the sink
    mem.addData((ts("2024-01-01 16:00:00"), 2L))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("t_sess_ss")
      .select(col("key"), col("session_start").cast("string"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains((1L, "2024-01-01 10:00:00", 2L)), rows.toString)
    assert(rows.contains((1L, "2024-01-01 11:30:00", 1L)), rows.toString)
  }

  test("byStateStreaming: out-of-order within-watermark event older than " +
    "the open session's start extends the session backwards") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val src = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "30 minutes")
    val sessions = graft.operators.Sessionize.byStateStreaming(
      spark, src, col("user_id"), col("ts"), 30L * 60 * 1000 * 1000)
    val query = sessions.writeStream.format("memory").queryName("t_sess_ooo")
      .outputMode("append").start()
    // batch 1: open session at 10:00 (wm lags 30 min → 09:30-ish)
    mem.addData((ts("2024-01-01 10:00:00"), 1L))
    query.processAllAvailable()
    // batch 2: 09:50 is older than the open start but within watermark and
    // within the gap of 10:00 → session must begin at 09:50, not 10:00
    mem.addData((ts("2024-01-01 09:50:00"), 1L))
    query.processAllAvailable()
    // close it: push the watermark far past 10:00 + gap
    mem.addData((ts("2024-01-01 15:00:00"), 2L))
    query.processAllAvailable()
    mem.addData((ts("2024-01-01 16:00:00"), 2L))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("t_sess_ooo")
      .select(col("key"), col("session_start").cast("string"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains((1L, "2024-01-01 09:50:00", 2L)), rows.toString)
  }

  test("transformWithState (Spark 4 stateful API): ValueState running " +
    "count survives across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Timestamp, Long)]
      val out = mem.toDS().groupByKey(_._2)
        .transformWithState(new graft.streaming.RunningCount, TimeMode.None(),
          OutputMode.Update())
      val query = out.toDF("key", "cnt").writeStream.format("memory")
        .queryName("t_tws").outputMode("update").start()
      mem.addData((ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:01:00"), 1L), (ts("2024-01-01 10:02:00"), 2L))
      query.processAllAvailable()
      mem.addData((ts("2024-01-01 10:03:00"), 1L))
      query.processAllAvailable()
      query.stop()
      val rows = spark.table("t_tws").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch 1 emits (1,2),(2,1); batch 2 emits (1,3) — state carried over
      assert(rows === Set((1L, 2L), (2L, 1L), (1L, 3L)))
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join: click matches impression within 1h, " +
    "both sides watermarked") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val joined = imps.toDF().toDF("imp_ts", "ad_id")
      .withWatermark("imp_ts", "10 minutes")
      .join(
        clicks.toDF().toDF("click_ts", "c_ad_id")
          .withWatermark("click_ts", "10 minutes"),
        expr("""ad_id = c_ad_id AND
                click_ts >= imp_ts AND click_ts <= imp_ts + INTERVAL 1 HOUR"""))
    val query = joined.writeStream.format("memory").queryName("t_ssjoin")
      .outputMode("append").start()
    imps.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
    query.processAllAvailable()
    clicks.addData(
      (ts("2024-01-01 10:30:00"), 1L),  // within 1h of imp 1 → match
      (ts("2024-01-01 11:30:00"), 2L))  // 1.5h after imp 2 → no match
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("t_ssjoin").select("ad_id").collect()
      .map(_.getLong(0)).toSeq
    assert(rows === Seq(1L))
  }

  test("session_window groups bursts separated by >30min gaps") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
      (1L, ts("2024-01-01 10:20:00")),
      (1L, ts("2024-01-01 11:30:00")), (1L, ts("2024-01-01 11:40:00")),
      (2L, ts("2024-01-01 10:00:00"))).toDF("user_id", "ts")
    val sessions = df.groupBy(session_window(col("ts"), "30 minutes"),
      col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").cast("string"),
        col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(sessions === Set(
      (1L, "2024-01-01 10:00:00", 3L),
      (1L, "2024-01-01 11:30:00", 2L),
      (2L, "2024-01-01 10:00:00", 1L)))
  }

  test("streaming batch-twin queries agree with each other: " +
    "flatMapGroupsWithState sessionization == session_window result") {
    val a = q("stream_session").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val b = q("stream_flatmapgroups").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("stream_dedup_bloom admits exactly the never-seen-before texts: " +
    "equals the batch ground truth, zero false negatives on re-crawls") {
    import org.apache.spark.sql.functions._
    val got = q("stream_dedup_bloom").collect().map(_.getLong(0)).toSeq
    // batch ground truth, computed without any bloom involvement
    val docs = Tables(spark, sf, "documents")
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 17 === 3)
        .select((col("doc_id") + queries.TextOps.RecrawlIdOffset)
          .as("doc_id"), col("text")))
    val baseTexts = docs.filter(col("doc_id") % 10 =!= 0).select("text")
    val expected = batch.join(baseTexts, Seq("text"), "left_anti")
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === expected)
    // no false negatives: every re-crawled doc (its text IS in base) was
    // dropped — no surviving id carries the recrawl offset
    assert(!got.exists(_ >= queries.TextOps.RecrawlIdOffset))
    assert(got.nonEmpty)
  }

  test("sliding window streaming: each event lands in exactly 4 windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("cnt"))
    val query = agg.writeStream.format("memory").queryName("t_slide")
      .outputMode("complete").start()
    mem.addData((ts("2024-01-01 10:20:00"), "a"))
    query.processAllAvailable()
    query.stop()
    val starts = spark.table("t_slide")
      .select(col("window.start").cast("string")).collect()
      .map(_.getString(0)).sorted
    assert(starts === Array("2024-01-01 09:30:00", "2024-01-01 09:45:00",
      "2024-01-01 10:00:00", "2024-01-01 10:15:00"))
  }

  test("checkpoint recovery: transformWithState stops mid-stream and " +
    "restarts from its checkpoint — state survives, emissions are " +
    "exactly-once, final totals match an uninterrupted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_ckpt_tws").toString
      val mem = MemoryStream[(Timestamp, Long)]
      // memory/console sinks refuse checkpoint recovery; foreachBatch is
      // the recoverable programmable sink (same surface a production
      // upsert consumer uses), collecting per-run emissions driver-side
      val emitted =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      def start(run: Int) = mem.toDS().groupByKey(_._2)
        .transformWithState(new graft.streaming.RunningCount, TimeMode.None(),
          OutputMode.Update())
        .toDF("key", "cnt").writeStream
        .option("checkpointLocation", ckpt).outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.collect().map(r =>
            (run, r.getLong(0), r.getLong(1)))
          emitted.synchronized { emitted ++= rows; () }
        }.start()
      // run 1: two batches, then STOP (simulated failure/redeploy)
      val q1 = start(1)
      mem.addData((ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:01:00"), 1L), (ts("2024-01-01 10:02:00"), 2L))
      q1.processAllAvailable()
      mem.addData((ts("2024-01-01 10:03:00"), 3L))
      q1.processAllAvailable()
      q1.stop()
      val run1 = emitted.synchronized {
        emitted.filter(_._1 == 1).map(e => (e._2, e._3)).toSet }
      assert(run1 === Set((1L, 2L), (2L, 1L), (3L, 1L)))
      // data arriving while "down"
      mem.addData((ts("2024-01-01 10:04:00"), 1L),
        (ts("2024-01-01 10:05:00"), 2L))
      // run 2: restart FROM THE CHECKPOINT — the collected run-2 rows are
      // exactly what the restarted instance emits
      val q2 = start(2)
      q2.processAllAvailable()
      q2.stop()
      val run2 = emitted.synchronized {
        emitted.filter(_._1 == 2).map(e => (e._2, e._3)).toSet }
      // recovered ValueState: counts CONTINUE (1→3, 2→2), they don't
      // restart at 1; already-committed batches are not re-emitted
      // (exactly-once across the restart), so key 3 stays silent
      assert(run2 === Set((1L, 3L), (2L, 2L)))
      // and the final per-key totals equal an uninterrupted batch count
      val finalTotals = (run1 ++ run2).groupBy(_._1)
        .map { case (k, kv) => (k, kv.map(_._2).max) }
      assert(finalTotals === Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("checkpoint recovery: windowed aggregation (append mode) restarts " +
    "from its checkpoint — watermark and window state survive, every " +
    "window emits exactly once across the restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_win").toString
    val mem = MemoryStream[(Timestamp, String)]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    def start(run: Int) = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("string").as("ws"), col("cnt"))
      .writeStream
      .option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r =>
          (run, r.getString(0), r.getLong(1)))
        emitted.synchronized { emitted ++= rows; () }
      }.start()
    // run 1: fill two windows, stop BEFORE the watermark closes either —
    // all state (open windows + watermark) lives only in the checkpoint
    val q1 = start(1)
    mem.addData((ts("2024-01-01 10:05:00"), "a"),
      (ts("2024-01-01 10:15:00"), "b"), (ts("2024-01-01 11:05:00"), "c"))
    q1.processAllAvailable()
    q1.stop()
    val run1 = emitted.synchronized {
      emitted.filter(_._1 == 1).map(e => (e._2, e._3)).toSet }
    assert(run1 === Set.empty, "no window may emit before the watermark")
    // run 2: restart from the checkpoint. 10:20 joins the still-open
    // 10:00 window; 09:30's window end (10:00) is BELOW the recovered
    // watermark (10:55) and must be dropped — if the restart had reset
    // the watermark to zero instead of recovering it, a spurious 09:00
    // window would emit. Then advance the watermark to flush everything.
    val q2 = start(2)
    mem.addData((ts("2024-01-01 10:20:00"), "d"),
      (ts("2024-01-01 09:30:00"), "beyond-recovered-wm"))
    q2.processAllAvailable()
    mem.addData((ts("2024-01-01 15:00:00"), "e"))
    q2.processAllAvailable()
    q2.stop()
    val run2 = emitted.synchronized {
      emitted.filter(_._1 == 2).map(e => (e._2, e._3)).toSet }
    // pre-restart rows (a, b) are counted from RECOVERED window state,
    // post-restart row (d) joins the same window; the beyond-watermark row
    // is dropped; each window appears exactly once across both instances
    assert(run2 === Set(("2024-01-01 10:00:00", 3L),
      ("2024-01-01 11:00:00", 1L)))
    // equals an uninterrupted run of the same data, window for window
    val mem2 = MemoryStream[(Timestamp, String)]
    val solid = mem2.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("string").as("ws"), col("cnt"))
      .writeStream.format("memory").queryName("t_ckpt_win_solid")
      .outputMode("append").start()
    mem2.addData((ts("2024-01-01 10:05:00"), "a"),
      (ts("2024-01-01 10:15:00"), "b"), (ts("2024-01-01 11:05:00"), "c"))
    solid.processAllAvailable()
    mem2.addData((ts("2024-01-01 10:20:00"), "d"),
      (ts("2024-01-01 09:30:00"), "beyond-recovered-wm"))
    solid.processAllAvailable()
    mem2.addData((ts("2024-01-01 15:00:00"), "e"))
    solid.processAllAvailable()
    solid.stop()
    val unbroken = spark.table("t_ckpt_win_solid").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert((run1 ++ run2) === unbroken,
      "interrupted-and-recovered run must equal the uninterrupted run")
  }

  test("foreachBatch batch-writer sink is restart-safe: kill mid-stream, " +
    "restart from the checkpoint — the append+max-fold sink shows no " +
    "loss and no double-count, and committed batches never re-emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_feb").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft_feb_sink").toString + "/sink"
    val mem = MemoryStream[(Timestamp, String)]
    // the exact stream_foreach_batch pipeline shape: update-mode running
    // count appended to parquet, read back with a max() fold — max of a
    // monotone count is idempotent, which is what makes plain APPEND a
    // legitimate batch-writer sink across restarts and replays
    def start() = mem.toDF().toDF("ts", "event_type")
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .writeStream
      .option("checkpointLocation", ckpt).outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }.start()
    def folded: Map[String, Long] = spark.read.parquet(out)
      .groupBy("event_type").agg(max(col("cnt")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // run 1: two batches, then STOP (simulated failure/redeploy)
    val q1 = start()
    mem.addData((ts("2024-01-01 10:00:00"), "a"),
      (ts("2024-01-01 10:01:00"), "a"), (ts("2024-01-01 10:02:00"), "b"))
    q1.processAllAvailable()
    mem.addData((ts("2024-01-01 10:03:00"), "b"))
    q1.processAllAvailable()
    q1.stop()
    assert(folded === Map("a" -> 2L, "b" -> 2L))
    // data arriving while "down", then restart FROM THE CHECKPOINT
    mem.addData((ts("2024-01-01 10:04:00"), "a"),
      (ts("2024-01-01 10:05:00"), "c"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // recovered state CONTINUES (a: 2→3), nothing is lost (c arrives),
    // nothing double-counts (b stays 2 — its count would read 4 if the
    // recovered run re-aggregated from scratch, or if committed batches
    // were re-appended and the fold were sum-shaped instead of max)
    assert(folded === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    // restart once more with NOTHING new: committed batches must not
    // re-emit — the sink's physical row count stays put (exactly-once
    // delivery to the batch writer across restarts)
    val rowsAfterQ2 = spark.read.parquet(out).count()
    val q3 = start()
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(out).count() === rowsAfterQ2,
      "an idle restart re-emitted already-committed batches into the sink")
    assert(folded === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("stream_dedup_bloom pipeline shape is restart-safe: recovered " +
    "min-state keeps the original survivor across a kill, a lower id " +
    "arriving after restart still wins, cross-run dups stay dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_bloom").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft_bloom_sink").toString + "/sink"
    // previous-run handoff: two known texts as bloom + hash set
    val base = Seq("old one", "old two").toDF("text")
      .select(xxhash64(col("text")).as("h"))
    val bf = base.stat.bloomFilter("h", 1000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    val baseStatic = base.withColumn("in_base", lit(true))
    val mem = MemoryStream[(Long, String)]
    // the exact stream_dedup_bloom dataflow, durable variant: checkpointed
    // update-mode min aggregate appended via foreachBatch, min-folded on
    // read — min of min is idempotent, so replayed emissions are harmless
    def start() = {
      val stream = mem.toDF().toDF("doc_id", "text")
        .withColumn("h", xxhash64(col("text")))
        .withColumn("bloom_hit",
          call_function("graft_bloom_contains", col("h"), lit(bytes)))
      val hits = stream.filter(col("bloom_hit"))
      val misses = stream.filter(!col("bloom_hit"))
      val confirmedNew = hits.join(baseStatic, Seq("h"), "left_outer")
        .filter(col("in_base").isNull).drop("in_base")
      misses.unionByName(confirmedNew)
        .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
        .writeStream.option("checkpointLocation", ckpt).outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }.start()
    }
    def folded: Map[String, Long] = spark.read.parquet(out)
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // run 1: two fresh texts admitted, one cross-run dup dropped — STOP
    val q1 = start()
    mem.addData((10L, "fresh alpha"), (11L, "old one"), (12L, "fresh beta"))
    q1.processAllAvailable()
    q1.stop()
    assert(folded === Map("fresh alpha" -> 10L, "fresh beta" -> 12L))
    // while "down": a replay of alpha under a HIGHER id (recovered state
    // must keep 10), a LOWER id for beta (must win), a new text, and
    // another cross-run dup; then restart FROM THE CHECKPOINT
    mem.addData((20L, "fresh alpha"), (5L, "fresh beta"),
      (21L, "fresh gamma"), (22L, "old two"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(folded === Map("fresh alpha" -> 10L, "fresh beta" -> 5L,
      "fresh gamma" -> 21L))
  }

  test("real streaming run over files (AvailableNow) matches batch counts") {
    val streamed = q("stream_tumbling").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed === batch)
  }

  test("state-provider independence: session window, stateful dedup and " +
    "interval join produce identical results under the RocksDB provider") {
    // the 100 TB deployment choice is RocksDB (state spills off-heap to
    // local disk instead of living on the executor heap); results must
    // not depend on it. transformWithState already pins RocksDB — this
    // covers the remaining stateful queries, which otherwise run on the
    // default HDFS-backed store.
    val keys =
      Seq("stream_session", "stream_stateful_dedup", "stream_interval_join")
    def runAll(): Map[String, Seq[String]] = keys.map { k =>
      k -> q(k).collect().map(_.toString).sorted.toSeq
    }.toMap
    val onDefault = runAll()
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val onRocks = runAll()
      keys.foreach { k =>
        assert(onDefault(k).nonEmpty, s"$k produced no rows")
        assert(onRocks(k) === onDefault(k), s"$k differs across providers")
      }
    } finally prev match {
      case Some(p) => spark.conf.set(conf, p)
      case None => spark.conf.unset(conf)
    }
  }

  test("RocksDB sizing knobs are semantics-neutral: bounded memory + " +
    "changelog checkpointing reproduce the unbounded results exactly") {
    // the knobs StreamingOps' B60 sizing notes tell a 100 TB deployment
    // to set — a fleet-wide memory cap and delta-changelog uploads — must
    // change WHERE state lives and HOW checkpoints ship, never what the
    // query returns. Run the stateful trio under both and compare.
    val keys =
      Seq("stream_stateful_dedup", "stream_transform_with_state",
        "stream_session")
    def runAll(): Map[String, Seq[String]] = keys.map { k =>
      k -> q(k).collect().map(_.toString).sorted.toSeq
    }.toMap
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"),
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "64",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true")
    val baseline = runAll()
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val bounded = runAll()
      keys.foreach { k =>
        assert(baseline(k).nonEmpty, s"$k produced no rows")
        assert(bounded(k) === baseline(k),
          s"$k differs under bounded-memory RocksDB")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("stream_chained_agg runs BOTH aggregation levels inside one " +
    "streaming query (two stateful operators in the progress report) and " +
    "the daily rollup matches the batch twin") {
    // two-stateful-operator proof on a controlled MemoryStream replica of
    // the query shape: hourly count -> window_time re-window -> daily sum
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val hourly = mem.toDF().toDF("ts", "typ")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("typ"))
      .agg(count(lit(1)).as("cnt"))
    val daily = hourly
      .groupBy(window(window_time(col("window")), "1 day"), col("typ"))
      .agg(sum(col("cnt")).as("cnt"))
    val query = daily.writeStream.format("memory").queryName("t_chained")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 10:05:00"), "a"),
      (ts("2024-01-01 10:15:00"), "a"), (ts("2024-01-01 23:05:00"), "b"))
    query.processAllAvailable()
    // push the watermark past Jan 2 so both hourly and daily state flush
    mem.addData((ts("2024-01-02 06:00:00"), "z"))
    query.processAllAvailable()
    query.stop()
    val statefulOps = query.recentProgress
      .map(_.stateOperators.length).max
    assert(statefulOps === 2,
      "chained aggregation must run two stateful operators in ONE query")
    val out = spark.table("t_chained")
      .select(col("window.start").cast("string"), col("typ"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(out === Set(("2024-01-01 00:00:00", "a", 2L),
      ("2024-01-01 00:00:00", "b", 1L)))

    // the shipped query (real file source, AvailableNow) equals the batch
    // rollup computed directly off the events table
    val streamed = q("stream_chained_agg").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(date_trunc("day", col("h")).as("ws"), col("event_type"))
      .agg(sum("cnt").as("cnt"), count(lit(1)).as("n_hours"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed === batch)
  }

  test("stream_dedup_incremental: four micro-batches with per-batch " +
    "label correction converge to EXACTLY the one-shot batch refresh's " +
    "cluster partition (same labels, same is_new flags)") {
    val batchTwin = q("dedup_minhash_incremental").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val streamed = q("stream_dedup_incremental").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(batchTwin.nonEmpty)
    assert(streamed === batchTwin,
      s"only-batch: ${(batchTwin -- streamed).take(5)}; " +
        s"only-stream: ${(streamed -- batchTwin).take(5)}")
  }

  test("stream_sink_files is exactly-once end to end: a rerun with the " +
    "same checkpoint commits nothing new, and a stray file dropped into " +
    "the sink dir is invisible to the manifest-driven read") {
    val first = q("stream_sink_files").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batchCounts = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("event_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(first === batchCounts)
    // rerun: AvailableNow over the same checkpoint finds no new source
    // files; the sink must not grow (no double-commit)
    val second = q("stream_sink_files").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(second === first, "rerun must commit nothing new")
    // a file the transaction log never committed must be invisible:
    // copy a real sink file under a new name (valid parquet, same schema)
    val sink = graft.streaming.StreamingOps.fileSinkDirs(spark, sf)._1
    val aFile = new java.io.File(sink).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.isFile).head
    val stray = new java.io.File(sink, "part-stray-uncommitted.parquet")
    java.nio.file.Files.copy(aFile.toPath, stray.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    try {
      val third = q("stream_sink_files").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(third === first,
        "reads must go through _spark_metadata, not the directory listing")
    } finally stray.delete()
  }
}
