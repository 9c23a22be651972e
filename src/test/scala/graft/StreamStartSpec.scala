package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.streaming.StreamingOps

/** The streaming start helper: its per-query settings are in force while
  * the query runs and exactly gone after it, thrown or not, and the
  * throwaway replays run on one state store.
  */
class StreamStartSpec extends SparkSpec {

  private val keys =
    Seq(StreamingOps.LocalAfsKey, SQLConf.SHUFFLE_PARTITIONS.key)
  private def snapshot = keys.map(k => k -> spark.conf.getOption(k)).toMap
  private def events = spark.readStream
    .schema(Tables.events(spark, sf).schema)
    .parquet(StreamingOps.stage(spark, sf, "one"))

  test("the session conf is exactly restored after the stream keys and " +
    "after a query that throws; the fork-free filesystem is set inside") {
    val before = snapshot
    q("stream_late_data_drop").collect()
    assert(snapshot === before)
    q("stream_sink_files").collect()
    assert(snapshot === before)

    val seen = new ConcurrentLinkedQueue[String]
    StreamingOps.runStream(spark, events.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.add(b.sparkSession.conf.get(StreamingOps.LocalAfsKey))
        ()
      })
    assert(seen.asScala.toSet === Set(classOf[graft.fs.NioLocalFs].getName))
    assert(snapshot === before)

    // a caller's own value comes back too, through a failed query
    val own = "org.apache.hadoop.fs.local.LocalFs"
    spark.conf.set(StreamingOps.LocalAfsKey, own)
    try {
      val boom = events.select(raise_error(lit("thrown inside the query")))
      val e = intercept[StreamingQueryException](
        StreamingOps.runToTable(spark, boom, "graft_stream_throw", "append"))
      assert(e.getMessage.contains("thrown inside the query"))
      assert(snapshot ===
        before.updated(StreamingOps.LocalAfsKey, Some(own)))
    } finally before(StreamingOps.LocalAfsKey) match {
      case Some(v) => spark.conf.set(StreamingOps.LocalAfsKey, v)
      case None => spark.conf.unset(StreamingOps.LocalAfsKey)
    }
    assert(snapshot === before)
  }

  test("stream_late_data_drop replays on one state store") {
    val runs = new ConcurrentLinkedQueue[java.util.UUID]
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val done = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == "graft_stream_late_drop") runs.add(e.runId)
      def onQueryProgress(e: QueryProgressEvent): Unit =
        if (runs.contains(e.progress.runId)) progress.add(e.progress)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (runs.contains(e.runId)) done.countDown()
    }
    spark.streams.addListener(listener)
    try {
      q("stream_late_data_drop").collect()
      assert(done.await(60, TimeUnit.SECONDS), "no termination event")
    } finally spark.streams.removeListener(listener)
    val ops = progress.asScala.toSeq.flatMap(_.stateOperators)
    assert(ops.nonEmpty)
    assert(ops.map(_.numShufflePartitions).toSet === Set(1L))
  }
}
