package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** In-memory spans and counters for a traced run.
  *
  * Benchmark-side spans (staging, key, build, execute) are opened and
  * closed around the calls into the program. Job and stage spans come from
  * a SparkListener, streaming-batch spans from a StreamingQueryListener and
  * planning-phase times from a QueryExecutionListener. Listener events
  * arrive on Spark's listener bus; after every key the bus is drained
  * (outside the timed window) and everything received since the previous
  * key is assigned to the key just run. Within a key, a job is placed under
  * the streaming batch, build or execute span that covers its start time
  * (streaming jobs run on the query's own thread, under its own job group).
  * Spans are written out when the run ends.
  */
class Tracer(spark: SparkSession, cores: Int) {
  private implicit val formats: Formats = DefaultFormats
  case class Span(id: Int, parent: Int, name: String, layer: String,
      key: String, pass: Int, startMs: Double, var endMs: Double)

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var pass = -1

  // raw listener events, assigned to a key at the next drain
  private val pending = new ConcurrentLinkedQueue[AnyRef]()
  // per-(pass) counters, keyed by metric name
  private val counters = mutable.Map.empty[(Int, String), Double]
  private val batchMs = mutable.Map.empty[Int, ArrayBuffer[Double]]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobCallSite = mutable.Map.empty[Int, String]
  private val passes = mutable.LinkedHashSet.empty[Int]
  private var codegen0 = (0L, 0.0)

  // the named accumulators graft.ingest.IngestMetrics registers
  private val ingestAccumulators = Set("xml_input_processed", "xml_input_ok",
    "xml_input_failed", "records_emitted")

  private def add(p: Int, k: String, v: Double): Unit =
    counters((p, k)) = counters.getOrElse((p, k), 0.0) + v

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = pending.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = pending.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      pending.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = pending.add(e)
  }
  private case class QeEvent(qe: QueryExecution)
  private object qeListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      pending.add(QeEvent(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      pending.add(QeEvent(qe))
  }
  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = pending.add(e)
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    pending.clear()
    attached = false
  }

  def startPass(p: Int): Unit = {
    pass = p
    passes += p
    codegen0 = SparkInternals.codegen()
  }

  def endPass(): Unit = {
    val (n, s) = SparkInternals.codegen()
    add(pass, "codegen.compiles", (n - codegen0._1).toDouble)
    add(pass, "codegen.compile_s", s - codegen0._2)
  }

  def open(key: String, name: String, layer: String): Unit = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, parent, name, layer, key, pass, nowMs, Double.NaN)
    spans += s
    stack.push(s)
  }

  def close(): Unit = {
    val s = stack.pop()
    s.endMs = nowMs
    if (s.parent == -1) assign(s)
  }

  /** A failed call leaves its inner spans open: close them at the key. */
  def closeAll(key: String): Unit =
    while (stack.size > 1 && stack.head.key == key) close()

  /** Drain the bus and attribute everything it delivered to `root` — the
    * staging family or key whose span just closed.
    */
  private def assign(root: Span): Unit = {
    if (!attached) return
    SparkInternals.drainListenerBus(spark.sparkContext)
    val p = root.pass
    val kids = spans.filter(s => s.parent == root.id)
    def within(t: Double) =
      kids.find(k => t >= k.startMs && t <= k.endMs).getOrElse(root)
    val batches = ArrayBuffer.empty[Span]
    var ev = pending.poll()
    val events = ArrayBuffer.empty[AnyRef]
    while (ev != null) { events += ev; ev = pending.poll() }
    val tag = if (root.layer == "staging") "staging." else ""
    // streaming batches first, so the jobs they ran can nest under them
    val stateRows = mutable.Map.empty[String, (Double, Double)]
    events.foreach {
      case e: StreamingQueryListener.QueryProgressEvent =>
        val pr = e.progress
        val d = pr.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
          .toDouble
        val trig = d.getOrElse("triggerExecution", 0.0)
        val par = within(start)
        val b = Span(spans.size, par.id, s"batch ${pr.batchId}",
          "stream_batch", root.key, p, start, start + trig)
        spans += b
        batches += b
        add(p, "stream.batches", 1)
        batchMs.getOrElseUpdate(p, ArrayBuffer.empty) += trig
        add(p, "stream.add_batch_s", d.getOrElse("addBatch", 0.0) / 1e3)
        add(p, "stream.planning_s", d.getOrElse("queryPlanning", 0.0) / 1e3)
        add(p, "stream.wal_commit_s", d.getOrElse("walCommit", 0.0) / 1e3)
        add(p, "stream.commit_offsets_s",
          d.getOrElse("commitOffsets", 0.0) / 1e3)
        val ops = pr.stateOperators
        add(p, "stream.late_dropped",
          ops.map(_.numRowsDroppedByWatermark.toDouble).sum)
        // state size: the last batch of each query counts
        stateRows(pr.id.toString) = (ops.map(_.numRowsTotal.toDouble).sum,
          ops.map(_.memoryUsedBytes.toDouble).sum)
      case _ =>
    }
    stateRows.values.foreach { case (r, b) =>
      add(p, "stream.state_rows", r); add(p, "stream.state_mb", b / 1048576.0)
    }
    def parentAt(t: Double): Span =
      batches.find(b => t >= b.startMs && t <= b.endMs).getOrElse(within(t))
    events.foreach {
      case e: SparkListenerJobStart =>
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
          .getOrElse("")
        val par = parentAt(e.time.toDouble)
        val s = Span(spans.size, par.id, s"job ${e.jobId}", "job", root.key,
          p, e.time.toDouble, e.time.toDouble)
        spans += s
        jobSpan(e.jobId) = s
        jobCallSite(e.jobId) = site
        e.stageIds.foreach(st => stageToJob(st) = e.jobId)
        add(p, s"${tag}exec.jobs", 1)
        if (par.layer != "execute" && par.layer != "key")
          add(p, "build.jobs", 1)
      case e: SparkListenerJobEnd =>
        jobSpan.get(e.jobId).foreach { s =>
          s.endMs = e.time.toDouble
          val inBuild = spans(s.parent).layer != "execute"
          if (root.layer == "key" && inBuild &&
              jobCallSite.getOrElse(e.jobId, "").startsWith("parquet at")) {
            add(p, "tables.resolve_jobs", 1)
            add(p, "tables.resolve_s", (s.endMs - s.startMs) / 1e3)
          }
        }
      case e: SparkListenerStageCompleted =>
        val si = e.stageInfo
        val job = stageToJob.get(si.stageId).flatMap(jobSpan.get)
        val st = si.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
        val en = si.completionTime.map(_.toDouble).getOrElse(st)
        if (!st.isNaN) spans += Span(spans.size, job.map(_.id).getOrElse(root.id),
          s"stage ${si.stageId}", "stage", root.key, p, st, en)
        add(p, s"${tag}exec.stages", 1)
      case e: SparkListenerTaskEnd if e.taskMetrics != null =>
        val m = e.taskMetrics
        val info = e.taskInfo
        add(p, s"${tag}exec.tasks", 1)
        if (!info.successful) add(p, "exec.tasks_failed", 1)
        val run = m.executorRunTime / 1e3
        add(p, "exec.task_s", run)
        add(p, "exec.cpu_s", m.executorCpuTime / 1e9)
        add(p, "exec.gc_s", m.jvmGCTime / 1e3)
        add(p, "exec.sched_delay_s", math.max(0.0, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime) / 1e3)
        add(p, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add(p, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add(p, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(p, "spill.mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add(p, "input.read_mb", m.inputMetrics.bytesRead / 1048576.0)
        add(p, "input.records", m.inputMetrics.recordsRead.toDouble)
        val wrote = m.outputMetrics.bytesWritten
        add(p, s"${tag}output.write_mb", wrote / 1048576.0)
        if (wrote > 0) add(p, "output.write_s", run)
        val acc = info.accumulables.flatMap { a =>
          a.name.filter(ingestAccumulators).map(_ -> a.update
            .flatMap(v => scala.util.Try(v.toString.toDouble).toOption)
            .getOrElse(0.0))
        }.toMap
        acc.get("xml_input_processed").foreach { n =>
          add(p, "ingest.files", n)
          add(p, "ingest.parse_s", run)
        }
        acc.get("xml_input_ok").foreach(add(p, "ingest.files_ok", _))
        acc.get("xml_input_failed").foreach(add(p, "ingest.files_failed", _))
        acc.get("records_emitted").foreach(add(p, "ingest.records", _))
      case QeEvent(qe) =>
        qe.tracker.phases.foreach { case (ph, s) =>
          add(p, s"plan.$ph", s.durationMs / 1e3)
        }
        qe.executedPlan.foreach(_.metrics.get("numFiles")
          .foreach(m => add(p, "output.files", m.value.toDouble)))
      case _ =>
    }
    if (root.layer == "key") {
      add(p, "wall_s", (root.endMs - root.startMs) / 1e3)
      spans.filter(s => s.parent == root.id && s.layer == "build")
        .foreach(s => add(p, "build.s", (s.endMs - s.startMs) / 1e3))
    }
  }

  /** Self time: a span's duration minus the union of its children's
    * intervals clipped to it. Never negative.
    */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN || a > ce) {
          if (!cs.isNaN) covered += ce - cs
          cs = a; ce = b
        } else ce = math.max(ce, b)
      }
      if (!cs.isNaN) covered += ce - cs
      s.id -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.toMap
  }

  /** Per-layer metrics: means over the traced warm passes; codegen over
    * the cold pass (pass 0); staging and session over set-up.
    */
  def layerMetrics(stagingS: Double, sessionS: Double): Map[String, Double] = {
    val warm = passes.filter(_ > 0).toSeq
    val n = math.max(1, warm.size).toDouble
    def mean(k: String) = warm.map(p => counters.getOrElse((p, k), 0.0)).sum / n
    val self = selfMs
    def selfOf(layer: String) = warm.map { p =>
      spans.filter(s => s.pass == p && s.layer == layer)
        .map(s => self(s.id)).sum / 1e3
    }.sum / n
    val tasks = mean("exec.tasks")
    val p50 = {
      val xs = warm.flatMap(p => batchMs.getOrElse(p, Nil)).sorted
      if (xs.isEmpty) 0.0
      else if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
    }
    val files = mean("ingest.files")
    val wall = mean("wall_s")
    val m = Seq(
      "session.start_s" -> sessionS,
      "staging.s" -> stagingS,
      "staging.jobs" -> counters.getOrElse((-1, "staging.exec.jobs"), 0.0),
      "staging.write_mb" ->
        counters.getOrElse((-1, "staging.output.write_mb"), 0.0),
      "tables.resolve_jobs" -> mean("tables.resolve_jobs"),
      "tables.resolve_s" -> mean("tables.resolve_s"),
      "build.s" -> mean("build.s"),
      "build.jobs" -> mean("build.jobs"),
      "plan.analysis_s" -> mean("plan.analysis"),
      "plan.optimizer_s" -> mean("plan.optimization"),
      "plan.physical_s" -> mean("plan.planning"),
      "codegen.compiles" -> counters.getOrElse((0, "codegen.compiles"), 0.0),
      "codegen.compile_s" -> counters.getOrElse((0, "codegen.compile_s"), 0.0),
      "exec.jobs" -> mean("exec.jobs"),
      "exec.stages" -> mean("exec.stages"),
      "exec.tasks" -> tasks,
      "exec.sched_delay_s" -> mean("exec.sched_delay_s"),
      "exec.task_fail_ratio" ->
        (if (tasks > 0) mean("exec.tasks_failed") / tasks else 0.0),
      "exec.task_s" -> mean("exec.task_s"),
      "exec.cpu_s" -> mean("exec.cpu_s"),
      "exec.gc_s" -> mean("exec.gc_s"),
      "exec.cpu_util" ->
        (if (wall > 0) mean("exec.cpu_s") / (wall * cores) else 0.0),
      "shuffle.write_mb" -> mean("shuffle.write_mb"),
      "shuffle.read_mb" -> mean("shuffle.read_mb"),
      "shuffle.fetch_wait_s" -> mean("shuffle.fetch_wait_s"),
      "spill.mb" -> mean("spill.mb"),
      "input.read_mb" -> mean("input.read_mb"),
      "input.records" -> mean("input.records"),
      "stream.batches" -> mean("stream.batches"),
      "stream.batch_p50_ms" -> p50,
      "stream.add_batch_s" -> mean("stream.add_batch_s"),
      "stream.planning_s" -> mean("stream.planning_s"),
      "stream.wal_commit_s" -> mean("stream.wal_commit_s"),
      "stream.commit_offsets_s" -> mean("stream.commit_offsets_s"),
      "stream.state_rows" -> mean("stream.state_rows"),
      "stream.state_mb" -> mean("stream.state_mb"),
      "stream.late_dropped" -> mean("stream.late_dropped"),
      "ingest.files" -> files,
      "ingest.files_failed" -> mean("ingest.files_failed"),
      "ingest.ok_ratio" -> (if (files > 0) mean("ingest.files_ok") / files
        else 0.0),
      "ingest.records" -> mean("ingest.records"),
      "ingest.parse_s" -> mean("ingest.parse_s"),
      "output.write_mb" -> mean("output.write_mb"),
      "output.files" -> mean("output.files"),
      "output.write_s" -> mean("output.write_s"),
      "self.key_s" -> selfOf("key"),
      "self.build_s" -> selfOf("build"),
      "self.execute_s" -> selfOf("execute"),
      "self.job_s" -> selfOf("job"),
      "self.stage_s" -> selfOf("stage"),
      "self.stream_batch_s" -> selfOf("stream_batch"),
      "self.graftjob_s" -> selfOf("graftjob"),
      "spans.min_self_ms" -> (if (self.isEmpty) 0.0 else self.values.min),
      "spans.count" -> spans.size.toDouble)
    m.toMap
  }

  def writeSpans(path: String): Unit = {
    val self = selfMs
    val rows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "key" -> s.key, "pass" -> s.pass,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self(s.id)))
    Files.write(Paths.get(path), Serialization.writePretty(rows.toList)
      .getBytes("UTF-8"))
  }
}
