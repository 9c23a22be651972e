package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.SerializableConfiguration

import graft.ingest.{CitiesCountJob, GraftArgs, GraftJob, IngestMetrics, RevenueByFilingJob, XmlIngest}
import graft.sources.XmlManifestSource

/** The reference jobs read through the V2 XML source: the split of the
  * URIs into input partitions, the manifest inputs it accepts, the plan `GraftJob.run` executes (tag filter pushed into the parser),
  * the four ingest accumulators, and the per-call Hadoop conf broadcast.
  */
class IngestV2Spec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val fixture = queries.IrsFixtures

  private def uris(n: Int) = Array.tabulate(n)(i => s"u$i")

  test("slices: exactly min(n, len) contiguous, in-order slices whose " +
    "sizes differ by at most one") {
    def check(len: Int, n: Int, expected: Int): Unit = {
      val in = uris(len)
      val out = XmlManifestSource.slices(in, n)
      assert(out.length === expected, s"$len URIs at n = $n")
      assert(out.flatten.toSeq === in.toSeq)
      if (out.nonEmpty) {
        val sizes = out.map(_.length)
        assert(sizes.max - sizes.min <= 1, sizes.mkString(","))
        assert(sizes.min >= 1)
      }
    }
    check(600, 400, 400) // grouped(ceil(600/400)) gave 300
    check(3, 10, 3)
    check(0, 4, 0)
    check(21, 4, 4)
    check(1, 1, 1)
  }

  /** Runs `body`, returning every plan Spark executed meanwhile and the
    * final value of each named ingest accumulator it updated.
    */
  private def observed(body: => Unit): (Seq[QueryExecution], Map[String, Long]) = {
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
    val accs = mutable.Map.empty[Long, (String, Long)]
    val names = Set("xml_input_processed", "xml_input_ok", "xml_input_failed",
      "records_emitted")
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized(plans += qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        accs.synchronized {
          e.stageInfo.accumulables.values
            .filter(a => a.name.exists(names))
            .foreach(a => accs(a.id) = (a.name.get, a.value.get.toString.toLong))
        }
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
    (plans.toSeq, accs.values.groupMapReduce(_._1)(_._2)(_ + _))
  }

  private def scans(qes: Seq[QueryExecution]): Seq[BatchScanExec] =
    qes.flatMap(qe => collect(qe.executedPlan) { case b: BatchScanExec => b })

  private val wh = Files.createTempDirectory("graft_ingest_v2_wh").toString

  private def runJob(job: GraftJob, manifest: String, flags: String*) =
    job.run(spark, GraftArgs.parse(Array(manifest, s"${job.name}_v2_spec",
      "--warehouse_dir", wh) ++ flags))

  test("GraftJob.run executes the V2 scan with the job's tag filter " +
    "pushed into the parser") {
    for ((job, tag) <- Seq(CitiesCountJob -> "CityNm",
        RevenueByFilingJob -> "TotalRevenueAmt")) {
      val (qes, _) = observed(runJob(job, fixture.manifest))
      val described = scans(qes).map(_.scan.description())
      assert(described.exists(_.contains(s"PushedTagFilter=[$tag]")),
        s"${job.name}: ${qes.map(_.executedPlan).mkString("\n")}")
    }
  }

  test("GraftJob.run accumulators: 21 processed, 20 ok, 1 failed, and " +
    "every element counted before the pushed tag filter") {
    val elements = spark.read.parquet(fixture.tagTextParquet).count()
    for (job <- Seq(CitiesCountJob, RevenueByFilingJob)) {
      val (_, accs) = observed(runJob(job, fixture.manifest))
      assert(accs === Map("xml_input_processed" -> 21L,
        "xml_input_ok" -> 20L, "xml_input_failed" -> 1L,
        "records_emitted" -> elements), job.name)
    }
  }

  test("V2 reader: a malformed file counts as failed and is skipped; " +
    "records count elements before the pushed filter") {
    val m = IngestMetrics(spark)
    val cities = XmlIngest
      .fetchParse(spark, fixture.manifest, fixture.dir, 4, Some(m))
      .filter(col("tag") === "CityNm")
    assert(cities.queryExecution.executedPlan.toString
      .contains("PushedTagFilter=[CityNm]"))
    assert(cities.count() === 20)
    assert(m.processed.value === 21)
    assert(m.ok.value === 20)
    assert(m.failed.value === 1)
    assert(m.records.value ===
      spark.read.parquet(fixture.tagTextParquet).count())
  }

  test("--num_input_partitions 400 gives exactly 400 input partitions on a " +
    "420-URI manifest; the default derives the fan-out") {
    val listed = {
      val src = scala.io.Source.fromFile(fixture.manifest, "UTF-8")
      try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    }
    val dir = Files.createTempDirectory("graft_ingest_v2_manifest")
    val m = dir.resolve("manifest.txt")
    Files.write(m, Seq.fill(20)(listed).flatten
      .map(u => s"${fixture.dir}/$u").mkString("\n").getBytes(UTF_8))
    assert(listed.size * 20 === 420)
    def partitions(flags: String*) = {
      val (qes, _) = observed(runJob(CitiesCountJob, m.toString, flags: _*))
      scans(qes).map(_.inputPartitions.size).distinct
    }
    assert(partitions("--num_input_partitions", "400") === Seq(400))
    assert(partitions("--num_input_partitions", "500") === Seq(420))
    assert(partitions() ===
      Seq(math.min(420, spark.sparkContext.defaultParallelism)))
  }

  test("GraftJob.run reads a gzipped manifest, a directory of manifests " +
    "and a glob as URI lines") {
    val lines = {
      val src = scala.io.Source.fromFile(fixture.manifest, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(u => s"${fixture.dir}/$u")
        .toVector
      finally src.close()
    }
    val root = Files.createTempDirectory("graft_ingest_v2_inputs")
    val gz = root.resolve("manifest.txt.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(lines.mkString("\n").getBytes(UTF_8)) finally out.close()
    val parts = Files.createDirectory(root.resolve("parts"))
    val (head, tail) = lines.splitAt(lines.size / 2)
    Files.write(parts.resolve("part-0.txt"), head.mkString("\n").getBytes(UTF_8))
    Files.write(parts.resolve("part-1.txt"), tail.mkString("\n").getBytes(UTF_8))
    def rows(manifest: String) = {
      val (_, accs) = observed(runJob(CitiesCountJob, manifest))
      (spark.table(s"${CitiesCountJob.name}_v2_spec").collect()
        .map(_.toString).sorted.toSeq, accs)
    }
    val (expected, _) = rows(fixture.manifest)
    assert(expected.nonEmpty)
    for (m <- Seq(gz.toString, parts.toString, s"$parts/part-*.txt")) {
      val (got, accs) = rows(m)
      assert(accs === Map("xml_input_processed" -> 21L, "xml_input_ok" -> 20L,
        "xml_input_failed" -> 1L,
        "records_emitted" -> spark.read.parquet(fixture.tagTextParquet)
          .count()), m)
      assert(got === expected, m)
    }
  }

  test("HadoopConf.broadcast: a session setting changed after a first " +
    "broadcast is seen by the next one, on the executors") {
    val key = "graft.test.broadcast.probe"
    val conf = spark.sparkContext.hadoopConfiguration
    def onExecutor(b: Broadcast[SerializableConfiguration]): String =
      spark.sparkContext.parallelize(Seq(0), 1)
        .map(_ => b.value.value.get(key)).collect().head
    try {
      conf.set(key, "first")
      val first = HadoopConf.broadcast(spark)
      assert(onExecutor(first) === "first")
      conf.set(key, "second")
      assert(onExecutor(HadoopConf.broadcast(spark)) === "second")
      assert(onExecutor(first) === "first")
    } finally conf.unset(key)
  }
}
