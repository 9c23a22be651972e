package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** One benchmark run inside one JVM: session start, staging, a cold pass
  * over the workload's mix, then warm passes until the run's time is used.
  *
  * The program is driven only through its public surface: the
  * `SparkEntry.queries` key functions, the families' `ensureStaged`, and
  * `GraftJob.run`. Every call is timed from outside. With tracing on, the
  * Spark listeners in [[Tracer]] are attached; without it none is.
  *
  * Usage: `Runner <config.json>` (written by run.py). The result record
  * goes to the config's `out` path as JSON. With `setup_only` in the
  * config the runner stops after set-up, so run.py can take several
  * set-up samples, each in a fresh JVM.
  */
object Runner {
  implicit val formats: Formats = DefaultFormats

  case class Op(name: String, pass: Int, traced: Boolean, buildS: Double,
      totalS: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val cfg = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    val workload = (cfg \ "workload").extract[String]
    val keys = (cfg \ "keys").extract[Seq[String]]
    val stagers = (cfg \ "stagers").extract[Seq[String]]
    val sfDir = (cfg \ "sf_dir").extract[String]
    val root = (cfg \ "root").extract[String]
    val seconds = (cfg \ "seconds").extract[Double]
    val trace = (cfg \ "trace").extract[Boolean]
    val cores = (cfg \ "cores").extract[Int]
    val checkDir = s"$root/check"
    val inject = (cfg \ "inject").extractOpt[Map[String, String]]
      .getOrElse(Map.empty)
    // the IRS-990 corpus manifest of the workload's reference jobs
    val manifest = (cfg \ "manifest").extractOpt[String]
    val setupOnly = (cfg \ "setup_only").extractOpt[Boolean].getOrElse(false)
    val outPath = (cfg \ "out").extract[String]
    def writeOut(res: Map[String, Any]): Unit =
      Files.write(Paths.get(outPath), Serialization.write(res).getBytes("UTF-8"))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStartS = secs(t0)
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    tracer.foreach(_.attach())

    // ---- set-up: staging of the families the mix reads ----
    val stagingS = stagers.map { fam =>
      val s0 = System.nanoTime()
      tracer.foreach(_.open("staging", fam, "staging"))
      Stagers(fam)(spark, sfDir)
      tracer.foreach(_.close())
      fam -> secs(s0)
    }
    val setupS = sessionStartS + stagingS.map(_._2).sum
    System.err.println(f"[graftbench] set-up done at ${secs(t0)}%.1f s")
    val setupRes = Map("session_start_s" -> sessionStartS, "setup_s" -> setupS,
      "staging" -> stagingS.toMap)
    if (setupOnly) {
      writeOut(setupRes)
      spark.stop()
      return
    }

    // the reference jobs run as operations named etl_<job name>, in the
    // mix order run.py chose
    val etlJobs: Map[String, graft.ingest.GraftJob] =
      Seq(graft.ingest.CitiesCountJob, graft.ingest.RevenueByFilingJob)
        .map(j => s"etl_${j.name}" -> j).toMap
    val opNames = keys
    val ops = ArrayBuffer.empty[Op]
    var liveHeapMb = 0.0

    /** One timed operation: the key function (or GraftJob.run) and the
      * consumption of its DataFrame. The cold pass writes the result as
      * parquet into the check directory, which run.py compares with the
      * expected result after the run; warm passes use the noop sink.
      */
    def runKey(name: String, pass: Int): Op = {
      val tr = tracer.filter(_.attached)
      val etlJob = etlJobs.get(name)
      spark.sparkContext.setJobGroup(s"$name#$pass", name)
      tr.foreach(_.open(name, name, "key"))
      val k0 = System.nanoTime()
      var buildS = 0.0
      val err = try {
        tr.foreach(_.open(name, "build",
          if (etlJob.isDefined) "graftjob" else "build"))
        val df = etlJob match {
          case Some(job) =>
            job.run(spark, graft.ingest.GraftArgs(manifest.get, name,
              warehouseDir = Some(s"$root/warehouse")))
          case None =>
            inject.get(name) match {
              case Some("throw") =>
                throw new IllegalStateException(s"injected failure in $name")
              case Some("wrong") => // one extra, duplicated row
                val d = graft.SparkEntry.queries(name)(spark, sfDir)
                d.union(d.limit(1))
              case _ => graft.SparkEntry.queries(name)(spark, sfDir)
            }
        }
        buildS = secs(k0)
        tr.foreach(_.close())
        tr.foreach(_.open(name, "execute", "execute"))
        if (pass == 0)
          df.write.mode("overwrite").parquet(s"$checkDir/$name")
        else df.write.format("noop").mode("overwrite").save()
        tr.foreach(_.close())
        None
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          tr.foreach(_.closeAll(name))
          Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
            .take(300))
      }
      val totalS = secs(k0)
      tr.foreach(_.close())
      spark.sparkContext.clearJobGroup()
      liveHeapMb = math.max(liveHeapMb, cleanup(spark))
      Op(name, pass, tr.isDefined, buildS, totalS, err)
    }

    // ---- cold pass: what a fresh application pays ----
    tracer.foreach(_.startPass(0))
    opNames.foreach(k => ops += runKey(k, 0))
    tracer.foreach(_.endPass())

    // ---- warm phase. An untraced run does whole passes until --seconds
    // have been measured, at least two, so every key's median has two
    // samples. A traced run does an untraced, a traced and an untraced
    // pass; run.py compares the traced pass with the mean of the two around
    // it, so JIT settling across the three does not bias the tracing
    // overhead. ----
    System.err.println(f"[graftbench] cold pass done at ${secs(t0)}%.1f s")
    val w0 = System.nanoTime()
    tracer match {
      case Some(t) =>
        t.detach()
        opNames.foreach(k => ops += runKey(k, 1))
        t.attach(); t.startPass(2)
        opNames.foreach(k => ops += runKey(k, 2))
        t.endPass(); t.detach()
        opNames.foreach(k => ops += runKey(k, 3))
      case None =>
        var pass = 1
        while (pass <= 2 || secs(w0) < seconds) {
          opNames.foreach(k => ops += runKey(k, pass))
          pass += 1
        }
    }
    System.err.println(f"[graftbench] warm phase done at ${secs(t0)}%.1f s")

    val oracle = graft.SparkEntry.oracleSql
    val res = setupRes ++ Map(
      "workload" -> workload, "live_heap_mb" -> liveHeapMb,
      "spark_version" -> spark.version, "master" -> spark.sparkContext.master,
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass,
        "traced" -> o.traced, "build_s" -> o.buildS, "total_s" -> o.totalS,
        "error" -> o.error.orNull)).toList,
      "oracle" -> keys.flatMap(k => oracle.get(k).map(k -> _)).toMap) ++
      tracer.map { t =>
        t.writeSpans(s"$root/spans.json")
        "layers" -> t.layerMetrics(stagingS.map(_._2).sum, sessionStartS)
      }
    writeOut(res)
    spark.stop()
    System.err.println(f"[graftbench] stopped at ${secs(t0)}%.1f s")
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Between-key cleanup, outside every timing window, as graft.Bench does
    * it: drop cached and persisted data, stop streams and their views and
    * state stores, then GC so the context cleaner runs here rather than
    * inside the next key. Returns the heap in use after the GC, in MB.
    */
  def cleanup(spark: SparkSession): Double = {
    try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.streams.active.foreach(_.stop())
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      org.apache.spark.sql.execution.streaming.state.StateStoreJanitor
        .unloadAll()
    } catch { case e: Throwable if scala.util.control.NonFatal(e) =>
      System.err.println(s"[graftbench] cleanup: $e")
    }
    System.gc()
    Thread.sleep(50)
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** The families' public staging entry points, by family name. */
object Stagers {
  import graft.queries._
  val all: Map[String, (SparkSession, String) => Unit] = Map(
    "Physical" -> ((s, d) => Physical.ensureStaged(s, d)),
    "Pipeline" -> ((s, d) => Pipeline.ensureStaged(s, d)),
    "SimSearch" -> ((s, d) => SimSearch.ensureStaged(s, d)),
    "TextOps" -> ((s, d) => TextOps.ensureStaged(s, d)),
    "Multimodal" -> ((s, d) => {
      Multimodal.ensureStaged(s, d); Multimodal.ensurePackedStaged(s, d); ()
    }),
    "Ingest" -> ((s, d) => { Ingest.ensureBulkStaged(s, d); () }),
    "EntityRes" -> ((s, d) => EntityRes.ensureStaged(s, d)),
    "StreamingOps" -> ((s, d) =>
      graft.streaming.StreamingOps.ensureStaged(s, d)))

  def apply(name: String): (SparkSession, String) => Unit = all(name)
}
