package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Job CLI arguments — twin of the reference's argparse surface
  * (IRSSpark.py:20-44,45-110): input manifest, output table, partition
  * counts, output format/compression, free-form writer options.
  * `numInputPartitions` is explicit (n > 0: exactly n, or one per URI if
  * fewer) or derived (0, the default): one per core, or one per URI if
  * fewer (graft.sources.XmlManifestSource.slices).
  */
case class GraftArgs(
    input: String,
    output: String,
    numInputPartitions: Int = 0,
    numOutputPartitions: Int = 10,
    outputFormat: String = "parquet",
    outputCompression: String = "gzip",
    outputOptions: Map[String, String] = Map.empty,
    warehouseDir: Option[String] = None,
    logLevel: Option[String] = None,
    // Accepted for reference-invocation parity, deliberately no-ops here:
    // `--local_temp_dir` buffers S3 payloads to local disk in the reference
    // (IRSSpark.py:80-82) — our Hadoop-FS fetch streams, no buffer file;
    // `--spark-profiler` toggles the PySpark worker profiler
    // (IRSSpark.py:86-89, spark.python.profile) — there are no Python
    // workers in a JVM engine, so there is nothing to profile with it.
    localTempDir: Option[String] = None,
    sparkProfiler: Boolean = false,
    extra: Map[String, String] = Map.empty)

object GraftArgs {
  val formats = Set("parquet", "orc", "json", "csv")
  val compressions = Set("none", "gzip", "snappy", "zlib", "lzo")
  val logLevels =
    Set("ALL", "TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL", "OFF")

  /** Parse `--key value` style flags after the two positional args.
    * `extraFlags` is the per-job extension surface (reference
    * IRSSpark.py:99-101 `add_arguments`): a job declares additional flag
    * names and reads their values back from [[GraftArgs.extra]].
    */
  def parse(argv: Array[String],
      extraFlags: Set[String] = Set.empty): GraftArgs = {
    require(argv.length >= 2, "usage: <input_manifest> <output_table> [flags]")
    var a = GraftArgs(argv(0), argv(1))
    var i = 2
    while (i < argv.length) {
      // boolean flags take no value (reference: action='store_true')
      require(argv(i) == "--spark-profiler" || i + 1 < argv.length,
        s"flag ${argv(i)} requires a value")
      argv(i) match {
        case "--spark-profiler" =>
          a = a.copy(sparkProfiler = true); i += 1
        case "--local_temp_dir" =>
          a = a.copy(localTempDir = Some(argv(i + 1))); i += 2
        case "--num_input_partitions" =>
          a = a.copy(numInputPartitions = argv(i + 1).toInt); i += 2
        case "--num_output_partitions" =>
          a = a.copy(numOutputPartitions = argv(i + 1).toInt); i += 2
        case "--output_format" =>
          a = a.copy(outputFormat = argv(i + 1)); i += 2
        case "--output_compression" =>
          a = a.copy(outputCompression = argv(i + 1)); i += 2
        case "--output_option" =>
          require(argv(i + 1).contains("="),
            s"--output_option expects key=value, got '${argv(i + 1)}'")
          val Array(k, v) = argv(i + 1).split("=", 2)
          a = a.copy(outputOptions = a.outputOptions + (k -> v)); i += 2
        case "--warehouse_dir" =>
          a = a.copy(warehouseDir = Some(argv(i + 1))); i += 2
        case "--log_level" =>
          a = a.copy(logLevel = Some(argv(i + 1).toUpperCase)); i += 2
        case f if extraFlags(f) =>
          a = a.copy(extra = a.extra + (f.stripPrefix("--") -> argv(i + 1)))
          i += 2
        case other => throw new IllegalArgumentException(s"unknown flag $other")
      }
    }
    validate(a)
  }

  /** The reference silently rewrites orc+gzip → orc+zlib
    * (IRSSpark.py:102-106); keep that coercion. `lzo` has no codec in
    * stock Spark — fail fast with a clear message instead of at write time.
    */
  def validate(a: GraftArgs): GraftArgs = {
    require(formats(a.outputFormat), s"unsupported format ${a.outputFormat}")
    require(compressions(a.outputCompression),
      s"unsupported compression ${a.outputCompression}")
    a.logLevel.foreach(l => require(logLevels(l),
      s"unsupported log level $l (one of ${logLevels.mkString(", ")})"))
    require(a.outputCompression != "lzo",
      "lzo: no codec in stock Spark (the reference fails at runtime here too)")
    if (a.outputFormat == "orc" && a.outputCompression == "gzip")
      a.copy(outputCompression = "zlib")
    else if (a.outputFormat != "orc" && a.outputCompression == "zlib")
      a.copy(outputCompression = "gzip")
    else a
  }
}

/** The job-definition contract (SURVEY §2 A12, §3.3): the fixed pipeline is
  * scan → fetch/parse → transform → coalesce → write; a concrete job only
  * supplies `name` and the relational `transform`.
  *
  * Where the reference hides extraction in a pickled per-record closure
  * (`process_record`, IRSSpark.py:260-269), `transform` takes the flattened
  * ingest as a DataFrame — so the extraction logic is Catalyst-visible and
  * gets pushdown/pruning/codegen instead of a Python worker pipe.
  */
trait GraftJob {
  def name: String

  /** The relational body: flattened (doc, pos, tag, text) → output rows. */
  def transform(tagText: DataFrame): DataFrame

  /** Args-aware variant — override this (instead of the 1-arg form) when
    * the transform consumes a job-specific flag from [[GraftArgs.extra]]
    * (the reference reads `self.args` inside `process_record`,
    * IRSSpark.py:260-269). Defaults to the args-free transform.
    */
  def transform(tagText: DataFrame, args: GraftArgs): DataFrame =
    transform(tagText)

  /** Per-job CLI flags beyond the shared set (reference
    * IRSSpark.py:99-101): names with the leading `--`; their values land
    * in [[GraftArgs.extra]] keyed by the stripped name.
    */
  def addArguments: Set[String] = Set.empty

  /** Per-job validation of the parsed args (reference IRSSpark.py:103-106);
    * throw to reject. Runs after the shared validation.
    */
  def validateArguments(args: GraftArgs): Unit = ()

  def run(spark: SparkSession, args: GraftArgs): DataFrame = {
    val metrics = IngestMetrics(spark)
    val baseDir = new org.apache.hadoop.fs.Path(args.input).getParent.toString
    // the V2 scan counts files and elements into the accumulators; an
    // `observe` here would sit between the scan and the job's tag filter
    // and stop it from being pushed into the parser
    val ingested = XmlIngest
      .fetchParse(spark, args.input, baseDir, args.numInputPartitions,
        Some(metrics))
      .toDF()
    val result = transform(ingested, args).coalesce(args.numOutputPartitions)
    val writer = result.write.mode(SaveMode.Overwrite)
      .format(args.outputFormat)
      .option("compression", args.outputCompression)
      .options(args.outputOptions)
    args.warehouseDir match {
      case Some(dir) =>
        writer.option("path", s"$dir/${args.output}").saveAsTable(args.output)
      case None => writer.saveAsTable(args.output)
    }
    // A10: metrics logged after the action, like IRSSpark.py:159-165,190
    val log = org.apache.logging.log4j.LogManager.getLogger(getClass)
    log.info(s"$name: processed=${metrics.processed.value} " +
      s"ok=${metrics.ok.value} failed=${metrics.failed.value} " +
      s"records=${metrics.records.value}")
    spark.table(args.output)
  }
}

/** A second concrete job, authored the way a user of the framework would:
  * total reported revenue per filing. Demonstrates that the extension
  * contract (override `name` + `transform`) is all a new analysis needs —
  * the scan/fetch/parse/coalesce/sink pipeline is inherited. try_cast:
  * Spark 4 defaults to ANSI mode, so a plain cast would abort the whole
  * job on one empty `<TotalRevenueAmt/>`; malformed amounts become null
  * (skipped by sum) instead.
  */
object RevenueByFilingJob extends GraftJob {
  override def name: String = "revenue_by_filing"

  override def transform(tagText: DataFrame): DataFrame =
    tagText.filter(col("tag") === "TotalRevenueAmt")
      .groupBy(col("doc"))
      .agg(sum(expr("try_cast(text AS BIGINT)")).as("revenue"))
      .orderBy("doc")

  def main(argv: Array[String]): Unit = GraftJob.runMain(this, argv)
}

/** The reference's one concrete job (CitiesCountJob.py): count filings per
  * lowercased city. filter → project(lower, 1) → sum ≡ the reference's
  * tag-filter + map + reduceByKey, but as Catalyst operators.
  */
object CitiesCountJob extends GraftJob {
  override def name: String = "cities_count"

  override def transform(tagText: DataFrame): DataFrame =
    tagText.filter(col("tag") === "CityNm")
      .select(lower(col("text")).as("City"), lit(1L).as("one"))
      .groupBy("City")
      .agg(sum("one").as("Count"))
      .orderBy("City")

  def main(argv: Array[String]): Unit = GraftJob.runMain(this, argv)
}

object GraftJob {
  /** Shared CLI entry: parse args (including the job's own flags), build a
    * session, run, show. `--log_level` mirrors the reference's flag
    * (IRSSpark.py:86-89) via `setLogLevel`.
    */
  def runMain(job: GraftJob, argv: Array[String]): Unit = {
    val args = GraftArgs.parse(argv, job.addArguments)
    job.validateArguments(args)
    val spark = graft.Session(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      job.name)
    args.logLevel.foreach(spark.sparkContext.setLogLevel)
    try job.run(spark, args).show(50, truncate = false)
    finally spark.stop()
  }
}
