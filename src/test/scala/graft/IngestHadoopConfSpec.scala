package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row}

import graft.ingest.{CitiesCountJob, GraftArgs, GraftJob, IngestMetrics, RevenueByFilingJob, XmlIngest}

/** Local files under a scheme that only the session's Hadoop conf knows. */
class GraftTestFileSystem extends RawLocalFileSystem {
  // a def, not a val: RawLocalFileSystem's constructor qualifies its
  // working directory against getUri before subclass fields exist
  override def getUri: URI = URI.create("grafttest:///")
  override def getScheme: String = "grafttest"
}

/** Filesystem settings made on the session reach the ingest tasks: a
  * scheme registered only on `spark.sparkContext.hadoopConfiguration`
  * (with its FileSystem cache off, so no task can be handed an instance
  * the driver built) resolves on the executors for the mapPartitions
  * ingest behind GraftJob and for the V2 source, and reads the same rows
  * as the same corpus through `file:`. A task that builds its own
  * `Configuration` cannot resolve the scheme and counts every file failed.
  */
class IngestHadoopConfSpec extends SparkSpec {

  private val corpus = new java.io.File(queries.IrsFixtures.dir)
    .getAbsolutePath
  // the fixture corpus's 20 well-formed filings (its manifest also lists
  // a file that is not XML)
  private val files = {
    val src = scala.io.Source.fromFile(queries.IrsFixtures.manifest, "UTF-8")
    try src.getLines().filter(_.endsWith(".xml")).toVector
    finally src.close()
  }

  private def manifest(prefix: String): String = {
    val dir = Files.createTempDirectory("graft_ingest_conf")
    val m = dir.resolve("manifest.txt")
    Files.write(m, files.map(f => s"$prefix$corpus/$f").mkString("\n")
      .getBytes(UTF_8))
    m.toString
  }

  private def withScheme[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.grafttest.impl", classOf[GraftTestFileSystem].getName)
    conf.setBoolean("fs.grafttest.impl.disable.cache", true)
    try body
    finally {
      conf.unset("fs.grafttest.impl")
      conf.unset("fs.grafttest.impl.disable.cache")
    }
  }

  // doc holds the URI as listed; compare by file name across schemes
  private def rows(df: DataFrame): Seq[(String, Int, String, String)] =
    df.collect().toSeq.map(r => (new Path(r.getString(0)).getName,
      r.getInt(1), r.getString(2), r.getString(3))).sorted

  private def v2(manifestPath: String): DataFrame =
    spark.read.format("graft.sources.XmlManifestSource")
      .option("manifest", manifestPath).option("partitions", "4").load()

  test("session-registered scheme: the mapPartitions ingest reads every " +
    "file ok and the same rows as file:") {
    withScheme {
      val m = IngestMetrics(spark)
      val viaScheme = XmlIngest.fetchParse(spark, manifest("grafttest://"),
        corpus, 4, Some(m)).toDF()
      val got = rows(viaScheme)
      assert(m.processed.value === files.size)
      assert(m.failed.value === 0)
      assert(m.ok.value === files.size)
      val viaFile = XmlIngest.fetchParse(spark, manifest("file://"), corpus, 4)
        .toDF()
      assert(got === rows(viaFile))
      assert(got.map(_._1).distinct.size === files.size)
    }
  }

  test("session-registered scheme: GraftJob.run results equal the file: " +
    "run") {
    assert(files.size === 20)
    withScheme {
      val wh = Files.createTempDirectory("graft_ingest_conf_wh").toString
      def run(job: GraftJob, prefix: String): Seq[Row] = {
        val args = GraftArgs(manifest(prefix), s"${job.name}_conf_spec",
          numInputPartitions = 4, numOutputPartitions = 1,
          warehouseDir = Some(wh))
        job.run(spark, args).collect().toSeq
      }
      val cities = run(CitiesCountJob, "grafttest://")
      assert(cities.nonEmpty)
      assert(cities.toSet === run(CitiesCountJob, "file://").toSet)
      // one revenue row per filing that was read
      def byName(rs: Seq[Row]) = rs.map(r =>
        new Path(r.getString(0)).getName -> r.get(1)).toSet
      val revenue = byName(run(RevenueByFilingJob, "grafttest://"))
      assert(revenue.map(_._1) === files.toSet)
      assert(revenue === byName(run(RevenueByFilingJob, "file://")))
    }
  }

  test("session-registered scheme: the V2 source reads the manifest and " +
    "every file, with the same rows as file:") {
    withScheme {
      val expected = rows(v2(manifest("file://")))
      assert(expected.map(_._1).distinct.size === files.size)
      assert(rows(v2(manifest("grafttest://"))) === expected)
      // the manifest itself on the session-only scheme
      assert(rows(v2("grafttest://" + manifest("grafttest://"))) === expected)
    }
  }
}
