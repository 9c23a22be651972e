package graft

import java.io.ByteArrayInputStream

import org.apache.spark.sql.functions._

import graft.ingest.{GraftArgs, IngestMetrics, XmlIngest}

/** SURVEY §2.A golden + semantics tests for the XML ingest subsystem. */
class IngestSpec extends SparkSpec {

  private def parse(xml: String) =
    XmlIngest.parse("t", new ByteArrayInputStream(xml.getBytes("UTF-8")))

  test("namespace strip is a prefix strip, not the reference's char-set mangle") {
    val out = parse(
      """<Return xmlns="http://www.irs.gov/efile"><Filer><BusinessName>x
        |</BusinessName><TotalRevenueAmt>5</TotalRevenueAmt></Filer></Return>"""
        .stripMargin)
    val tags = out.map(_.tag)
    // the reference mangles these to F / BusinessNam / TotalRevenueAm
    assert(tags === Seq("Return", "Filer", "BusinessName", "TotalRevenueAmt"))
  }

  test("empty elements yield empty text, never crash the document") {
    val out = parse("<a><b/><c>hi</c></a>")
    assert(out === Seq(
      ingest.TagText("t", 0, "a", ""),
      ingest.TagText("t", 1, "b", ""),
      ingest.TagText("t", 2, "c", "hi")))
  }

  test("compact and pretty documents flatten identically modulo whitespace") {
    val pretty = parse("<a>\n  <b>x</b>\n</a>")
    val compact = parse("<a><b>x</b></a>")
    assert(pretty.map(t => (t.pos, t.tag, t.text)) ===
      compact.map(t => (t.pos, t.tag, t.text)))
  }

  test("flagship cities_count reproduces the golden counts") {
    val rows = q("cities_count").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(
      "athens" -> 2L, "berkeley" -> 3L, "berkelrey" -> 1L, "cary" -> 2L,
      "fayetteville" -> 1L, "florham park" -> 1L, "fort washington" -> 2L,
      "glenside" -> 1L, "madison" -> 3L, "raleigh" -> 2L, "shoreline" -> 2L))
  }

  test("metrics: a URI is exactly one of ok/failed; bad file drops alone") {
    val m = IngestMetrics(spark)
    val df = XmlIngest.fetchParse(spark,
      queries.IrsFixtures.manifest, queries.IrsFixtures.dir, 4, Some(m))
    val n = df.count()
    assert(m.processed.value === 21)
    assert(m.ok.value === 20)
    assert(m.failed.value === 1)
    assert(m.records.value === n)
  }

  test("ingest matches the committed tagtext golden byte-for-byte") {
    val fresh = q("ingest_parse_xml").collect().toSeq
    val golden = spark.read.parquet(queries.IrsFixtures.tagTextParquet)
      .orderBy("doc", "pos").collect().toSeq
    assert(fresh === golden)
  }

  test("V2 source without the manifest option fails with a clear message") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.XmlManifestSource").load().collect()
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
  }

  test("GraftJob writes every supported format and reads back the same " +
    "flagship counts") {
    import graft.ingest.{CitiesCountJob, GraftArgs}
    val wh = s"${sys.props("java.io.tmpdir")}/graft_fmt_wh"
    val expected = q("cities_count").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    for ((fmt, comp) <- Seq(("parquet", "snappy"), ("orc", "zlib"),
        ("json", "gzip"), ("csv", "gzip"))) {
      val args = GraftArgs(queries.IrsFixtures.manifest, s"cities_fmt_$fmt",
        numInputPartitions = 4, numOutputPartitions = 1,
        outputFormat = fmt, outputCompression = comp,
        outputOptions = if (fmt == "csv") Map("header" -> "true") else Map.empty,
        warehouseDir = Some(wh))
      val back = CitiesCountJob.run(spark, args)
      val got = back.collect()
        .map(r => (r.getString(0), r.get(1).toString.toLong)).toSet
      assert(got === expected, s"format $fmt")
    }
  }

  test("V2 source: tag filter pushes into the scan (no residual Filter) " +
    "and unfiltered read equals the mapPartitions ingest") {
    val v2 = spark.read.format("graft.sources.XmlManifestSource")
      .option("manifest", queries.IrsFixtures.manifest)
      .option("partitions", "4").load()
    // unfiltered equality with the programmatic ingest path
    val a = v2.orderBy("doc", "pos").collect().toSeq
    val b = q("ingest_parse_xml").collect().toSeq
    assert(a.map(r => (r.getString(0), r.getInt(1), r.getString(2),
      r.getString(3))) ===
      b.map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3))))
    // pushdown: the scan description advertises the pushed tag and Spark
    // plans no residual Filter on tag
    val filtered = v2.filter(col("tag") === "CityNm").select("doc", "text")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTagFilter=[CityNm]"), plan.take(1200))
    assert(filtered.count() === 20)
  }

  test("V2 source: conjunctive tag filters intersect (AND stays AND)") {
    import org.apache.spark.sql.functions.col
    val v2 = spark.read.format("graft.sources.XmlManifestSource")
      .option("manifest", queries.IrsFixtures.manifest)
      .option("partitions", "4").load()
    val rows = v2
      .filter(col("tag").isin("CityNm", "StateAbbreviationCd") &&
        col("tag") === "CityNm")
      .select("tag").distinct().collect().map(_.getString(0)).toSeq
    assert(rows === Seq("CityNm")) // union semantics would leak State rows
  }

  test("GraftArgs: trailing flag and malformed output_option fail clearly") {
    val e1 = intercept[IllegalArgumentException] {
      GraftArgs.parse(Array("in", "out", "--output_format"))
    }
    assert(e1.getMessage.contains("requires a value"))
    val e2 = intercept[IllegalArgumentException] {
      GraftArgs.parse(Array("in", "out", "--output_option", "noequals"))
    }
    assert(e2.getMessage.contains("key=value"))
  }

  test("GraftArgs: orc gzip coerces to zlib; lzo and unknown flags rejected") {
    val a = GraftArgs.parse(Array("in", "out", "--output_format", "orc"))
    assert(a.outputCompression === "zlib")
    assertThrows[IllegalArgumentException] {
      GraftArgs.parse(Array("in", "out", "--output_compression", "lzo"))
    }
    assertThrows[IllegalArgumentException] {
      GraftArgs.parse(Array("in", "out", "--bogus", "1"))
    }
  }

  test("GraftArgs: --spark-profiler / --local_temp_dir accepted as no-ops " +
    "(reference CLI parity, IRSSpark.py:80-89)") {
    // boolean flag consumes no value; the flag after it still parses
    val a = GraftArgs.parse(Array("in", "out", "--spark-profiler",
      "--local_temp_dir", "/tmp/buffer", "--output_format", "json"))
    assert(a.sparkProfiler)
    assert(a.localTempDir === Some("/tmp/buffer"))
    assert(a.outputFormat === "json")
    // trailing boolean flag needs no value (would previously throw)
    assert(GraftArgs.parse(Array("in", "out", "--spark-profiler"))
      .sparkProfiler)
    // and --local_temp_dir still demands one
    val e = intercept[IllegalArgumentException] {
      GraftArgs.parse(Array("in", "out", "--local_temp_dir"))
    }
    assert(e.getMessage.contains("requires a value"))
  }

  test("anonymous-S3 fallback: provider chain appended only when unset " +
    "(public-bucket parity with the reference's UNSIGNED client)") {
    import org.apache.hadoop.conf.Configuration
    val conf = XmlIngest.anonymousS3Fallback(new Configuration(false))
    val chain = conf.get("fs.s3a.aws.credentials.provider")
    assert(chain.endsWith("AnonymousAWSCredentialsProvider"),
      s"anonymous provider must be the last-resort entry, got $chain")
    assert(chain.contains("SimpleAWSCredentialsProvider"),
      "real credentials must still be tried first")
    // env-var-only environments (AWS_ACCESS_KEY_ID/SECRET) are served by
    // the DEFAULT s3a chain — our fallback chain must keep them winning
    // over anonymous, and before the (slower) instance-profile lookup
    val envIdx = chain.indexOf("EnvironmentVariableCredentialsProvider")
    assert(envIdx >= 0, s"env-var credentials must stay in the chain: $chain")
    assert(envIdx < chain.indexOf("IAMInstanceCredentialsProvider"),
      "env-var credentials must be tried before the instance profile")
    assert(envIdx < chain.indexOf("AnonymousAWSCredentialsProvider"),
      "env-var credentials must be tried before anonymous")
    // a caller-provided chain stays authoritative
    val pinned = new Configuration(false)
    pinned.set("fs.s3a.aws.credentials.provider", "my.Custom")
    assert(XmlIngest.anonymousS3Fallback(pinned)
      .get("fs.s3a.aws.credentials.provider") === "my.Custom")
  }

  test("per-job argument hooks + --log_level (reference CLI parity: " +
    "add_arguments / validate_arguments / log level)") {
    import graft.ingest.GraftJob
    import org.apache.spark.sql.DataFrame
    val toy = new GraftJob {
      override def name = "toy"
      override def transform(tagText: DataFrame): DataFrame = tagText
      override def addArguments = Set("--min_revenue")
      override def validateArguments(a: GraftArgs): Unit =
        require(a.extra.get("min_revenue").forall(_.toLong >= 0),
          "min_revenue must be >= 0")
    }
    val a = GraftArgs.parse(Array("in", "out", "--min_revenue", "100",
      "--log_level", "warn"), toy.addArguments)
    toy.validateArguments(a)
    assert(a.extra("min_revenue") === "100")
    assert(a.logLevel === Some("WARN"))
    // the same flag without the job's declaration stays rejected
    assertThrows[IllegalArgumentException] {
      GraftArgs.parse(Array("in", "out", "--min_revenue", "100"))
    }
    // a non-log4j level is rejected at parse time, not at runtime
    assertThrows[IllegalArgumentException] {
      GraftArgs.parse(Array("in", "out", "--log_level", "loud"))
    }
    // per-job validation fires on a bad value
    val bad = GraftArgs.parse(Array("in", "out", "--min_revenue", "-5"),
      toy.addArguments)
    assertThrows[IllegalArgumentException] { toy.validateArguments(bad) }
  }

  test("a third job consumes its own flag end-to-end: --min_revenue " +
    "filters the revenue extraction through the full pipeline") {
    import graft.ingest.{GraftArgs, GraftJob}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, expr, sum => sqlSum}
    val job = new GraftJob {
      override def name = "big_revenue"
      override def transform(tagText: DataFrame): DataFrame =
        transform(tagText, GraftArgs("", ""))
      override def transform(tagText: DataFrame,
          args: GraftArgs): DataFrame = {
        val min = args.extra.getOrElse("min_revenue", "0").toLong
        tagText.filter(col("tag") === "TotalRevenueAmt")
          .groupBy(col("doc"))
          .agg(sqlSum(expr("try_cast(text AS BIGINT)")).as("revenue"))
          .filter(col("revenue") >= min)
          .orderBy("doc")
      }
      override def addArguments = Set("--min_revenue")
    }
    val wh = s"${sys.props("java.io.tmpdir")}/graft_toyjob_wh"
    def runWith(min: Long) = {
      val args = GraftArgs.parse(Array(queries.IrsFixtures.manifest,
        s"big_revenue_$min", "--num_input_partitions", "4",
        "--num_output_partitions", "1", "--warehouse_dir", wh,
        "--min_revenue", min.toString), job.addArguments)
      job.validateArguments(args)
      job.run(spark, args).collect().map(_.getLong(1))
    }
    val all = runWith(0L)
    assert(all.min < all.max, "fixture must have a revenue spread")
    val cut = all.max
    val filtered = runWith(cut)
    assert(filtered.length < all.length && filtered.nonEmpty,
      s"${all.length} vs ${filtered.length}")
    assert(filtered.forall(_ >= cut))
  }

  test("ingest_incremental_manifest parses ONLY the unprocessed sliver, " +
    "and a complete log makes the re-run a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = ingest.XmlIngest
      .manifest(spark, queries.IrsFixtures.manifest, 4).toDF("uri")
    val nAll = all.count()
    val nProcessed = all.filter(
      expr("ascii(substring(md5(uri), 1, 1)) % 2 = 0")).count()
    assert(nProcessed > 0 && nProcessed < nAll,
      "fixture manifest must split into processed and fresh halves")
    // the query's city counts cover exactly the fresh docs' CityNm rows
    val fresh = all.filter(
      expr("ascii(substring(md5(uri), 1, 1)) % 2 = 1"))
    val expected = ingest.XmlIngest
      .fetchParseUris(spark, fresh.as[String], queries.IrsFixtures.dir)
      .toDF().filter(col("tag") === "CityNm").count()
    val got = SparkEntry.queries("ingest_incremental_manifest")(spark, sf)
    assert(got.agg(sum("cnt")).head().getLong(0) === expected)
    // idempotence: with EVERYTHING in the log, the anti-join is empty
    val rerun = all.join(all, Seq("uri"), "left_anti").count()
    assert(rerun === 0L)
  }

  test("ingest_parse_bulk: the staged corpus census replays closed-form " +
    "from documents, and the pushdown twin pushes LangCd into the scan") {
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = docs.length.toLong
    val census = SparkEntry.queries("ingest_parse_bulk")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    val nFiles = docs.map(_._1 % queries.Ingest.BulkFiles).distinct.length
    assert(census("Doc") === ((n, 0L)))
    assert(census("Return") === ((nFiles.toLong, 0L)))
    assert(census("ReturnData") === ((nFiles.toLong, 0L)))
    assert(census("Blk") === ((queries.Ingest.BulkBlks * n,
      queries.Ingest.BulkBlks.toLong * queries.Ingest.BulkBlkLen * n)))
    assert(census("DocId") ===
      ((n, docs.map(_._1.toString.length.toLong).sum)))
    assert(census("LangCd") === ((n, docs.map(_._2.length.toLong).sum)))
    assert(census("CharCount") ===
      ((n, docs.map(_._3.toString.length.toLong).sum)))
    assert(census.keySet === Set("Blk", "CharCount", "Doc", "DocId",
      "LangCd", "Return", "ReturnData"))
    // pushdown twin: language census identical to the generating relation,
    // and the filter really reached the StAX loop (scan description) with
    // no residual Filter re-checking it
    val pd = SparkEntry.queries("ingest_parse_bulk_pushdown")(spark, sf)
    val got = pd.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(got === expected)
    val plan = pd.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTagFilter=[LangCd]"), plan)
  }

  test("staging crash-safety: a killed bulk-corpus commit (missing stamp " +
    "or missing _SUCCESS) is stale and rebuilds, never serves partials") {
    val dir = queries.Ingest.ensureBulkStaged(spark, sf)
    def isCurrent: Boolean = Staging.current(spark, "graft_xmlbulk", sf,
      s"$sf/documents.parquet").contains(dir)
    assert(isCurrent)
    // crash AFTER data + marker but BEFORE the stamp: detectably stale
    val stampFile = new java.io.File(dir, "_GRAFT_SRC_STAMP")
    val stamp = java.nio.file.Files.readAllBytes(stampFile.toPath)
    assert(stampFile.delete())
    assert(!isCurrent)
    // crash BEFORE the completion marker: also stale, even with a stamp
    java.nio.file.Files.write(stampFile.toPath, stamp)
    val success = new java.io.File(dir, "_SUCCESS")
    assert(success.delete())
    assert(!isCurrent)
    // and the family actually rebuilds to a current, correct layout
    // (delete one data shard to prove the rebuild rewrites, not re-marks)
    val shard = new java.io.File(dir, "filing_0000.xml")
    val had = shard.exists()
    if (had) assert(shard.delete())
    val dir2 = queries.Ingest.ensureBulkStaged(spark, sf)
    assert(dir2 === dir)
    assert(isCurrent)
    assert(!had || shard.exists(), "rebuild must rewrite deleted shards")
  }
}
