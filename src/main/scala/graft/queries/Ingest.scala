package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ingest.{CitiesCountJob, GraftArgs, IngestMetrics, RevenueByFilingJob, XmlIngest}

/** Reference-parity ingest operators — SURVEY.md §2.A rows A1–A11 and the
  * composite flagship `cities_count` (the reference's entire pipeline:
  * manifest scan → fetch → XML flatten → tag filter → lower+1 → counted
  * aggregation → sink).
  *
  * Inputs come from the committed XML corpus (FIXTURES.md §B) at
  * [[IrsFixtures.dir]], not the sfDir tables — ingest is about files, not
  * parquet. The corresponding DuckDB oracles read the committed
  * `tagtext.parquet` golden (the materialized flatten output, validated by
  * the ScalaTest golden spec): the *relational* part of every pipeline is
  * thus independently recomputed by DuckDB; the fetch/parse layer itself is
  * fixture-pinned.
  */
object IrsFixtures {
  /** `GRAFT_IRS990_DIR`, else the corpus of the checkout the JVM runs in:
    * every main, spec and the benchmark runner starts at the repo root.
    */
  val dir: String = sys.env.getOrElse("GRAFT_IRS990_DIR",
    new java.io.File("src/test/resources/irs990").getAbsolutePath)
  def manifest: String = s"$dir/manifest.txt"
  def tagTextParquet: String = s"$dir/tagtext.parquet"
}

object Ingest {
  import IrsFixtures._

  private def parsed(s: SparkSession,
      metrics: Option[IngestMetrics] = None): DataFrame =
    XmlIngest.fetchParse(s, manifest, dir, nPartitions = 4, metrics).toDF()

  /** Corpus-scale XML staging — the committed fixture corpus (~tens of
    * documents) proves semantics; this proves THROUGHPUT. A multi-file
    * filing-shaped corpus (~12.5 KB per document: 3 scalar tags + 24
    * 512-char body blocks, namespaced root) is generated DETERMINISTICALLY
    * from documents.parquet, so the parse result is closed-form computable
    * from the generating relation — the DuckDB oracle recomputes the
    * per-tag (count, chars) census from `documents` WITHOUT parsing any
    * XML, which keeps the fetch→StAX layer independently checked at
    * corpus size (~6 MB at sf0.01, ~62 MB at sf0.1). Files are written
    * executor-side one-per-shard through `graft.fs.AttemptFile` (task-retry
    * safe, like the packed image shards); the manifest lists only the
    * shards that exist (a modulus class can be empty).
    */
  private[graft] val BulkFiles = 64
  private[graft] val BulkBlks = 24
  private[graft] val BulkBlkLen = 512

  def ensureBulkStaged(s: SparkSession, d: String): String =
    graft.Staging.layout(s, "graft_xmlbulk", d,
      s"$d/documents.parquet")(writeBulk(s, d, _))

  /** Write the bulk corpus and its manifest into `dirB` (over whatever a
    * lost attempt left there).
    */
  private[graft] def writeBulk(s: SparkSession, d: String,
      dirB: String): Unit = {
    import s.implicits._
    val (files, blks, blkLen) = (BulkFiles, BulkBlks, BulkBlkLen)
    // the SESSION's hadoop conf, broadcast — a fresh empty Configuration
    // in the task would drop user filesystem settings (s3a credentials/
    // providers) and silently break on any non-local staging dir
    val hconf = graft.HadoopConf.broadcast(s)
    val written = graft.Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .as[(Long, String, Long)]
      .groupByKey(r => (r._1 % files).toInt)
      .flatMapGroups { (shard, rows) =>
        val dir = new org.apache.hadoop.fs.Path(dirB)
        val name = f"filing_$shard%04d.xml"
        graft.fs.AttemptFile.write(
            dir.getFileSystem(hconf.value.value), dir, name) { os =>
          val out = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(os, "UTF-8"))
          out.print("<Return xmlns=\"http://www.irs.gov/efile\">\n" +
            "<ReturnData>\n")
          rows.toArray.sortBy(_._1).foreach { case (id, lang, nc) =>
            out.print(s"<Doc>\n<DocId>$id</DocId>\n<LangCd>$lang" +
              s"</LangCd>\n<CharCount>$nc</CharCount>\n")
            var i = 0
            while (i < blks) {
              val pat = s"b${id}x$i."
              val sb = new java.lang.StringBuilder(blkLen + pat.length)
              while (sb.length < blkLen) sb.append(pat)
              sb.setLength(blkLen)
              out.print("<Blk>"); out.print(sb); out.print("</Blk>\n")
              i += 1
            }
            out.print("</Doc>\n")
          }
          out.print("</ReturnData>\n</Return>\n")
          out.flush()
        }
        Iterator.single(name)
      }
      .collect() // bounded: ≤ BulkFiles shard names
      .sorted
    // manifest goes through the SAME Hadoop FS and conf as the shards —
    // a java.nio local write would strand the manifest on the driver's
    // disk whenever the staging dir is a remote filesystem
    val mfs = new org.apache.hadoop.fs.Path(dirB)
      .getFileSystem(hconf.value.value)
    val mout = mfs.create(
      new org.apache.hadoop.fs.Path(dirB, "manifest.txt"), true)
    try mout.write(written.mkString("\n").getBytes("UTF-8"))
    finally mout.close()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: manifest text scan.
    "scan_text_manifest" -> ((s, _) =>
      XmlIngest.manifest(s, manifest, 4).toDF("value").orderBy("value")),

    // A2: multi-scheme fetch (Hadoop FS handles file:/hdfs:/s3a: alike) —
    // here observed via per-URI byte counts; parse not involved.
    "ingest_fetch_xml" -> ((s, _) => {
      import s.implicits._
      val hconf = graft.HadoopConf.broadcast(s)
      XmlIngest.manifest(s, manifest, 4).mapPartitions { uris =>
        val conf = hconf.value.value
        uris.map { uri =>
          val p = XmlIngest.resolve(uri, dir)
          (uri, p.getFileSystem(conf).getFileStatus(p).getLen)
        }
      }.toDF("uri", "n_bytes").orderBy("uri")
    }),

    // A3: the XML flatten itself (UDTF-shaped ingest).
    "ingest_parse_xml" -> ((s, _) =>
      parsed(s).select("doc", "pos", "tag", "text").orderBy("doc", "pos")),

    // A4: tag-equality filter.
    "filter_tag_eq" -> ((s, _) =>
      parsed(s).filter(col("tag") === "CityNm")
        .select("doc", "text").orderBy("doc")),

    // A5: projection + lower() + literal (CitiesCountJob.py:21).
    "project_lower_lit" -> ((s, _) =>
      parsed(s).filter(col("tag") === "CityNm")
        .select(lower(col("text")).as("city"), lit(1L).as("one"))
        .orderBy("city")),

    // A6: counted aggregation — the reference's only shuffle
    // (reduceByKey, IRSSpark.py:181) as Catalyst partial→final HashAggregate.
    "agg_reduce_by_key" -> ((s, _) =>
      parsed(s).select(col("tag").as("key"), lit(1L).as("one"))
        .groupBy("key").agg(sum("one").as("val"))
        .orderBy("key")),

    // A7: RDD → DataFrame with a declared schema (IRSSpark.py:183,27-30) —
    // the genuine RDD path: reduceByKey then createDataFrame(schema).
    "rdd_to_df_schema" -> ((s, _) => {
      val schema = StructType(Seq(
        StructField("key", StringType, nullable = true),
        StructField("val", LongType, nullable = true)))
      val rdd = parsed(s).select("tag").rdd
        .map(r => (r.getString(0), 1L))
        .reduceByKey(_ + _)
        .map { case (k, v) => Row(k, v) }
      s.createDataFrame(rdd, schema).orderBy("key")
    }),

    // A8: output-partition coalesce on the flagship result.
    "coalesce_output" -> ((s, _) =>
      CitiesCountJob.transform(parsed(s)).coalesce(1)),

    // A9: multi-format warehouse table sink — write via saveAsTable into a
    // temp warehouse path, return the read-back table.
    "sink_warehouse_table" -> ((s, _) => {
      val wh = s"${sys.props("java.io.tmpdir")}/graft_warehouse"
      CitiesCountJob.transform(parsed(s))
        .write.mode("overwrite").format("parquet")
        .option("compression", "snappy")
        .option("path", s"$wh/cities_count_tbl")
        .saveAsTable("cities_count_tbl")
      s.table("cities_count_tbl").orderBy("City")
    }),

    // A10: ingest metrics (accumulator twin) — fixed semantics: every URI
    // is exactly one of ok/failed.
    "metrics_accumulators" -> ((s, _) => {
      val m = IngestMetrics(s)
      parsed(s, Some(m)).count() // action → accumulators populated
      import s.implicits._
      Seq(
        ("files_failed", m.failed.value: Long),
        ("files_ok", m.ok.value: Long),
        ("files_processed", m.processed.value: Long),
        ("records_emitted", m.records.value: Long))
        .toDF("metric", "value").orderBy("metric")
    }),

    // A11: tag → ordered texts pivot (the reference's dead code,
    // IRSSpark.py:171-174, made deterministic with sort_array). The list is
    // serialized with concat_ws: the driver's pandas comparator cannot hash
    // array-typed cells, and a delimited scalar carries the same content.
    "pivot_tag_texts" -> ((s, _) =>
      parsed(s).groupBy("tag")
        .agg(concat_ws(",", sort_array(collect_list(col("text"))))
          .as("texts"))
        .orderBy("tag")),

    // Flagship composite: the whole reference pipeline.
    "cities_count" -> ((s, _) =>
      CitiesCountJob.transform(parsed(s))),

    // Second user-authored job through the same framework: per-filing
    // revenue extraction (name + transform is all a new analysis needs).
    "revenue_by_filing" -> ((s, _) =>
      RevenueByFilingJob.transform(parsed(s))),

    // V2 DataSource route with tag-filter pushdown: the predicate reaches
    // the StAX loop (PushedTagFilter in the scan description) — only
    // matching elements are ever materialized. pos stays the global
    // document-order index, so values match the full-flatten fixture.
    "scan_xml_source_v2" -> ((s, _) =>
      s.read.format("graft.sources.XmlManifestSource")
        .option("manifest", manifest)
        .option("partitions", "4")
        .load()
        .filter(col("tag") === "CityNm")
        .select("doc", "pos", "text")
        .orderBy("doc")),

    // Incremental manifest ingestion — the operational upgrade the
    // reference's monthly re-run needs: ingest ONLY manifest entries
    // absent from the processed log, instead of re-fetching the world.
    // The log here is the deterministic md5-even half of the manifest
    // (standing in for "last month's run"); new = manifest ANTI-JOIN
    // log on the uri key, and ONLY that sliver is fetched+parsed
    // (fetchParseUris). At the registry's real scale the anti-join is
    // uri-keyed (manifest-cardinality, trivially small next to filing
    // bytes) and fetch cost becomes proportional to the DELTA — the
    // whole point. Re-running with a complete log parses zero files
    // (idempotence, pinned in IngestSpec).
    // Corpus-scale throughput for the A2+A3 path: manifest → Hadoop-FS
    // fetch → StAX flatten over the staged multi-file corpus (~62 MB /
    // 5000 filings at sf0.1), folded to a per-tag (count, chars) census.
    // The aggregation is a partial→final hash agg over |tags| groups —
    // the shuffle carries 7 rows — so the measured cost IS fetch+parse
    // bandwidth. The oracle recomputes every census row CLOSED-FORM from
    // the generating `documents` relation (counts, decimal-digit lengths,
    // 24×512 block arithmetic) — it never parses XML, so Spark's whole
    // ingest stack is checked against an independent derivation.
    "ingest_parse_bulk" -> ((s, d) => {
      val dirB = ensureBulkStaged(s, d)
      XmlIngest.fetchParse(s, s"$dirB/manifest.txt", dirB).toDF()
        .groupBy("tag")
        .agg(count(lit(1)).as("cnt"),
          sum(length(col("text"))).as("n_chars"))
        .orderBy("tag")
    }),

    // The V2-source twin on the SAME corpus with the tag filter pushed
    // into the StAX loop (PushedTagFilter=[LangCd]): 24 of every 27
    // elements per filing are 512-char body blocks the pushdown never
    // buffers or materializes — the measured delta vs ingest_parse_bulk
    // is the value of predicate pushdown reaching the parser (PERF.md).
    // Oracle: language census straight off `documents`.
    "ingest_parse_bulk_pushdown" -> ((s, d) => {
      val dirB = ensureBulkStaged(s, d)
      s.read.format("graft.sources.XmlManifestSource")
        .option("manifest", s"$dirB/manifest.txt")
        .load()
        .filter(col("tag") === "LangCd")
        .groupBy(col("text").as("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    "ingest_incremental_manifest" -> ((s, _) => {
      import s.implicits._
      val all = XmlIngest.manifest(s, manifest, 4).toDF("uri")
      val processedLog = all.filter(
        expr("ascii(substring(md5(uri), 1, 1)) % 2 = 0"))
      val fresh = all.join(processedLog, Seq("uri"), "left_anti")
      XmlIngest.fetchParseUris(s, fresh.as[String], dir).toDF()
        .filter(col("tag") === "CityNm")
        .groupBy(lower(col("text")).as("city"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("city")
    }),
  )

  private val rp = s"read_parquet('${IrsFixtures.tagTextParquet}')"

  private val citiesSql =
    s"""SELECT lower(text) AS City, count(*) AS Count FROM $rp
       |WHERE tag = 'CityNm' GROUP BY City ORDER BY City""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "scan_text_manifest" ->
      s"""SELECT value FROM read_csv('${IrsFixtures.manifest}',
         |  header=false, columns={'value': 'VARCHAR'})
         |ORDER BY value""".stripMargin,
    "ingest_parse_xml" ->
      s"SELECT doc, pos, tag, text FROM $rp ORDER BY doc, pos",
    "filter_tag_eq" ->
      s"""SELECT doc, text FROM $rp WHERE tag = 'CityNm'
         |ORDER BY doc""".stripMargin,
    "project_lower_lit" ->
      s"""SELECT lower(text) AS city, CAST(1 AS BIGINT) AS one FROM $rp
         |WHERE tag = 'CityNm' ORDER BY city""".stripMargin,
    "agg_reduce_by_key" ->
      s"""SELECT tag AS key, CAST(count(*) AS BIGINT) AS val FROM $rp
         |GROUP BY tag ORDER BY key""".stripMargin,
    "rdd_to_df_schema" ->
      s"""SELECT tag AS key, CAST(count(*) AS BIGINT) AS val FROM $rp
         |GROUP BY tag ORDER BY key""".stripMargin,
    "coalesce_output" -> citiesSql,
    "sink_warehouse_table" -> citiesSql,
    "metrics_accumulators" ->
      s"""SELECT 'files_failed' AS metric, CAST(1 AS BIGINT) AS value
         |UNION ALL
         |SELECT 'files_ok', (SELECT count(DISTINCT doc) FROM $rp)
         |UNION ALL
         |SELECT 'files_processed', (SELECT count(DISTINCT doc) FROM $rp) + 1
         |UNION ALL
         |SELECT 'records_emitted', (SELECT count(*) FROM $rp)
         |ORDER BY metric""".stripMargin,
    "pivot_tag_texts" ->
      s"""SELECT tag, array_to_string(list(text ORDER BY text), ',') AS texts
         |FROM $rp GROUP BY tag ORDER BY tag""".stripMargin,
    "cities_count" -> citiesSql,
    "scan_xml_source_v2" ->
      s"""SELECT doc, pos, text FROM $rp WHERE tag = 'CityNm'
         |ORDER BY doc""".stripMargin,
    // the parse fixture's doc IS the manifest uri, so the md5-half split
    // reproduces exactly; only the anti-join survivors contribute
    "ingest_incremental_manifest" ->
      s"""SELECT lower(text) AS city, count(*) AS cnt FROM $rp
         |WHERE tag = 'CityNm'
         |  AND ascii(substr(md5(doc), 1, 1)) % 2 = 1
         |GROUP BY city ORDER BY city""".stripMargin,
    // closed-form census of the deterministic generator: counts and text
    // lengths per tag derive from `documents` alone (decimal-digit
    // lengths for the numeric tags, 24×512 for the body blocks,
    // empty-text containers, one Return/ReturnData per non-empty shard)
    "ingest_parse_bulk" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
         |SELECT 'Blk' AS tag, CAST($BulkBlks * count(*) AS BIGINT) AS cnt,
         |       CAST($BulkBlks * $BulkBlkLen * count(*) AS BIGINT) AS n_chars
         |FROM d
         |UNION ALL
         |SELECT 'CharCount', CAST(count(*) AS BIGINT),
         |       CAST(sum(length(CAST(n_chars AS VARCHAR))) AS BIGINT)
         |FROM d
         |UNION ALL
         |SELECT 'Doc', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT) FROM d
         |UNION ALL
         |SELECT 'DocId', CAST(count(*) AS BIGINT),
         |       CAST(sum(length(CAST(doc_id AS VARCHAR))) AS BIGINT)
         |FROM d
         |UNION ALL
         |SELECT 'LangCd', CAST(count(*) AS BIGINT),
         |       CAST(sum(length(lang)) AS BIGINT) FROM d
         |UNION ALL
         |SELECT 'Return', CAST(count(DISTINCT doc_id % $BulkFiles) AS BIGINT),
         |       CAST(0 AS BIGINT) FROM d
         |UNION ALL
         |SELECT 'ReturnData',
         |       CAST(count(DISTINCT doc_id % $BulkFiles) AS BIGINT),
         |       CAST(0 AS BIGINT) FROM d
         |ORDER BY tag""".stripMargin,
    "ingest_parse_bulk_pushdown" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // CAST back to BIGINT: DuckDB sum(BIGINT) widens to HUGEINT, which the
    // driver's pandas bridge renders as float64 and the hash check rejects.
    "revenue_by_filing" ->
      s"""SELECT doc, CAST(sum(TRY_CAST(text AS BIGINT)) AS BIGINT) AS revenue
         |FROM $rp
         |WHERE tag = 'TotalRevenueAmt' GROUP BY doc ORDER BY doc""".stripMargin,
  )
}
