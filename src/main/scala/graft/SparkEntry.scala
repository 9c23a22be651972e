package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are grouped by family under `graft.queries.*`; this object merges
  * the per-family maps. Every oracle=yes row of SURVEY §2 has both a
  * `queries` entry and a DuckDB `oracleSql` twin with identical column names
  * (the driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship: the reference's entire pipeline end-to-end (SURVEY §2
    * `cities_count` = A1∘A2∘A3∘A4∘A5∘A6) over the committed XML corpus —
    * manifest scan → fetch → XML flatten → tag filter → lower+1 → counted
    * aggregation. Driver smoke-checks rows>0 (returns the 11 distinct
    * city rows).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("cities_count")(spark, "/root/testdata/sf0.001")

  /** One-off idempotent staging (bucketed/partitioned layouts, streaming
    * source re-materialization) shared by several queries — Bench runs it
    * before the timed loop so per-query numbers measure the operator, not
    * the one-time writes.
    */
  def prepare(spark: SparkSession, sfDir: String): Unit =
    prepare(spark, sfDir, stagers)

  /** Stager-injectable body, so PrepareSpec can prove one family's failure
    * leaves the remaining families staged.
    */
  private[graft] def prepare(spark: SparkSession, sfDir: String,
      stages: Seq[(String, (SparkSession, String) => Unit)]): Unit = {
    // Each family stages under its own try/catch: a staging failure costs
    // only its own family (whose keys then rebuild inside their timed
    // window) and says so on stderr by name. StreamingOps reads the most
    // drift-prone input (events), so it runs last among the stagers.
    stages.foreach { case (family, run) =>
      try run(spark, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(
          s"[prepare] $family staging FAILED " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
            "its queries will rebuild in-run")
      }
    }
  }

  /** Staging stages by family, isolation unit for [[prepare]]. Exposed so
    * PrepareSpec can prove one family's failure leaves the rest staged.
    */
  private[graft] def stagers
      : Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "Physical" -> (queries_.Physical.ensureStaged _),
    "Pipeline" -> (queries_.Pipeline.ensureStaged _),
    "SimSearch" -> (queries_.SimSearch.ensureStaged _),
    "TextOps" -> (queries_.TextOps.ensureStaged _),
    "Multimodal" -> ((s, d) => {
      queries_.Multimodal.ensureStaged(s, d)
      queries_.Multimodal.ensurePackedStaged(s, d)
      ()
    }),
    "Ingest" -> ((s, d) => { queries_.Ingest.ensureBulkStaged(s, d); () }),
    "EntityRes" -> (queries_.EntityRes.ensureStaged _),
    "StreamingOps" -> (queries_.StreamingOps.ensureStaged _)
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    queries_.Relational.queries ++
      queries_.Windows.queries ++
      queries_.Functions.queries ++
      queries_.TextOps.queries ++
      queries_.SimSearch.queries ++
      queries_.Multimodal.queries ++
      queries_.StreamingOps.queries ++
      queries_.Ingest.queries ++
      queries_.Physical.queries ++
      queries_.Pipeline.queries ++
      queries_.SqlSurface.queries ++
      queries_.Behavior.queries ++
      queries_.EntityRes.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] =
    queries_.Relational.oracleSql ++
      queries_.Windows.oracleSql ++
      queries_.Functions.oracleSql ++
      queries_.TextOps.oracleSql ++
      queries_.SimSearch.oracleSql ++
      queries_.Multimodal.oracleSql ++
      queries_.StreamingOps.oracleSql ++
      queries_.Ingest.oracleSql ++
      queries_.Physical.oracleSql ++
      queries_.Pipeline.oracleSql ++
      queries_.SqlSurface.oracleSql ++
      queries_.Behavior.oracleSql ++
      queries_.EntityRes.oracleSql

  // `queries` is also the name of the member above; alias the package.
  private object queries_ {
    val Relational = graft.queries.Relational
    val Windows = graft.queries.Windows
    val Functions = graft.queries.Functions
    val TextOps = graft.queries.TextOps
    val SimSearch = graft.queries.SimSearch
    val Multimodal = graft.queries.Multimodal
    val StreamingOps = graft.streaming.StreamingOps
    val Ingest = graft.queries.Ingest
    val Physical = graft.queries.Physical
    val Pipeline = graft.queries.Pipeline
    val SqlSurface = graft.queries.SqlSurface
    val Behavior = graft.queries.Behavior
    val EntityRes = graft.queries.EntityRes
  }
}
