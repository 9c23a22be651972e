package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives `(spark, sfDir)` and builds
  * its inputs through here, so the scan always goes through the vectorized
  * parquet reader with Catalyst predicate pushdown / column pruning intact.
  */
object Tables {
  /** `events` goes through [[events]]'s encoding dispatch like every other
    * read of it; every other table is a plain parquet scan.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else parquet(spark, dir, name)

  private def parquet(s: SparkSession, d: String, name: String): DataFrame =
    s.read.parquet(s"$d/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 rejects outright with
    * PARQUET_TYPE_ILLEGAL unless read as a nano long) and plain
    * `timestamp[us]`. Hard-coding either assumption breaks every
    * events-reading query the next time the driver regenerates the data
    * (r9 postmortem: 40/199 queries dead), so dispatch on the schema the
    * read actually returns:
    *
    *   - TimestampType: pass through.
    *   - TimestampNTZType: cast to TimestampType — the session timezone is
    *     pinned to UTC everywhere (Bench/Verify/specs), so the cast is
    *     value-identical and keeps one `ts` type for all downstream code
    *     (range frames over unix_timestamp, `window()`, asof binning).
    *   - LongType (nanosAsLong already on): nano epoch → micros timestamp.
    *     Integer `div`, not `/`: nano epochs (~1.7e18) exceed a double's
    *     2^53 exact-integer range.
    *   - A PARQUET_TYPE_ILLEGAL / unsupported-type failure at read time
    *     means NANOS without the legacy flag: retry with
    *     `spark.sql.legacy.parquet.nanosAsLong=true`, then convert.
    *
    * Any other `ts` type fails loudly with the observed schema — a new
    * testdata encoding must surface as one named error, not 40 silent ones.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df =
      try parquet(s, d, "events")
      catch {
        case e: Throwable if {
          val m = Option(e.getMessage).getOrElse("")
          m.contains("PARQUET_TYPE_ILLEGAL") || m.contains("NANOS")
        } =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          parquet(s, d, "events")
      }
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other " +
            s"(dir=$d) — teach Tables.events this encoding")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so the full corpus is queryable
    * through plain `spark.sql(...)`.
    */
  def registerAll(s: SparkSession, d: String): Unit =
    names.foreach(n => apply(s, d, n).createOrReplaceTempView(n))
}
