package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private implicit val formats: Formats = DefaultFormats

  /** A failure's cause as recorded in failures.json and Bench's "failed". */
  private[graft] def cause(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"

  def main(args: Array[String]): Unit = {
    // dev loop: trailing args select a query subset (the driver passes
    // exactly two args → full sweep); oracle_sql.json is always complete
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // fail fast on a typo'd subset name — filterKeys over an unknown name
    // would silently run ZERO queries and exit 0
    require(only.subsetOf(SparkEntry.queries.keySet),
      s"unknown query names: ${(only -- SparkEntry.queries.keySet).mkString(", ")}")
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    // A failed query must leave a MACHINE-READABLE trace, not just stderr:
    // in r9 the 40 events-loader failures left no output dir, so they
    // simply vanished from CORRECTNESS (absent row reads as "not checked",
    // not "broken"). failures.json names each casualty with its cause.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = cause(e)
      }
    }
    // json4s escapes quotes, backslashes and every control char: a tab or
    // CR in an oracle's SQL must not break check_oracle.py's json.load
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql))
    // Always written (possibly `{}`): an absent file is indistinguishable
    // from an old Verify build, an empty object is a positive all-clear.
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      Serialization.write(failures))
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: " +
          failures.keys.mkString(", "))
    }
    spark.stop()
  }
}
