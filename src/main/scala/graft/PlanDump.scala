package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Optimization-round evidence dump: writes each named query's
  * `.explain("formatted")` output to `<outDir>/<query>_<suffix>.txt` so
  * plan-shape claims in OPTIMIZATION_r*.md are checkable without running
  * Spark. Usage: runMain graft.PlanDump <outDir> <suffix> <query>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args.take(2)
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "pass at least one query name")
    require(names.toSet.subsetOf(SparkEntry.queries.keySet),
      s"unknown query names: ${(names.toSet -- SparkEntry.queries.keySet).mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.err.println(s"[plandump] wrote $name ($suffix)")
      } catch { case NonFatal(e) =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
