package graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.SparkSession

/** The one place that builds a graft Spark session: Bench, Verify, PlanDump,
  * Smoke, the GraftJob CLI, MaterializeTagText and the specs all come
  * through here, so the plan a spec checks is the plan the mains time.
  *
  * Every session gets UTC, no UI, graft's Catalyst functions and optimizer
  * rule through `spark.sql.extensions` (see [[graft.plans.GraftExtensions]]),
  * WARN logging, one shuffle partition per core of the master, and a
  * compiled-class cache of [[CodegenCacheEntries]] classes.
  */
object Session {

  /** Entries in Spark's compiled-class cache (`spark.sql.codegen.cache.
    * maxEntries`, default 100). A sweep cycles through far more generated
    * classes than 100, so at the default the cache evicts each class before
    * its plan runs again and every pass recompiles it. Verify sweeps over
    * all keys compiled 5,552 to 6,063 distinct classes in three runs at
    * sf0.01 and sf0.001; this keeps them all, with 65% headroom over the
    * largest. Spark reads the size once per JVM, when its code generator
    * first initialises, so the first session built fixes it.
    */
  val CodegenCacheEntries = 10000

  /** `local[$SPARK_GRAFT_CPUS]`, defaulting to every available core. */
  private def localMaster: String = "local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString) + "]"

  def apply(master: String = localMaster, appName: String = "graft")
      : SparkSession = {
    val sc = SparkContext.getOrCreate(new SparkConf()
      .setMaster(master)
      .setAppName(appName)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      .set("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      // the AppStatus/SQL stores still populate with the UI disabled (they
      // back the status APIs) and default retention keeps 1000 stages +
      // 100k tasks + 1000 SQL executions live across a whole sweep —
      // steady listener-thread eviction churn and old-gen residency that
      // the per-key cleanup cannot touch; a 400-key sweep needs none of it
      .set("spark.ui.retainedJobs", "50")
      .set("spark.ui.retainedStages", "50")
      .set("spark.ui.retainedTasks", "1000")
      .set("spark.sql.ui.retainedExecutions", "10")
      .set("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString))
    sc.setLogLevel("WARN")
    // a builder option, not a conf set on the built session: newSession()
    // children (Physical's isolated-conf keys) inherit builder options only.
    // The builder reuses the context above, which Spark reports with a
    // "Using an existing SparkContext" warning; session options still apply.
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", sc.defaultParallelism.toString)
      .getOrCreate()
  }
}
