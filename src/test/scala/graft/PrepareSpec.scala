package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** `SparkEntry.prepare` contract: it runs the family stagers and nothing
  * else. Each stage is isolated: one stage blowing up must not stop later
  * stages, and must name itself on stderr. With no stages, prepare starts
  * no Spark job: no key is run untimed before Bench's loop.
  */
class PrepareSpec extends SparkSpec {

  test("a failing stage does not prevent later stages and is named on stderr") {
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    val stages = Seq[(String, (SparkSession, String) => Unit)](
      "boomFamily" -> ((_, _) => throw new RuntimeException("staging exploded")),
      "afterA" -> ((_, _) => { ran += "afterA"; () }),
      "afterB" -> ((_, _) => { ran += "afterB"; () }))
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    try SparkEntry.prepare(spark, sf, stages)
    finally System.setErr(realErr)
    val err = errBuf.toString
    assert(ran.toSeq === Seq("afterA", "afterB"),
      "stages after a failure must still run")
    assert(err.contains("boomFamily staging FAILED"),
      s"failure must be named on stderr; got: $err")
  }

  test("prepare with no stages starts no Spark job") {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.prepare(spark, sf, Seq.empty)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0)
  }

  test("the production stager list covers all eight staging families, " +
    "most drift-prone input (events via StreamingOps) last") {
    val names = SparkEntry.stagers.map(_._1)
    assert(names.toSet ===
      Set("Physical", "Pipeline", "SimSearch", "TextOps", "Multimodal",
        "Ingest", "EntityRes", "StreamingOps"))
    assert(names.last === "StreamingOps")
  }
}
