package graft

/** Reproduces the driver's t1 smoke gate locally: SparkEntry.entry must
  * return >0 rows. Prints the flagship result and the row count.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session("local[4]", "graft-smoke")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
