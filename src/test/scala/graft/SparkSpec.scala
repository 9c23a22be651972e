package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; tests run against the sf0.001 tables). Built by the same factory as
  * the mains, so specs check the plans Bench and Verify run.
  */
object SparkSpec {
  lazy val session: SparkSession = Session("local[4]", "graft-test")
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = SparkSpec.sf

  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)
}
