package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SimSearch

/** Pins for `simsearch_ivf_incremental` (no oracle — ANN family): the
  * refresh must be a true APPEND (no retrain, base-trained codebook
  * read back unchanged) and appending the delta's inverted-list
  * entries must reproduce a from-scratch index under the same codebook
  * exactly — coarse assignment is a pure per-row function, so the two
  * layouts can only differ if the refresh path is broken.
  */
class IvfIncrementalSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def ndot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = {
    call_function("graft_dot", a, b)
  }
  private def unit(e: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column) =
    transform(e, x => (x / n).cast("float"))

  private def stagedCodebook(): Seq[Seq[Float]] = {
    import spark.implicits._
    val p = SimSearch.incrIvfStaged(spark, sf)
    spark.read.parquet(s"$p/centroids").orderBy("cell")
      .select("centroid").as[Array[Float]].collect().map(_.toSeq).toSeq
  }

  test("incremental IVF never retrains: staged centroids equal a " +
    "base-slice k-means fit, bit for bit") {
    val cents = stagedCodebook()
    val base = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") % 10 =!= 0)
    val refit = SimSearch.trainKmeans(spark, base)
    assert(cents === refit)
  }

  test("appending the delta equals a from-scratch rebuild under the " +
    "same codebook: identical probe results") {
    import spark.implicits._
    val cents = stagedCodebook()
    val codebook = typedlit(cents)
    // from-scratch: assign the FULL corpus with the staged codebook
    val index: DataFrame = Tables(spark, sf, "embeddings")
      .withColumn("nrm", sqrt(ndot(col("embedding"), col("embedding"))))
      .withColumn("cell", explode(
        call_function("graft_nearest_cells",
          unit(col("embedding"), col("nrm")), codebook,
          lit(2 /* SoftAssign */))))
    val q = index.filter(col("vec_id") < 8).dropDuplicates("vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"),
        explode(call_function("graft_nearest_cells",
          unit(col("embedding"), col("nrm")), codebook,
          lit(6 /* NProbe */))).as("cell"))
    val probed = q.select("cell").distinct().as[Int].collect().toSeq
    val c = index.filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("cell"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val rebuilt = broadcast(q).join(c, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos",
        ndot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .select(col("q_id"), col("vec_id"), col("cos"))
      .dropDuplicates("q_id", "vec_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id"),
        round(col("cos"), 4).as("cos_sim"), col("rn"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val got = SparkEntry.queries("simsearch_ivf_incremental")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got === rebuilt)
  }

  test("incremental IVF keeps useful recall vs the exact brute force") {
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("simsearch_cosine_topk")
    val incr = pairs("simsearch_ivf_incremental")
    val recall = (exact & incr).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }
}
