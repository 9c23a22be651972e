package graft

import org.apache.spark.sql.functions._

/** Incremental view maintenance (`sink_changefeed_ivm`) and per-source
  * boilerplate stripping (`text_boilerplate_strip`): the maintained view
  * must equal a from-scratch recompute bit-for-bit, the delta must read
  * only the log's changed files, and boilerplate must mean cross-doc —
  * never intra-doc — repetition.
  */
class IvmBoilerplateSpec extends SparkSpec {

  test("sink_changefeed_ivm: maintained view equals the from-scratch " +
    "recompute of the latest snapshot, exactly") {
    val ivm = q("sink_changefeed_ivm").collect()
    val path = queries.Physical.mergeSinkStaged(spark, sf)
    val full = TableLog.scan(spark, path, None)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double"), 2).as("revenue"))
      .orderBy("o_orderstatus")
      .collect()
    assert(ivm.length === full.length && ivm.length > 0)
    ivm.zip(full).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      assert(a.getLong(1) === b.getLong(1), s"count drift in ${a.getString(0)}")
      assert(a.getDouble(2) === b.getDouble(2),
        s"revenue drift in ${a.getString(0)} — decimal fold must be exact")
    }
  }

  test("sink_changefeed_ivm: the log diff leaves carried files " +
    "unread (the O(changed files) claim has a fixture to bite on)") {
    val path = queries.Physical.mergeSinkStaged(spark, sf)
    val m0 = TableLog.snapshot(spark, path, Some(0)).files
    val m1 = TableLog.snapshot(spark, path, Some(1)).files
    val carried = m0.intersect(m1)
    assert(carried.nonEmpty,
      "fixture must carry at least one file by reference across the merge")
    assert(m0.diff(m1).nonEmpty && m1.diff(m0).nonEmpty,
      "fixture must rewrite and add files — otherwise the delta is empty")
    // the carried share is what IVM never rescans
    assert(carried.size + m0.diff(m1).size === m0.size)
  }

  test("sink_changefeed_ivm: staged view stores DECIMAL sums — the " +
    "exactness contract is in the schema, not a comment") {
    val viewPath = queries.Physical.ivmViewStaged(spark, sf)
    val schema = spark.read.parquet(viewPath).schema
    assert(schema("rev0").dataType
      .isInstanceOf[org.apache.spark.sql.types.DecimalType],
      s"rev0 must be decimal, got ${schema("rev0").dataType}")
  }

  test("text_boilerplate_strip: cross-doc repeats count, intra-doc " +
    "stutter does not, per source") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_boiler_spec").toString
    import spark.implicits._
    // srcA doc0 repeats chunk X 3x WITHIN itself (df=1 -> not boiler);
    // srcA doc1+doc2 share chunk Y (df=2 -> boiler, both instances);
    // srcB doc3 is unique (0 boiler).
    Seq(
      (0L, "a b c d a b c d a b c d", "en", "srcA", 23L),
      (1L, "e f g h", "en", "srcA", 7L),
      (2L, "e f g h", "en", "srcA", 7L),
      (3L, "i j k l", "en", "srcB", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("text_boilerplate_strip")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows === Array(
      ("srcA", 5L, 2L, 1L, 0.4),
      ("srcB", 1L, 0L, 0L, 0.0)))
  }

  test("text_boilerplate_strip: hash grouping equals string grouping " +
    "on the real fixture (collision-free content keys)") {
    val byHash = q("text_boilerplate_strip").collect()
    val byString = Tables(spark, sf, "documents")
      .select(col("source"), col("doc_id"),
        split(lower(col("text")), " ").as("t"))
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(1), size(col("t")), lit(4))).as("pos"),
        col("t"))
      .select(col("source"), col("doc_id"),
        array_join(slice(col("t"), col("pos"), lit(4)), " ").as("p"))
      .groupBy("source", "p")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("inst"))
      .groupBy("source")
      .agg(sum("inst").as("n_passages"),
        sum(when(col("df") >= 2, col("inst")).otherwise(lit(0L)))
          .as("n_boiler"),
        count(when(col("df") >= 2, lit(1))).as("n_boiler_distinct"))
      .select(col("source"), col("n_passages"), col("n_boiler"),
        col("n_boiler_distinct"),
        round(col("n_boiler").cast("double") / col("n_passages"), 4)
          .as("boiler_share"))
      .orderBy("source")
      .collect()
    assert(byHash.map(_.toString) === byString.map(_.toString))
    assert(byHash.map(_.getLong(2)).sum > 0,
      "fixture must contain at least one boilerplate chunk")
  }
}
