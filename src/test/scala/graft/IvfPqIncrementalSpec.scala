package graft

import org.apache.spark.sql.functions._

import graft.queries.SimSearch

/** Incremental IVFPQ ingest (`simsearch_ivfpq_incremental`): the
  * refresh must be a pure frozen-codebook append — the delta's codes
  * must equal a from-scratch encode of the full corpus under the same
  * base-trained artifacts, code for code — and the post-append probe
  * must still clear the family's recall bar.
  */
class IvfPqIncrementalSpec extends SparkSpec {

  private def codeSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"), col("cell"),
        concat_ws(",", col("codes")).as("cs"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet

  test("base ∪ frozen-codebook delta equals a from-scratch encode of " +
    "the full corpus under the same codebooks, code for code") {
    val p = SimSearch.ivfpqIncrStaged(spark, sf)
    val (coarse, cb) = SimSearch.ivfpqIncrCodebooks(spark, sf)
    val incremental = codeSet(
      spark.read.parquet(s"$p/index").select("vec_id", "cell", "codes")
        .unionByName(SimSearch.ivfpqIncrDelta(spark, sf, coarse, cb)))
    // from-scratch: the SAME pure per-row pipeline over the full corpus
    // (assignment and encoding are functions of the frozen artifacts,
    // so any difference means the refresh path diverged)
    val coarseLit = typedlit(coarse)
    val full = codeSet(Tables.embeddings(spark, sf)
      .withColumn("nrm", sqrt(call_function("graft_dot",
        col("embedding"), col("embedding"))))
      .withColumn("cell", explode(call_function("graft_nearest_cells",
        transform(col("embedding"),
          x => (x.cast("double") /
            when(col("nrm") === 0.0, 1.0).otherwise(col("nrm")))
            .cast("float")),
        coarseLit, lit(graft.queries.SimSearch.SoftAssign))))
      .withColumn("u", transform(col("embedding"),
        x => (x.cast("double") /
          when(col("nrm") === 0.0, 1.0).otherwise(col("nrm")))
          .cast("float")))
      .withColumn("r", zip_with(col("u"),
        element_at(coarseLit, col("cell") + 1),
        (a, b) => (a - b).cast("float")))
      .select(col("vec_id"), col("cell"),
        transform(sequence(lit(0), lit(graft.queries.SimSearch.PqM - 1)), m =>
          element_at(call_function("graft_nearest_cells",
            slice(col("r"), m * graft.queries.SimSearch.PqDim + 1,
              lit(graft.queries.SimSearch.PqDim)),
            element_at(typedlit(cb), m + 1), lit(1)), 1)).as("codes")))
    assert(incremental === full,
      s"refresh diverged from rebuild: onlyIncr=" +
        s"${(incremental -- full).take(3)} onlyFull=" +
        s"${(full -- incremental).take(3)}")
    // the delta actually contributes (the append is not vacuous)
    val baseOnly = codeSet(spark.read.parquet(s"$p/index")
      .select("vec_id", "cell", "codes"))
    assert((incremental -- baseOnly).nonEmpty)
  }

  test("post-append probe reaches recall@5 >= 0.9 vs brute force, and " +
    "finds delta vectors (the appended rows are searchable)") {
    val exact = q("simsearch_cosine_topk").collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = q("simsearch_ivfpq_incremental").collect()
    assert(got.groupBy(_.getLong(0)).forall(_._2.length <= 5))
    val hits = got.count(r => exact(r.getLong(0)).contains(r.getLong(1)))
    val recall = hits.toDouble / (exact.size * 5)
    info(f"incremental IVFPQ recall@5 = $recall%.3f")
    assert(recall >= 0.9, f"recall@5 = $recall%.3f")
    assert(got.exists(_.getLong(1) % 10 == 0),
      "no delta vector (vec_id % 10 == 0) in any top-5 — the appended " +
        "slice is not being searched")
  }
}
