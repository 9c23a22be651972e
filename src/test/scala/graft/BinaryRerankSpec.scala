package graft

import org.apache.spark.sql.functions._


/** Binary-quantized two-stage retrieval: packing correctness (popcount of
  * the packed code equals the positive-dim count), recall@5 against the
  * exact brute force, and the broadcast/no-UDF plan shape of stage 1.
  */
class BinaryRerankSpec extends SparkSpec {

  test("sign-bit packing is faithful: bit_count(code) equals the " +
    "positive-dimension count of every vector") {
    val bad = Tables.embeddings(spark, sf)
      .withColumn("code", expr(
        """aggregate(sequence(0, 63), 0L, (acc, i) ->
          |  acc | IF(element_at(embedding, i + 1) > 0F,
          |           shiftleft(1L, i), 0L))""".stripMargin))
      .withColumn("pos", expr(
        "size(filter(embedding, x -> x > 0F))"))
      .filter(expr("bit_count(code)") =!= col("pos"))
      .count()
    assert(bad === 0L)
  }

  test("simsearch_binary_rerank keeps useful recall@5 vs the exact " +
    "brute force and never returns the query itself") {
    val got = q("simsearch_binary_rerank").collect()
    assert(got.length === got.map(r => (r.getLong(0), r.getLong(1))).distinct.length)
    assert(!got.exists(r => r.getLong(0) == r.getLong(1)))
    val approx = got.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = q("simsearch_cosine_topk").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (qid, ex) =>
      approx.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // 1-bit codes on 64-dim gaussians keep substantial angular signal;
    // the two-stage rerank only needs the TRUE top-5 inside hamming-top-50
    assert(mean >= 0.5, s"mean recall@5 $mean below floor")
  }

  test("stage 1 streams codes through a broadcast of the query codes " +
    "with no UDF boundary") {
    val plan = q("simsearch_binary_rerank")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(900))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }
}
