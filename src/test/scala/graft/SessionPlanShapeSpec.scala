package graft

import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Plan-shape pins for this session's scale-sensitive additions: the
  * properties that make them 100-TB-safe must survive refactors, not
  * just happen to hold today.
  */
class SessionPlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def phys(name: String): String =
    q(name).queryExecution.executedPlan.toString

  test("dedup_boundary_overlap joins head and tail keys with a real " +
    "equi-join — never a nested-loop pairing") {
    val p = phys("dedup_boundary_overlap")
    assert(!p.contains("CartesianProduct"), "no all-pairs plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no theta-join plan")
    assert(p.contains("boundary"), "join runs on the boundary key")
  }

  test("text_vocab_growth prunes the documents scan to exactly the two " +
    "columns it reads") {
    val p = phys("text_vocab_growth")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("source") && read.contains("text"))
    assert(!read.contains("n_chars") && !read.contains("lang"),
      "column pruning must drop unused document columns")
    assert(!p.contains("CartesianProduct"))
  }

  test("sample_importance_resampling broadcasts only the 1-row totals; " +
    "the token join is an equi-join") {
    val p = phys("sample_importance_resampling")
    // the totals cross join is the single nested-loop site (1-row build
    // side); the vocabulary join must not degenerate into one
    assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 1,
      "only the totals row may ride a nested-loop broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("tok"), "doc tokens join the rated vocabulary")
  }

  test("agg_price_index matches baskets with a part-keyed equi-join and " +
    "keeps the derived base year on 1-row broadcasts") {
    val p = phys("agg_price_index")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("l_partkey"), "matched-basket join key present")
  }

  test("quality_referential_integrity plans one keyed left join per FK " +
    "edge — never a nested loop over the parent") {
    val plan = q("quality_referential_integrity").queryExecution.executedPlan
    val p = plan.toString
    // each of the 6 edges is one equi left join of child keys against the
    // deduped parent keys; nested-loop joins are BaseJoinExecs without keys
    val joins = collect(plan) { case j: BaseJoinExec => j }
    assert(joins.size == 6, p)
    assert(joins.forall(j => j.joinType == LeftOuter && j.leftKeys.nonEmpty &&
      j.rightKeys.nonEmpty), p)
    assert(!p.contains("CartesianProduct"), "no all-pairs plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no theta-join plan")
  }

  // r12 verdict follow-up: the fact x dim joins of the attribution/NDR/
  // inequality family (all join orders to customer on custkey) must keep
  // BROADCASTING the dim side — a silent flip to sort-merge re-shuffles
  // the fact table per key and is the first thing a stats change breaks.
  private def pinsBroadcastDim(name: String): Unit = {
    val p = phys(name)
    assert(p.contains("BroadcastHashJoin"),
      s"$name: orders x customer should broadcast the dim side\n" +
        p.take(1500))
    assert(!p.contains("CartesianProduct"), name)
  }

  test("agg_theil_index broadcasts the customer dim into the fact join") {
    pinsBroadcastDim("agg_theil_index")
  }

  test("agg_theil_decomposition broadcasts the customer dim into the " +
    "fact join") {
    pinsBroadcastDim("agg_theil_decomposition")
  }

  test("agg_cohort_ndr broadcasts the customer dim into the fact join") {
    pinsBroadcastDim("agg_cohort_ndr")
  }

  test("mine_attribution_linear plans no cartesian and broadcasts its " +
    "bounded sides") {
    val p = phys("mine_attribution_linear")
    assert(!p.contains("CartesianProduct"), "no all-pairs plan")
  }

  // r13 verdict follow-up: the supplier axis grows 10k·sf, so CR-k must
  // never sort it in one task — top-20 via TakeOrdered (per-partition
  // top-k merged at the driver) and zero Window operators anywhere.
  test("agg_cr_concentration plans TakeOrdered for the top-20 and no " +
    "global Window over the supplier axis") {
    val p = phys("agg_cr_concentration")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must plan as TakeOrdered, not a full sort\n" + p.take(1500))
    assert(!p.contains("Window"),
      "no Window operator may survive on this key\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), "totals ride a broadcast")
  }
}
