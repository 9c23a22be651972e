package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Engine extension point (SURVEY §4.2): injects graft's native Catalyst
  * expressions and [[BinnedRangeJoinRule]] into a session. The one entry
  * path is `spark.sql.extensions=graft.plans.GraftExtensions` at session
  * build time, which [[graft.Session]] always sets; a host application
  * building its own session sets the same key. The rule then runs inside
  * Catalyst's operator-optimization batch, and `newSession()` children
  * inherit both the functions and the rule.
  *
  * The functions are callable from SQL and from the DataFrame API via
  * `call_function("graft_dot", a, b)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injections.foreach(ext.injectFunction)
    ext.injectOptimizerRule(s => BinnedRangeJoinRule(s))
  }
}

object GraftExtensions {
  private val injections = Seq(
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot",
        "graft_dot(a, b) - dot product of two float arrays in double"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ArrayDotProduct(children(0), children(1))),
    (new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash",
        "graft_minhash(g) - K=12 seeded MinHash signature of a bigint array"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashSignature(children.head)),
    (new FunctionIdentifier("graft_jaccard_sorted"),
      new ExpressionInfo(classOf[SortedJaccard].getName,
        "graft_jaccard_sorted",
        "graft_jaccard_sorted(a, b) - exact Jaccard of two sorted bigint arrays"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SortedJaccard(children(0), children(1))),
    (new FunctionIdentifier("graft_inter_sorted"),
      new ExpressionInfo(classOf[SortedInterCount].getName,
        "graft_inter_sorted",
        "graft_inter_sorted(a, b) - |A∩B| of two sorted bigint arrays"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SortedInterCount(children(0), children(1))),
    (new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName,
        "graft_bloom_contains",
        "graft_bloom_contains(key, filterBytes) - probe a serialized Bloom " +
          "filter with a bigint key"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BloomContains(children(0), children(1))),
    (new FunctionIdentifier("graft_adc"),
      new ExpressionInfo(classOf[AdcScore].getName, "graft_adc",
        "graft_adc(codes, lut) - PQ asymmetric-distance score: " +
          "sum over subspaces m of lut[m*K + codes[m]]"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        AdcScore(children(0), children(1))),
    (new FunctionIdentifier("graft_nearest_cells"),
      new ExpressionInfo(classOf[NearestCentroids].getName,
        "graft_nearest_cells",
        "graft_nearest_cells(v, centroids, k) - indices of the k nearest " +
          "centroids by squared L2, ascending"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NearestCentroids(children(0), children(1), children(2))),
    (new FunctionIdentifier("graft_unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName,
        "graft_unicode_normalize",
        "graft_unicode_normalize(s[, form]) - Unicode-normalize a string " +
          "to NFC/NFD/NFKC/NFKD (default NFC); form must be a literal"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val form = children.lift(1) match {
          case None => "NFC"
          case Some(org.apache.spark.sql.catalyst.expressions
              .Literal(s: org.apache.spark.unsafe.types.UTF8String, _)) =>
            s.toString.toUpperCase(java.util.Locale.ROOT)
          case Some(other) => throw new IllegalArgumentException(
            "graft_unicode_normalize form must be a string literal, got " +
              other.sql)
        }
        UnicodeNormalize(children.head, form)
      }))
}
