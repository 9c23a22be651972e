package graft

import org.apache.spark.sql.functions._

import graft.queries.EntityRes

/** The shared Fellegi–Sunter confusion sweep on a hand-made scored
  * histogram. A threshold that no row's weight clears leaves tp + fp = 0;
  * the sweep must report NULL precision there, not throw. Spark's ANSI
  * divide raises DIVIDE_BY_ZERO on that cell, and the sf0.1 bench is
  * where such a threshold shows up.
  */
class ConfusionSweepSpec extends SparkSpec {
  import SparkSpec.session.implicits._

  // (is_match, n, w): 5 true pairs at weight 3, 7 strangers at weight 1
  private def scored = Seq((1L, 5L, 3.0), (0L, 7L, 1.0))
    .toDF("is_match", "n", "w")
  private def thresholds = Seq(0.0, 2.0, 4.0).toDF("threshold")

  test("confusionSweep: a threshold with no row above it gets NULL " +
    "precision; the other cells and rows are exact") {
    val rows = EntityRes.confusionSweep(scored, thresholds).collect()
    assert(rows.map(_.getDouble(0)).toSeq === Seq(0.0, 2.0, 4.0))
    val cells = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))).toSeq
    assert(cells === Seq((12L, 5L, 7L, 0L, 0L), (12L, 5L, 0L, 0L, 7L),
      (12L, 0L, 0L, 5L, 7L)))
    assert(rows(0).getDouble(6) === 0.4167)
    assert(rows(1).getDouble(6) === 1.0)
    assert(rows(2).isNullAt(6), "empty cell: precision must be NULL")
    assert(rows.map(_.getDouble(7)).toSeq === Seq(1.0, 1.0, 0.0))
  }

  test("the unguarded precision spelling throws on the same cell — " +
    "the session divides under ANSI, so the guard is load-bearing") {
    val e = intercept[Exception] {
      EntityRes.confusionSweep(scored, thresholds)
        .select((col("tp").cast("double") / (col("tp") + col("fp")))
          .as("p"))
        .collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("DIVIDE_BY_ZERO")))
  }
}
