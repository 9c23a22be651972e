package graft

import org.apache.spark.sql.functions._

/** Partition evolution: the spec change must be metadata-only (no v0
  * rewrite), evolved leaf files must NOT carry the partition column in
  * data, pruning must drop exactly the non-matching evolved files, and
  * the pruned read must equal the unpruned-then-filtered read.
  */
class PartitionEvolutionSpec extends SparkSpec {

  private lazy val path = queries.Physical.partEvoStaged(spark, sf)

  test("the spec change rewrites nothing: v1 carries every v0 file by " +
    "reference plus partition-annotated appends") {
    val v0 = TableLog.snapshot(spark, path, Some(0)).files
    val v1 = TableLog.snapshot(spark, path, Some(1)).files
    assert(v1.filterNot(_.contains("|")).toSet === v0.toSet,
      "pre-evolution files must survive the spec change untouched")
    val evolved = v1.filter(_.contains("|o_orderstatus="))
    assert(evolved.nonEmpty, "fixture must have evolved files")
    // hive-layout leaves do not carry the partition column in data —
    // the manifest annotation is load-bearing, not decorative
    val leaf = evolved.head.split('|')(0)
    assert(!spark.read.parquet(leaf).columns.contains("o_orderstatus"))
  }

  test("pruned read equals unpruned-read-then-filter, row for row, and " +
    "prunes only evolved files") {
    val (prunedDf, scanned, pruned) =
      queries.Physical.partEvoRead(spark, path, Some("F"))
    val (fullDf, fullScanned, fullPruned) =
      queries.Physical.partEvoRead(spark, path, None)
    assert(fullPruned === 0 && pruned > 0 && scanned < fullScanned)
    val a = prunedDf.orderBy("o_orderkey").collect()
    val b = fullDf.filter(col("o_orderstatus") === "F")
      .orderBy("o_orderkey").collect()
    assert(a === b, "pruning must never change the result")
    // and the full mixed-layout read reconstructs the source exactly
    assert(fullDf.count() === Tables(spark, sf, "orders").count())
  }
}
