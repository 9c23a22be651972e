package graft

import org.apache.spark.sql.functions._

/** Shallow clone: the physical claims the row-level oracle can't see —
  * cloning moves zero bytes (the clone's v0 manifest lists the source's
  * files by IDENTICAL path), divergence is one-directional (the
  * clone's append never appears in the source's log or data dirs), and
  * the clone's own storage holds only what it appended.
  */
class CloneSpec extends SparkSpec {

  private def hfs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("the clone references the source's files by identical path and " +
    "stores only its own append") {
    val src = queries.Physical.mergeSinkStaged(spark, sf)
    val cl = queries.Physical.cloneSinkStaged(spark, sf)
    val srcFiles = TableLog.snapshot(spark, src, Some(1)).files.toSet
    val cloneV0 = TableLog.snapshot(spark, cl, Some(0)).files.toSet
    assert(cloneV0 === srcFiles,
      "clone v0 must be the source snapshot BY REFERENCE — same paths")
    // the clone's own data dir carries nothing but the append
    val f = hfs(cl)
    val own = {
      val it = f.listFiles(
        new org.apache.hadoop.fs.Path(s"$cl/data"), true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.startsWith("part-")) out += p.toString
      }
      out.toSet
    }
    assert(own.nonEmpty && own.intersect(srcFiles).isEmpty,
      "clone-local storage is exactly the divergent append")
    val cloneV1 = TableLog.snapshot(spark, cl, Some(1)).files.toSet
    assert(cloneV1 === srcFiles ++ own,
      "clone v1 = shared snapshot + its own files")
  }

  test("divergence is one-directional: the clone's append is invisible " +
    "to the source") {
    val src = queries.Physical.mergeSinkStaged(spark, sf)
    queries.Physical.cloneSinkStaged(spark, sf)
    assert(TableLog.versions(spark, src).size === 2,
      "cloning must not grow the source log")
    val srcRead = TableLog.scan(spark, src, None)
    assert(srcRead.filter(col("o_orderstatus") === "C").count() === 0L,
      "the clone's 'C' rows must never reach a source read")
  }
}
