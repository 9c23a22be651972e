package graft

import graft.plans._

/** The shared session reaches graft's functions and optimizer rule through
  * `spark.sql.extensions` alone: nothing registers them on a live session,
  * `newSession()` children (Physical's isolated-conf keys) inherit them, and
  * [[Session]] is the only place `src/main` builds a session.
  */
class GraftSessionSpec extends SparkSpec {

  private val functions = Seq(
    "graft_dot" -> classOf[ArrayDotProduct],
    "graft_minhash" -> classOf[MinHashSignature],
    "graft_jaccard_sorted" -> classOf[SortedJaccard],
    "graft_inter_sorted" -> classOf[SortedInterCount],
    "graft_bloom_contains" -> classOf[BloomContains],
    "graft_adc" -> classOf[AdcScore],
    "graft_nearest_cells" -> classOf[NearestCentroids],
    "graft_unicode_normalize" -> classOf[UnicodeNormalize])

  private def assertResolves(s: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, cls) =>
      val desc = s.sql(s"DESCRIBE FUNCTION $name").collect()
        .map(_.getString(0)).mkString("\n")
      assert(desc.contains(s"Class: ${cls.getName}"), desc)
    }
    val dot = s.sql("SELECT graft_dot(CAST(array(1, 2) AS array<float>), " +
      "CAST(array(3, 4) AS array<float>))").head().getDouble(0)
    assert(dot == 11.0)
  }

  test("every graft_* function resolves from spark.sql on the shared " +
    "session") {
    assertResolves(spark)
  }

  test("BinnedRangeJoinRule is injected once, into Catalyst's operator-" +
    "optimization batches and no other") {
    // Spark runs its operator-optimization rule set as two batches (before
    // and after filter inference); an injected rule joins both, once each
    val withRule = spark.sessionState.optimizer.batches
      .map(b => b.name -> b.rules.count(_.isInstanceOf[BinnedRangeJoinRule]))
      .filter(_._2 > 0)
    assert(withRule.nonEmpty && withRule.forall { case (name, n) =>
      n == 1 && name.startsWith("Operator Optimization") }, withRule)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("a newSession() child resolves the functions and keeps the " +
    "factory's shuffle partitions") {
    val child = spark.newSession()
    assertResolves(child)
    assert(child.conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
    assert(child.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("src/main builds a session in one file and never registers " +
    "extensions imperatively") {
    val dir = new java.io.File("src/main/scala")
    assert(dir.isDirectory, s"lint expects to run from the repo root; " +
      s"missing ${dir.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    def grep(root: java.io.File, needle: String): Seq[String] =
      walk(root).filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains(needle) finally src.close()
      }.map(_.getPath).sorted
    assert(grep(dir, "SparkSession.builder") ==
      Seq("src/main/scala/graft/Session.scala"))
    // split so this file does not match its own search
    val register = "GraftExtensions." + "register"
    assert(grep(new java.io.File("src"), register).isEmpty)
  }
}
