package graft

import org.apache.spark.sql.CodegenCompiles

/** The compiled-class cache `graft.Session` sizes: a class stays cached
  * while more plans than Spark's default 100-entry cache run after it.
  */
class CodegenCacheSpec extends SparkSpec {

  test("the session carries Session.CodegenCacheEntries as the cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Session.CodegenCacheEntries.toString)
  }

  test("a plan run again after 150 other plans compiles no class") {
    // each literal is inlined into the generated code: one new class per i
    def run(i: Int): Unit = spark.range(10).selectExpr(s"id * $i + 1")
      .write.format("noop").mode("overwrite").save()
    run(0)
    (1 to 150).foreach(run)
    val before = CodegenCompiles()
    run(0)
    assert(CodegenCompiles() - before === 0)
  }
}
