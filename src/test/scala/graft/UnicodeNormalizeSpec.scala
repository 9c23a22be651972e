package graft

import org.apache.spark.sql.functions._


/** `graft_unicode_normalize` native expression + the
  * `text_unicode_normalize` query: JDK-reference bit-equality (interpreted
  * AND codegen paths), the canonical-identity property the operator exists
  * for (composed == decomposed after NFC), NFKC compatibility folding, and
  * whole-stage-codegen participation.
  */
class UnicodeNormalizeSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = Seq(
    "café",            // composed é
    "café",           // decomposed e + combining acute
    "straße",          // ß (NFKC keeps it; casefold does not, by design)
    "ﬁle",             // ﬁ ligature — NFKC folds to "fi"
    "Ｈｅｌｌｏ", // fullwidth HELLO — NFKC folds
    "plain ascii",
    "",
    "mixed café and café twice"
  )

  test("graft_unicode_normalize matches java.text.Normalizer bit-for-bit " +
    "on every form, via the SQL (codegen) path") {
    Seq("NFC", "NFD", "NFKC", "NFKD").foreach { form =>
      val got = fixtures.toDF("s")
        .select(call_function("graft_unicode_normalize", col("s"),
          lit(form)).as("n"))
        .collect().map(_.getString(0))
      val expect = fixtures.map(s =>
        java.text.Normalizer.normalize(s,
          java.text.Normalizer.Form.valueOf(form)))
      assert(got.toSeq === expect, s"form $form")
    }
    // null propagates
    val nulls = Seq[Option[String]](None).toDF("s")
      .select(call_function("graft_unicode_normalize", col("s")).as("n"))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("NFC unifies composed and decomposed encodings of the same text; " +
    "NFKC additionally folds compatibility forms") {
    val df = Seq(("café", "café")).toDF("a", "b")
    val Array(r) = df.select(
      (call_function("graft_unicode_normalize", col("a"), lit("NFC")) ===
        call_function("graft_unicode_normalize", col("b"), lit("NFC")))
        .as("eq"),
      (col("a") === col("b")).as("raw_eq")).collect()
    assert(r.getBoolean(0), "NFC failed to unify composed/decomposed")
    assert(!r.getBoolean(1), "fixture was not actually byte-distinct")
    val Array(k) = Seq("ﬁle").toDF("s")
      .select(call_function("graft_unicode_normalize", col("s"),
        lit("NFKC")).as("n")).collect()
    assert(k.getString(0) === "file")
  }

  test("the expression stays inside whole-stage codegen and the query " +
    "is pure map-side (no exchange before the presentation sort)") {
    // exchange-free projection probe: the full query's ORDER BY makes the
    // plan adaptive, which defers WSCG insertion until execution — so the
    // codegen-participation claim is pinned on the map-side stage alone
    // (exactly the shape every row pays)
    val probe = Tables.documents(spark, sf)
      .select(md5(call_function("graft_unicode_normalize",
        lower(col("text")), lit("NFC")).cast("binary")).as("m"))
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.contains("*(1)"), probePlan.take(800))
    // the shipped query: one total-order sort for determinism; nothing
    // else shuffles
    val plan = q("text_unicode_normalize").queryExecution
      .executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"unexpected exchanges:\n$plan")
  }

  test("text_unicode_normalize flags exactly the docs whose canonical " +
    "form differs, and digests agree with a driver-side recompute") {
    val rows = q("text_unicode_normalize").collect()
    val raw = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    rows.foreach { r =>
      val txt = raw(r.getLong(0))
      val norm = java.text.Normalizer.normalize(
        txt.toLowerCase(java.util.Locale.ROOT),
        java.text.Normalizer.Form.NFC)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getString(1) === md)
      assert(r.getBoolean(2) === (norm != txt))
    }
  }
}
