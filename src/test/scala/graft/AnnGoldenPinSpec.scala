package graft

import scala.io.Source

/** Exact-output pins for the ten ANN keys that have no DuckDB twin. Their
  * recall specs bound quality against the brute-force referee, and a
  * refactor of the shared probe / rank helpers could drift inside those
  * bounds unnoticed; this spec pins what each key returns on the sf0.001
  * fixture: the sorted (q_id, vec_id, rn) triples exactly and cos_sim
  * within 5e-7. The goldens in `golden/ann_topk_sf0.001.txt` were
  * generated from two independent runs (separate JVMs, separate staging
  * directories, so every codebook and index was trained and persisted
  * afresh) that agreed byte for byte.
  */
class AnnGoldenPinSpec extends SparkSpec {

  private case class Golden(schema: String,
      rows: Seq[(Long, Long, Int, Double)])

  private lazy val goldens: Map[String, Golden] = {
    val src = Source.fromResource("golden/ann_topk_sf0.001.txt")
    val lines = try src.getLines().toList finally src.close()
    lines.filterNot(_.startsWith("#"))
      .foldLeft(List.empty[(String, String, List[String])]) {
        case (acc, l) if l.startsWith("simsearch_") =>
          val Array(k, schema) = l.split(" ", 2)
          (k, schema, Nil) :: acc
        case ((k, schema, rows) :: rest, l) => (k, schema, l :: rows) :: rest
        case (Nil, l) => sys.error(s"golden row before any key: $l")
      }
      .map { case (k, schema, rows) =>
        k -> Golden(schema, rows.reverse.map { r =>
          val Array(qi, vi, rn, c) = r.split(" ")
          (qi.toLong, vi.toLong, rn.toInt, c.toDouble)
        })
      }.toMap
  }

  private val keys = Seq(
    "simsearch_ivf_persisted", "simsearch_ivf_incremental",
    "simsearch_ivf_topk", "simsearch_ivf_filtered", "simsearch_pq_topk",
    "simsearch_ivfpq_topk", "simsearch_ivfpq_residual_topk",
    "simsearch_ivfpq_incremental", "simsearch_lsh_bucketed",
    "simsearch_lsh_multiprobe")

  test("the golden file covers exactly the ten ANN keys, 8 queries × top-5") {
    assert(goldens.keySet === keys.toSet)
    keys.foreach(k => assert(goldens(k).rows.size === 40, k))
  }

  keys.foreach { key =>
    test(s"$key: golden output pin at sf0.001") {
      val df = q(key)
      val g = goldens(key)
      assert(df.schema.simpleString === g.schema)
      val got = df.collect().map(r => (r.getAs[Long]("q_id"),
        r.getAs[Long]("vec_id"), r.getAs[Int]("rn"),
        r.getAs[Double]("cos_sim"))).toSeq.sortBy(r => (r._1, r._2, r._3))
      assert(got.map(r => (r._1, r._2, r._3)) ===
        g.rows.map(r => (r._1, r._2, r._3)))
      got.zip(g.rows).foreach { case (a, b) =>
        assert(math.abs(a._4 - b._4) < 5e-7,
          s"(q=${a._1}, vec=${a._2}): cos_sim ${a._4} vs golden ${b._4}")
      }
    }
  }
}
