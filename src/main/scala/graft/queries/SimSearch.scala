package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table — SURVEY.md §2.B B45 plus
  * the approximate scale path (random-hyperplane LSH bucketing) and
  * embedding-cosine near-dup detection.
  *
  * Scale notes: the brute-force variants broadcast the (small) query side,
  * so the candidate scan is a single map-side pass — no shuffle of the big
  * side; per-query top-k goes through one shuffle keyed by query id. The
  * LSH variant replaces the full scan with an equi-join on bucket keys,
  * which is the shape that survives a 1000× candidate-set scale-up.
  */
object SimSearch {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Fixed seeded hyperplanes — deterministic across runs/engines. 4 planes
    * → 16 buckets, sized so each bucket keeps a useful candidate pool at
    * the test scale (bucket count scales with the plane count, not data).
    */
  private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(4)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** Codegen'd native dot product (graft.plans.ArrayDotProduct) — same
    * left-to-right double accumulation as the DuckDB oracle, but emitted
    * straight into whole-stage codegen over unsafe ArrayData.
    */
  private def ndot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_dot", a, b)

  /** Unit-normalize an `array<float>` column. The IVF queries rank by
    * COSINE, so the coarse cells must be carved by angle, not magnitude:
    * `graft_nearest_cells` minimizes L2, and L2-argmin over unit vectors
    * against unit centroids IS the cosine-argmax (‖u−c‖² = 2 − 2·u·c).
    * Training and assignment therefore both run in the normalized
    * (spherical) space; the exact re-rank inside the probed cells keeps
    * using the raw vectors, where cosine is magnitude-invariant anyway.
    */
  /** Normalize `e` by an already-materialized norm column `n`. The norm
    * must be a plain column reference, not the `sqrt(graft_dot(e,e))`
    * expression itself: `transform` splices its divisor into the lambda,
    * re-evaluating it per ELEMENT — an O(d²)-per-vector hot path when the
    * divisor is the O(d) dot product. Every call site computes the norm
    * once (`withColumn("nrm", …)`) and passes the reference.
    */
  private def unitBy(e: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val safe = when(n === 0.0, lit(1.0)).otherwise(n)
    transform(e, x => (x.cast("double") / safe).cast("float"))
  }

  private def unitSeq(v: Seq[Float]): Seq[Float] = {
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  /** `df` plus the L2 norm `nrm` of its `embedding`, computed once per
    * row so [[unitBy]] and [[cosine]] read a plain column.
    */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(ndot(col("embedding"), col("embedding"))))

  /** The `n` nearest coarse cells of each row's unit vector (needs `nrm`). */
  private def nearestCells(codebook: Column, n: Int): Column =
    call_function("graft_nearest_cells",
      unitBy(col("embedding"), col("nrm")), codebook, lit(n))

  /** Query side of every exact scan: vec_id < 8 as (q_id, qe, qn), plus
    * whatever `extra` columns the caller carries. Needs `nrm`.
    */
  private def queryVecs(emb: DataFrame, extra: Column*): DataFrame =
    emb.filter(col("vec_id") < 8)
      .select(Seq(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn")) ++ extra: _*)

  /** Corpus side of every exact scan: (vec_id, ce, cn) plus `extra`,
    * spread over `defaultParallelism` (the single-file source is one
    * partition). Needs `nrm`.
    */
  private def corpusVecs(s: SparkSession, emb: DataFrame, extra: Column*)
      : DataFrame =
    emb.repartition(s.sparkContext.defaultParallelism)
      .select(Seq(col("vec_id"), col("embedding").as("ce"),
        col("nrm").as("cn")) ++ extra: _*)

  /** Cosine of query `qe` against candidate `ce` from their norms. */
  private def cosine: Column =
    ndot(col("qe"), col("ce")) / (col("qn") * col("cn"))

  /** The exact top-k tail over a (q_id, vec_id, cos) frame: per query,
    * rank by cos desc with vec_id tie-breaks, keep rn ≤ k, emit
    * (q_id, vec_id, cos_sim = 4dp cos, rn) ordered by (q_id, rn).
    */
  private def rankTop(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"),
        round(col("cos"), 4).as("cos_sim"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** A staged coarse codebook (`<p>/centroids`), in cell order. */
  private def stagedCentroids(s: SparkSession, p: String)
      : Seq[Seq[Float]] = {
    import s.implicits._
    s.read.parquet(s"$p/centroids").orderBy("cell").select("centroid")
      .as[Array[Float]].collect().map(_.toSeq).toSeq
  }

  /** The IVF probe over a staged cell-partitioned index of (vec_id,
    * embedding, nrm, cell): each query (vec_id < 8, deduped — soft
    * assignment stores a vector in SoftAssign cells) fans out to its
    * `nprobe` nearest cells; the probed cells are collected on the driver
    * (≤ K ints) and cut the index with a literal `cell IN (…)`, which the
    * scan turns into a PartitionFilter that reads only the probed
    * directories (asserted in PhysicalSpec). `keep` narrows the index
    * rows further. Returns (q_id, vec_id, cos), one row per probed copy
    * of a candidate — callers dedupe soft-assigned copies.
    */
  private def ivfProbe(s: SparkSession, index: DataFrame, codebook: Column,
      nprobe: Int, keep: Option[Column] = None): DataFrame = {
    import s.implicits._
    val q = index.filter(col("vec_id") < 8).dropDuplicates("vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), explode(nearestCells(codebook, nprobe)).as("cell"))
    val probed = q.select("cell").distinct().as[Int].collect().toSeq
    val inProbed = col("cell").isin(probed: _*)
    val c = index.filter(keep.fold(inProbed)(inProbed && _))
      .select(col("vec_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("cell"))
    broadcast(q).join(c, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine.as("cos"))
  }

  /** Deterministic K=16 seed: unit-normalized vectors taken by stride
    * from the corpus. Only the k-means INIT — a stride pick lands several
    * seeds inside the same dense cluster and none in sparse regions, so
    * using it directly as the codebook gives unbalanced cells and poor
    * recall on clustered data. Lloyd iterations (below) fix both.
    */
  private def strideSeed(s: SparkSession, emb: DataFrame)
      : Seq[Seq[Float]] = {
    import s.implicits._
    val n = emb.count()
    val k = 16
    val stride = math.max(1L, n / k)
    withNorm(emb.filter(col("vec_id") % stride === 0 &&
      col("vec_id") < stride * k).orderBy("vec_id"))
      .select(unitBy(col("embedding"), col("nrm")))
      .as[Array[Float]].collect().map(_.toSeq).toSeq
  }

  /** Distributed spherical k-means (Lloyd's) over the corpus: per
    * iteration, one codegen'd map-side assignment pass
    * (`graft_nearest_cells`, K=1, on unit vectors) and one
    * (cell, dim)-keyed average — the posexplode shape of
    * `embedding_centroid_norm`, so no task ever holds a full-vector
    * accumulator and the shuffle is keyed on (cell, dim) regardless of
    * corpus size. The only driver-side state is the K×dim codebook
    * itself (16×64 floats per iteration), re-normalized onto the sphere
    * each round. Empty cells keep their previous centroid. Seeded
    * deterministically from the stride picks.
    *
    * Deterministic ACROSS PARTITIONINGS, not just across runs: the
    * codebook memoization and the persisted index both assume training
    * the same corpus yields bit-identical centroids, but a distributed
    * `avg` over doubles sums in partition order — repartition the input
    * and the low bits drift. The per-(cell, dim) mean therefore
    * accumulates in DECIMAL(38,20): each element is rounded to 20
    * fractional digits once (per-element, order-free) and decimal
    * addition is exact at this width (|v| ≤ 1 on the unit sphere, so
    * even 10^12 addends stay inside 38 digits) — the sum, and hence the
    * float-rounded centroid, is independent of partitioning and
    * scheduling. Property-spec'd in TextOpsSpec (repartition(2) vs
    * repartition(32) → identical codebook).
    */
  private[graft] def trainKmeans(s: SparkSession, emb: DataFrame,
      iters: Int = 4): Seq[Seq[Float]] = {
    var cents = strideSeed(s, emb)
    val vecs = withNorm(emb)
      .select(unitBy(col("embedding"), col("nrm")).as("embedding"))
      .repartition(s.sparkContext.defaultParallelism)
      .cache()
    try {
      for (_ <- 1 to iters) {
        val codebook = typedlit(cents)
        val means = vecs
          .select(element_at(call_function("graft_nearest_cells",
            col("embedding"), codebook, lit(1)), 1).as("cell"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cell", "pos")
          .agg(avg(col("v").cast("double").cast("decimal(38,20)")).as("m"))
          .collect() // K × dim = 1024 rows — bounded by codebook size
        val byCell = means.groupBy(_.getInt(0))
        cents = cents.indices.map { c =>
          byCell.get(c)
            .map(rs => unitSeq(rs.sortBy(_.getInt(1))
              .map(_.getDecimal(2).doubleValue().toFloat).toSeq))
            .getOrElse(cents(c))
        }
      }
    } finally vecs.unpersist()
    cents
  }

  /** The trained coarse codebook for a dataset dir. Single source of
    * truth so the in-flight IVF query and the persisted index always
    * agree: if a persisted index exists its centroids are read back
    * (build-once/probe-many — a later session must probe with the SAME
    * codebook the index was partitioned by, not a re-fit), otherwise
    * k-means trains once and the result is memoized per dir (training is
    * a build step, not a per-query cost).
    */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Float]]]()

  /** Fingerprint of the embeddings source — every derived ANN artifact
    * (memoized codebooks, persisted IVF cells, persisted PQ codes) is
    * keyed by it, so a changed corpus retrains/rebuilds instead of
    * serving codes from a previous corpus (a silent-wrong-answer class).
    */
  private def embStamp(s: SparkSession, d: String): String =
    graft.Staging.fingerprint(s, s"$d/embeddings.parquet")

  /** A layout derived from the embeddings alone — every ANN artifact. */
  private def embLayout(s: SparkSession, prefix: String, d: String)(
      build: String => Unit): String =
    graft.Staging.layout(s, prefix, d, s"$d/embeddings.parquet")(build)

  /** The persisted `prefix` layout's path iff it is current. */
  private def embCurrent(s: SparkSession, prefix: String,
      d: String): Option[String] =
    graft.Staging.current(s, prefix, d, s"$d/embeddings.parquet")

  private def trainedCodebook(s: SparkSession, d: String): Seq[Seq[Float]] =
    codebookCache.computeIfAbsent(s"$d@${embStamp(s, d)}", _ =>
      embCurrent(s, "graft_ivf_km", d).map(stagedCentroids(s, _))
        .getOrElse(trainKmeans(s, t(s, d, "embeddings"))))

  /** IVF tuning. The corpus is uniform random unit vectors — the
    * WORST case for coarse quantization (top-5 "neighbors" sit at cosine
    * ≈0.3–0.5, barely distinguishable from random directions at cell
    * granularity), so hitting recall@5 ≥ 0.9 needs the two standard
    * widening levers: soft assignment (each index vector lands in its
    * SOFT_ASSIGN nearest cells — FAISS-style spilled/overlapping
    * clusters; storage ×2, build cost unchanged) and nprobe=6 of K=16.
    * On a clustered real corpus the same machinery reaches the same
    * recall at nprobe≈2 with r=1 — the parameters, not the plan shape,
    * are what a deployment tunes per-corpus.
    */
  private[graft] val SoftAssign = 2
  private val NProbe = 6

  /** The IVF index PERSISTED as a table layout: assignments written
    * partitioned by cell, codebook alongside. Probing then reads only
    * the probed cells' partitions off disk — the inverted-file property
    * expressed as partition pruning, which is how an ANN index actually
    * ships at 100 TB (build once, probe many, no re-fit per query).
    * Idempotent per (run, sfDir).
    */
  def ivfStaged(s: SparkSession, d: String): String =
    embLayout(s, "graft_ivf_km", d)(
      writeIvf(s, _, t(s, d, "embeddings"), trainedCodebook(s, d)))

  /** Persist `cents` as `<path>/centroids` and `emb` soft-assigned under
    * it as the cell-partitioned `<path>/index`.
    */
  private def writeIvf(s: SparkSession, path: String,
      emb: DataFrame, cents: Seq[Seq[Float]]): Unit = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    withNorm(emb.repartition(s.sparkContext.defaultParallelism))
      .withColumn("cell", explode(nearestCells(typedlit(cents), SoftAssign)))
      // ONE file per cell directory: without the cell shuffle every
      // compute task writes a sliver into every cell (32 tasks × 16
      // cells ≈ 500 tiny files), and the probe's two index scans pay
      // ~1000 file-opens of task overhead — measured 0.5-0.7 s of
      // simsearch_ivf_persisted's 2.2 s at sf0.1. At 100 TB the same
      // knob becomes files-per-cell sizing, not files-per-task.
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
  }

  /** Base-only IVF for the INCREMENTAL ingest demo: codebook trained on
    * the base slice (vec_id % 10 != 0) and the base assignments
    * persisted cell-partitioned. The delta slice is assigned at refresh
    * time with this SAME codebook and appended — never a retrain, never
    * a base rewrite (`simsearch_ivf_incremental`).
    */
  def incrIvfStaged(s: SparkSession, d: String): String =
    embLayout(s, "graft_ivf_incr", d) { path =>
      val base = t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0)
      writeIvf(s, path, base, codebookCache.computeIfAbsent(
        s"$d@${embStamp(s, d)}#incrbase", _ => trainKmeans(s, base)))
    }

  def ensureStaged(s: SparkSession, d: String): Unit = {
    ivfStaged(s, d); pqStaged(s, d); ivfpqStaged(s, d)
    ivfpqResidualStaged(s, d); ivfpqIncrStaged(s, d)
    semanticClustersStaged(s, d)
    incrBaseStaged(s, d); incrIvfStaged(s, d); bm25Staged(s, d); ()
  }

  /** The BM25 lexical ranker behind `search_hybrid_rrf`, exposed so the
    * rare-term spec can judge it without unpicking the fusion: per
    * query doc (doc_id < 8), the top-k corpus docs by micro-quantized
    * BM25 (k1=1.2, b=0.75, Lucene idf), ranked with doc_id tie-breaks.
    * Columns: (q_id, doc_id, bm25_micro, rl).
    */
  private[graft] def bm25TopK(s: SparkSession, d: String,
      k: Int): DataFrame = {
    val p = bm25Staged(s, d)
    val dfT = s.read.parquet(s"$p/df")
    val st = s.read.parquet(s"$p/stats") // 1 row: (n_docs, avgdl)
    val toks = t(s, d, "documents").select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val qt = toks.filter(col("doc_id") < 8)
      .select(col("doc_id").as("q_id"), col("tok")).distinct()
    val wl = Window.partitionBy("q_id")
      .orderBy(col("bm25_micro").desc, col("doc_id").asc)
    broadcast(qt).join(tf, Seq("tok"))
      .filter(col("q_id") =!= col("doc_id"))
      .join(broadcast(dfT), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .withColumn("ts",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2) / (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
      .groupBy("q_id", "doc_id")
      .agg(sum("ts").as("bm25"))
      .withColumn("bm25_micro", round(col("bm25") * 1e6).cast("long"))
      .withColumn("rl", row_number().over(wl))
      .filter(col("rl") <= k)
      .select("q_id", "doc_id", "bm25_micro", "rl")
  }

  /** Brute-force filtered top-k — "top-k nearest AMONG the rows
    * matching a metadata predicate", exact by construction, so it
    * referees the IVF variant (for any label set, which is why the
    * predicate is a parameter). The IN-list is the pushable spelling
    * (an arithmetic label % 2 = 0 would NOT reach PushedFilters);
    * filtered before repartition so it hits the scan.
    */
  private[graft] def filteredExact(s: SparkSession, d: String,
      labels: Seq[Int]): DataFrame = {
    val emb = withNorm(t(s, d, "embeddings"))
    val c = corpusVecs(s, emb.filter(col("label").isin(labels: _*)))
    rankTop(broadcast(queryVecs(emb)).join(c, col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosine), 5)
  }

  /** IVF probe under a metadata filter. `adaptive = true` derives the
    * probe count from OBSERVED selectivity: σ = matching index rows /
    * total index rows — one counts-only aggregate off the staged
    * cell-partitioned index (metadata-scale work, the
    * er_blocking_quality trick: grade the plan from counts before
    * paying for it), then nprobe = min(#cells, ceil(NProbe / σ)). The
    * limit behaviors are both correct: a mild filter widens modestly
    * (σ=0.5 → 12 of 16 cells), a decimating filter degrades to probing
    * EVERY cell — i.e. an exact scan over just the matching rows, which
    * is precisely what a production engine should do when the filter is
    * more selective than the index is granular (FAISS's
    * brute-force-fallback rule). `adaptive = false` keeps the old
    * NProbe+2 constant — FilteredAnnSpec uses it to demonstrate the
    * recall collapse the adaptive rule exists to prevent.
    */
  private[graft] def ivfFiltered(s: SparkSession, d: String,
      labels: Seq[Int], adaptive: Boolean): DataFrame = {
    val p = ivfStaged(s, d)
    val cents = stagedCentroids(s, p)
    val index = s.read.parquet(s"$p/index")
    val nprobe =
      if (!adaptive) NProbe + 2
      else {
        val sel = index.agg(
          sum(col("label").isin(labels: _*).cast("long")).as("m"),
          count(lit(1)).as("n")).collect().head
        val sigma = math.max(sel.getLong(0).toDouble / sel.getLong(1),
          1.0 / cents.size) // a zero-match filter still probes all cells
        math.min(cents.size, math.ceil(NProbe / sigma).toInt)
      }
    rankTop(ivfProbe(s, index, typedlit(cents), nprobe,
      Some(col("label").isin(labels: _*)))
      .dropDuplicates("q_id", "vec_id"), 5)
  }

  /** The MMR twin: cand/sims MATERIALIZED (each is referenced by every
    * unrolled step — inlining would replicate the corpus scan), then
    * one (penalty, argmax, selected-union) CTE triple per greedy step.
    * Arithmetic mirrors the Spark side: 4dp rel/sims in, 6dp (+0.0)
    * MMR before each argmax, doc_id tie-breaks.
    */
  private def mmrOracle: String = {
    val base =
      """WITH qm AS MATERIALIZED (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8
        |), cm AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings
        |), cand AS MATERIALIZED (
        |  SELECT q_id, doc_id, rel FROM (
        |    SELECT q_id, vec_id AS doc_id, round(cos, 4) AS rel,
        |           row_number() OVER (PARTITION BY q_id
        |             ORDER BY round(cos, 4) DESC, vec_id ASC) AS rn
        |    FROM (
        |      SELECT q_id, vec_id,
        |             list_dot_product(qe, ce) /
        |               (sqrt(list_dot_product(qe, qe)) *
        |                sqrt(list_dot_product(ce, ce))) AS cos
        |      FROM qm JOIN cm ON vec_id <> q_id
        |    )
        |  ) WHERE rn <= 20
        |), cv AS MATERIALIZED (
        |  SELECT cand.q_id, cand.doc_id, CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM cand JOIN embeddings e ON cand.doc_id = e.vec_id
        |), sims AS MATERIALIZED (
        |  SELECT x.q_id, x.doc_id AS a, y.doc_id AS b,
        |         round(list_dot_product(x.v, y.v) /
        |               (sqrt(list_dot_product(x.v, x.v)) *
        |                sqrt(list_dot_product(y.v, y.v))), 4) AS s
        |  FROM cv x JOIN cv y
        |    ON x.q_id = y.q_id AND x.doc_id <> y.doc_id
        |), s1 AS MATERIALIZED (
        |  SELECT q_id, doc_id, CAST(1 AS BIGINT) AS step, mmr FROM (
        |    SELECT q_id, doc_id, round(rel * 0.7, 6) + 0.0 AS mmr,
        |           row_number() OVER (PARTITION BY q_id
        |             ORDER BY round(rel * 0.7, 6) + 0.0 DESC,
        |                      doc_id ASC) AS rk
        |    FROM cand) WHERE rk = 1
        |), sel1 AS MATERIALIZED (SELECT q_id, doc_id FROM s1)""".stripMargin
    val steps = (2 to 5).map { k =>
      s""", p$k AS MATERIALIZED (
         |  SELECT r.q_id, r.doc_id, r.rel, max(s.s) AS maxsim
         |  FROM cand r
         |  JOIN sims s ON s.q_id = r.q_id AND s.a = r.doc_id
         |  JOIN sel${k - 1} c ON c.q_id = s.q_id AND c.doc_id = s.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} z
         |                    WHERE z.q_id = r.q_id
         |                      AND z.doc_id = r.doc_id)
         |  GROUP BY r.q_id, r.doc_id, r.rel
         |), s$k AS MATERIALIZED (
         |  SELECT q_id, doc_id, CAST($k AS BIGINT) AS step, mmr FROM (
         |    SELECT q_id, doc_id,
         |           round(rel * 0.7 - maxsim * 0.3, 6) + 0.0 AS mmr,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY round(rel * 0.7 - maxsim * 0.3, 6) + 0.0
         |                        DESC, doc_id ASC) AS rk
         |    FROM p$k) WHERE rk = 1
         |), sel$k AS MATERIALIZED (
         |  SELECT q_id, doc_id FROM sel${k - 1}
         |  UNION ALL SELECT q_id, doc_id FROM s$k
         |)""".stripMargin
    }.mkString
    val fin = (1 to 5)
      .map(k => s"SELECT q_id, doc_id, step, mmr FROM s$k")
      .mkString("\n", "\nUNION ALL ", "\nORDER BY q_id, step")
    base + steps + fin
  }

  /** Shared DuckDB derivation of the micro-quantized BM25 scores
    * (`lex0`: q_id, doc_id, bm) — the standalone ranker and the hybrid
    * fusion oracle build on the identical text, so the two keys cannot
    * drift. Constants and operation order mirror [[bm25TopK]]
    * term-for-term; `tf * CAST(2.2 AS DOUBLE)` (not the bare decimal
    * literal) because DuckDB would otherwise keep tf*2.2 as exact
    * DECIMAL while Spark computes long × double(2.2) — a ulp-level
    * divergence removed at the source.
    */
  private def bm25OracleCte: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY doc_id, tok
      |), dl AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |  FROM toks GROUP BY doc_id
      |), stats AS (
      |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
      |), dfreq AS (
      |  SELECT tok, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
      |), qt AS (
      |  SELECT DISTINCT doc_id AS q_id, tok FROM toks WHERE doc_id < 8
      |), term AS (
      |  SELECT qt.q_id, tf.doc_id,
      |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |         (tf * CAST(2.2 AS DOUBLE) /
      |          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS ts
      |  FROM qt JOIN tf ON qt.tok = tf.tok AND tf.doc_id <> qt.q_id
      |  JOIN dfreq ON qt.tok = dfreq.tok
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN stats
      |), lex0 AS (
      |  SELECT q_id, doc_id,
      |         CAST(round(sum(ts) * 1000000) AS BIGINT) AS bm
      |  FROM term GROUP BY q_id, doc_id
      |)""".stripMargin

  /** BM25 corpus statistics, staged once per (corpus, scale): per-token
    * document frequency (`df/`) and the (n_docs, avgdl) scalar pair
    * (`stats/`) — pure corpus functions, the same staged-derived-
    * artifact rule as the FS counts. Only the STATS are staged, not the
    * (doc, term, tf) posting table: tf falls out of the corpus scan the
    * lexical ranker already pays, while df/avgdl would otherwise cost a
    * second full tokenize per query run. avgdl = avg of integer lengths
    * — an exact integer sum divided once, so both engines compute the
    * identical double.
    */
  // NOTE (measured, do not retry): staging the (doc, term, tf) POSTING
  // table alongside df/stats made BOTH lexical keys ~60% SLOWER
  // (bm25_topk 1.6→2.5 s, hybrid 2.1→4.0 s REPS=3, stable per-rep
  // series) — the r15 census negative result again: re-deriving tf by
  // exploding the packed text inside whole-stage codegen beats
  // shuffle-reading 20× more pre-exploded parquet rows. Only the
  // DERIVED corpus stats (df, n_docs, avgdl) stay staged.
  private[graft] def bm25Staged(s: SparkSession, d: String): String =
    graft.Staging.layout(s, "graft_bm25_stats", d,
        s"$d/documents.parquet") { path =>
      val toks = t(s, d, "documents").select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      toks.groupBy("tok")
        .agg(countDistinct("doc_id").as("df"))
        .write.mode("overwrite").parquet(s"$path/df")
      toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
        .write.mode("overwrite").parquet(s"$path/stats")
    }

  /** Product-quantization geometry: 64 dims → M=16 subspaces × 4 dims,
    * K=16 centroids per subspace. A vector compresses to 16 code bytes
    * (stored as array<int> for parquet/gate friendliness) — 16× smaller
    * than the 64-float original, which is the PQ value proposition at
    * 100 TB: the ADC scan touches 16 B/vector instead of 256 B, and the
    * full-precision vectors are only fetched for the shortlist re-rank.
    * M=16 rather than the classic 8 because the corpus is uniform random
    * (PQ's worst case — no cluster structure): 16 centroids resolve a
    * 4-d subspace far better than an 8-d one, and recall@5 through the
    * 64-candidate re-rank pool goes 0.75 → ≥0.9 for 2× code bytes.
    */
  private[graft] val PqM = 16
  private[graft] val PqDim = 4
  private val PqK = 16
  private val PqShortlist = 64

  /** Per-subspace k-means, all M subspaces trained in ONE distributed
    * pass per iteration: chunk each unit vector into (m, subvector) rows
    * once (cached), assign each row to its subspace's nearest centroid
    * (`graft_nearest_cells` with the m-th codebook selected per row via
    * `element_at` — the expression doesn't need a foldable codebook), and
    * average per (m, cell, pos). Driver state is the M×K×dim codebook
    * (1,024 floats); the shuffle is keyed on (m, cell, pos) regardless of
    * corpus size. Same determinism contract as [[trainKmeans]]: the mean
    * accumulates in DECIMAL(38,20), so the codebook is bit-identical
    * across partitionings (property-spec'd). PQ centroids are plain
    * subspace means — NOT re-normalized; only the full vectors live on
    * the unit sphere.
    */
  private[graft] def trainPqCodebooks(s: SparkSession, emb: DataFrame,
      iters: Int = 3): Seq[Seq[Seq[Float]]] = {
    // seed: the same deterministic stride picks as the IVF coarse
    // quantizer, sliced into subspaces driver-side (16 × 64 floats)
    val picks = strideSeed(s, emb)
    pqLloyd(s, withNorm(emb)
      .select(posexplode(transform(sequence(lit(0), lit(PqM - 1)),
        m => slice(unitBy(col("embedding"), col("nrm")),
          m * PqDim + 1, lit(PqDim))))
        .as(Seq("m", "sub"))),
      (0 until PqM).map(m => picks.map(_.slice(m * PqDim, (m + 1) * PqDim))),
      iters)
  }

  /** The Lloyd loop shared by the raw and residual PQ trainers over
    * (m, sub) subvector rows (cached for the loop): per iteration one
    * distributed nearest-centroid assignment per subspace and one
    * (m, cell, pos)-keyed DECIMAL(38,20) mean.
    */
  private def pqLloyd(s: SparkSession, subRows: DataFrame,
      seed: Seq[Seq[Seq[Float]]], iters: Int): Seq[Seq[Seq[Float]]] = {
    var cb = seed
    val sub = subRows.repartition(s.sparkContext.defaultParallelism).cache()
    try {
      for (_ <- 1 to iters) {
        val cbLit = typedlit(cb)
        val means = sub
          .select(col("m"),
            element_at(call_function("graft_nearest_cells", col("sub"),
              element_at(cbLit, col("m") + 1), lit(1)), 1).as("cell"),
            posexplode(col("sub")).as(Seq("pos", "v")))
          .groupBy("m", "cell", "pos")
          .agg(avg(col("v").cast("double").cast("decimal(38,20)")).as("mn"))
          .collect() // M × K × subdim = 1,024 rows — bounded by codebook
        val byMC = means.groupBy(r => (r.getInt(0), r.getInt(1)))
        cb = cb.indices.map { m =>
          cb(m).indices.map { k =>
            byMC.get((m, k))
              .map(rs => rs.sortBy(_.getInt(2))
                .map(_.getDecimal(3).doubleValue().toFloat).toSeq)
              .getOrElse(cb(m)(k)) // empty cell keeps its centroid
          }
        }
      }
    } finally sub.unpersist()
    cb
  }

  /** PQ codebook per dataset dir — same build-once/probe-many contract as
    * [[trainedCodebook]]: a persisted index's codebooks are read back (a
    * probe MUST use the codebooks the codes were written with), otherwise
    * train once and memoize.
    */
  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Float]]]]()

  private def pqCodebook(s: SparkSession, d: String): Seq[Seq[Seq[Float]]] =
    pqCodebookCache.computeIfAbsent(s"$d@${embStamp(s, d)}", _ =>
      embCurrent(s, "graft_pq", d).map(stagedPqCodebooks(s, _))
        .getOrElse(trainPqCodebooks(s, t(s, d, "embeddings"))))

  /** Per-subspace codebooks staged as `<p>/codebooks` (m, k, centroid). */
  private def writePqCodebooks(s: SparkSession, p: String,
      cb: Seq[Seq[Seq[Float]]]): Unit = {
    import s.implicits._
    cb.zipWithIndex.flatMap { case (ks, m) =>
      ks.zipWithIndex.map { case (c, k) => (m, k, c) }
    }.toDF("m", "k", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$p/codebooks")
  }

  private def stagedPqCodebooks(s: SparkSession, p: String)
      : Seq[Seq[Seq[Float]]] = {
    import s.implicits._
    s.read.parquet(s"$p/codebooks")
      .select("m", "k", "centroid").as[(Int, Int, Array[Float])]
      .collect() // M × K = 128 rows — bounded by codebook size
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)
  }

  /** The PQ index persisted: one `array<int>` code word (M entries) per
    * vector plus the codebooks alongside. Encoding is one codegen'd
    * map-side pass over the corpus (`graft_nearest_cells` per subspace
    * slice) — a build step, not a per-query cost. Idempotent per
    * (run, sfDir).
    */
  def pqStaged(s: SparkSession, d: String): String =
    embLayout(s, "graft_pq", d) { path =>
      val cb = pqCodebook(s, d)
      val cbLit = typedlit(cb)
      writePqCodebooks(s, path, cb)
      withNorm(t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism))
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(PqM - 1)), m =>
            element_at(call_function("graft_nearest_cells",
              slice(unitBy(col("embedding"), col("nrm")),
                m * PqDim + 1, lit(PqDim)),
              element_at(cbLit, m + 1), lit(1)), 1)).as("codes"))
        .write.mode("overwrite").parquet(s"$path/index")
    }

  /** The IVFPQ composite index (the FAISS IVFPQ production default):
    * the coarse IVF assignment and the PQ code word joined per vector
    * and persisted CELL-PARTITIONED — the layout where an ADC scan
    * touches only the probed cells' code bytes. Derived from the two
    * existing staged indexes (build once, compose by reference); at
    * 100 TB this is the memory story squared: nprobe/#cells of the
    * corpus is read, and of THAT only 16 code bytes per vector.
    */
  private[graft] def ivfpqStaged(s: SparkSession, d: String): String =
    embLayout(s, "graft_ivfpq", d) { path =>
      val cells = s.read.parquet(s"${ivfStaged(s, d)}/index")
        .select(col("vec_id"), col("cell"))
      val codes = s.read.parquet(s"${pqStaged(s, d)}/index")
      cells.join(codes, Seq("vec_id"))
        .repartition(col("cell")) // one file per cell dir (see ivfStaged)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/index")
    }

  /** The ADC candidate stream of the IVFPQ probe — factored out so the
    * spec can COUNT what gets scored (the composition's whole point is
    * that this is ≈ nprobe/#cells of the PQ-only path's full-corpus
    * scan). Columns: (q_id, vec_id, codes, lut, qe), one row per
    * (query, candidate) after soft-assign dedup.
    */
  /** Per-query PQ probe rows, shared by the RAW and RESIDUAL ADC paths
    * (r18 ADVICE: the two copies must not drift — the candidate-set
    * equality spec depends on the same LUT layout and the same
    * (-dot, i) probe tie-break on both): for each query vector the ADC
    * LUT against `cb` (lut[m][k] laid out by flatMap over m) and the
    * NProbe nearest coarse cells by unit-dot, dots kept for the
    * residual path's ⟨u_q, c⟩ offset. Driver-side over 8 queries × the
    * M×K codebook — bounded.
    */
  private def pqQueryRows(s: SparkSession, d: String,
      cb: Seq[Seq[Seq[Float]]], coarse: Seq[Seq[Float]])
      : Seq[(Long, Seq[Double], Seq[(Int, Double)], Seq[Float])] = {
    import s.implicits._
    val qVecs = t(s, d, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    qVecs.toSeq.map { case (id, e) =>
      val u = unitSeq(e.toSeq)
      val lut = pqLut(u, cb)
      // coarse probes: NProbe nearest cells by unit-dot, driver-side
      // over the K-row codebook (K-sized work, id tie-break)
      val cells = coarse.zipWithIndex.map { case (c, i) =>
        (i, u.zip(c).foldLeft(0.0)((a, p) => a + p._1.toDouble * p._2))
      }.sortBy { case (i, dt) => (-dt, i) }.take(NProbe)
      (id, lut, cells, e.toSeq)
    }
  }

  /** The per-query ADC lookup table of unit vector `u` against `cb`,
    * laid out by flatMap over m: lut[m·K + k] = ⟨u slice m, cb(m)(k)⟩.
    */
  private def pqLut(u: Seq[Float], cb: Seq[Seq[Seq[Float]]]): Seq[Double] =
    (0 until PqM).flatMap { m =>
      val qs = u.slice(m * PqDim, (m + 1) * PqDim)
      cb(m).map(c =>
        qs.zip(c).foldLeft(0.0)((a, p) => a + p._1.toDouble * p._2))
    }

  private[graft] def ivfpqCandidates(s: SparkSession, d: String)
      : DataFrame = {
    import s.implicits._
    val p = ivfpqStaged(s, d)
    val qRows = pqQueryRows(s, d, pqCodebook(s, d), trainedCodebook(s, d))
    val qDf = qRows
      .map { case (id, lut, cells, e) => (id, lut, cells.map(_._1), e) }
      .toDF("q_id", "lut", "cells", "qe")
      .select(col("q_id"), col("lut"),
        explode(col("cells")).as("cell"), col("qe"))
    // the isin over collected probe cells makes the cell filter a
    // partition-pruning literal predicate, not a join residual — the
    // scan opens ONLY the probed cell directories
    val probed = qRows.flatMap(_._3.map(_._1)).distinct.sorted.toSeq
    s.read.parquet(s"${ivfpqStaged(s, d)}/index")
      .filter(col("cell").isin(probed: _*))
      .join(broadcast(qDf), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      // soft-assign lands a vector in 2 cells; a query probing both
      // must score it once
      .dropDuplicates("q_id", "vec_id")
      .select(col("q_id"), col("vec_id"), col("codes"), col("lut"),
        col("qe"))
  }

  // ---- RESIDUAL-encoded IVFPQ (the FAISS IndexIVFPQ default) ----------
  //
  // The raw composition above PQ-encodes the unit vector itself; the
  // production default encodes the RESIDUAL v − centroid(cell(v)). The
  // residual distribution is concentrated around the origin (the coarse
  // quantizer has already absorbed the between-cell variance), so the
  // same M×K code budget spends its resolution on the within-cell
  // detail — the main recall lever at fixed M×K. Under inner-product
  // scoring the algebra stays one LUT per QUERY plus one scalar per
  // (query, probed cell):
  //   ⟨u_q, u_v⟩ = ⟨u_q, c⟩ + ⟨u_q, r_v⟩ ≈ ⟨u_q, c⟩ + Σ_m lut[m][code_m]
  // with lut[m][k] = ⟨u_q slice m, residual_cb(m)(k)⟩ — the per-cell
  // part folds into the ⟨u_q, c⟩ offset, so driver state is still the
  // M×K LUT (+ nprobe scalars per query), never per-vector.

  /** Per-subspace k-means over RESIDUAL slices (v − primary-cell
    * centroid, both on the unit sphere side). Same decimal-mean Lloyd
    * loop as [[trainPqCodebooks]], so the codebook is deterministic
    * across partitionings; training residuals use the PRIMARY (nearest-1)
    * cell, matching how FAISS trains the refinement quantizer.
    */
  private[graft] def trainResidualPq(s: SparkSession, d: String,
      iters: Int = 3): Seq[Seq[Seq[Float]]] =
    trainResidualPqOn(s, t(s, d, "embeddings"), trainedCodebook(s, d),
      iters)

  /** The residual trainer over an explicit (corpus, coarse codebook)
    * pair — the incremental index trains on the BASE slice with the
    * base-trained coarse codebook, the full index on the whole corpus.
    */
  private[graft] def trainResidualPqOn(s: SparkSession, emb: DataFrame,
      coarse: Seq[Seq[Float]], iters: Int = 3): Seq[Seq[Seq[Float]]] = {
    val coarseLit = typedlit(coarse)
    // seed: the stride picks' residuals vs their primary cell — K-sized
    // driver arithmetic over the coarse codebook
    val seed: Seq[Seq[Seq[Float]]] = {
      val picks = strideSeed(s, emb)
      val resid = picks.map { u =>
        val cell = coarse.zipWithIndex.maxBy { case (c, i) =>
          (u.zip(c).foldLeft(0.0)((a, p) => a + p._1.toDouble * p._2),
            -i)
        }._2
        u.zip(coarse(cell)).map { case (a, b) => (a - b).toFloat }.toSeq
      }
      (0 until PqM).map(m =>
        resid.map(_.slice(m * PqDim, (m + 1) * PqDim)))
    }
    val sub = withNorm(emb)
      .withColumn("u", unitBy(col("embedding"), col("nrm")))
      .withColumn("cell", element_at(call_function("graft_nearest_cells",
        col("u"), coarseLit, lit(1)), 1))
      .withColumn("r", zip_with(col("u"),
        element_at(coarseLit, col("cell") + 1),
        (a, b) => (a - b).cast("float")))
      .select(posexplode(transform(sequence(lit(0), lit(PqM - 1)),
        m => slice(col("r"), m * PqDim + 1, lit(PqDim))))
        .as(Seq("m", "sub")))
    pqLloyd(s, sub, seed, iters)
  }

  /** Residual codebooks per dataset dir — read back from a persisted
    * index (codes must be decoded with the codebooks they were written
    * with), else train once and memoize. Same contract as
    * [[pqCodebook]].
    */
  private val residualPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Float]]]]()

  private def residualPqCodebook(s: SparkSession, d: String)
      : Seq[Seq[Seq[Float]]] =
    residualPqCache.computeIfAbsent(s"$d@${embStamp(s, d)}", _ =>
      embCurrent(s, "graft_ivfpq_res", d).map(stagedPqCodebooks(s, _))
        .getOrElse(trainResidualPq(s, d)))

  /** The residual-encoded IVFPQ index: per (vec_id, cell) copy of the
    * IVF index (soft-assign keeps a vector in 2 cells — each copy
    * encodes the residual vs ITS OWN cell's centroid, so both copies
    * are maximally accurate where they live), the M-entry code word of
    * u − centroid(cell), persisted cell-partitioned like [[ivfpqStaged]].
    * Encoding is one codegen'd map-side pass over the already-staged
    * IVF index — a build step, not a per-query cost.
    */
  private[graft] def ivfpqResidualStaged(s: SparkSession, d: String)
      : String =
    embLayout(s, "graft_ivfpq_res", d) { path =>
      val cb = residualPqCodebook(s, d)
      writePqCodebooks(s, path, cb)
      s.read.parquet(s"${ivfStaged(s, d)}/index")
        .select(col("vec_id"), col("cell"), residualCodesCol(
          typedlit(trainedCodebook(s, d)), typedlit(cb)).as("codes"))
        .repartition(col("cell")) // one file per cell dir (see ivfStaged)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/index")
    }

  /** The residual-ADC candidate stream: (q_id, vec_id, adc, qe), one
    * row per (query, candidate) with the per-copy scores already folded
    * (a soft-assigned vector probed in both its cells keeps the BEST
    * copy, deterministically — unlike the raw path, the two copies
    * carry different codes). adc = ⟨u_q, c⟩ + graft_adc gather over the
    * residual LUT. Factored out so the spec can count the scored set.
    */
  private[graft] def ivfpqResidualCandidates(s: SparkSession, d: String)
      : DataFrame = {
    val p = ivfpqResidualStaged(s, d)
    // per-query residual LUT (lut[m][k] = ⟨u_q slice m, cb(m)(k)⟩) plus
    // the per-(query, cell) ⟨u_q, centroid⟩ offsets; the isin over the
    // collected probe cells partition-prunes the code scan
    val (qDf, probed) =
      residualQueryFrame(s, d, residualPqCodebook(s, d),
        trainedCodebook(s, d))
    residualAdcScore(
      s.read.parquet(s"$p/index").filter(col("cell").isin(probed: _*)),
      qDf)
  }

  /** The residual-PQ code word for rows carrying (embedding, nrm, cell)
    * — one codegen'd per-subspace nearest-centroid pass over
    * u − centroid(cell). Shared by the staged builders and the
    * in-flight incremental delta encode (frozen codebooks both times).
    */
  private def residualCodesCol(
      coarseLit: org.apache.spark.sql.Column,
      cbLit: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = unitBy(col("embedding"), col("nrm"))
    val r = zip_with(u, element_at(coarseLit, col("cell") + 1),
      (a, b) => (a - b).cast("float"))
    transform(sequence(lit(0), lit(PqM - 1)), m =>
      element_at(call_function("graft_nearest_cells",
        slice(r, m * PqDim + 1, lit(PqDim)),
        element_at(cbLit, m + 1), lit(1)), 1))
  }

  /** Query-side frame for a residual-ADC probe: one row per
    * (query, probed cell) carrying the per-query LUT, the ⟨u_q, c⟩
    * offset, and the raw query vector; plus the driver-known probed
    * cell list for partition pruning.
    */
  private def residualQueryFrame(s: SparkSession, d: String,
      cb: Seq[Seq[Seq[Float]]], coarse: Seq[Seq[Float]])
      : (DataFrame, Seq[Int]) = {
    import s.implicits._
    // LUT + probe cells via the one shared construction ([[pqQueryRows]])
    // — the residual path keeps the per-cell dot as its ⟨u_q, c⟩ offset
    val qRows = pqQueryRows(s, d, cb, coarse)
    val qDf = qRows.toDF("q_id", "lut", "cells", "qe")
      .select(col("q_id"), col("lut"),
        explode(col("cells")).as("cd"), col("qe"))
      .select(col("q_id"), col("lut"), col("cd._1").as("cell"),
        col("cd._2").as("qcdot"), col("qe"))
    (qDf, qRows.flatMap(_._3.map(_._1)).distinct.sorted.toSeq)
  }

  /** ADC-score a (vec_id, cell, codes) candidate index against a
    * residual query frame: per-copy adc = ⟨u_q, c⟩ + LUT gather, best
    * soft-assign copy kept deterministically. Returns
    * (q_id, vec_id, adc, qe).
    */
  private def residualAdcScore(index: DataFrame, qDf: DataFrame)
      : DataFrame = {
    val bestCopy = Window.partitionBy("q_id", "vec_id")
      .orderBy(col("adc").desc, col("cell").asc)
    index.join(broadcast(qDf), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc",
        col("qcdot") + call_function("graft_adc", col("codes"), col("lut")))
      .withColumn("cpy", row_number().over(bestCopy))
      .filter(col("cpy") === 1)
      .select(col("q_id"), col("vec_id"), col("adc"), col("qe"))
  }

  /** Shortlist + exact re-rank shared by every ADC key: per query the
    * top-PqShortlist candidates of `scored` (q_id, vec_id, adc, qe) by
    * adc fetch their full vectors for the exact cosine top-5.
    */
  private def adcTopK(s: SparkSession, d: String, scored: DataFrame)
      : DataFrame = {
    val shortlist = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val cands = scored
      .withColumn("srn", row_number().over(shortlist))
      .filter(col("srn") <= PqShortlist)
      .select(col("q_id"), col("vec_id"), col("qe"),
        sqrt(ndot(col("qe"), col("qe"))).as("qn"))
    val c = t(s, d, "embeddings").select(col("vec_id"),
      col("embedding").as("ce"),
      sqrt(ndot(col("embedding"), col("embedding"))).as("cn"))
    rankTop(broadcast(cands).join(c, Seq("vec_id"))
      .withColumn("cos", cosine), 5)
  }

  /** The incremental IVFPQ base: coarse codebook AND residual PQ
    * codebooks trained on the BASE slice only (vec_id % 10 ≠ 0, the
    * [[incrIvfStaged]] split), base codes persisted cell-partitioned.
    * A later batch must never retrain: the refresh encodes the delta
    * with these frozen codebooks and appends to its cells —
    * `simsearch_ivfpq_incremental` runs that refresh in-flight and
    * IvfPqIncrementalSpec pins code-level equality with a from-scratch
    * encode under the same codebooks.
    */
  private[graft] def ivfpqIncrStaged(s: SparkSession, d: String): String =
    embLayout(s, "graft_ivfpq_incr", d) { path =>
      val ivfP = incrIvfStaged(s, d)
      val coarse = stagedCentroids(s, ivfP)
      val base = t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0)
      val cb = trainResidualPqOn(s, base, coarse)
      writePqCodebooks(s, path, cb)
      s.read.parquet(s"$ivfP/index")
        .select(col("vec_id"), col("cell"),
          residualCodesCol(typedlit(coarse), typedlit(cb)).as("codes"))
        .repartition(col("cell")) // one file per cell dir (see ivfStaged)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/index")
    }

  /** Read back the incremental base's frozen artifacts: (coarse,
    * residual codebooks). A probe or refresh MUST use the codebooks the
    * base codes were written with.
    */
  private[graft] def ivfpqIncrCodebooks(s: SparkSession, d: String)
      : (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) = {
    val coarse = stagedCentroids(s, incrIvfStaged(s, d))
    (coarse, stagedPqCodebooks(s, ivfpqIncrStaged(s, d)))
  }

  /** The frozen-codebook refresh: the delta slice coarse-assigned and
    * residual-encoded with the BASE artifacts — (vec_id, cell, codes),
    * never a retrain, never a base rewrite. Factored out so the spec
    * can compare it code-for-code with a from-scratch encode.
    */
  private[graft] def ivfpqIncrDelta(s: SparkSession, d: String,
      coarse: Seq[Seq[Float]], cb: Seq[Seq[Seq[Float]]]): DataFrame = {
    val coarseLit = typedlit(coarse)
    withNorm(t(s, d, "embeddings").filter(col("vec_id") % 10 === 0))
      .withColumn("cell", explode(nearestCells(coarseLit, SoftAssign)))
      .select(col("vec_id"), col("cell"),
        residualCodesCol(coarseLit, typedlit(cb)).as("codes"))
  }

  /** Staged semantic-cluster assignment (vec_id → cluster_rep), the
    * persisted artifact both `dedup_semantic_cluster` and
    * `dedup_keep_best` consume — clustering runs once per (sfDir,
    * embeddings fingerprint) and downstream queries measure their own
    * work, not re-derivation (the r6 dedup_cluster_scale lesson).
    * Stamped with the source fingerprint per Staging's refresh
    * contract: a regenerated embeddings table re-clusters.
    */
  /** The 24 banded hyperplanes (8 bands × 3 bits) behind every staged
    * semantic-cluster artifact — fixed seed, so the FULL build and the
    * INCREMENTAL merge (`dedup_incremental_index`) assign bit-identical
    * band buckets to the same vector.
    */
  private lazy val ccBandPlanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(24)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** All 8 band buckets of an embedding packed into one long (3 bits
    * each). Each 3-bit band bucket = signs of 3 hyperplane projections.
    * The projection is the codegen'd graft_dot against a double-array
    * plane literal — bit-identical to the former aggregate(zip_with)
    * spelling ((double)f * d, left-to-right double accumulation) but
    * inside whole-stage codegen instead of per-element interpreted
    * lambda eval (the repo's own HOF-on-hot-path rule).
    */
  private def ccPackedBuckets(e: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    def bandBucket(band: Int) =
      (0 until 3).map { i =>
        val p = ccBandPlanes(band * 3 + i)
        when(call_function("graft_dot", e, typedlit(p.toSeq)) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    (0 until 8).map(b =>
      shiftleft(bandBucket(b).cast("long"), 3 * b)).reduce(_ + _)
  }

  /** (vec_id, pk) → one row per (band, bucket) — the band join's keyed
    * form; rows stay ~32 bytes (id + packed longs + two ints).
    */
  private def ccExplodeBands(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("pk"),
      posexplode(array((0 until 8).map(b =>
        shiftright(col("pk"), 3 * b).bitwiseAND(7).cast("int")): _*))
        .as(Seq("band", "bucket")))

  /** Band index where two packed band vectors FIRST agree (or -1): the
    * emit-once rule for candidate pairs colliding in several bands — a
    * codegen'd integer when-chain over the XOR, NOT a zip_with lambda.
    */
  private def ccFirstMatchBand(pka: org.apache.spark.sql.Column,
      pkb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val x = pka.bitwiseXOR(pkb)
    (7 to 0 by -1).foldLeft(lit(-1)) { (acc, i) =>
      when(shiftright(x, 3 * i).bitwiseAND(7) === 0, lit(i)).otherwise(acc)
    }
  }

  /** Exact cosine verify of candidate (va, vb) pairs against the
    * embedding table — broadcast here (the corpus side is small); at
    * 100 TB this becomes a plain shuffled equi-join on id, still
    * O(candidates), never all-pairs. The dot, the norms and the 0.4
    * threshold are the SAME expression text everywhere this runs (full
    * build and incremental refresh), so a pair passes or fails
    * bit-identically in both.
    */
  private def ccVerify(s: SparkSession, cand: DataFrame, emb: DataFrame)
      : DataFrame = {
    val ebc = broadcast(emb.select(col("vec_id"), col("embedding"),
      col("nrm")))
    cand
      .join(ebc.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("va"))
      .join(ebc.select(col("vec_id").as("vb"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("vb"))
      .filter(ndot(col("ea"), col("eb")) /
        (col("na") * col("nb")) > 0.4)
      .select(col("va").as("src"), col("vb").as("dst"))
  }

  private def semanticClustersStaged(s: SparkSession, d: String)
      : DataFrame = {
    s.read.parquet(embLayout(s, "graft_semantic_cc", d)(
      ccCluster(s, t(s, d, "embeddings"))._2
        .write.mode("overwrite").parquet(_)))
  }

  /** The banded-LSH semantic clustering of `src`: its (vec_id, pk)
    * band-bucket table and its (vec_id, cluster_rep) assignment.
    */
  private def ccCluster(s: SparkSession, src: DataFrame)
      : (DataFrame, DataFrame) = {
    val emb = withNorm(src.repartition(s.sparkContext.defaultParallelism))
      .localCheckpoint(true)
    // candidate rows carry ONLY (id, band, bucket, packed-long band
    // vector) — never the embedding: the band join's fan-out is the
    // hot spot, so its rows stay ~32 bytes, and a pair colliding in
    // several bands is emitted exactly once, in its FIRST matching
    // band (the lowest zero 3-bit group of the pk XOR — see
    // ccFirstMatchBand; HOFs run interpreted per element: measured
    // 2× on the 12.5M-pair filter). DropDuplicates over wide rows
    // measured 11.8 s; this shape ~3 s.
    val withBuckets = emb.select(col("vec_id"),
      ccPackedBuckets(col("embedding")).as("pk"))
      .localCheckpoint(true) // the 24 hyperplane dots compute once
    val keyed = ccExplodeBands(withBuckets)
    val a = keyed.select(col("vec_id").as("va"), col("pk").as("pka"),
      col("band"), col("bucket"))
    val b = keyed.select(col("vec_id").as("vb"), col("pk").as("pkb"),
      col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("va") < col("vb") &&
        col("band") === ccFirstMatchBand(col("pka"), col("pkb")))
      .select("va", "vb")
    val cc = graft.operators.ConnectedComponents(ccVerify(s, cand, emb))
      .select(col("v").as("vec_id"), col("comp").as("rep"))
    (withBuckets, emb.select("vec_id").join(cc, Seq("vec_id"), "left")
      .withColumn("cluster_rep", coalesce(col("rep"), col("vec_id")))
      .select("vec_id", "cluster_rep"))
  }

  /** Staged INCREMENTAL-dedup base state: the "old" corpus slice
    * (vec_id % 10 != 0) clustered once with the exact banded pipeline
    * above, persisting what a refresh actually needs — the old
    * ASSIGNMENT (vec_id → cluster_rep) and the (vec_id, pk)
    * band-bucket table. No edge list: the refresh contracts each old
    * cluster to its rep super-node, so old-old edges are absorbed into
    * the persisted assignment and never revisited. Stamped with the
    * embeddings fingerprint: a regenerated corpus rebuilds the base.
    */
  private def incrBaseStaged(s: SparkSession, d: String): String =
    embLayout(s, "graft_incr_base", d) { path =>
      val (withBuckets, assigned) =
        ccCluster(s, t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0))
      assigned.write.mode("overwrite").parquet(s"$path/assign")
      withBuckets.write.mode("overwrite").parquet(s"$path/buckets")
    }

  /** The embeddings with their `nrm` and random-hyperplane LSH
    * `bucket`: the sign of each plane's projection via the codegen'd
    * graft_dot against a double plane literal (no per-element lambda).
    */
  private def lshBuckets(s: SparkSession, d: String): DataFrame = {
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      when(ndot(col("embedding"), typedlit(p.toSeq)) > 0, lit(1 << i))
        .otherwise(lit(0))
    }.reduce(_ + _)
    withNorm(t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), bucket.as("bucket")))
  }

  /** The LSH corpus side: (vec_id, ce, cn, bucket), not repartitioned. */
  private def lshCorpus(withB: DataFrame): DataFrame =
    withB.select(col("vec_id"), col("embedding").as("ce"),
      col("nrm").as("cn"), col("bucket"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IVF probe against the PERSISTED index: the codebook is 16 rows read
    // back from the index directory, the probe set (nprobe cells per
    // query) is known before the scan, and the `cell IN (...)` filter
    // becomes a PartitionFilter — the index scan physically reads only
    // the probed directories (asserted in PhysicalSpec). No re-assignment
    // of the corpus happens at query time; that cost was paid once at
    // build. No oracle (approximate recall — ScalaTest-bounded).
    "simsearch_ivf_persisted" -> ((s, d) => {
      val p = ivfStaged(s, d)
      rankTop(ivfProbe(s, s.read.parquet(s"$p/index"),
        typedlit(stagedCentroids(s, p)), NProbe)
        .dropDuplicates("q_id", "vec_id"), 5)
    }),

    // INCREMENTAL IVF ingest — the ANN twin of dedup_incremental_index's
    // question: "a new batch of vectors arrived; update the index
    // WITHOUT retraining or rewriting the base". The staged base holds
    // centroids trained on the base slice plus its cell-partitioned
    // assignments; the refresh assigns the DELTA slice with the SAME
    // codebook (coarse assignment is a pure per-row function, so
    // appending the delta's inverted-list entries is exactly equal to a
    // full rebuild under that codebook — IvfIncrementalSpec asserts the
    // probe results match a from-scratch index end-to-end) and probes
    // base ∪ delta. Base bytes are never rewritten: at 100 TB the
    // refresh writes only delta-sized partitions into the same
    // cell-keyed layout. Codebook drift across many batches is the
    // documented operational limit — the production policy retrains and
    // REBUILDS when assignment-quality metrics degrade, which is this
    // same staging path run fresh. No oracle (ANN family); spec-pinned.
    "simsearch_ivf_incremental" -> ((s, d) => {
      val p = incrIvfStaged(s, d)
      val codebook = typedlit(stagedCentroids(s, p))
      val delta =
        withNorm(t(s, d, "embeddings").filter(col("vec_id") % 10 === 0))
          .withColumn("cell", explode(nearestCells(codebook, SoftAssign)))
          .select("vec_id", "embedding", "nrm", "cell")
      val index = s.read.parquet(s"$p/index")
        .select("vec_id", "embedding", "nrm", "cell")
        .unionByName(delta)
      rankTop(ivfProbe(s, index, codebook, NProbe)
        .dropDuplicates("q_id", "vec_id"), 5)
    }),

    // ext: product-quantization ANN probe against the persisted code
    // index. Per query the driver computes the M×K lookup table
    // (⟨q_sub_m, centroid_{m,k}⟩ — 128 doubles, bounded by codebook
    // size, not data), the ADC scan scores every code word with the
    // codegen'd graft_adc gather (M=16 int reads + 16 LUT adds per
    // vector — never touching the full-precision floats), and only the
    // per-query shortlist (top-64 by ADC) joins back to the embeddings
    // table for the exact cosine re-rank to top-5. At 100 TB this is
    // the memory story: the scan reads the 16×-compressed codes, the
    // expensive vectors are fetched for 64 candidates per query. No
    // oracle (approximate recall — ScalaTest-bounded vs the brute twin).
    "simsearch_pq_topk" -> ((s, d) => {
      import s.implicits._
      val p = pqStaged(s, d)
      val cb = pqCodebook(s, d)
      val emb = t(s, d, "embeddings")
      // 8 query vectors — bounded driver-side collect, mirrors the IVF
      // probe-set pattern
      val qVecs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val qDf = qVecs.map { case (id, e) =>
        (id, pqLut(unitSeq(e.toSeq), cb), e.toSeq)
      }.toSeq.toDF("q_id", "lut", "qe")
      // exact re-rank: ≤ 8 × 64 candidates fetch their full vectors
      adcTopK(s, d, s.read.parquet(s"$p/index")
        .crossJoin(broadcast(qDf))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("adc",
          call_function("graft_adc", col("codes"), col("lut"))))
    }),

    // IVF+PQ COMPOSITION — the production ANN default (FAISS IVFPQ):
    // probe nprobe coarse cells, ADC-score ONLY the probed cells'
    // code words (16 B/vector), exact-re-rank the top-64 shortlist.
    // Against the PQ-only path this cuts the scored set by roughly
    // nprobe/#cells at the same recall spec (IvfPqSpec measures both);
    // against the IVF-only path it reads codes instead of full
    // vectors. The probed-cell predicate is a literal IN-list, so the
    // scan partition-prunes to the probed directories — at 100 TB the
    // ADC pass touches nprobe/#cells × 16 B × N, and full-precision
    // vectors are fetched for 8×64 rows total.
    "simsearch_ivfpq_topk" -> ((s, d) =>
      adcTopK(s, d, ivfpqCandidates(s, d).withColumn("adc",
        call_function("graft_adc", col("codes"), col("lut"))))),

    // RESIDUAL-encoded IVFPQ — identical probe/shortlist/re-rank shape
    // to simsearch_ivfpq_topk at identical M/K/nprobe, but the codes
    // quantize v − centroid(cell(v)) instead of v (the FAISS IndexIVFPQ
    // default): the coarse quantizer absorbs the between-cell variance,
    // so the 16-byte budget resolves within-cell detail. Score algebra
    // ⟨u_q,c⟩ + residual-ADC keeps driver state at one M×K LUT per
    // query. IvfPqResidualSpec measures recall vs the raw composition.
    "simsearch_ivfpq_residual_topk" -> ((s, d) =>
      adcTopK(s, d, ivfpqResidualCandidates(s, d))),

    // INCREMENTAL IVFPQ ingest — the composed index's refresh path:
    // a new batch coarse-assigns with the FROZEN base centroids and
    // PQ-encodes its residuals with the FROZEN base codebooks, then
    // appends to its cells; nothing retrains, no base code is
    // rewritten. Because both steps are pure per-row functions of the
    // frozen artifacts, the refreshed index is code-for-code equal to
    // a from-scratch encode of the full corpus under the same
    // codebooks (IvfPqIncrementalSpec asserts exactly that, plus
    // recall@5 ≥ 0.9 post-append). At 100 TB the refresh writes only
    // delta-sized files into the cell-partitioned layout; codebook
    // drift across many batches is the documented operational limit —
    // the retrain-and-rebuild policy is this staging path run fresh.
    // No oracle (ANN family); spec-pinned.
    "simsearch_ivfpq_incremental" -> ((s, d) => {
      val p = ivfpqIncrStaged(s, d)
      val (coarse, cb) = ivfpqIncrCodebooks(s, d)
      val (qDf, probed) = residualQueryFrame(s, d, cb, coarse)
      // base codes: partition-pruned scan; delta codes: the in-flight
      // frozen-codebook refresh, filtered to the same probed cells
      val index = s.read.parquet(s"$p/index")
        .select("vec_id", "cell", "codes")
        .filter(col("cell").isin(probed: _*))
        .unionByName(ivfpqIncrDelta(s, d, coarse, cb)
          .filter(col("cell").isin(probed: _*)))
      adcTopK(s, d, residualAdcScore(index, qDf))
    }),

    // B45: brute-force cosine top-5 for each query vector (vec_id < 8).
    // Exact, oracle-able baseline.
    // Contrastive triplet mining (anchor, positive, negative) — the
    // training-pair generator for embedding models. Scale-correct
    // selection WITHOUT pairing the corpus: each label's pool is ranked
    // once (keyed window), and every anchor picks its positive by a
    // deterministic hash-derived rank into its own pool (skip-self
    // index arithmetic) and its negative by a second hash into the
    // cyclically-next label's pool — every step is a keyed equi-join on
    // (label, rank), so the cost is O(n) joins, never the n_l² same-
    // label pairing. The hash is a portable md5-char construction
    // (identical in DuckDB), so the oracle reproduces the exact picks.
    "sample_contrastive_triplets" -> ((s, d) => {
      def hnum(prefix: String): org.apache.spark.sql.Column = {
        val h = md5(concat(lit(prefix), col("vec_id").cast("string")))
        ascii(substring(h, 1, 1)) * 65536 +
          ascii(substring(h, 2, 1)) * 256 + ascii(substring(h, 3, 1))
      }
      val e = t(s, d, "embeddings").select(col("vec_id"), col("label"))
      val wl = Window.partitionBy("label").orderBy("vec_id")
      val ranked = e.withColumn("rn", row_number().over(wl))
      val sizes = ranked.groupBy("label").agg(count(lit(1)).as("n_l"))
      val k = e.agg(countDistinct(col("label")).as("k"))
      val anchors = ranked.join(broadcast(sizes), "label")
        .crossJoin(broadcast(k))
        .withColumn("pos_idx",
          pmod(hnum("pos:"), col("n_l") - 1) + 1)
        .withColumn("pos_rn",
          when(col("pos_idx") >= col("rn"), col("pos_idx") + 1)
            .otherwise(col("pos_idx")))
        .withColumn("neg_label", pmod(col("label") + 1, col("k")))
      val negSizes = sizes.select(col("label").as("neg_label"),
        col("n_l").as("n_neg"))
      val pos = ranked.select(col("label"), col("rn").as("pos_rn"),
        col("vec_id").as("pos_id"))
      val neg = ranked.select(col("label").as("neg_label"),
        col("rn").as("neg_rn"), col("vec_id").as("neg_id"))
      anchors.join(broadcast(negSizes), "neg_label")
        .withColumn("neg_rn", pmod(hnum("neg:"), col("n_neg")) + 1)
        .join(pos, Seq("label", "pos_rn"))
        .join(neg, Seq("neg_label", "neg_rn"))
        .select(col("vec_id").as("anchor_id"), col("label"),
          col("pos_id"), col("neg_id"), col("neg_label"))
        .orderBy("anchor_id")
    }),

    // Two-stage retrieval with 1-bit binary quantization: each 64-dim
    // vector collapses to ONE sign-bit long (64× memory reduction), the
    // shortlist is the hamming-top-50 via codegen'd `bit_count(code ^
    // qcode)` — an integer xor+popcount per candidate, the cheapest
    // distance there is — and the exact cosine reranks ONLY that
    // 50-candidate sliver (graft_dot). This is the production shape at
    // 100 TB: the full-precision vectors never join against the whole
    // corpus; stage 1 streams long-sized codes through a broadcast of
    // the query codes, stage 2 touches 50 rows per query. The spec
    // reports recall@5 vs the exact brute force; the oracle recomputes
    // both stages positionally (sign-disagreement count == popcount of
    // the packed xor, by construction).
    "simsearch_binary_rerank" -> ((s, d) => {
      val coded = t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("code", expr(
          """aggregate(sequence(0, 63), 0L, (acc, i) ->
            |  acc | IF(element_at(embedding, i + 1) > 0F,
            |           shiftleft(1L, i), 0L))""".stripMargin))
      val q = coded.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("code").as("qcode"),
          col("embedding").as("qe"))
      val wH = Window.partitionBy("q_id")
        .orderBy(col("ham").asc, col("vec_id").asc)
      val shortlist = coded.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("ham", expr("bit_count(code ^ qcode)"))
        .withColumn("hrn", row_number().over(wH))
        .filter(col("hrn") <= 50)
      val wC = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id").asc)
      shortlist
        .withColumn("cos", ndot(col("embedding"), col("qe")) /
          (sqrt(ndot(col("embedding"), col("embedding"))) *
            sqrt(ndot(col("qe"), col("qe")))))
        .withColumn("rn", row_number().over(wC))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"),
          round(col("cos"), 4).as("cos_sim"), col("ham"), col("rn"))
        .orderBy("q_id", "rn")
    }),

    "simsearch_cosine_topk" -> ((s, d) => {
      val emb = withNorm(t(s, d, "embeddings"))
      rankTop(broadcast(queryVecs(emb))
        .join(corpusVecs(s, emb), col("q_id") =!= col("vec_id"))
        .withColumn("cos", cosine), 5)
    }),

    // FILTERED vector search, brute-force referee — "top-k nearest
    // AMONG the rows matching a metadata predicate", the shape every
    // production retrieval API actually serves (lang/user/freshness
    // scoping). The predicate lands where it must at 100 TB: BEFORE the
    // distance arithmetic, pushed into the candidate parquet scan (a
    // post-ranking filter both wastes dot products and silently returns
    // < k rows). Same broadcast-query scan as simsearch_cosine_topk
    // otherwise; exact by construction, so it referees the IVF variant.
    "simsearch_filtered_topk" -> ((s, d) =>
      filteredExact(s, d, Seq(0, 2, 4, 6, 8))),

    // FILTERED IVF — the scale path for predicate-scoped ANN: the
    // predicate column rides IN the index rows, so both the probe-set
    // partition filter (cell IN (...)) and the metadata filter
    // (label IN even-dictionary) push into the index parquet scan — the engine
    // reads only matching rows of probed cells, never post-filters a
    // ranked list. The known production trap is recall collapse: a
    // selective filter decimates every probed cell, so the probe count
    // is WIDENED by observed selectivity (nprobe = NProbe/σ, capped at
    // the cell count — see [[ivfFiltered]]). FilteredAnnSpec pins
    // recall@5 >= 0.9 vs the brute-force referee, the pushed filters,
    // AND the failure of the old constant widening under a selective
    // filter.
    "simsearch_ivf_filtered" -> ((s, d) =>
      ivfFiltered(s, d, Seq(0, 2, 4, 6, 8), adaptive = true)),

    // HYBRID retrieval via reciprocal-rank fusion — the lexical+vector
    // combination every production RAG stack ships (BM25 term match
    // catches exact identifiers the embedding smooths over; the vector
    // side catches paraphrase the lexical side can't). The lexical
    // ranker is REAL BM25 (k1=1.2, b=0.75, Lucene idf = ln(1+(N-df+0.5)
    // /(df+0.5))): df and (N, avgdl) come from the staged corpus stats,
    // tf falls out of the corpus tokenize via an inverted-index join
    // (query terms ⨝ postings on token — the join shape a search engine
    // IS at 100 TB, never a query×corpus cross). The fixture makes idf
    // do real work: the near-dup marker token is ~15× rarer than the
    // rest of the vocabulary, so a query containing it ranks fellow
    // marker docs first where raw unigram overlap drowns the signal in
    // common-token mass (EmGoldenSpec's sibling spec pins this). RRF
    // fuses the two top-20s: score = Σ 1/(60+rank) — rank fusion never
    // compares raw scores across spaces, which is the whole point.
    // Fusion is a full-outer join of two ≤ 8×20-row lists.
    // DETERMINISM: BM25 is quantized to micros BEFORE ranking (ties
    // break on doc_id) and rrf_micro quantizes at the end — both the
    // blessed shared-derivation recipe; ranks are integer.
    // MMR DIVERSIFIED RE-RANKING — relevance alone returns five copies
    // of the same thing (on a deduplicated-to-near-dup corpus, the
    // top-k IS the near-dup cluster); maximal marginal relevance
    // greedily picks argmax [λ·rel − (1−λ)·max-sim-to-selected]
    // (λ=0.7, K=5 from the cosine top-20) — the standard
    // diversity-aware selection for retrieval AND for training-data
    // curation (choose informative, non-redundant examples). The
    // greedy loop is UNROLLED: five dataframe steps here, five CTE
    // steps in the oracle — each step is a keyed join + windowed
    // argmax over ≤ 8×20 candidate rows, so the iteration cost is
    // query-cardinality however large the corpus (the corpus is
    // touched only by the top-20 scan and the 20×20 pairwise sims).
    // DETERMINISM: rel and pairwise sims quantize to 4dp first, the
    // MMR score to 6dp before every argmax (both engines then compute
    // on the identical doubles), ties break on doc_id.
    "search_mmr_rerank" -> ((s, d) => {
      val emb = withNorm(t(s, d, "embeddings"))
      val wr = Window.partitionBy("q_id")
        .orderBy(col("rel").desc, col("doc_id").asc)
      val cand = broadcast(queryVecs(emb))
        .join(corpusVecs(s, emb), col("q_id") =!= col("vec_id"))
        .withColumn("rel", round(cosine, 4))
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rel"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 20)
        .select("q_id", "doc_id", "rel")
        .localCheckpoint(true) // consumed by the cogroup fold + sims
      val ce2 = emb.select(col("vec_id"), col("embedding"), col("nrm"))
      val ca = cand
        .join(ce2, cand("doc_id") === ce2("vec_id"))
        .select(col("q_id"), col("doc_id"), col("embedding"), col("nrm"))
      val sims = ca.as("x").join(ca.as("y"),
          col("x.q_id") === col("y.q_id") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.q_id").as("q_id"), col("x.doc_id").as("a"),
          col("y.doc_id").as("b"),
          round(ndot(col("x.embedding"), col("y.embedding")) /
            (col("x.nrm") * col("y.nrm")), 4).as("s"))
      // r19: the 5-round greedy argmax FOLDS PER QUERY in one cogroup
      // pass instead of 5 unrolled dataframe steps — the per-query state
      // is ≤ 20 (doc, rel) pairs + 20×19 pairwise sims BY CONSTRUCTION
      // (bounded however large the corpus), so the selection is a local
      // fold exactly like the EM's driver-side histogram arithmetic,
      // except it stays distributed (one task per query group at scale —
      // the serving-layer shape). The old unroll paid an eager
      // localCheckpoint job per step, 7 jobs end-to-end, all over ≤160
      // rows; corpus-touching work (rel top-20, pairwise sims) stays in
      // codegen'd joins above. Arithmetic is bit-identical: rel and s
      // arrive 4dp-quantized, and r6 replicates round(x, 6) + 0.0
      // (java.math.BigDecimal HALF_UP — Round's own codegen path,
      // then -0.0 normalization) on the same doubles in the same order
      // (rel·0.7 − maxsim·0.3); ties break (mmr desc, doc_id asc) via
      // the ascending-doc scan with strict >.
      import s.implicits._
      val candT = cand.select(col("q_id"), col("doc_id"), col("rel"))
        .as[(Long, Long, Double)]
      val simT = sims.select(col("q_id"), col("a"), col("b"), col("s"))
        .as[(Long, Long, Long, Double)]
      def r6(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
      val sel = candT.groupByKey(_._1).cogroup(simT.groupByKey(_._1)) {
        (qid, cs, ps) =>
          // sort by doc_id: iterator order is shuffle-arbitrary, the
          // fold's tie-break (and therefore the output) must not be
          val cands = cs.map(t => (t._2, t._3)).toArray.sortBy(_._1)
          val sim = ps.map(t => ((t._2, t._3), t._4)).toMap
          val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
          val out =
            scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
          var step = 1L
          while (step <= 5L && chosen.size < cands.length) {
            var bestDoc = -1L
            var bestM = Double.NegativeInfinity
            cands.foreach { case (doc, rel) =>
              if (!chosen.contains(doc)) {
                // sims is a full ordered-pair self-join of cand today, but
                // a (candidate, chosen) pair absent from it must degrade
                // like the old unroll's INNER join did — the candidate is
                // silently excluded from this round's argmax — not throw
                // a raw Map NoSuchElementException (r19 ADVICE)
                var missing = false
                val m =
                  if (step == 1L) r6(rel * 0.7)
                  else {
                    var mx = Double.NegativeInfinity
                    chosen.foreach { b =>
                      sim.get((doc, b)) match {
                        case Some(v) => if (v > mx) mx = v
                        case None => missing = true
                      }
                    }
                    if (missing) Double.NaN else r6(rel * 0.7 - mx * 0.3)
                  }
                if (!missing && m > bestM) { bestM = m; bestDoc = doc }
              }
            }
            out += ((qid, bestDoc, step, bestM))
            chosen += bestDoc
            step += 1L
          }
          out.iterator
      }.toDF("q_id", "doc_id", "step", "mmr")
      sel.orderBy("q_id", "step")
    }),

    // STANDALONE BM25 ranker — the lexical half of hybrid retrieval as
    // its own oracle-checked surface (a search API serves "keyword
    // top-k" directly, not only inside a fusion): per query doc, the
    // top-10 corpus docs by micro-quantized BM25 with the score on the
    // row. Same staged stats + inverted-index join as the hybrid key;
    // at 100 TB this IS the query shape of a distributed search engine
    // (broadcast query terms × token-partitioned postings).
    "search_bm25_topk" -> ((s, d) => bm25TopK(s, d, 10)
      .orderBy("q_id", "rl")),

    "search_hybrid_rrf" -> ((s, d) => {
      val lex = bm25TopK(s, d, 20).select("q_id", "doc_id", "rl")
      val emb = withNorm(t(s, d, "embeddings"))
      val wv = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("doc_id").asc)
      val cv = emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id").as("doc_id"), col("embedding").as("ce"),
          col("nrm").as("cn"))
      val vec = broadcast(queryVecs(emb))
        .join(cv, col("q_id") =!= col("doc_id"))
        .withColumn("cos", cosine)
        .withColumn("rv", row_number().over(wv))
        .filter(col("rv") <= 20)
        .select("q_id", "doc_id", "rv")
      val wf = Window.partitionBy("q_id")
        .orderBy(col("rrf").desc, col("doc_id").asc)
      lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)))
        .withColumn("rn", row_number().over(wf))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("doc_id"),
          round(col("rrf") * 1e6).cast("long").as("rrf_micro"),
          col("rn"))
        .orderBy("q_id", "rn")
    }),

    // RANGE similarity search — the other half of the ANN API surface:
    // "everything within cosine >= τ of each query", not a fixed top-k
    // (dedup sweeps, recall-oriented retrieval, radius joins). Same
    // broadcast-query scan shape as simsearch_cosine_topk — the corpus
    // streams once, per-pair work is one codegen'd graft_dot, shuffles
    // carry (q_id, vec_id, cos) scalars — but no rank window at all:
    // the threshold filter is map-side, so the only exchange is the
    // presentation sort. Result cardinality is data-dependent by
    // design; τ = 0.4 matches the corpus's near-dup radius (the same
    // threshold dedup_embedding_cosine pairs at — this testdata's
    // planted neighbors sit around it). The IVF/LSH paths serve the
    // same query at scale by probing cells/buckets whose centroid
    // bound can still reach τ.
    "simsearch_range_query" -> ((s, d) => {
      val emb = withNorm(t(s, d, "embeddings"))
      broadcast(queryVecs(emb))
        .join(corpusVecs(s, emb), col("q_id") =!= col("vec_id"))
        .withColumn("cos", cosine)
        .filter(col("cos") >= 0.4)
        .select(col("q_id"), col("vec_id"),
          round(col("cos"), 4).as("cos_sim"))
        .orderBy("q_id", "vec_id")
    }),

    // Retrieval-quality report card for the ANN family — precision@10,
    // reciprocal rank, and NDCG@10 of the EXACT cosine top-10 against
    // label-match relevance (query's label = judgment), per query. The
    // eval every index variant (IVF, LSH, PQ, binary-rerank) is judged
    // against runs on ≤ |queries|×10 rows: one broadcast-query scan
    // (same shape as simsearch_cosine_topk), a rank window, then a
    // per-query fold. The NDCG ideal re-uses the rank column — IDCG =
    // Σ_{rn ≤ min(R,10)} 1/log2(rn+1) — so no second sequence is
    // generated; R (relevant corpus size per label) rides in on a
    // broadcast dim join. At 100 TB the judged set is still
    // queries×10 rows: eval cost is decoupled from corpus size.
    "eval_ranking_metrics" -> ((s, d) => {
      val emb = withNorm(t(s, d, "embeddings"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val labelCnt = t(s, d, "embeddings")
        .groupBy("label").agg(count(lit(1)).as("nlab"))
      broadcast(queryVecs(emb, col("label").as("qlabel")))
        .join(corpusVecs(s, emb, col("label").as("clabel")),
          col("q_id") =!= col("vec_id"))
        .withColumn("cos", cosine)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .withColumn("rel",
          (col("clabel") === col("qlabel")).cast("int"))
        .join(broadcast(labelCnt), col("qlabel") === col("label"))
        .withColumn("r_total", col("nlab") - 1)
        .groupBy("q_id", "qlabel")
        .agg(
          sum("rel").cast("long").as("n_rel_top10"),
          round(sum("rel") / lit(10.0), 4).as("precision_at_10"),
          round(coalesce(
            lit(1.0) / min(when(col("rel") === 1, col("rn"))),
            lit(0.0)), 4).as("reciprocal_rank"),
          round(
            sum(col("rel") / log2(col("rn") + 1)) /
              sum(when(col("rn") <= least(col("r_total"), lit(10)),
                lit(1.0) / log2(col("rn") + 1))
                .otherwise(lit(0.0))), 4).as("ndcg_at_10"))
        .select(col("q_id"), col("qlabel").as("label"),
          col("n_rel_top10"), col("precision_at_10"),
          col("reciprocal_rank"), col("ndcg_at_10"))
        .orderBy("q_id")
    }),

    // Greedy k-center (farthest-point) coreset over the embeddings —
    // the diversity sampler a curation pipeline runs to pick a SPREAD
    // of exemplars (and the classic 2-approximation to the k-center
    // optimum): seed with the smallest vec_id, then k−1 times add the
    // point farthest from its nearest already-chosen center. Each
    // round is ONE codegen'd scan updating the running min-distance²
    // column against only the NEWEST center (a broadcast array
    // literal, ‖x‖² precomputed — never a k×corpus join), plus a 1-row
    // TakeOrdered argmax; driver state is k centers, period. The
    // emitted radius is each pick's distance to the prior set — the
    // non-increasing coverage curve. Spec-gated: the iterative argmax
    // is not SQL-expressible; KcenterNoveltySpec replays it exactly.
    "sample_kcenter_diverse" -> ((s, d) => {
      import s.implicits._
      val k = 8
      val base = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("self", ndot(col("embedding"), col("embedding")))
        // LAZY: the seed collect below is the first action and
        // materializes it (r19 — one job, not checkpoint-job + collect)
        .localCheckpoint(false)
      val first = base.orderBy(col("vec_id").asc).limit(1).collect()(0)
      var centerVec = first.getSeq[Float](1)
      var centerSelf = first.getDouble(2)
      val picked = scala.collection.mutable.ListBuffer(
        (1, first.getLong(0), 0.0))
      var cur = base.withColumn("dmin", lit(Double.MaxValue))
      for (step <- 2 to k) {
        cur = cur.withColumn("dmin",
          least(col("dmin"),
            col("self") + lit(centerSelf) -
              lit(2.0) * ndot(col("embedding"), typedLit(centerVec))))
          // LAZY: the argmax collect materializes this round's frame —
          // halves the per-round job count (r19); lineage still truncates
          .localCheckpoint(false)
        val far = cur
          .filter(!col("vec_id").isInCollection(picked.map(_._2)))
          .orderBy(col("dmin").desc, col("vec_id").asc)
          .limit(1).collect()(0)
        picked += ((step, far.getLong(0),
          math.sqrt(math.max(far.getDouble(3), 0.0))))
        centerVec = far.getSeq[Float](1)
        centerSelf = far.getDouble(2)
      }
      picked.toSeq.toDF("step", "vec_id", "radius")
        .select(col("step"), col("vec_id"),
          round(col("radius"), 6).as("radius"))
        .orderBy("step")
    }),

    // Exact-duplicate embedding census — the free first pass every
    // vector-dedup pipeline runs BEFORE any cosine/LSH machinery: two
    // ingest runs of the same content produce bit-identical (or
    // rounding-identical) vectors, and removing them is a hash
    // group-by, not a similarity search. Identity = md5 of the vector
    // quantized to integer ten-thousandths (the repo's order-free float
    // idiom — exact integers on both engines, tolerant of float32
    // storage jitter below 1e-4). One map-side fingerprint projection →
    // a fingerprint-keyed count (vector bytes never shuffle — the
    // 32-char key does) → a label-keyed fold to the bounded census.
    // Scale: both exchanges are keyed and partial-aggregated; output is
    // |labels| rows.
    "dedup_embedding_exact" -> ((s, d) => {
      val fp = md5(array_join(transform(col("embedding"),
        x => round(x.cast("double") * 10000).cast("long").cast("string")),
        ","))
      t(s, d, "embeddings")
        .select(col("label").cast("long").as("label"), fp.as("fp"))
        .groupBy("label", "fp").agg(count(lit(1)).as("n"))
        .groupBy("label")
        .agg(sum("n").as("n_vecs"),
          count(lit(1)).as("n_distinct"),
          (sum("n") - count(lit(1))).as("n_dup_vecs"),
          max("n").as("max_group"))
        .orderBy("label")
    }),

    // Embedding-cosine near-dup pairs (exact): all pairs above threshold.
    // O(n²) baseline: guarded — at corpus scale the bucketed LSH twin
    // replaces the all-pairs join.
    "dedup_embedding_cosine" -> ((s, d) => {
      graft.operators.ScaleGuard.requireAtMost(
        t(s, d, "embeddings").select("vec_id"), 50000,
        "dedup_embedding_cosine", "simsearch_lsh_bucketed")
      val emb = withNorm(t(s, d, "embeddings"))
      // single-file source = one partition; spread the n² pair loop
      val a = emb.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id").as("va"), col("embedding").as("ea"),
          col("nrm").as("na"))
      val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      a.join(broadcast(b), col("va") < col("vb"))
        .withColumn("cos",
          ndot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") > 0.4)
        .select(col("va"), col("vb"), round(col("cos"), 4).as("cos_sim"))
        .orderBy("va", "vb")
    }),

    // SEMANTIC dedup end-to-end, the scale path: banded hyperplane LSH
    // generates candidate pairs (8 bands × 3 bits — even a borderline
    // pair at the 0.4 threshold, θ≈66°, collides in ≥1 band with p≈0.9;
    // band COUNT buys recall, band WIDTH cuts candidates, so a 100 TB
    // corpus widens bands and keeps ~8–16 of them), an EXACT cosine
    // verify keeps only real pairs (precision
    // 1.0 by construction — LSH only affects recall), and connected
    // components turns pairs into cluster ids so each doc maps to one
    // representative — the unit that leakage-safe splitting and
    // keep-one-per-cluster dedup consume. Shuffles carry (id, band,
    // bucket) ints and verified id pairs; full vectors appear only
    // inside the bucket-local verify join, never all-pairs. No oracle
    // by design (LSH recall is probabilistic); the spec pins precision
    // = 1.0 and recall vs the exact O(n²) pair baseline.
    "dedup_semantic_cluster" -> ((s, d) => {
      val assigned = semanticClustersStaged(s, d)
      val sizes = assigned.groupBy("cluster_rep")
        .agg(count(lit(1)).as("cluster_size"))
      assigned.join(sizes, "cluster_rep")
        .select("vec_id", "cluster_rep", "cluster_size")
        .orderBy("vec_id")
    }),

    // INCREMENTAL near-dup index refresh — the production question "a
    // new batch arrived; update the cluster state WITHOUT re-clustering
    // the corpus". The staged base holds the old slice's (90%)
    // assignment and band-bucket table; this query (1) computes band
    // buckets for the NEW slice only, (2) joins new buckets against
    // (old ∪ new) buckets — every candidate it generates has a new
    // side, so old-old pair work is never repeated, (3) exact-verifies
    // those candidates, (4) CONTRACTS each old cluster to its rep
    // super-node (map new-edge endpoints through the persisted
    // assignment) and runs connected components over the contracted
    // NEW edges only — old-old edges were absorbed into the assignment
    // at base build and are never re-walked, so the CC input is
    // batch-sized, not corpus-sized. Contraction preserves labels
    // exactly (a rep IS its old component's min id, so the contracted
    // min equals the merged component's min): the result is IDENTICAL
    // to clustering the full corpus from scratch — the spec asserts
    // exact equality with dedup_semantic_cluster's assignment. No
    // oracle (inherits the LSH banding); spec-pinned instead.
    "dedup_incremental_index" -> ((s, d) => {
      val base = incrBaseStaged(s, d)
      val emb = withNorm(t(s, d, "embeddings"))
      val newB = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), ccPackedBuckets(col("embedding")).as("pk"))
        .localCheckpoint(true) // 24 hyperplane dots once, two consumers
      val oldB = s.read.parquet(s"$base/buckets")
      val aK = ccExplodeBands(oldB.unionByName(newB))
        .select(col("vec_id").as("va"), col("pk").as("pka"),
          col("band"), col("bucket"))
      val bK = ccExplodeBands(newB)
        .select(col("vec_id").as("vb"), col("pk").as("pkb"),
          col("band"), col("bucket"))
      // old ids appear only on the a-side, so an old-new pair surfaces
      // exactly once (kept regardless of id order); a new-new pair
      // surfaces in both orientations and the va<vb guard keeps one
      val cand = aK.join(bK, Seq("band", "bucket"))
        .filter(col("va") =!= col("vb") &&
          (col("va") % 10 =!= 0 || col("va") < col("vb")) &&
          col("band") === ccFirstMatchBand(col("pka"), col("pkb")))
        .select(least(col("va"), col("vb")).as("va"),
          greatest(col("va"), col("vb")).as("vb"))
      val newEdges = ccVerify(s, cand, emb)
      val asg = s.read.parquet(s"$base/assign")
      // contract: endpoint → its old rep (new ids map to themselves)
      val contracted = newEdges
        .join(asg.select(col("vec_id").as("src"),
          col("cluster_rep").as("ra")), Seq("src"), "left")
        .join(asg.select(col("vec_id").as("dst"),
          col("cluster_rep").as("rb")), Seq("dst"), "left")
        .select(coalesce(col("ra"), col("src")).as("src"),
          coalesce(col("rb"), col("dst")).as("dst"))
      val cc = graft.operators.ConnectedComponents(contracted)
      // compose: old rows re-label through their rep, new rows directly
      val oldFinal = asg
        .join(cc.select(col("v").as("cluster_rep"), col("comp")),
          Seq("cluster_rep"), "left")
        .select(col("vec_id"),
          coalesce(col("comp"), col("cluster_rep")).as("cluster_rep"))
      val newFinal = emb.filter(col("vec_id") % 10 === 0)
        .select("vec_id")
        .join(cc.select(col("v").as("vec_id"), col("comp")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("comp"), col("vec_id")).as("cluster_rep"))
      oldFinal.unionByName(newFinal)
        .select(col("vec_id"), col("cluster_rep"),
          (col("vec_id") % 10 === 0).as("is_new"))
        .orderBy("vec_id")
    }),

    // Survivor selection — the dedup capstone: each semantic cluster
    // keeps exactly ONE document (the longest text, ties to the lowest
    // id — a deterministic "best" any policy can replace), everything
    // else is dropped. One max_by hash aggregation over the STAGED
    // cluster assignment joined to doc metadata: clustering is a
    // persisted artifact consumed here, not re-derived per query (the
    // r6 dedup_cluster_scale lesson), and there is no window or corpus
    // sort. Emits the kept doc per cluster plus how many it displaced
    // — the number a curation run reports as its dedup rate. No oracle
    // (inherits the LSH cluster assignment); the spec pins the policy.
    "dedup_keep_best" -> ((s, d) => {
      val clusters = semanticClustersStaged(s, d)
      val meta = t(s, d, "documents")
        .select(col("doc_id").as("vec_id"), col("n_chars"))
      clusters.join(meta, Seq("vec_id"))
        .withColumn("pick", struct(col("n_chars"), -col("vec_id")))
        .groupBy("cluster_rep")
        .agg(expr("max_by(vec_id, pick)").as("kept_doc"),
          max("n_chars").as("kept_chars"),
          (count(lit(1)) - 1).as("n_dropped"))
        .orderBy("cluster_rep")
    }),



    // Approximate ANN: random-hyperplane LSH — candidates share the 8-bit
    // sign bucket of the query; top-5 by exact cosine within the bucket.
    // No oracle (approximate recall); ScalaTest checks bucket determinism
    // and recall against the brute-force twin.
    "simsearch_lsh_bucketed" -> ((s, d) => {
      val withB = lshBuckets(s, d)
      rankTop(broadcast(queryVecs(withB, col("bucket")))
        .join(lshCorpus(withB), Seq("bucket"))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cos", cosine), 5)
    }),
    // Multiprobe LSH: the recall repair for bucketed LSH WITHOUT
    // touching the corpus side — each query probes its own bucket PLUS
    // every hamming-1 neighbor bucket (one sign-bit flip per plane).
    // The ×(planes+1) expansion happens on the broadcast QUERY side
    // only (queries ≪ corpus); the index is still scanned once and each
    // candidate matches at most one probe value (it has one bucket), so
    // no dedup join is needed. Standard trade: single-probe misses a
    // near neighbor whose projection sits just across ONE hyperplane —
    // exactly the candidates hamming-1 probing recovers; the spec
    // asserts recall@5 strictly dominates the single-probe twin on
    // fixed queries. No oracle by design (approximate recall), same as
    // simsearch_lsh_bucketed.
    "simsearch_lsh_multiprobe" -> ((s, d) => {
      val withB = lshBuckets(s, d)
      val probeCols = col("qb") +: planes.indices.map(i =>
        col("qb").bitwiseXOR(lit(1 << i)))
      val probes = queryVecs(withB, col("bucket").as("qb"))
        .withColumn("bucket", explode(array(probeCols: _*)))
      rankTop(broadcast(probes).join(lshCorpus(withB), Seq("bucket"))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cos", cosine), 5)
    }),

    // IVF-style ANN: a coarse quantizer (K=16 centroids trained by
    // distributed Lloyd's k-means, deterministically seeded) partitions
    // the index; each vector is soft-assigned to its SoftAssign nearest
    // centroids, queries probe the nprobe nearest cells and rank
    // candidates by exact cosine. This is
    // the inverted-file shape: at scale the assignment is a cheap
    // map-side pass and the probe join touches nprobe/K of the index
    // instead of all of it. The codebook inlines as a literal into the
    // native graft_nearest_cells expression, so the assignment pass over
    // the full index stays inside whole-stage codegen — no UDF boundary
    // (asserted in PhysicalSpec). No oracle (approximate recall — measured
    // against the brute-force twin in ScalaTest).
    "simsearch_ivf_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val codebook = typedlit(trainedCodebook(s, d))
      val c = withNorm(emb.repartition(s.sparkContext.defaultParallelism))
        .select(col("vec_id"), col("embedding").as("ce"), col("nrm").as("cn"),
          explode(nearestCells(codebook, SoftAssign)).as("cell"))
      val q = queryVecs(withNorm(emb),
        explode(nearestCells(codebook, NProbe)).as("cell"))
      // a candidate can surface via several probed cells — dedupe before
      // ranking (all duplicates carry the identical cos)
      rankTop(broadcast(q).join(c, Seq("cell"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"), cosine.as("cos"))
        .dropDuplicates("q_id", "vec_id"), 5)
    }),
    // Distributed vector centroids (the "train a coarse quantizer /
    // cluster prototype" step): per-group mean vector via posexplode →
    // (group, position) keyed average — the shape that scales, because no
    // task ever holds more than one dimension's running sum, versus a
    // per-executor full-vector accumulator that needs a custom UDAF.
    // Output is each centroid's L2 norm (scalar, oracle-able) — the
    // centroid itself is array-typed and the gate can't hash arrays.
    "embedding_centroid_norm" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select((col("vec_id") % 4).as("grp"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
      emb.groupBy("grp", "pos")
        .agg(avg(col("v").cast("double")).as("m"))
        .groupBy("grp")
        .agg(round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"),
          count(lit(1)).as("dims"))
        .orderBy("grp")
    }),

    // Embedding-quality norm audit — the pre-training gate every
    // embedding corpus needs: collapsed/exploded vectors (bad encoder
    // batches, zero rows, fp overflow) surface as L2-norm outliers.
    // Robust statistics on purpose: median + MAD, not mean + stddev — a
    // corrupted shard would drag a mean-based fence toward itself.
    // Shape at 100 TB: per-vector norm is one codegen'd graft_dot
    // (map-side, vectors never shuffle); everything after is label-keyed
    // over scalar (label, l2) rows, with the per-label stats broadcast
    // back for the outlier count. Exact percentile runs per label over
    // label-cardinality-bounded groups.
    "embedding_norm_audit" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          sqrt(ndot(col("embedding"), col("embedding"))).as("l2"))
        .localCheckpoint(true) // one dot pass: med, mad and fence scans
      val med = e.groupBy("label")
        .agg(expr("percentile(l2, 0.5)").as("med"),
          count(lit(1)).as("n_vecs"))
      val mad = e.join(broadcast(med), "label")
        .groupBy("label", "med", "n_vecs")
        .agg(expr("percentile(abs(l2 - med), 0.5)").as("mad"))
      e.join(broadcast(mad), "label")
        .groupBy("label", "med", "mad", "n_vecs")
        .agg(count(when(abs(col("l2") - col("med")) > col("mad") * 3, 1))
          .as("n_outliers"))
        .select(col("label"), round(col("med"), 4).as("med_norm"),
          round(col("mad"), 4).as("mad_norm"), col("n_vecs"),
          col("n_outliers"))
        .orderBy("label")
    }),

    // Matryoshka-truncation audit — the question behind every
    // dimension-reduced serving tier: "how much top-k quality do the
    // first 16 of 64 dimensions keep?". For each query vector, exact
    // top-5 neighbors under FULL cosine and under TRUNCATED (prefix
    // slice) cosine are ranked side by side in one pass — two window
    // ranks over the same broadcast-query pair stream — and the per-
    // query overlap@5 is the recall the cheaper tier would serve.
    // Fully deterministic (exact ranks, unique tie-break), so unlike
    // the LSH/IVF/PQ ANN family this audit ORACLES; the scan computes
    // both dots via the codegen'd graft_dot, pairs shuffle as scalars.
    "simsearch_matryoshka_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dotc = (a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =>
        call_function("graft_dot", a, b)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          slice(col("embedding"), 1, 16).as("qe16"))
      val c = emb.select(col("vec_id"), col("embedding").as("ce"),
        slice(col("embedding"), 1, 16).as("ce16"))
      val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          (dotc(col("qe"), col("ce")) /
            (sqrt(dotc(col("qe"), col("qe"))) *
              sqrt(dotc(col("ce"), col("ce"))))).as("cos_full"),
          (dotc(col("qe16"), col("ce16")) /
            (sqrt(dotc(col("qe16"), col("qe16"))) *
              sqrt(dotc(col("ce16"), col("ce16"))))).as("cos_16"))
      val wf = Window.partitionBy("q_id")
        .orderBy(col("cos_full").desc, col("vec_id").asc)
      val wt = Window.partitionBy("q_id")
        .orderBy(col("cos_16").desc, col("vec_id").asc)
      scored
        .withColumn("in_full", row_number().over(wf) <= 5)
        .withColumn("in_16", row_number().over(wt) <= 5)
        .groupBy("q_id")
        .agg(count(when(col("in_full") && col("in_16"), 1)).as("n_common"))
        .select(col("q_id"), col("n_common"),
          round(col("n_common") / 5.0, 4).as("recall_at5"))
        .orderBy("q_id")
    }),

    // Tall-skinny PCA of the embedding corpus — the whitening /
    // dimensionality-reduction step before clustering or coarse
    // quantization. Distributed part is ONE mergeable partial aggregate
    // (graft.functions.GramMoments): count + per-dim sum + packed
    // upper-triangular Σ x·xᵀ, an O(d²) ≈ 17 KB task buffer whatever the
    // corpus size; the 64×64 covariance eigendecomposition runs on the
    // driver (cyclic Jacobi — deterministic), exactly where RowMatrix
    // draws the same line. A second broadcast map pass projects every
    // vector onto the top-8 components and aggregates per-component
    // projection variance, which must reproduce the eigenvalue — the
    // audit that the projection actually works. oracle=no (sum order
    // varies the low double bits); PcaSpec pins orthonormality,
    // eigenvalue order, trace preservation, and proj_var ≈ eigenvalue.
    "embedding_pca_project" -> ((s, d) => {
      import s.implicits._
      val dDim = 64; val k = 8
      val emb = t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      val buf = emb.select(col("embedding")).as[Seq[Float]]
        .select(new graft.functions.GramMoments(dDim).toColumn)
        .head()
      val n = buf.n.toDouble
      val mean = buf.sum.map(_ / n)
      // unpack upper-triangular Σx·xᵀ into the full covariance matrix
      val cov = new Array[Double](dDim * dDim)
      var idx = 0
      for (i <- 0 until dDim; j <- i until dDim) {
        val c = buf.gram(idx) / n - mean(i) * mean(j)
        cov(i * dDim + j) = c; cov(j * dDim + i) = c
        idx += 1
      }
      val (evals, evecs) = graft.functions.Jacobi.symEigen(cov, dDim)
      val trace = (0 until dDim).map(i => cov(i * dDim + i)).sum
      val topVals = evals.take(k)
      val bMean = s.sparkContext.broadcast(mean)
      val bComps = s.sparkContext.broadcast(evecs.take(k))
      // projection audit: per-partition tight loop over broadcast
      // components (embarrassingly parallel map), then a k-row aggregate
      val projVar = emb.select(col("embedding")).as[Seq[Float]]
        .mapPartitions { it =>
          val m = bMean.value; val comps = bComps.value
          it.flatMap { x =>
            comps.indices.map { c =>
              val w = comps(c)
              var scr = 0.0
              var i = 0
              while (i < w.length) { scr += (x(i) - m(i)) * w(i); i += 1 }
              (c, scr * scr)
            }
          }
        }
        .toDF("component", "sq")
        .groupBy("component").agg(avg("sq").as("pv"))
      val eigDf = topVals.zipWithIndex
        .map { case (ev, i) => (i, ev, ev / trace) }
        .toSeq.toDF("component", "ev", "ratio")
      eigDf.join(projVar, "component")
        .select(col("component"), round(col("ev"), 6).as("eigenvalue"),
          round(col("ratio"), 4).as("var_explained"),
          round(col("pv"), 6).as("proj_var"))
        .orderBy("component")
    }),

    // Scalar int8 quantization audit — the memory-compression step a
    // vector store applies before PQ is even considered: per-DIMENSION
    // affine [min,max] → 0..255 codes, reported as the reconstruction
    // error each dimension pays. Two passes over (dim, value) pairs —
    // a 64-row stats aggregate that broadcasts back onto the exploded
    // scan — so no task ever holds a full vector accumulator and the
    // shuffled rows are (dim, double) pairs, corpus-size-independent
    // past the per-dim agg. The quantize/dequantize expression is the
    // SAME text in both engines, so the strict per-row errors (and
    // their max) compare bit-exactly; only rmse crosses an
    // order-dependent avg and is rounded.
    "embedding_quantize_int8" -> ((s, d) => {
      val dims = t(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "vf")))
        .select(col("dim").cast("long").as("dim"),
          col("vf").cast("double").as("v"))
      val stats = dims.groupBy("dim")
        .agg(min("v").as("mn"), max("v").as("mx"))
        .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
      val deq = round((col("v") - col("mn")) / col("scale")) *
        col("scale") + col("mn")
      dims.join(broadcast(stats), "dim")
        .withColumn("err", col("v") - deq)
        .groupBy("dim", "mn", "mx")
        .agg(round(sqrt(avg(col("err") * col("err"))), 6).as("rmse"),
          round(max(abs(col("err"))), 6).as("max_abs_err"))
        .select(col("dim"), round(col("mn"), 4).as("d_min"),
          round(col("mx"), 4).as("d_max"), col("rmse"),
          col("max_abs_err"))
        .orderBy("dim")
    }),

    // Per-dimension embedding audit — the dead/degenerate-dimension
    // screen an encoder-health pass runs before any ANN index is built:
    // a dimension with ~zero variance wastes index capacity, and a
    // dimension of exact zeros usually means a truncated/misaligned
    // export. One posexplode pass → a dim-keyed (64-row) moment
    // aggregate; the exchange carries per-dim partials, never vectors.
    "embedding_dim_audit" -> ((s, d) => {
      t(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "vf")))
        .select(col("pos"), col("vf").cast("double").as("v"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("v"), 4).as("mean_v"),
          round(stddev_samp(col("v")), 4).as("sd_v"),
          sum(when(col("v") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          round(max(abs(col("v"))), 4).as("max_abs"))
        .orderBy("pos")
    }),

    // Intra-class cohesion histogram: each vector's cosine to its OWN
    // label centroid, binned per label — the encoder-health readout that
    // says whether classes are tight (cohesion near 1) or smeared
    // (flat histogram) before anyone trains on the embeddings. Shape:
    // one posexplode pass builds the (label, dim) centroid (bounded by
    // labels × dims, broadcast back), the same exploded stream folds the
    // three per-vector moments (dot, |v|², |c|²) in one keyed aggregate,
    // and the report is a ≤labels×11-cell fold. Cosines quantize to
    // INTEGER ten-thousandths (c4 = round(cos·10⁴)) before any further
    // aggregation: integer sums are exact and ORDER-FREE, so the bin
    // average cannot flip a rounding boundary with the partial-agg
    // merge order (a double avg of the rounded cosines did exactly
    // that between two otherwise-identical runs — run-to-run task
    // completion order moved the low bits across a .00005 edge).
    "embedding_cohesion_hist" -> ((s, d) => {
      val ev = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "vf")))
        .select(col("vec_id"), col("label"), col("pos"),
          col("vf").cast("double").as("v"))
      // centroid coordinates quantize to integer MILLIONTHS: avg(v) is a
      // merge-order-sensitive double, and it feeds every cosine in the
      // label — the dominant cross-engine noise term (observed: one c4
      // sat on a .00005 edge at sf0.001 and flipped a bin average's 4th
      // decimal). Snapping m to a 1e-6 grid makes the per-vector cosine
      // a fixed scalar function of exact inputs up to the 64-term dot
      // fold (~1e-14 relative — five orders under the c4 boundary).
      val cent = ev.groupBy("label", "pos")
        .agg((round(avg("v") * 1e6) / 1e6).as("m"))
      val per = ev.join(broadcast(cent), Seq("label", "pos"))
        .groupBy("vec_id", "label")
        .agg(sum(col("v") * col("m")).as("dot"),
          sum(col("v") * col("v")).as("nv"),
          sum(col("m") * col("m")).as("nc"))
        .select(col("label"),
          round(col("dot") / (sqrt(col("nv")) * sqrt(col("nc"))) *
            10000, 0).cast("long").as("c4"))
      // scale-0 rounding on the exact-integer ratio, then one shared
      // division — round(x, 4) is engine-split at boundaries even on
      // identical inputs (Spark rounds the binary double's exact
      // decimal; DuckDB scales in doubles first)
      per.groupBy(col("label"),
          floor(col("c4") / lit(1000.0)).cast("int").as("bin"))
        .agg(count(lit(1)).as("n_vecs"),
          (round(sum("c4").cast("double") / count(lit(1))) /
            lit(10000.0)).as("avg_cos"))
        .orderBy("label", "bin")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // same per-dim unnest via the range(0,64) subscript join the
    // centroid-norm oracle established; float-exact zero test both sides
    "embedding_dim_audit" ->
      """SELECT CAST(i AS INT) AS pos, count(*) AS n_vecs,
        |       round(avg(v), 4) AS mean_v,
        |       round(stddev_samp(v), 4) AS sd_v,
        |       CAST(sum(CASE WHEN v = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero,
        |       round(max(abs(v)), 4) AS max_abs
        |FROM (
        |  SELECT i.i AS i,
        |         CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) AS v
        |  FROM embeddings CROSS JOIN range(0, 64) i(i)
        |)
        |GROUP BY i ORDER BY pos""".stripMargin,
    "embedding_centroid_norm" ->
      """SELECT grp, round(sqrt(sum(m * m)), 4) AS centroid_norm,
        |       count(*) AS dims
        |FROM (
        |  SELECT vec_id % 4 AS grp, i.i AS pos,
        |         avg(CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE)) AS m
        |  FROM embeddings CROSS JOIN range(0, 64) i(i)
        |  GROUP BY 1, 2
        |) GROUP BY grp ORDER BY grp""".stripMargin,
    // same sqrt(list_dot_product) norm arithmetic as simsearch_binary_
    // rerank; quantile_cont == Spark's exact percentile (both type-7)
    "embedding_norm_audit" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[]))) AS l2
        |  FROM embeddings
        |), m AS (
        |  SELECT label, quantile_cont(l2, 0.5) AS med,
        |         count(*) AS n_vecs
        |  FROM e GROUP BY label
        |), f AS (
        |  SELECT e.label, med, n_vecs,
        |         quantile_cont(abs(l2 - med), 0.5) AS mad
        |  FROM e JOIN m USING (label) GROUP BY e.label, med, n_vecs
        |)
        |SELECT e.label, round(med, 4) AS med_norm,
        |       round(mad, 4) AS mad_norm, n_vecs,
        |       CAST(count_if(abs(l2 - med) > mad * 3) AS BIGINT)
        |         AS n_outliers
        |FROM e JOIN f ON e.label = f.label
        |GROUP BY e.label, med, mad, n_vecs
        |ORDER BY e.label""".stripMargin,
    // identical md5-char hash, rank arithmetic and equi-joins; DuckDB's
    // % on positive ints == Spark's pmod here
    "sample_contrastive_triplets" ->
      """WITH ranked AS (
        |  SELECT vec_id, label,
        |         row_number() OVER (PARTITION BY label ORDER BY vec_id)
        |           AS rn
        |  FROM embeddings
        |), sizes AS (
        |  SELECT label, count(*) AS n_l FROM embeddings GROUP BY label
        |), k AS (SELECT count(DISTINCT label) AS k FROM embeddings),
        |h AS (
        |  SELECT r.vec_id, r.label, r.rn, s.n_l, k.k,
        |         (ascii(substr(md5('pos:' || CAST(r.vec_id AS VARCHAR)),
        |             1, 1)) * 65536 +
        |          ascii(substr(md5('pos:' || CAST(r.vec_id AS VARCHAR)),
        |             2, 1)) * 256 +
        |          ascii(substr(md5('pos:' || CAST(r.vec_id AS VARCHAR)),
        |             3, 1))) AS hp,
        |         (ascii(substr(md5('neg:' || CAST(r.vec_id AS VARCHAR)),
        |             1, 1)) * 65536 +
        |          ascii(substr(md5('neg:' || CAST(r.vec_id AS VARCHAR)),
        |             2, 1)) * 256 +
        |          ascii(substr(md5('neg:' || CAST(r.vec_id AS VARCHAR)),
        |             3, 1))) AS hn
        |  FROM ranked r JOIN sizes s USING (label), k
        |), a AS (
        |  SELECT vec_id, label, rn, n_l, k, hn,
        |         CASE WHEN (hp % (n_l - 1)) + 1 >= rn
        |              THEN (hp % (n_l - 1)) + 2
        |              ELSE (hp % (n_l - 1)) + 1 END AS pos_rn,
        |         (label + 1) % k AS neg_label
        |  FROM h
        |), b AS (
        |  SELECT a.*, (hn % s2.n_l) + 1 AS neg_rn
        |  FROM a JOIN sizes s2 ON s2.label = a.neg_label
        |)
        |SELECT b.vec_id AS anchor_id, b.label, p.vec_id AS pos_id,
        |       n.vec_id AS neg_id, b.neg_label
        |FROM b
        |JOIN ranked p ON p.label = b.label AND p.rn = b.pos_rn
        |JOIN ranked n ON n.label = b.neg_label AND n.rn = b.neg_rn
        |ORDER BY anchor_id""".stripMargin,
    // stage 1 recomputed positionally: the sign-disagreement count over
    // dims IS the popcount of the packed xor; stage 2 identical cosine
    "simsearch_binary_rerank" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), q AS (
        |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8
        |), h AS (
        |  SELECT q_id, vec_id, v, qv,
        |         CAST(len(list_filter(range(1, 65),
        |           i -> (v[i] > 0) <> (qv[i] > 0))) AS INT) AS ham
        |  FROM e JOIN q ON vec_id <> q_id
        |), s AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |           ORDER BY ham ASC, vec_id ASC) AS hrn
        |  FROM h
        |), c AS (
        |  SELECT q_id, vec_id, ham,
        |         list_dot_product(v, qv) /
        |           (sqrt(list_dot_product(v, v)) *
        |            sqrt(list_dot_product(qv, qv))) AS cos
        |  FROM s WHERE hrn <= 50
        |), r AS (
        |  SELECT q_id, vec_id, round(cos, 4) AS cos_sim, ham,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cos DESC, vec_id ASC) AS rn
        |  FROM c
        |)
        |SELECT q_id, vec_id, cos_sim, ham, rn FROM r
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "simsearch_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
        |), sc AS (
        |  SELECT q_id, vec_id,
        |         list_dot_product(qe, ce) /
        |           (sqrt(list_dot_product(qe, qe)) *
        |            sqrt(list_dot_product(ce, ce))) AS cos
        |  FROM q JOIN c ON vec_id <> q_id
        |), r AS (
        |  SELECT q_id, vec_id, cos,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cos DESC, vec_id ASC) AS rn
        |  FROM sc
        |)
        |SELECT q_id, vec_id, round(cos, 4) AS cos_sim, rn FROM r
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    // both rankers recomputed independently, fused with the same
    // 1/(60+rank) arithmetic; CAST(1 AS DOUBLE) keeps DuckDB out of
    // DECIMAL division, round at scale 0 on the shared double
    "search_mmr_rerank" -> mmrOracle,
    "search_bm25_topk" -> (bm25OracleCte +
      """, r AS (
        |  SELECT q_id, doc_id, bm,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY bm DESC, doc_id ASC) AS rl
        |  FROM lex0
        |)
        |SELECT q_id, doc_id, bm AS bm25_micro, rl
        |FROM r WHERE rl <= 10 ORDER BY q_id, rl""".stripMargin),
    "search_hybrid_rrf" -> (bm25OracleCte +
      """, lex AS (
        |  SELECT q_id, doc_id, rl FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY bm DESC, doc_id ASC) AS rl FROM lex0)
        |  WHERE rl <= 20
        |), qv AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8
        |), cv AS (
        |  SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings
        |), vec0 AS (
        |  SELECT q_id, doc_id,
        |         list_dot_product(qe, ce) /
        |           (sqrt(list_dot_product(qe, qe)) *
        |            sqrt(list_dot_product(ce, ce))) AS cos
        |  FROM qv JOIN cv ON doc_id <> q_id
        |), vec AS (
        |  SELECT q_id, doc_id, rv FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, doc_id ASC) AS rv FROM vec0)
        |  WHERE rv <= 20
        |), fused AS (
        |  SELECT coalesce(l.q_id, v.q_id) AS q_id,
        |         coalesce(l.doc_id, v.doc_id) AS doc_id,
        |         coalesce(CAST(1 AS DOUBLE) / (60 + rl), 0) +
        |         coalesce(CAST(1 AS DOUBLE) / (60 + rv), 0) AS rrf
        |  FROM lex l FULL OUTER JOIN vec v
        |    ON l.q_id = v.q_id AND l.doc_id = v.doc_id
        |), r AS (
        |  SELECT q_id, doc_id, rrf, row_number() OVER (PARTITION BY q_id
        |    ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused
        |)
        |SELECT CAST(q_id AS BIGINT) AS q_id,
        |       CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(round(rrf * 1000000) AS BIGINT) AS rrf_micro, rn
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin),
    // same ranking arithmetic as the unfiltered twin with the metadata
    // predicate on the candidate side only (queries stay unscoped)
    "simsearch_filtered_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings WHERE label IN (0, 2, 4, 6, 8)
        |), sc AS (
        |  SELECT q_id, vec_id,
        |         list_dot_product(qe, ce) /
        |           (sqrt(list_dot_product(qe, qe)) *
        |            sqrt(list_dot_product(ce, ce))) AS cos
        |  FROM q JOIN c ON vec_id <> q_id
        |), r AS (
        |  SELECT q_id, vec_id, cos,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cos DESC, vec_id ASC) AS rn
        |  FROM sc
        |)
        |SELECT q_id, vec_id, round(cos, 4) AS cos_sim, rn FROM r
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    // same broadcast-query scan arithmetic, threshold filter instead of
    // the rank window
    "simsearch_range_query" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
        |), sc AS (
        |  SELECT q_id, vec_id,
        |         list_dot_product(qe, ce) /
        |           (sqrt(list_dot_product(qe, qe)) *
        |            sqrt(list_dot_product(ce, ce))) AS cos
        |  FROM q JOIN c ON vec_id <> q_id
        |)
        |SELECT q_id, vec_id, round(cos, 4) AS cos_sim
        |FROM sc WHERE cos >= 0.4
        |ORDER BY q_id, vec_id""".stripMargin,
    // same exact-cosine top-10, label-match relevance, and rank-column
    // IDCG fold
    "eval_ranking_metrics" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe,
        |         label AS qlabel
        |  FROM embeddings WHERE vec_id < 8
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
        |         label AS clabel
        |  FROM embeddings
        |), sc AS (
        |  SELECT q_id, qlabel, vec_id, clabel,
        |         list_dot_product(qe, ce) /
        |           (sqrt(list_dot_product(qe, qe)) *
        |            sqrt(list_dot_product(ce, ce))) AS cos
        |  FROM q JOIN c ON vec_id <> q_id
        |), r AS (
        |  SELECT q_id, qlabel, clabel,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cos DESC, vec_id ASC) AS rn
        |  FROM sc
        |), lc AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS nlab
        |  FROM embeddings GROUP BY label
        |), t AS (
        |  SELECT q_id, qlabel, rn,
        |         CASE WHEN clabel = qlabel THEN 1 ELSE 0 END AS rel,
        |         nlab - 1 AS r_total
        |  FROM r JOIN lc ON qlabel = lc.label WHERE rn <= 10
        |)
        |SELECT q_id, qlabel AS label,
        |       CAST(sum(rel) AS BIGINT) AS n_rel_top10,
        |       round(CAST(sum(rel) AS DOUBLE) / 10.0, 4)
        |         AS precision_at_10,
        |       round(coalesce(CAST(1.0 AS DOUBLE) /
        |               min(CASE WHEN rel = 1 THEN rn END),
        |             CAST(0.0 AS DOUBLE)), 4) AS reciprocal_rank,
        |       round(sum(rel / log2(CAST(rn AS DOUBLE) + 1)) /
        |             sum(CASE WHEN rn <= least(r_total, 10)
        |                 THEN CAST(1.0 AS DOUBLE) /
        |                      log2(CAST(rn AS DOUBLE) + 1)
        |                 ELSE CAST(0.0 AS DOUBLE) END), 4)
        |         AS ndcg_at_10
        |FROM t GROUP BY q_id, qlabel ORDER BY q_id""".stripMargin,
    // same ten-thousandths quantization and md5-of-joined-ints identity
    "dedup_embedding_exact" ->
      """WITH fp AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         md5(array_to_string(list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)),
        |           ',')) AS fp
        |  FROM embeddings
        |), g AS (
        |  SELECT label, fp, CAST(count(*) AS BIGINT) AS n
        |  FROM fp GROUP BY label, fp
        |)
        |SELECT label, CAST(sum(n) AS BIGINT) AS n_vecs,
        |       count(*) AS n_distinct,
        |       CAST(sum(n) - count(*) AS BIGINT) AS n_dup_vecs,
        |       max(n) AS max_group
        |FROM g GROUP BY label ORDER BY label""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        |       round(list_dot_product(a.v, b.v) /
        |         (sqrt(list_dot_product(a.v, a.v)) *
        |          sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) *
        |     sqrt(list_dot_product(b.v, b.v))) > 0.4
        |ORDER BY va, vb""".stripMargin,
    "simsearch_matryoshka_recall" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe,
        |         CAST(embedding[1:16] AS DOUBLE[]) AS qe16
        |  FROM embeddings WHERE vec_id < 8
        |), c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
        |         CAST(embedding[1:16] AS DOUBLE[]) AS ce16
        |  FROM embeddings
        |), sc AS (
        |  SELECT q_id, vec_id,
        |         list_dot_product(qe, ce) /
        |           (sqrt(list_dot_product(qe, qe)) *
        |            sqrt(list_dot_product(ce, ce))) AS cos_full,
        |         list_dot_product(qe16, ce16) /
        |           (sqrt(list_dot_product(qe16, qe16)) *
        |            sqrt(list_dot_product(ce16, ce16))) AS cos_16
        |  FROM q JOIN c ON vec_id <> q_id
        |), r AS (
        |  SELECT q_id, vec_id,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cos_full DESC, vec_id ASC) <= 5 AS in_full,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cos_16 DESC, vec_id ASC) <= 5 AS in_16
        |  FROM sc
        |)
        |SELECT q_id, CAST(count_if(in_full AND in_16) AS BIGINT)
        |         AS n_common,
        |       round(CAST(count_if(in_full AND in_16) AS BIGINT) / 5.0, 4)
        |         AS recall_at5
        |FROM r GROUP BY q_id ORDER BY q_id""".stripMargin,
    "embedding_quantize_int8" ->
      """WITH dims AS (
        |  SELECT i.i AS dim,
        |         CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) AS v
        |  FROM embeddings CROSS JOIN range(0, 64) i(i)
        |), st AS (
        |  SELECT dim, min(v) AS mn, max(v) AS mx,
        |         (max(v) - min(v)) / 255.0 AS scale
        |  FROM dims GROUP BY dim
        |), e AS (
        |  SELECT d.dim, st.mn, st.mx,
        |         d.v - (round((d.v - st.mn) / st.scale) * st.scale + st.mn)
        |           AS err
        |  FROM dims d JOIN st USING (dim)
        |)
        |SELECT dim, round(mn, 4) AS d_min, round(mx, 4) AS d_max,
        |       round(sqrt(avg(err * err)), 6) AS rmse,
        |       round(max(abs(err)), 6) AS max_abs_err
        |FROM e GROUP BY dim, mn, mx ORDER BY dim""".stripMargin,
    // same centroid fold, same integer-ten-thousandth quantization —
    // exact order-free sums on both engines
    "embedding_cohesion_hist" ->
      """WITH ev AS (
        |  SELECT vec_id, label, CAST(i.i AS INT) AS pos,
        |         CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) AS v
        |  FROM embeddings CROSS JOIN range(0, 64) i(i)
        |), cent AS (
        |  SELECT label, pos, round(avg(v) * 1e6) / 1e6 AS m
        |  FROM ev GROUP BY label, pos
        |), per AS (
        |  SELECT ev.vec_id, ev.label,
        |         CAST(round(sum(ev.v * cent.m) /
        |           (sqrt(sum(ev.v * ev.v)) * sqrt(sum(cent.m * cent.m)))
        |           * 10000, 0) AS BIGINT) AS c4
        |  FROM ev JOIN cent ON ev.label = cent.label AND ev.pos = cent.pos
        |  GROUP BY ev.vec_id, ev.label
        |)
        |SELECT label, CAST(floor(c4 / 1000.0) AS INT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(CAST(sum(c4) AS DOUBLE) / count(*)) / 10000.0
        |         AS avg_cos
        |FROM per GROUP BY label, bin ORDER BY label, bin""".stripMargin,
  )
}
