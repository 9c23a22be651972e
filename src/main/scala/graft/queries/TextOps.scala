package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text analysis + deduplication over the `documents` table — SURVEY.md §2.B
  * rows B43, B44, B46 plus the training-data-pipeline operators the north
  * star asks for (quality scoring, BPE-ish token counting, fingerprinting,
  * language ID, SimHash).
  *
  * Scale notes (100 TB posture):
  *  - exact dedup = hash shuffle on the dedup key only (no full-row sort);
  *  - exact pairwise Jaccard is the oracle-able O(n²) baseline kept small by
  *    broadcasting the smaller side; the linear-time scale path is
  *    MinHash+LSH (`dedup_minhash_lsh`) whose banding keeps candidate pairs
  *    ≪ n²;
  *  - SimHash banding likewise turns all-pairs Hamming search into an
  *    equi-join on 16-bit band keys — a plain shuffle join at any scale.
  */
object TextOps {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Lowercased whitespace tokens. */
  private def toks(c: Column): Column = split(lower(c), " ")

  /** Distinct token bigrams ("shingles", n=2) of a token array.
    *
    * Pass an ATTRIBUTE (a pre-projected token column), not the
    * `toks(text)` expression inline: higher-order functions run
    * interpreted (no codegen), so a non-attribute `tok` argument is
    * re-evaluated on every `element_at` inside the transform lambda —
    * O(k²) re-tokenization per document instead of O(k). CollapseProject
    * keeps the producing projection because the reference is non-cheap
    * and multiply-used.
    */
  private def bigrams(tok: Column): Column =
    graft.operators.Dedup.shingles(tok, 2)

  /** The native MinHash+LSH edge derivation (shared by the
    * `dedup_minhash_native` coverage query and the staged edge artifact):
    * signature pass = native codegen'd expression (graft_minhash, K=12
    * seed=7) — touches every document, so it must stay inside whole-stage
    * codegen, no boxed Array[Long] per row; band-key equi-join for
    * candidates; then the per-candidate exact-Jaccard verify
    * (graft_jaccard_sorted, also codegen'd) so output pairs are never
    * false positives. Every step is a keyed shuffle; nothing is n².
    */
  private val MhR = 2
  private val MhB = 6

  /** (doc_id, g): the sorted xxhash64 shingle set per document — the exact
    * ground representation shared by the signature pass and the candidate
    * verify (both the full build and the incremental refresh consume it).
    */
  private[graft] def mhShingled(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"),
        array_sort(transform(bigrams(col("t")), g => xxhash64(g)))
          .as("g"))
  }

  /** (doc_id, band, key): LSH band keys from the K=12 minhash signature —
    * MhB bands × MhR rows, key = hash of the band's signature slice.
    */
  private[graft] def mhBandKeys(docsG: DataFrame): DataFrame =
    docsG.withColumn("sig", call_function("graft_minhash", col("g")))
      .select(col("doc_id"),
        explode(array((0 until MhB).map(b =>
          struct(lit(b).as("band"),
            hash((0 until MhR).map(r =>
              element_at(col("sig"), b * MhR + r + 1)): _*).as("key"))): _*))
          .as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))

  /** Exact sorted-merge Jaccard over candidate (da, db) pairs: joins each
    * side to its shingle set and keeps j >= 0.5 only — downstream pairs
    * are never false positives, whatever the banding recall.
    */
  private[graft] def mhExactVerified(cand: DataFrame, docsG: DataFrame): DataFrame = {
    val ga = docsG.select(col("doc_id").as("da"), col("g").as("ga"))
    val gb = docsG.select(col("doc_id").as("db"), col("g").as("gb"))
    cand.join(ga, "da").join(gb, "db")
      .select(col("da"), col("db"),
        call_function("graft_jaccard_sorted", col("ga"), col("gb")).as("j"))
      .filter(col("j") >= 0.5)
  }

  /** Prefix-filter candidate pairs (the AllPairs/PPJoin family) — the
    * linear-scale twin of the guarded all-pairs merges with EXACT recall,
    * unlike any LSH banding: if a pair needs `inter >= |Sa| - m(|Sa|)`
    * shared shingles (a is the smaller side), then by pigeonhole ANY
    * `m(|Sa|)+1` shingles of a must hit b — so a emits only its
    * `m+1`-element PREFIX into the candidate join and no qualifying pair
    * can be missed. The prefix is chosen rarest-first by global document
    * frequency: correctness holds for any subset (the pigeonhole doesn't
    * care which), rarity just makes the posting lists the join fans out
    * over as short as possible. Shape at 100 TB: one exchange keyed by
    * shingle for the DF window, one prefix-vs-full shingle-keyed join
    * whose output is Σ_prefix df(sh) rows (bounded by the rarest-first
    * choice), then the normal candidate exact-verify. Nothing is n².
    *
    * Residual hot-shingle skew IS mitigated, not just acknowledged: on a
    * boilerplate-heavy corpus (near-identical docs share their "rare"
    * shingles) a single prefix shingle's posting list would land one
    * giant task. Shingles whose document frequency exceeds
    * `saltDfOver` are SALTED — the prefix side hash-splits the posting
    * list into `saltBuckets` sub-keys (each row to exactly one bucket,
    * so no duplicate candidates), the full side replicates its hot rows
    * to every bucket (same replicate-the-other-side trick as
    * `join_salted_skew`, Physical.scala). Max per-task join fan-out for
    * a hot shingle drops df×df → (df/buckets)×df; the hot set itself is
    * a tiny broadcast (shingles with df above threshold). Cold shingles
    * pay nothing (salt 0 both sides, no replication).
    *
    * `prefixLen(la)` = allowed-misses(la)+1 for the caller's threshold;
    * `maxSizeRatio` prunes partners whose size makes the threshold
    * impossible (Jaccard >= 0.5 implies |Sb| <= 2|Sa|; containment has no
    * cap). Zero-shingle docs emit nothing here (explode drops them);
    * Jaccard callers agree for free (0/0 = NaN fails j >= 0.5) but the
    * CONTAINMENT integer threshold passes trivially at min = 0, so the
    * guarded containment key and its oracle filter empty sets explicitly
    * — all three representations agree by construction, not by fixture
    * luck.
    */
  private[graft] val PrefixSaltDfOver: Long = 4096L
  private[graft] val PrefixSaltBuckets: Int = 16

  /** The salted (prefix, full) join sides — exposed so the skew spec can
    * pin the mitigation itself (max posting-list split on the prefix
    * side), not just the output. Both frames carry the (sh, salt) join
    * key; joining them on it and applying the size filters IS
    * `prefixCandidates`.
    */
  private[graft] def prefixSaltedSides(docsG: DataFrame,
      prefixLen: Column => Column,
      saltDfOver: Long,
      saltBuckets: Int): (DataFrame, DataFrame) = {
    val ex = docsG.select(col("doc_id"), size(col("g")).as("la"),
      explode(col("g")).as("sh"))
    // document frequency via one shingle-keyed window (single exchange —
    // a groupBy+rejoin would shuffle the same rows twice)
    val wDf = Window.partitionBy("sh")
    val wDoc = Window.partitionBy("doc_id")
      .orderBy(col("df").asc, col("sh").asc)
    val prefix = ex
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= prefixLen(col("la")))
      .select(col("doc_id").as("pa"), col("la").as("lpa"), col("sh"),
        // hot shingles: each prefix row to exactly ONE hash bucket —
        // the posting list splits `saltBuckets` ways, no duplication
        when(col("df") > saltDfOver,
          pmod(xxhash64(col("doc_id")), lit(saltBuckets.toLong))
            .cast("int"))
          .otherwise(lit(0)).as("salt"))
    // the hot set is shingles with df > threshold — at most
    // corpus_shingles/threshold entries, a tiny broadcast; attaching it
    // map-side keeps the full branch shuffle-free before the join
    val hot = ex.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > saltDfOver)
      .select(col("sh"), lit(true).as("hot"))
    val full = ex
      .join(broadcast(hot), Seq("sh"), "left")
      .select(col("doc_id").as("fb"), col("la").as("lfb"), col("sh"),
        explode(when(col("hot"),
          sequence(lit(0), lit(saltBuckets - 1)))
          .otherwise(array(lit(0)))).as("salt"))
    (prefix, full)
  }

  private[graft] def prefixCandidates(docsG: DataFrame,
      prefixLen: Column => Column,
      maxSizeRatio: Option[Int],
      saltDfOver: Long = PrefixSaltDfOver,
      saltBuckets: Int = PrefixSaltBuckets): DataFrame = {
    val (prefix, full) =
      prefixSaltedSides(docsG, prefixLen, saltDfOver, saltBuckets)
    candidateJoin(prefix, full, maxSizeRatio)
  }

  /** The (sh, salt)-keyed candidate join + size filters shared by the
    * dynamic and staged prefix paths (and the census, which semi-joins
    * the staged sides to its survivor set first).
    */
  private[graft] def candidateJoin(prefix: DataFrame, full: DataFrame,
      maxSizeRatio: Option[Int],
      feasible: Option[Column] = None): DataFrame = {
    val sized = prefix.join(full, Seq("sh", "salt"))
      .filter(col("pa") =!= col("fb") && col("lpa") <= col("lfb"))
    val ratioed = maxSizeRatio.fold(sized)(r =>
      sized.filter(col("lfb") <= lit(r) * col("lpa")))
    // PPJoin positional filter (r20): lossless for the caller's
    // threshold — see prefixSidesStaged. Evaluated inside the join, so
    // infeasible rows never reach the pair-dedup exchange.
    feasible.fold(ratioed)(f => ratioed.filter(f))
      .select(least(col("pa"), col("fb")).as("da"),
        greatest(col("pa"), col("fb")).as("db"))
      .distinct()
  }

  private def nativeMinhashPairs(s: SparkSession, d: String): DataFrame = {
    val docs = mhShingledRead(s, d)
    val bands = mhBandKeys(docs)
    val cand = bands.as("x").join(bands.as("y"),
      col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    mhExactVerified(cand, docs)
      .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
  }

  /** Staged MinHash near-dup index over the BASE corpus (doc_id % 10 != 0):
    * the per-doc band keys plus the base cluster assignment — the two
    * artifacts an incremental refresh consumes instead of re-pairing the
    * old corpus. Mirrors `SimSearch.incrBaseStaged` (the embedding twin):
    * assignment reps are component MINIMA, which is what makes old-cluster
    * contraction label-preserving. Stamped against documents.parquet; the
    * stamp commits after BOTH artifacts land, so a crash mid-stage
    * rebuilds cleanly.
    */
  /** The refresh BATCH for cross-run exact dedup: fresh docs (the % 10
    * slice) plus RE-CRAWLS — base documents re-fetched under a new id
    * with identical text (id + 1e9 marks them), which is what a crawl
    * refresh actually delivers. Deterministic, so the spec knows exactly
    * which batch rows are true duplicates of the base corpus.
    */
  private[graft] val RecrawlIdOffset = 1000000000L
  private[graft] def bloomBatch(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs
        .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 17 === 3)
        .select((col("doc_id") + RecrawlIdOffset).as("doc_id"), col("text")))
  }

  /** Staged cross-run exact-dedup base (doc_id % 10 != 0): the distinct
    * xxhash64(text) set as parquet plus a serialized Bloom filter over it
    * (fpp 0.01). The filter is the O(1)-memory handoff between pipeline
    * runs: a refresh batch probes it row-local (no join, no shuffle) and
    * only the candidate sliver pays the exact-confirm join against the
    * hash set. 64-bit hashes stand in for content identity here —
    * production at trillion-doc scale widens to 128-bit or confirms on
    * raw bytes, same plan shape.
    */
  /** The publish-leg merge: base hash set ∪ the refresh batch's hashes,
    * one distinct. Exposed (rather than inlined in `dedup_bloom_publish`)
    * so PhysicalSpec can pin its plan: union + hash-keyed distinct over
    * 8-byte rows, no join, no sort — the only all-data operation the
    * publish pays at 100 TB.
    */
  private[graft] def bloomMergedHashes(s: SparkSession, d: String): DataFrame = {
    val base = bloomBaseStaged(s, d)
    s.read.parquet(s"$base/hashes")
      .unionByName(bloomBatch(s, d)
        .select(xxhash64(col("text")).as("h")).distinct())
      .distinct()
  }

  /** A layout derived from the documents alone — every dedup artifact. */
  private def docsLayout(s: SparkSession, prefix: String, d: String)(
      build: String => Unit): String =
    graft.Staging.layout(s, prefix, d, s"$d/documents.parquet")(build)

  /** Serialize `bf` to `path` through the session's FileSystem — the
    * filter lives in the same layout as its `hashes`, so it must land on
    * the same filesystem, not on driver-local disk.
    */
  private def writeBloom(s: SparkSession, path: String,
      bf: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .create(p, true)
    try bf.writeTo(out) finally out.close()
  }

  /** The serialized filter bytes [[writeBloom]] wrote at `path`. */
  private[graft] def readBloom(s: SparkSession, path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(s.sparkContext.hadoopConfiguration).open(p)
    try in.readAllBytes() finally in.close()
  }

  private[graft] def bloomBaseStaged(s: SparkSession, d: String): String =
    docsLayout(s, "graft_bloom_incr", d) { path =>
      val baseH = t(s, d, "documents")
        .filter(col("doc_id") % 10 =!= 0)
        .select(xxhash64(col("text")).as("h")).distinct()
        .localCheckpoint(true) // consumed by the write AND the count+build
      writeBloom(s, s"$path/filter.bin", baseH.stat.bloomFilter("h",
        math.max(baseH.count(), 1000L), 0.01))
      baseH.write.mode("overwrite").parquet(s"$path/hashes")
    }

  private[graft] def minhashBaseStaged(s: SparkSession, d: String): String =
    docsLayout(s, "graft_mh_incr", d) { path =>
      val oldG = mhShingled(s, d).filter(col("doc_id") % 10 =!= 0)
        .localCheckpoint(true) // one tokenize+sign pass, three consumers
      val bands = mhBandKeys(oldG).localCheckpoint(true)
      val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct()
      val edges = mhExactVerified(cand, oldG)
        .select(col("da").as("src"), col("db").as("dst"))
      val cc = graft.operators.ConnectedComponents(edges)
        .select(col("v").as("doc_id"), col("comp").as("rep"))
      oldG.select("doc_id").join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_rep", coalesce(col("rep"), col("doc_id")))
        .select("doc_id", "cluster_rep")
        .write.mode("overwrite").parquet(s"$path/assign")
      bands.write.mode("overwrite").parquet(s"$path/bands")
    }

  /** The banded near-dup edge set as a persisted artifact, staged once per
    * (run, sfDir) — at corpus scale the edge list is built by one pipeline
    * run and CONSUMED by clustering (and any other downstream policy), not
    * re-derived inside every consumer query. Same build-once/read-many
    * contract as the IVF/PQ indexes (`SimSearch.ivfStaged`/`pqStaged`).
    */
  def edgesStaged(s: SparkSession, d: String): String =
    docsLayout(s, "graft_nd_edges", d)(nativeMinhashPairs(s, d)
      .select("da", "db").write.mode("overwrite").parquet(_))

  /** The EXACT j ≥ 0.5 pair set as a persisted referee artifact — the
    * ground truth every recall evaluation in the dedup family is scored
    * against. Built by the exact-recall prefix filter (no LSH in the
    * referee), staged once per (documents fingerprint), and CONSUMED by
    * the tuning report: at corpus scale a parameter sweep is re-run
    * many times against ONE ground-truth build, so recomputing the
    * referee inside every sweep invocation is the anti-pattern (it was
    * ~2/3 of `dedup_minhash_tradeoff`'s cost). Same build-once/
    * read-many contract as [[edgesStaged]] and the IVF/PQ indexes,
    * same staleness stamp: scoring against a previous corpus's truth
    * is a silent-wrong-answer class.
    */
  /** The sorted-shingle-set projection (doc_id, g) as a STAGED columnar
    * artifact — the tokenize+shingle+hash pass over the full corpus is
    * the single most re-derived projection in the dedup family (prefix
    * candidates, both verify sides, band keys, the incremental refresh,
    * the tradeoff report all start from it), and before staging, ≥4 keys
    * each re-ran it behind their own localCheckpoint
    * (`dedup_ngram_jaccard_prefix` crept 6.4→7.6 s across two artifacts
    * on untouched code from exactly this). A real curation run
    * materializes the derived column once per corpus snapshot; stamped
    * against documents.parquet like every staged index, so a corpus
    * change rebuilds it rather than serving stale shingles.
    */
  private[graft] def mhShingledStaged(s: SparkSession, d: String): String =
    docsLayout(s, "graft_mh_shingled", d) { path =>
      val base = mhShingled(s, d)
      // posting-list stats ride in the snapshot artifact too: `gr` is
      // the shingle multiset re-ordered RAREST-FIRST (global occurrence
      // count asc, hash asc — the exact order prefixSaltedSides derives
      // per query with a df window + row_number sort), and `hot` is the
      // df > PrefixSaltDfOver skew set the salting broadcast consumes.
      // Both are pure functions of the corpus, so recomputing them per
      // prefix query was two extra corpus-wide exchanges per run.
      val ex = base.select(col("doc_id"), explode(col("g")).as("sh"))
      val dfTab = ex.groupBy("sh").agg(count(lit(1)).as("df"))
      dfTab.filter(col("df") > PrefixSaltDfOver).select("sh")
        .write.mode("overwrite").parquet(s"$path/hot")
      val gr = ex.join(dfTab, "sh")
        .groupBy("doc_id")
        .agg(transform(
          array_sort(collect_list(struct(col("df"), col("sh")))),
          x => x("sh")).as("gr"))
      base.join(gr, Seq("doc_id"), "left")
        .select(col("doc_id"), col("g"),
          coalesce(col("gr"),
            array().cast("array<bigint>")).as("gr"))
        .write.mode("overwrite").parquet(s"$path/docs")
    }

  /** Read-side of [[mhShingledStaged]]: consumers scan the staged
    * projection (column-pruned, page-cache-warm) instead of re-deriving
    * it per query. Columns: (doc_id, g sorted-by-value, gr rarest-first).
    */
  private[graft] def mhShingledRead(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${mhShingledStaged(s, d)}/docs")

  /** The (prefix, full) join sides straight off the staged artifact: the
    * prefix is a SLICE of the precomputed rarest-first array and the
    * salt flag a broadcast probe of the staged hot set — no df window,
    * no row_number sort, no second corpus exchange. Semantically the
    * same sides as [[prefixSaltedSides]] (same order, same salt rule);
    * the pigeonhole recall guarantee never depended on WHICH
    * (m+1)-subset the prefix is, so exactness is structural either way.
    *
    * r20 (PPJoin positional filter): both sides now carry each matched
    * shingle's 0-based POSITION in the doc's rarest-first order (`ppos`
    * on the prefix side, `fpos` on the full side — both arrays are
    * sorted by the same global (df, sh) total order, so positions are
    * comparable across docs). For the earliest COMMON shingle of a pair
    * (the one PPJoin reasons about), every other common shingle sits at
    * a strictly later position in BOTH docs, so
    * `inter <= min(la - ppos, lb - fpos)` — a candidate row that cannot
    * reach the caller's intersection threshold on that bound can be
    * dropped inside the join with zero recall loss (the earliest-common-
    * shingle row itself always satisfies the bound when the pair
    * qualifies, and it is in the prefix by the pigeonhole argument).
    *
    * `fullLen` optionally cuts the FULL side to its own indexing prefix
    * (posexplode of a slice of `gr`): callers whose threshold implies
    * `need >= ceil(lb/2)` for every size-filter-surviving pair (Jaccard
    * >= 0.5 with the |Sb| <= 2|Sa| cap does: need = ceil((la+lb)/3) >=
    * ceil(lb/2) when la >= lb/2) may pass `floor(lb/2)+1` — the earliest
    * common shingle of any qualifying pair lies at fpos <= lb - need <=
    * floor(lb/2), so later full-side rows can never be the surviving
    * match and need not be emitted at all. Containment has no size cap,
    * so its full side stays whole (fullLen = None).
    */
  private[graft] def prefixSidesStaged(s: SparkSession, d: String,
      prefixLen: Column => Column,
      saltBuckets: Int = PrefixSaltBuckets,
      fullLen: Option[Column => Column] = None): (DataFrame, DataFrame) = {
    val base = mhShingledRead(s, d)
    val hot = s.read.parquet(s"${mhShingledStaged(s, d)}/hot")
      .withColumn("hot", lit(true))
    // size(gr) == size(g) (same multiset reordered) — sizing off gr keeps
    // g out of both sides' ReadSchema, so each side scans ONE array column
    val prefix = base
      .select(col("doc_id"), size(col("gr")).as("la"),
        posexplode(slice(col("gr"), lit(1),
          prefixLen(size(col("gr"))))).as(Seq("ppos", "sh")))
      .join(broadcast(hot), Seq("sh"), "left")
      .select(col("doc_id").as("pa"), col("la").as("lpa"), col("sh"),
        col("ppos"),
        when(col("hot"),
          pmod(xxhash64(col("doc_id")), lit(saltBuckets.toLong))
            .cast("int"))
          .otherwise(lit(0)).as("salt"))
    val fullArr = fullLen
      .map(fl => slice(col("gr"), lit(1), fl(size(col("gr")))))
      .getOrElse(col("gr"))
    val full = base
      .select(col("doc_id"), size(col("gr")).as("la"),
        posexplode(fullArr).as(Seq("fpos", "sh")))
      .join(broadcast(hot), Seq("sh"), "left")
      .select(col("doc_id").as("fb"), col("la").as("lfb"), col("sh"),
        col("fpos"),
        explode(when(col("hot"),
          sequence(lit(0), lit(saltBuckets - 1)))
          .otherwise(array(lit(0)))).as("salt"))
    (prefix, full)
  }

  /** Positional-filter predicate for Jaccard >= 0.5 (3·inter >= la+lb):
    * drop candidate rows whose position bound can't reach the threshold.
    */
  private[graft] val jaccardFeasible: Column =
    lit(3) * least(col("lpa") - col("ppos"), col("lfb") - col("fpos")) >=
      col("lpa") + col("lfb")

  /** Positional-filter predicate for max-containment >= 0.9
    * (10·inter >= 9·min(la,lb); lpa <= lfb is enforced in the join).
    */
  private[graft] val containFeasible: Column =
    lit(10) * least(col("lpa") - col("ppos"), col("lfb") - col("fpos")) >=
      lit(9) * col("lpa")

  /** [[prefixCandidates]] over the staged sides — the query-time path
    * for corpus-wide prefix joins.
    */
  private[graft] def prefixCandidatesStaged(s: SparkSession, d: String,
      prefixLen: Column => Column,
      maxSizeRatio: Option[Int],
      feasible: Option[Column] = None,
      fullLen: Option[Column => Column] = None): DataFrame = {
    val (prefix, full) = prefixSidesStaged(s, d, prefixLen,
      fullLen = fullLen)
    candidateJoin(prefix, full, maxSizeRatio, feasible)
  }

  def exactPairsStaged(s: SparkSession, d: String): String =
    docsLayout(s, "graft_exact_pairs", d) { path =>
      val docsG = mhShingledRead(s, d)
      mhExactVerified(
        prefixCandidatesStaged(s, d,
          la => floor(la / lit(3)).cast("int") + lit(1), Some(2),
          feasible = Some(jaccardFeasible),
          fullLen = Some(lb => floor(lb / lit(2)).cast("int") + lit(1))),
        docsG)
        .select("da", "db").distinct()
        .write.mode("overwrite").parquet(path)
    }

  def ensureStaged(s: SparkSession, d: String): Unit = {
    mhShingledStaged(s, d) // first: the artifacts below consume it
    edgesStaged(s, d)
    exactPairsStaged(s, d)
    minhashBaseStaged(s, d)
    bloomBaseStaged(s, d)
    bpeMergesStaged(s, d)
    ()
  }

  /** The trained BPE merge table as a staged artifact — in production the
    * tokenizer is trained ONCE and applied by every downstream job, so
    * the encoder must consume a persisted merge table, not re-run the
    * trainer (`bpe_train_merges` keeps measuring the trainer itself).
    * Stamped against documents.parquet like every derived index: serving
    * merges trained on a previous corpus is the silent-wrong-answer
    * class, not a perf bug.
    */
  private[graft] def bpeMergesStaged(s: SparkSession, d: String): String =
    docsLayout(s, "graft_bpe_merges", d)(queries("bpe_train_merges")(s, d)
      .coalesce(1).write.mode("overwrite").parquet(_))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B43: exact dedup, deterministic survivor (min doc_id per text) —
    // dropDuplicates picks an arbitrary row, so pin it with a window.
    "dedup_exact" -> ((s, d) =>
      graft.operators.Dedup.exact(t(s, d, "documents"),
        key = Seq(col("text")), tieBreak = col("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("survivors"))
        .orderBy("lang")),

    // Entity resolution by BLOCKING + edit-distance verify — the record-
    // linkage discipline: candidate pairs are generated ONLY within a
    // blocking key (here the type token of the name), so the verify step
    // is an equi-join with a map-side levenshtein residual — never an
    // all-pairs cross product. At 100 TB the blocking key bounds each
    // task's pair fan-out to its block (skewed blocks salt like any hot
    // join key, or add a second redundant blocking pass for recall —
    // same multi-probe pattern as the LSH band joins). The name universe
    // is deduped first, so the join runs on distinct entities, not rows.
    "dedup_fuzzy_blocking" -> ((s, d) => {
      val names = t(s, d, "part").select(col("p_name")).distinct()
        .withColumn("blk", split(col("p_name"), " ").getItem(1))
      names.as("a").join(names.as("b"),
          col("a.blk") === col("b.blk") &&
            col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
        .filter(col("dist") <= 3)
        .orderBy("name_a", "name_b")
    }),

    // Exact pairwise n-gram (bigram) Jaccard — the oracle-able O(n²)
    // baseline for near-dup detection; the linear-scale paths are
    // dedup_ngram_jaccard_prefix (identical output, exact recall) and
    // dedup_minhash_lsh/native (approximate recall, cheaper candidates).
    // Performance shape: each doc's bigram set is
    // hashed (xxhash64 — 64-bit, collision-free at any realistic corpus)
    // and sorted ONCE, then the n² pair loop is a sorted-merge
    // intersection in a JIT'd tight loop — no per-pair string hashing, no
    // per-pair set construction, and ~10 bytes/element across the
    // broadcast instead of full strings. 12.5M pairs at bench scale went
    // 458s → ~2s with this shape.
    "dedup_ngram_jaccard" -> ((s, d) => {
      import s.implicits._
      // O(n²) baseline: guarded — beyond this size the right tool is the
      // banded MinHash path, not a bigger broadcast.
      graft.operators.ScaleGuard.requireAtMost(
        t(s, d, "documents").select("doc_id"), 50000,
        "dedup_ngram_jaccard",
        "dedup_ngram_jaccard_prefix (identical output, linear scale)")
      // Each doc's bigram set is hashed (xxhash64 — collision-free at any
      // realistic corpus size) and sorted ONCE; the n² pair loop then runs
      // as a broadcast variable + mapPartitions inner loop: a JIT'd
      // sorted-merge intersection with zero per-pair row materialization.
      // (The equivalent BroadcastNestedLoopJoin+UDF shape spends ~10× the
      // time copying the two ~80-element arrays through the join output for
      // every candidate pair.) The build side is the same size a broadcast
      // hash join would ship, so the 1000-executor story is unchanged.
      // repartition BEFORE the shingle+hash+sort projection: the source is
      // one parquet file = one input partition, and the per-doc tokenize
      // work would otherwise run single-threaded on both branches below
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .select(col("doc_id"),
          array_sort(transform(bigrams(col("t")), g => xxhash64(g)))
            .as("g"))
        .as[(Long, Array[Long])]
      // sorted by doc_id so each row starts its pair scan at a
      // binary-searched index instead of filtering half the corpus away
      val side = s.sparkContext.broadcast(docs.collect().sortBy(_._1))
      docs
        .mapPartitions { it =>
          val all = side.value
          it.flatMap { case (da, ga) =>
            var lo = 0; var hi = all.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (all(mid)._1 <= da) lo = mid + 1 else hi = mid
            }
            val la = ga.length
            // tight allocation-free loop: at 12.5M pairs per bench shard,
            // a closure/Option per pair is measurable GC pressure
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Double)]
            var idx = lo
            while (idx < all.length) {
              val (db, gb) = all(idx)
              val lb = gb.length
              // j >= 0.5 ⇔ 3·inter >= la+lb: skip pairs whose sizes make
              // that impossible, and abandon the merge once inter plus the
              // shorter remainder provably can't reach it — both prunes
              // are lossless for the output threshold.
              val need = (la + lb + 2) / 3
              if (math.min(la, lb) >= need) {
                var i = 0; var j = 0; var inter = 0
                var feasible = true
                while (feasible && i < la && j < lb) {
                  if (inter + math.min(la - i, lb - j) < need) feasible = false
                  else {
                    val x = ga(i); val y = gb(j)
                    if (x == y) { inter += 1; i += 1; j += 1 }
                    else if (x < y) i += 1
                    else j += 1
                  }
                }
                val jac = inter.toDouble / (la + lb - inter)
                if (jac >= 0.5) out += ((da, db, jac))
              }
              idx += 1
            }
            out.iterator
          }
        }
        .toDF("da", "db", "j")
        .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
        .orderBy("da", "db")
    }),

    // Asymmetric CONTAINMENT near-dup: C(a→b) = |Sa∩Sb| / |Sa| over the
    // bigram shingle sets. Catches subset-style duplicates Jaccard
    // misses — a short doc quoted whole inside a long one has
    // j = |Sa|/|Sb| (small) but C(a→b) = 1. Pair condition is the
    // integer-exact 10·inter ≥ 9·min(|Sa|,|Sb|) (⇔ max(cab,cba) ≥ 0.9),
    // so Spark and the oracle agree without float-boundary hazards.
    // Same guarded O(n²) broadcast sorted-merge as dedup_ngram_jaccard —
    // ONE intersection count per pair serves both directions. This is
    // the exact-twin reference; the linear-scale path with IDENTICAL
    // output is dedup_containment_prefix (prefix filtering — exact
    // recall at any size ratio, which the once-planned size-stratified
    // LSH banding could only approximate).
    "dedup_containment" -> ((s, d) => {
      import s.implicits._
      graft.operators.ScaleGuard.requireAtMost(
        t(s, d, "documents").select("doc_id"), 50000,
        "dedup_containment",
        "dedup_containment_prefix (identical output, linear scale)")
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), toks(col("text")).as("t"))
        // min = 0 passes the integer threshold trivially (with NaN
        // ratios); drop empty shingle sets so this path, the prefix twin
        // (whose explode drops them), and the oracle agree on <2-token
        // docs by construction. Filter on the TOKEN count (≥2 tokens ⇔
        // ≥1 bigram), not size(g): a size(g) predicate pushes below the
        // projection and re-evaluates the whole interpreted shingle
        // transform per row — measured 7× on this key.
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          array_sort(transform(bigrams(col("t")), g => xxhash64(g)))
            .as("g"))
        .as[(Long, Array[Long])]
      val side = s.sparkContext.broadcast(docs.collect().sortBy(_._1))
      docs
        .mapPartitions { it =>
          val all = side.value
          it.flatMap { case (da, ga) =>
            var lo = 0; var hi = all.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (all(mid)._1 <= da) lo = mid + 1 else hi = mid
            }
            val la = ga.length
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Double, Double)]
            var idx = lo
            while (idx < all.length) {
              val (db, gb) = all(idx)
              val lb = gb.length
              // max(cab,cba) ≥ 0.9 ⇔ inter ≥ ceil(0.9·min): abandon the
              // merge once inter plus the shorter remainder can't reach it
              val need = (9 * math.min(la, lb) + 9) / 10
              var i = 0; var j = 0; var inter = 0
              var feasible = true
              while (feasible && i < la && j < lb) {
                if (inter + math.min(la - i, lb - j) < need) feasible = false
                else {
                  val x = ga(i); val y = gb(j)
                  if (x == y) { inter += 1; i += 1; j += 1 }
                  else if (x < y) i += 1
                  else j += 1
                }
              }
              if (10L * inter >= 9L * math.min(la, lb))
                out += ((da, db, inter.toDouble / la, inter.toDouble / lb))
              idx += 1
            }
            out.iterator
          }
        }
        .toDF("da", "db", "ca", "cb")
        .select(col("da"), col("db"), round(col("ca"), 4).as("c_ab"),
          round(col("cb"), 4).as("c_ba"))
        .orderBy("da", "db")
    }),

    // The LINEAR-SCALE twin of dedup_ngram_jaccard: prefix-filter
    // candidate generation (see prefixCandidates — exact recall by
    // pigeonhole, no LSH probabilistic miss) + the same codegen'd
    // sorted-merge Jaccard verify. j >= 0.5 allows at most
    // floor(|Sa|/3) of the smaller set's shingles to miss (need =
    // ceil((la+lb)/3) >= ceil(2la/3) at the lb=la worst case), so the
    // prefix is floor(la/3)+1 rarest shingles, and partners with
    // lb > 2·la are pruned outright (j >= 0.5 is impossible there).
    // Output is IDENTICAL to the guarded all-pairs key — same oracle,
    // plus a spec equality pin — but every step is a keyed shuffle, so
    // it runs at any corpus size instead of refusing above 50k docs.
    "dedup_ngram_jaccard_prefix" -> ((s, d) => {
      // staged projection: candidates + both verify sides scan it —
      // re-deriving tokenize+shingle per consumer was the 6.4→7.6 s creep
      val docsG = mhShingledRead(s, d)
      // r20: PPJoin positional filter + full-side indexing prefix — the
      // candidate exchange carries only position-feasible rows, and the
      // full side emits floor(lb/2)+1 rarest shingles instead of all lb
      // (lossless for j >= 0.5 with the 2x size cap; proof at
      // prefixSidesStaged). Output unchanged — same oracle, same twin
      // equality spec.
      val cand = prefixCandidatesStaged(s, d,
        la => floor(la / lit(3)).cast("int") + lit(1), Some(2),
        feasible = Some(jaccardFeasible),
        fullLen = Some(lb => floor(lb / lit(2)).cast("int") + lit(1)))
      val ga = docsG.select(col("doc_id").as("da"), col("g").as("ga"))
      val gb = docsG.select(col("doc_id").as("db"), col("g").as("gb"))
      cand.join(ga, "da").join(gb, "db")
        .select(col("da"), col("db"),
          call_function("graft_jaccard_sorted", col("ga"), col("gb"))
            .as("j"))
        .filter(col("j") >= 0.5)
        .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
        .orderBy("da", "db")
    }),

    // The LINEAR-SCALE twin of dedup_containment — the "promised" path
    // for subset-style duplicates, via prefix filtering rather than
    // size-stratified LSH banding: the LSH-Ensemble shape trades recall
    // for candidate volume (and still degrades as the size ratio grows),
    // while the prefix filter is ratio-oblivious AND exact —
    // max(C) >= 0.9 allows at most floor(min(la,lb)/10) misses from the
    // smaller set, so its floor(la/10)+1 rarest shingles MUST hit any
    // 0.9-containing partner, whatever the partner's size (no ratio cap
    // here — catching the short-doc-quoted-in-long-doc pair is the whole
    // point). Candidates exact-verify through the codegen'd sorted-merge
    // intersection count with the same integer threshold
    // (10·inter >= 9·min) as the guarded key: identical output, same
    // oracle, linear scale.
    "dedup_containment_prefix" -> ((s, d) => {
      val docsG = mhShingledRead(s, d) // staged: see jaccard_prefix
      // r20: positional filter only — containment has no size-ratio cap,
      // so the full side stays whole (a tiny doc can be contained by a
      // match anywhere in a huge partner's rarity order), but a matched
      // row still can't qualify unless min(la-ppos, lb-fpos) can reach
      // ceil(0.9·la). Output unchanged (same oracle + twin equality).
      val cand = prefixCandidatesStaged(s, d,
        la => floor(la / lit(10)).cast("int") + lit(1), None,
        feasible = Some(containFeasible))
      val ga = docsG.select(col("doc_id").as("da"), col("g").as("ga"))
      val gb = docsG.select(col("doc_id").as("db"), col("g").as("gb"))
      cand.join(ga, "da").join(gb, "db")
        .select(col("da"), col("db"),
          call_function("graft_inter_sorted", col("ga"), col("gb"))
            .as("inter"),
          size(col("ga")).cast("long").as("la"),
          size(col("gb")).cast("long").as("lb"))
        .filter(col("inter") * 10 >= least(col("la"), col("lb")) * 9)
        .select(col("da"), col("db"),
          round(col("inter").cast("double") / col("la"), 4).as("c_ab"),
          round(col("inter").cast("double") / col("lb"), 4).as("c_ba"))
        .orderBy("da", "db")
    }),

    // Passage-level exact dedup (CCNet/C4 line-dedup shape): chunk every
    // doc into non-overlapping 8-token passages, dedup passages CORPUS-
    // WIDE keeping the first occurrence (min (doc_id, pos)), report per
    // doc how many of its passages survive. Shuffle discipline at
    // 100 TB: the global window partitions on xxhash64(passage) — the
    // exchange carries (hash, doc_id, pos) triples, never the passage
    // text (the same 64-bit content-key identity every hash dedup here
    // documents); the survivor flag is an UNORDERED window min (no sort
    // within partitions), and the per-doc rollup re-shuffles only
    // fixed-size counter rows.
    "dedup_passage_exact" -> ((s, d) => {
      val pas = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("t")), lit(8))).as("pos"),
          col("t"))
        .select(col("doc_id"), col("pos"),
          xxhash64(array_join(slice(col("t"), col("pos"), lit(8)), " "))
            .as("ph"))
      val w = Window.partitionBy(col("ph"))
      pas
        .withColumn("first",
          min(struct(col("doc_id"), col("pos"))).over(w))
        .select(col("doc_id"),
          (col("first") === struct(col("doc_id"), col("pos")))
            .cast("long").as("kept"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"), sum("kept").as("n_kept"))
        .orderBy("doc_id")
    }),

    // INTRA-document repetition census — the same 8-token passage
    // chunking as dedup_passage_exact but deduped WITHIN each doc: the
    // looping-generation / boilerplate-stutter signal (a doc that
    // repeats its own passages) that corpus-wide passage dedup hides
    // inside its per-doc survivor count and text_repetition_score's
    // n-gram ratios only approximate. Shape: one chunk pass →
    // (doc_id, passage-hash)-keyed count — map-side combined, the
    // exchange carries (doc, hash, count) and every downstream fold is
    // doc-keyed; no window at all, so nothing depends on corpus
    // cardinality beyond the one keyed exchange. rep_share is an
    // exact-integer ratio.
    "dedup_intradoc" -> ((s, d) => {
      val pas = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("t")), lit(8))).as("pos"),
          col("t"))
        .select(col("doc_id"),
          xxhash64(array_join(slice(col("t"), col("pos"), lit(8)), " "))
            .as("ph"))
      pas.groupBy("doc_id", "ph").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_passages"),
          count(lit(1)).as("n_distinct"))
        .select(col("doc_id"), col("n_passages"), col("n_distinct"),
          (col("n_passages") - col("n_distinct")).as("n_repeated"),
          round((col("n_passages") - col("n_distinct")).cast("double") /
            col("n_passages"), 4).as("rep_share"))
        .orderBy("doc_id")
    }),

    // BOILERPLATE strip census (CCNet/RefinedWeb per-shard line-dedup
    // shape): a chunk is boilerplate when it recurs across ≥2 DISTINCT
    // docs of the SAME source — nav bars, footers, cookie banners — as
    // opposed to intra-doc stutter (dedup_intradoc; a df=1 chunk
    // repeated 5× inside one doc is NOT boilerplate here) and corpus-
    // wide passage dedup (dedup_passage_exact keeps first occurrences;
    // boilerplate strips ALL instances). Unit is a 4-token chunk — the
    // fixture corpus has no newlines; production swaps in the line/
    // paragraph splitter and a df threshold scaled to the source's doc
    // count, the algebra is identical. Shuffle discipline: the first
    // exchange keys on (source, xxhash64(chunk)) — 64-bit content keys,
    // never chunk text — with countDistinct's partial dedup map-side;
    // the second carries one counter row per source. No window, no
    // corpus-axis state: each source's boilerplate table is independent,
    // exactly how a 100 TB crawl shards this step per host/domain.
    "text_boilerplate_strip" -> ((s, d) => {
      val pas = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("source"), col("doc_id"), toks(col("text")).as("t"))
        .select(col("source"), col("doc_id"),
          explode(sequence(lit(1), size(col("t")), lit(4))).as("pos"),
          col("t"))
        .select(col("source"), col("doc_id"),
          xxhash64(array_join(slice(col("t"), col("pos"), lit(4)), " "))
            .as("ph"))
      pas.groupBy("source", "ph")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("inst"))
        .groupBy("source")
        .agg(sum("inst").as("n_passages"),
          sum(when(col("df") >= 2, col("inst")).otherwise(lit(0L)))
            .as("n_boiler"),
          count(when(col("df") >= 2, lit(1))).as("n_boiler_distinct"))
        .select(col("source"), col("n_passages"), col("n_boiler"),
          col("n_boiler_distinct"),
          round(col("n_boiler").cast("double") / col("n_passages"), 4)
            .as("boiler_share"))
        .orderBy("source")
    }),

    // Boundary-overlap (chunk-stitching) detection: doc B continues doc
    // A when A's LAST k tokens equal B's FIRST k tokens — the crawl
    // artifact where one page was chunked into consecutive records with
    // an overlapped window, which passage/exact dedup misses (the shared
    // region is shorter than a passage and the docs differ elsewhere).
    // One equi-join of the tail-key projection against the head-key
    // projection: each side is a single map-side pass emitting ONE
    // (boundary, doc_id) row per doc, so the join is corpus-cardinality
    // on both sides, never pairwise. Joining on the boundary STRING
    // keeps the check exact (no collision caveat); at 100 TB the shuffle
    // key widens to ~k tokens of text — acceptable, or swap in the
    // xxhash64(boundary) + string-verify form. A boilerplate head ("the
    // quick brown fox" openers) is a hot join key: the production guard
    // is a df-cap on the boundary (drop keys heading more than T docs —
    // a mass-shared opener is boilerplate, not a chunk seam).
    "dedup_boundary_overlap" -> ((s, d) => {
      val k = 4
      val base = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 2 * k) // head and tail must not overlap
      val heads = base.select(col("doc_id").as("next_doc_id"),
        array_join(slice(col("t"), 1, k), " ").as("boundary"))
      val tails = base.select(col("doc_id").as("prev_doc_id"),
        array_join(slice(col("t"), -k, k), " ").as("boundary"))
      tails.join(heads, Seq("boundary"))
        .filter(col("prev_doc_id") =!= col("next_doc_id"))
        .select(col("prev_doc_id"), col("next_doc_id"), col("boundary"))
        .orderBy("prev_doc_id", "next_doc_id")
    }),

    // B44: MinHash + LSH near-dup detection (the linear-scale path).
    // HashingTF(binary) over bigram shingles → MinHashLSH banding →
    // approxSimilarityJoin on Jaccard distance. Seeded → deterministic,
    // but the sketch differs from any oracle → ScalaTest-verified
    // (recall of the planted j≥0.8 pairs vs dedup_ngram_jaccard).
    "dedup_minhash_lsh" -> ((s, d) => {
      import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .select(col("doc_id"), bigrams(col("t")).as("shingles"))
      val tf = new HashingTF().setInputCol("shingles")
        .setOutputCol("features").setNumFeatures(1 << 18).setBinary(true)
      // materialize once: the self-join consumes fea on both sides and
      // would otherwise re-tokenize + re-hash the corpus twice
      val fea = tf.transform(docs).localCheckpoint(true)
      val mh = new MinHashLSH().setInputCol("features")
        .setOutputCol("hashes").setNumHashTables(3).setSeed(42L)
      val model = mh.fit(fea)
      model.approxSimilarityJoin(fea, fea, 0.5, "dist")
        .select(col("datasetA.doc_id").as("da"),
          col("datasetB.doc_id").as("db"),
          round(col("dist"), 4).as("jaccard_dist"))
        .filter(col("da") < col("db"))
        .orderBy("da", "db")
    }),

    // Native MinHash+LSH near-dup (no MLlib): 12 universal-hash min
    // signatures per doc, 6 bands × 2 rows (recall ≈ 0.998 for j ≥ 0.8,
    // 0.82 at the j = 0.5 threshold), band-key equi-join for candidates,
    // then EXACT sorted-merge Jaccard on each candidate pair — so output
    // pairs are never false positives; only sub-threshold recall is
    // approximate. Every step is a keyed shuffle; nothing is n².
    "dedup_minhash_native" -> ((s, d) =>
      nativeMinhashPairs(s, d).orderBy("da", "db")),

    // Cross-run EXACT dedup against a persisted Bloom handoff — the
    // primitive that keeps a rolling corpus exact-duplicate-free
    // without ever joining batch × corpus: the base run publishes a
    // Bloom filter over its text hashes (O(1) memory per executor, no
    // false negatives by construction), the refresh batch (fresh docs +
    // re-crawled base docs) probes it ROW-LOCAL through the codegen'd
    // graft_bloom_contains — a scan-side filter, not a shuffle — and
    // only the candidate sliver (true dups + ~fpp of the batch) pays
    // the exact-confirm semi-join against the persisted hash set. At
    // 100 TB the batch-corpus join this replaces shuffles the corpus
    // hash set per refresh; the bloom path ships a fixed-size bitmap in
    // the task binary and joins only candidates. No oracle (the bloom
    // bitmap is engine-specific); the spec pins zero false negatives on
    // the re-crawl slice, the exact-confirm ground truth, and the fpp
    // bound on fresh docs.
    "dedup_bloom_incremental" -> ((s, d) => {
      val base = bloomBaseStaged(s, d)
      val bytes = readBloom(s, s"$base/filter.bin")
      val flagged = bloomBatch(s, d)
        .select(col("doc_id"), xxhash64(col("text")).as("h"))
        .withColumn("bloom_hit",
          call_function("graft_bloom_contains", col("h"), lit(bytes)))
      val baseHashes = s.read.parquet(s"$base/hashes")
      // exact confirm: ONLY bloom candidates reach the join
      val confirmed = flagged.filter(col("bloom_hit"))
        .join(baseHashes, Seq("h"), "left_semi")
        .select(col("doc_id"), lit(true).as("exact_dup"))
      flagged.join(confirmed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("exact_dup"), lit(false)).as("exact_dup"))
        .orderBy("doc_id")
    }),

    // The PUBLISH leg that closes the cross-run loop the two queries
    // above only probe: after a refresh batch is admitted, the NEXT run's
    // handoff (hash set + Bloom) must cover base ∪ batch, or tomorrow's
    // re-crawl of today's fresh docs re-enters the corpus. Hash-set merge
    // is one distinct over the union (hash-keyed exchange only — never
    // touches text bytes after the scan); the new filter is rebuilt from
    // the merged set rather than bitwise-OR'd, so its size/fpp re-targets
    // the GROWN cardinality (a fixed-size filter OR'd forever degrades
    // fpp monotonically — the classic rolling-corpus bloom mistake).
    // Returns the census (base/added/total) — oracle-checkable — and
    // stages `hashes_next`/`filter_next.bin` for the successor run; the
    // spec pins zero false negatives of the published filter over every
    // batch text (re-crawl idempotency: a replayed batch drops to zero
    // survivors).
    "dedup_bloom_publish" -> ((s, d) => {
      val base = bloomBaseStaged(s, d)
      // LAZY checkpoint: the nTotal count is the first action and
      // materializes it (r19) — filter build and write then read the
      // cached blocks; one job instead of checkpoint-job + count
      val merged = bloomMergedHashes(s, d)
        .localCheckpoint(false) // consumed by count, filter build, write
      val nBase = s.read.parquet(s"$base/hashes").count()
      val nTotal = merged.count()
      merged.write.mode("overwrite").parquet(s"$base/hashes_next")
      writeBloom(s, s"$base/filter_next.bin",
        merged.stat.bloomFilter("h", math.max(nTotal, 1000L), 0.01))
      s.range(1).select(
        lit(nBase).as("n_base"),
        lit(nTotal - nBase).as("n_added"),
        lit(nTotal).as("n_total"))
    }),

    // Incremental near-dup refresh for TEXT — the MinHash twin of
    // dedup_incremental_index (embeddings, SimSearch.scala): a daily
    // crawl slice (doc_id % 10 == 0 stands in for the new batch) merges
    // into the staged base index WITHOUT re-pairing the old corpus.
    // (1) band-keys only the new docs, (2) candidate-joins them against
    // persisted old + new band keys with new docs pinned to one side,
    // so old-old pair work is never repeated, (3) exact-verifies the
    // candidates (never a false-positive edge), (4) CONTRACTS old
    // endpoints to their base cluster rep and runs connected components
    // over the contracted NEW edges only — old-old edges were absorbed
    // into the assignment at base build and are never re-walked, so the
    // CC input is batch-sized, not corpus-sized. Contraction preserves
    // labels exactly (a rep IS its old component's min id, so the
    // contracted min equals the merged component's min): the result is
    // IDENTICAL to from-scratch clustering of the full corpus — the
    // spec asserts exact equality against union-find over
    // dedup_minhash_native's pairs. No oracle (inherits the minhash
    // banding); spec-pinned instead.
    "dedup_minhash_incremental" -> ((s, d) => {
      val base = minhashBaseStaged(s, d)
      val docsG = mhShingledRead(s, d) // staged: see jaccard_prefix
      val newBands = mhBandKeys(docsG.filter(col("doc_id") % 10 === 0))
      val oldBands = s.read.parquet(s"$base/bands")
      val aK = oldBands.unionByName(newBands)
        .select(col("doc_id").as("va"), col("band"), col("key"))
      val bK = newBands
        .select(col("doc_id").as("vb"), col("band"), col("key"))
      // old ids appear only on the a-side, so an old-new pair surfaces
      // once per shared band (distinct dedupes); a new-new pair surfaces
      // in both orientations — the va<vb guard keeps one.
      val cand = aK.join(bK, Seq("band", "key"))
        .filter(col("va") =!= col("vb") &&
          (col("va") % 10 =!= 0 || col("va") < col("vb")))
        .select(least(col("va"), col("vb")).as("da"),
          greatest(col("va"), col("vb")).as("db"))
        .distinct()
      val newEdges = mhExactVerified(cand, docsG)
        .select(col("da").as("src"), col("db").as("dst"))
      val asg = s.read.parquet(s"$base/assign")
      // contract: old endpoints → their base rep; new ids map to self
      val contracted = newEdges
        .join(asg.select(col("doc_id").as("src"),
          col("cluster_rep").as("ra")), Seq("src"), "left")
        .join(asg.select(col("doc_id").as("dst"),
          col("cluster_rep").as("rb")), Seq("dst"), "left")
        .select(coalesce(col("ra"), col("src")).as("src"),
          coalesce(col("rb"), col("dst")).as("dst"))
      val cc = graft.operators.ConnectedComponents(contracted)
      // compose: old rows re-label through their rep, new rows directly
      val oldFinal = asg
        .join(cc.select(col("v").as("cluster_rep"), col("comp")),
          Seq("cluster_rep"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("cluster_rep")).as("cluster_rep"))
      val newFinal = docsG.filter(col("doc_id") % 10 === 0)
        .select("doc_id")
        .join(cc.select(col("v").as("doc_id"), col("comp")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster_rep"))
      oldFinal.unionByName(newFinal)
        .select(col("doc_id"), col("cluster_rep"),
          (col("doc_id") % 10 === 0).as("is_new"))
        .orderBy("doc_id")
    }),

    // Word-bigram language model, trained and evaluated inside the
    // engine — the statistical-LM quality signal (CCNet-style) without
    // an external model artifact: train docs (doc_id even) produce
    // add-1-smoothed bigram counts, held-out docs (odd) score
    // p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V+1), reported as per-language
    // held-out avg NLL in nats (lower = the held-out half looks like
    // the training half — a drifting/templated corpus shows up as a
    // rising NLL between crawls). Shapes at 100 TB: the corpus is
    // tokenized in one pass per side; counts are (lang, w1[, w2])-keyed
    // aggregates bounded by the OBSERVED bigram vocabulary (Heaps-law
    // sublinear); the held-out stream joins against those count tables
    // on their natural keys and the per-lang V joins as a broadcast.
    // Nothing holds a dense V² matrix anywhere — smoothing mass lives
    // in the formula, not a materialized table.
    "text_bigram_lm_nll" -> ((s, d) => {
      val toksDf = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("lang"), (col("doc_id") % 2 === 0).as("train"),
          toks(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .localCheckpoint(true) // one tokenize: bigram sides + vocab
      val bi = toksDf
        .select(col("lang"), col("train"),
          explode(expr("transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, " +
            "element_at(t, i + 1) AS w2))")).as("p"))
        .select(col("lang"), col("train"),
          col("p.w1").as("w1"), col("p.w2").as("w2"))
      // bigram-vocab table checkpointed ONCE (bounded by the observed
      // bigram vocabulary, Heaps-sublinear); the unigram context counts
      // derive from it — c(w1·) = Σ_w2 c(w1,w2) exactly (integer counts
      // in doubles, exact far past any corpus size) — so the train-side
      // bigram stream explodes and exchanges once, not twice, and the
      // second aggregation runs at vocab grain
      val cBi = bi.filter(col("train")).groupBy("lang", "w1", "w2")
        .agg(count(lit(1)).cast("double").as("cb"))
        .localCheckpoint(true) // multi-referenced: held-out join + cUni
      val cUni = cBi.groupBy("lang", "w1").agg(sum("cb").as("cu"))
      val vocab = toksDf.filter(col("train"))
        .select(col("lang"), explode(col("t")).as("w"))
        .groupBy("lang").agg(countDistinct("w").cast("double").as("v"))
      bi.filter(!col("train"))
        .join(cBi, Seq("lang", "w1", "w2"), "left")
        .join(cUni, Seq("lang", "w1"), "left")
        .join(broadcast(vocab), "lang")
        .select(col("lang"),
          (-log((coalesce(col("cb"), lit(0.0)) + 1.0) /
            (coalesce(col("cu"), lit(0.0)) + col("v") + 1.0))).as("nll"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg("nll"), 4).as("avg_nll"))
        .orderBy("lang")
    }),

    // Collocation mining by pointwise mutual information: which of the
    // top-50 corpus tokens co-occur in documents far more than chance —
    // PMI = ln(P(a,b) / (P(a)P(b))) over document co-membership, the
    // classic keyword-association diagnostic (and the screen behind
    // phrase induction). Blow-up control is structural: membership is
    // restricted to the top-50 tokens BEFORE pairing, so the per-doc
    // self-join emits ≤ C(50,2) pairs per doc whatever the vocabulary,
    // and the pair aggregate is ≤ 1,225 rows. Support floor n_ab >= 5
    // keeps the tail honest; the top-20 is a pinned total order on the
    // ROUNDED pmi (both engines sort identical doubles). + 0.0: PMI is
    // signed and a tiny negative can round to -0.0.
    "text_cooccur_pmi" -> ((s, d) => {
      val docTok = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(array_distinct(toks(col("text")))).as("tok"))
        .localCheckpoint(true) // one tokenize: df ranking + membership
      val top = docTok.groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok").asc).limit(50)
      val mem = docTok.join(broadcast(top), "tok")
      val nd = t(s, d, "documents")
        .agg(count(lit(1)).cast("double").as("nd"))
      mem.as("a").join(mem.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("ta"), col("b.tok").as("tb"),
          col("a.df").as("na"), col("b.df").as("nb"))
        .groupBy("ta", "tb", "na", "nb")
        .agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 5)
        .crossJoin(broadcast(nd))
        .select(col("ta"), col("tb"), col("n_both"),
          (round(log(col("n_both") * col("nd") /
            (col("na") * col("nb"))), 6) + lit(0.0)).as("pmi"))
        .orderBy(col("pmi").desc, col("ta").asc, col("tb").asc)
        .limit(20)
    }),

    // SimHash near-dup: 64-bit fingerprint from per-token xxhash64 bit
    // votes; 4×16-bit band equi-join prunes candidates, then exact Hamming
    // distance (bit_count of xor) filters. All codegen'd built-ins.
    "dedup_simhash" -> ((s, d) => {
      val tokens = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism) // single-file source
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      val fps = graft.operators.Dedup.simhash(tokens, "doc_id", "h")
      graft.operators.Dedup.simhashPairs(fps, "doc_id", maxHamming = 3)
        .orderBy("da", "db")
    }),

    // B46 (freq half): per-language token statistics.
    // TF-IDF keyword extraction: top-3 terms per doc by tf·ln((N+1)/(df+1))
    // (smoothed IDF). Document frequency is derived FROM the tf aggregate
    // (one row per (doc, token) already), so the corpus is tokenized and
    // shuffled once — tf is (doc,token)-keyed, df reuses it token-keyed,
    // and the corpus size joins in as a 1-row broadcast, never a collect.
    // The per-doc top-k is a WindowGroupLimit rank, not a global sort. At
    // 100 TB the only O(corpus-tokens) exchange is the tf aggregation;
    // everything downstream is O(distinct (doc,token)) and O(vocab).
    "text_tfidf_topk" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism) // single-file source
        .select(col("doc_id"), explode(toks(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("token").asc)
      tf.join(dfreq, "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf") *
          log((col("n_docs") + 1.0) / (col("df") + 1.0)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("token"),
          round(col("tfidf"), 4).as("tfidf"))
        .orderBy("doc_id", "rn")
    }),

    "text_tokens_stats" -> ((s, d) =>
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism) // single-file source
        .select(col("lang"), col("doc_id"), explode(toks(col("text"))).as("token"))
        .groupBy("lang")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_distinct_tokens"),
          round(count(lit(1)).cast("double") / countDistinct(col("doc_id")), 4)
            .as("avg_tokens_per_doc"))
        .orderBy("lang")),

    // Quality scoring: deterministic length/stopword heuristics.
    "text_quality_score" -> ((s, d) => {
      val tok = toks(col("text"))
      val nTok = size(tok)
      val stop = size(filter(tok, x => x === "the" || x === "a"))
      val stopRatio = stop.cast("double") / nTok
      t(s, d, "documents").select(
        col("doc_id"),
        nTok.as("n_tokens"),
        round((length(col("text")) - (nTok - 1)).cast("double") / nTok, 4)
          .as("avg_token_len"),
        round(stopRatio, 4).as("stopword_ratio"),
        round(least(lit(1.0), nTok / lit(100.0)) * (lit(1.0) - stopRatio), 4)
          .as("quality"))
        .orderBy("doc_id")
    }),

    // Repetition signals (training-data quality, Gopher/C4-style): the
    // share of a document made of its single most frequent token, and
    // the fraction of repeated (non-distinct) bigrams — boilerplate,
    // keyword stuffing and auto-generated text score high here while
    // passing length/stopword checks. One explode + keyed agg for the
    // token half; the bigram half is a pure per-row projection (the
    // shingle set is already distinct, so the repeat fraction falls out
    // of distinct-count vs position-count). All codegen'd built-ins.
    "text_repetition_score" -> ((s, d) => {
      // top-token count via explode + two-phase hash agg. The tempting
      // shuffle-free alternative — longest equal-run of array_sort(tok)
      // through the `aggregate` higher-order fn — measured 2x SLOWER
      // here: HOF lambdas evaluate interpreted per element with a struct
      // allocation per step, while explode + hash agg stays vectorized
      // and the map-side partial agg already collapses each doc's tokens
      // before the exchange. ONE scan for both signals: the per-row
      // bigram stats (n_toks, distinct-bigram count) ride the token
      // explode as extra columns and come back out of the aggregation
      // via first() — constant within each doc's group — instead of a
      // second tokenize pass plus a doc_id join (3 shuffles + 2 scans
      // → 2 shuffles + 1 scan; measured 3.6s → ~2s at sf0.1).
      val tok = toks(col("text"))
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism) // single-file source
        // two selects, NOT one: with the stats and the explode in a single
        // projection, Catalyst splices the raw text expressions into the
        // post-Generate projection and the shingle scan re-runs per TOKEN
        // row (measured 3× slower than the join it replaced). Materializing
        // the per-doc stats in a Project BELOW the Generate keeps them
        // once-per-document; the explode then fans out plain attributes.
        .select(col("doc_id"),
          size(tok).as("n_toks"),
          size(bigrams(tok)).as("n_bg"),
          tok.as("tka"))
        .select(col("doc_id"), col("n_toks"), col("n_bg"),
          explode(col("tka")).as("tk"))
        .groupBy("doc_id", "tk")
        .agg(count(lit(1)).as("cnt"),
          first("n_toks").as("n_toks"), first("n_bg").as("n_bg"))
        .groupBy("doc_id")
        .agg(max("cnt").as("top_cnt"), sum("cnt").as("n_tokens"),
          first("n_toks").as("n_toks"), first("n_bg").as("n_bg"))
        .select(col("doc_id"),
          round(col("top_cnt").cast("double") / col("n_tokens"), 4)
            .as("top_token_frac"),
          when(col("n_toks") >= 2,
            round(lit(1.0) -
              col("n_bg").cast("double") / (col("n_toks") - 1), 4))
            .otherwise(lit(0.0)).as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    // Composed quality gate: each doc gets the FIRST failing rule (or
    // "keep") — the audit-trail shape of a production filter stage —
    // then per-(lang, verdict) survival counts. The rules are all
    // map-side projections: the gate costs one scan and one small
    // keyed agg, no matter the corpus size.
    "quality_gate" -> ((s, d) => {
      val tok = toks(col("text"))
      val nTok = size(tok)
      val avgLen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
      val verdict = when(nTok < 5, "too_short")
        .when(nTok > 5000, "too_long")
        .when(avgLen < 2.0 || avgLen > 15.0, "token_shape")
        .otherwise("keep")
      t(s, d, "documents")
        .select(col("lang"), verdict.as("verdict"))
        .groupBy("lang", "verdict")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "verdict")
    }),

    // BPE-ish token counting: regex word-piece extraction vs whitespace.
    "token_count_bpe" -> ((s, d) => {
      val pat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
      val pieces = size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
      val ws = size(toks(col("text")))
      t(s, d, "documents").select(
        col("doc_id"),
        ws.as("n_ws_tokens"),
        pieces.as("n_pieces"),
        round(pieces.cast("double") / ws, 4).as("pieces_per_token"))
        .orderBy("doc_id")
    }),

    // Per-document token entropy — the information-density quality
    // signal (near-zero entropy = boilerplate/repetition, the docs a
    // training mix drops first). H = ln n − (Σ c·ln c)/n over per-token
    // counts, computed in two hash aggregations (token counts, then the
    // per-doc fold) — no window, no sort; both shuffles are keyed and
    // partial-aggregated map-side.
    "text_ngram_entropy" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n"),
          sum(col("c").cast("double") * log(col("c"))).as("clnc"))
        .select(col("doc_id"),
          (round(log(col("n")) - col("clnc") / col("n"), 4) + lit(0.0))
            .as("token_entropy"))
        .orderBy("doc_id")),

    // Document fingerprinting: canonical content hash (md5 of the sorted
    // distinct token set) — groupable dedup key at any scale, and md5 is
    // engine-portable, so the fingerprint itself carries a DuckDB oracle
    // (an engine-local hash like xxhash64 would be faster per byte but
    // unverifiable across engines and not portable between producers).
    "text_fingerprint" -> ((s, d) => {
      val canon = concat_ws(" ",
        array_sort(array_distinct(toks(col("text")))))
      t(s, d, "documents")
        .select(col("doc_id"), md5(canon).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // Incremental n-gram novelty per document — the dedup-aware
    // curation signal ("how much of this doc's phrasing is new to the
    // corpus so far"): a bigram is NOVEL in the first doc (by doc_id —
    // crawl order) that contains it, and each doc scores the fraction
    // of its distinct bigrams that are first-seen there. Shape: the
    // exploded stream feeds TWO aggregates — per-doc shingle counts,
    // and a shingle-keyed min whose OUTPUT re-keys by its winning doc
    // to yield the per-doc novel counts directly — then one doc-keyed
    // left join. The naive spelling joins the full shingle stream back
    // on the shingle key (a second corpus-sized shuffle); reading the
    // novel counts off the min-aggregate instead makes the only
    // post-explode shuffles map-side-combinable aggregations, so a hot
    // boilerplate shingle collapses in the partial agg. Docs with zero
    // bigrams (<2 tokens) emit nothing, like every shingle consumer.
    "text_ngram_novelty" -> ((s, d) => {
      val sh = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("tok"))
        .select(col("doc_id"), explode(bigrams(col("tok"))).as("g"))
      val novel = sh.groupBy("g").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_shingles"), 6).as("novelty"))
        .orderBy("doc_id")
    }),

    // B46 (quantile half): per-lang doc-length stats via approximate
    // percentiles (no oracle — sketch differs from DuckDB; ScalaTest
    // bounds it against the exact quantile).
    "text_doc_stats" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(
          percentile_approx(col("n_chars"), lit(0.5), lit(10000))
            .as("med_chars"),
          percentile_approx(col("n_chars"), lit(0.9), lit(10000))
            .as("p90_chars"),
          round(avg("n_chars"), 2).as("avg_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")),

    // Language ID: charset heuristic as pure built-ins — each rule is an
    // unanchored `rlike` over a character class, compiled once per task
    // (foldable pattern) and evaluated inside whole-stage codegen; the
    // prior per-row Scala udf paid an eval boundary on every document.
    // Deterministic, so it oracles (RE2 and java.util.regex agree on
    // plain character classes).
    "text_langid_ngram" -> ((s, d) => {
      val langId = when(col("text").isNull, "und")
        .when(col("text").rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
        .when(col("text").rlike("[äöüß]"), "de")
        .when(col("text").rlike("[ñ¡¿]"), "es")
        .when(col("text").rlike("[éèêçà]"), "fr")
        .otherwise("en")
      t(s, d, "documents")
        .select(col("doc_id"), langId.as("pred_lang"))
        .orderBy("doc_id")
    }),

    // Benchmark-contamination check (training-data hygiene): which
    // training documents share ≥5 distinct shingles with a held-out
    // "benchmark" slice (here a deterministic 5% of the corpus)? The
    // exact answer is a shingle equi-join; the 100 TB posture is the
    // Bloom prefilter in front of it — the benchmark shingle set compiles
    // into a ~bounded bitset broadcast to every scan task, so the
    // overwhelmingly-clean train side is pruned map-side BEFORE the
    // shuffle, and only prefilter survivors (true hits + the 1% false
    // positives) pay the exact-verify join that makes the result exact.
    // Bloom has no false negatives, so output == the plain join's.
    "text_contamination_check" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // materialize the benchmark shingle set ONCE — it feeds both the
      // Bloom build and the verify join (recomputing it would tokenize
      // the benchmark slice twice)
      val benchG = docs.filter(col("doc_id") % 20 === 0)
        .select(toks(col("text")).as("t"))
        .select(explode(bigrams(col("t"))).as("g"))
        .distinct()
        .localCheckpoint(true)
      val bf = benchG.select(xxhash64(col("g")).as("h"))
        .stat.bloomFilter("h", 200000L, 0.01)
      val bfBytes = new java.io.ByteArrayOutputStream()
      bf.writeTo(bfBytes)
      val bfLit = lit(bfBytes.toByteArray)
      // broadcast the verify join: the benchmark set is the small side by
      // construction, so the (huge) train side never shuffles — the only
      // shuffle left is the per-doc count over prefilter survivors. The
      // Bloom probe is the native codegen'd expression, so the prefilter
      // runs inside the scan's codegen stage — on the path every training
      // document pays, a UDF eval boundary is the one avoidable cost.
      docs.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .select(col("doc_id"), explode(bigrams(col("t"))).as("g"))
        .filter(call_function("graft_bloom_contains",
          xxhash64(col("g")), bfLit))
        .join(broadcast(benchG), "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy("doc_id")
    }),

    // Jensen–Shannon divergence between two corpus slices' unigram
    // distributions (en vs de) — the symmetric, bounded [0, ln 2]
    // distribution-shift metric for TEXT, complementing the numeric PSI
    // (quality_drift_psi). One tokenize pass per slice → (token, p) and
    // (token, q) → FULL OUTER join on the token key (vocabulary-sized)
    // → per-token 0.5·(p·ln(p/m) + q·ln(q/m)) with m = (p+q)/2 and the
    // 0·ln0 = 0 convention spelled as CASE (engines disagree on
    // NULL/ln(0) arithmetic — same pinning as the KM curve).
    "text_js_divergence" -> ((s, d) => {
      // each slice's normalizer rides a 1-row broadcast total, not a
      // global window — the vocabulary axis grows with the corpus
      // (Heaps-sublinear), and a Window.partitionBy() over it funnels
      // every token row through one task; p = c/total is value-
      // identical either way (c and total are exact longs)
      def dist(lang: String, pcol: String) = {
        val counts = t(s, d, "documents").filter(col("lang") === lang)
          .select(explode(split(lower(col("text")), " ")).as("token"))
          .filter(length(col("token")) >= 2)
          .groupBy("token").agg(count(lit(1)).as("c"))
        counts.crossJoin(broadcast(counts.agg(sum("c").as("tot"))))
          .withColumn(pcol, col("c") / col("tot"))
          .select("token", pcol)
      }
      val joined = dist("en", "p").join(dist("de", "q"), Seq("token"),
          "full_outer")
        .select(coalesce(col("p"), lit(0.0)).as("p"),
          coalesce(col("q"), lit(0.0)).as("q"))
        .withColumn("m", (col("p") + col("q")) / 2)
        .withColumn("term",
          (when(col("p") > 0, col("p") * log(col("p") / col("m")))
            .otherwise(lit(0.0)) +
            when(col("q") > 0, col("q") * log(col("q") / col("m")))
              .otherwise(lit(0.0))) / 2)
      joined.agg((round(sum("term"), 6) + lit(0.0)).as("js_nats"),
        count(lit(1)).as("n_union_tokens"),
        sum(when(col("p") > 0 && col("q") > 0, 1L).otherwise(0L))
          .as("n_shared_tokens"))
    }),

    // Out-of-vocabulary rate per language against the corpus top-2000
    // vocabulary — the tokenizer-health readout a multilingual pipeline
    // reads before committing to a vocab size: a language whose OOV
    // share is high under the shared vocabulary will fragment into
    // byte-fallback tokens at training time. ONE tokenize pass feeds
    // both sides: corpus-wide counts → top-K by (count DESC, token ASC)
    // (the tie-break makes the K-boundary deterministic cross-engine,
    // TakeOrdered not a global sort), broadcast back as a membership
    // flag, per-lang fold. OOV rate is an exact-integer ratio. At
    // 100 TB the vocab stays a bounded broadcast (Heaps' law keeps
    // vocabulary sublinear; top-K caps it outright) and the token
    // stream is never collected.
    "text_oov_rate" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(col("lang"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(length(col("token")) >= 2)
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(2000)
        .select(col("token"), lit(true).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab"), 1L).otherwise(0L)).as("n_in_vocab"))
        .select(col("lang"), col("n_tokens"),
          (col("n_tokens") - col("n_in_vocab")).as("n_oov"),
          round((col("n_tokens") - col("n_in_vocab")).cast("double") /
            col("n_tokens"), 4).as("oov_rate"))
        .orderBy("lang")
    }),

    // Vocabulary coverage curve — the companion readout to
    // text_oov_rate that answers the SIZING question ("how big must the
    // vocab be"): cumulative share of all BIGRAM occurrences covered by
    // the top-K bigrams at K ∈ {100, 250, 500, 750}. Bigrams, not
    // unigrams: the synthetic corpus draws from a 30-word dictionary
    // (unigram coverage saturates instantly — text_oov_rate already
    // showed OOV = 0 at top-2000), while the ~900-bigram vocabulary
    // gives the curve a real shape. One tokenize pass → vocabulary-
    // sized counts; the curve only reads the top-750, so the plan takes
    // exactly that — TakeOrdered (per-partition top-k, no shuffle of the
    // vocabulary axis, which is Heaps-sublinear but still corpus-
    // growing) plus a 1-row broadcast total, prefix sums folded over
    // the 750-element sorted array. No Window operator: the earlier
    // global rank window single-partitioned the whole vocabulary — the
    // same scale hazard the CR-k key designs out. Counts are exact
    // longs, so the fold is order-free integer arithmetic and coverage
    // an exact-integer ratio.
    "text_vocab_coverage" -> ((s, d) => {
      val counts = t(s, d, "documents")
        .select(split(lower(col("text")), " ").as("t"))
        .filter(size(col("t")) >= 2) // sequence(1, 0) would run BACKWARD
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").as("total_bigrams"))
      val top = counts.orderBy(col("cnt").desc, col("bg").asc).limit(750)
        .agg(sort_array(collect_list(struct(
          (-col("cnt")).as("ncnt"), col("bg").as("b"),
          col("cnt").as("c")))).as("arr"))
      top.crossJoin(broadcast(total))
        .select(explode(array(lit(100), lit(250), lit(500), lit(750)))
          .as("k"), col("arr"), col("total_bigrams"))
        .filter(size(col("arr")) >= col("k"))
        .withColumn("covered_bigrams",
          aggregate(slice(col("arr"), lit(1), col("k")), lit(0L),
            (acc, x) => acc + x.getField("c")))
        .select(col("k"), col("covered_bigrams"), col("total_bigrams"),
          round(col("covered_bigrams").cast("double") /
            col("total_bigrams"), 4).as("coverage"))
        .orderBy("k")
    }),

    // Flesch–Kincaid readability: grade = 0.39·(words/sentences) +
    // 11.8·(syllables/words) − 15.59, with syllables approximated by
    // vowel-group runs — the standard heuristic when no dictionary is
    // in the loop (both engines count the SAME regex matches, so the
    // approximation cancels in the compare). Pure map-side: three
    // counting expressions per document, no exchange before the
    // presentation sort; the grade feeds quality bucketing the same way
    // the CCNet/Gopher scores do.
    "text_readability" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("words"),
          greatest(lit(1L),
            size(expr("regexp_extract_all(text, '[.!?]+', 0)"))
              .cast("long")).as("sentences"),
          size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
            .cast("long").as("syllables"))
        .withColumn("fk_grade",
          round(lit(0.39) * col("words") / col("sentences") +
            lit(11.8) * col("syllables") / col("words") - lit(15.59), 4)
            + lit(0.0))
        .orderBy("doc_id")),

    // Zipf-law fit per language: the corpus-health diagnostic (natural
    // text follows freq ∝ rank^s with s ≈ -1; generated/templated spam
    // bends the curve). ONE tokenize pass → per-(lang, token) counts
    // (the only corpus-sized exchange), then the top-200 tokens PER
    // LANGUAGE are ranked with a lang-partitioned window — a keyed
    // exchange over vocabulary-sized data, never a global
    // single-partition sort (vocabulary grows sublinearly in the corpus
    // — Heaps' law — and the per-group top-k bounds the window input
    // outright). The slope comes from the built-in least-squares
    // aggregate regr_slope over (ln rank, ln freq).
    "text_zipf_fit" -> ((s, d) => {
      val wl = Window.partitionBy("lang")
        .orderBy(col("freq").desc, col("token").asc)
      t(s, d, "documents")
        .select(col("lang"), explode(split(lower(col("text")), " "))
          .as("token"))
        .filter(length(col("token")) >= 2)
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("freq"))
        .withColumn("rank", row_number().over(wl))
        .filter(col("rank") <= 200)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          (round(expr("regr_slope(ln(freq), ln(rank))"), 4) + lit(0.0))
            .as("zipf_slope"),
          round(expr("regr_r2(ln(freq), ln(rank))"), 4).as("fit_r2"))
        .orderBy("lang")
    }),

    // Heaps-law vocabulary growth over the source-acquisition axis: as
    // sources accrete (src0, src1, …), how much NEW bigram vocabulary
    // does each contribute, and does cumulative vocabulary follow
    // V ∝ N^β (β < 1 for natural text; β → 0 means new feeds are
    // re-hashes of what the corpus already holds — the diminishing-
    // returns signal a data-acquisition team reads before buying the
    // next crawl). Plan shape: ONE tokenize pass materialized (persist,
    // recomputable — the corpus-grain rule), then BOTH aggregates read
    // it: a bigram-keyed MIN pins each bigram's first source (map-side
    // partial min collapses each task's repeats before the only
    // vocabulary-sized exchange; Heaps' law itself says vocabulary is
    // sublinear in the corpus), and token totals are a map-side
    // per-doc-size aggregate — the earlier shape re-tokenized the whole
    // corpus for the second fold. Everything downstream — new-vocab
    // counts, cumulative sums, the log-log regr_slope — runs on the
    // BOUNDED source axis (20 rows). No corpus-sized window anywhere.
    "text_vocab_growth" -> ((s, d) => {
      val srcOrd = substring(col("source"), 4, 10).cast("int")
      val tokenized = t(s, d, "documents")
        .select(srcOrd.as("src_ord"), toks(col("text")).as("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val firstSeen = tokenized
        .select(col("src_ord"), explode(bigrams(col("t"))).as("bg"))
        .groupBy("bg").agg(min("src_ord").as("first_src"))
        .groupBy(col("first_src").as("src_ord"))
        .agg(count(lit(1)).as("new_vocab"))
      val toksPerSrc = tokenized
        .groupBy("src_ord")
        .agg(sum(size(col("t"))).as("n_tokens"))
      val w = Window.orderBy("src_ord") // bounded: ≤|sources| rows
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy() // bounded: ≤|sources| rows
      toksPerSrc.join(firstSeen, Seq("src_ord"), "left")
        .withColumn("new_vocab", coalesce(col("new_vocab"), lit(0L)))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .withColumn("cum_vocab", sum("new_vocab").over(w))
        .withColumn("heaps_beta",
          round(regr_slope(log(col("cum_vocab").cast("double")),
            log(col("cum_tokens").cast("double"))).over(wAll), 4)
            + lit(0.0))
        .select(col("src_ord"), col("n_tokens"), col("new_vocab"),
          col("cum_tokens"), col("cum_vocab"), col("heaps_beta"))
        .orderBy("src_ord")
    }),

    // Cross-source precedence dedup: when the SAME text arrives from
    // several feeds, keep the copy from the most trusted source — the
    // curation rule every multi-corpus mixer applies (wiki beats
    // crawl). The corpus is documents plus a synthesized lower-priority
    // mirror of every 3rd doc (same text, source='mirror', offset ids —
    // the same synthesized-overlap device as the bloom-dedup family),
    // so the dup groups provably exist and every survivor must be an
    // original. One exchange keyed by xxhash64(text) — text bytes never
    // shuffle — with the survivor picked by min_by over (priority,
    // doc_id); priorities ride a CASE expression, at scale a broadcast
    // source→rank dimension.
    "dedup_source_priority" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mirror = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000000L)
        .withColumn("source", lit("mirror"))
      val prio = when(col("source") === "mirror", 100)
        .otherwise(regexp_extract(col("source"), "\\d+", 0).cast("int"))
      docs.unionByName(mirror)
        // one scalar survivor key (prio majors, doc_id breaks ties):
        // engine-portable min_by/arg_min ordering, no struct comparison
        .withColumn("skey",
          prio.cast("long") * 10000000000L + col("doc_id"))
        .groupBy(xxhash64(col("text")).as("h"))
        .agg(expr("min_by(source, skey)").as("kept_source"),
          count(lit(1)).as("n_copies"))
        .groupBy("kept_source")
        .agg(count(lit(1)).as("survivors"),
          sum(col("n_copies") - 1).as("dropped"))
        .orderBy("kept_source")
    }),

    // Unicode-canonical text identity: NFC-normalize + casefold BEFORE
    // hashing, via the native codegen'd `graft_unicode_normalize`
    // expression (plans/UnicodeNormalize.scala). Byte-exact dedup misses
    // composed-vs-decomposed encodings of the SAME visible text ("é" as
    // U+00E9 vs "e"+U+0301) — normalization is step zero of exact dedup
    // on any crawled corpus. Entirely map-side: per doc one projection
    // computes the canonical md5; `changed` flags docs whose canonical
    // form differs from the raw bytes (the slice a byte-exact pass would
    // have mis-keyed). Grouping downstream happens on the 16-byte
    // digest, never the document bytes — the exchange a dedup built on
    // this column pays is digest-sized. The ASCII fast path in the
    // expression (isNormalized scan, no rebuild) keeps the dominant
    // ASCII slice at one pass per string.
    "text_unicode_normalize" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          call_function("graft_unicode_normalize",
            lower(col("text")), lit("NFC")).as("norm"),
          col("text"))
        .select(col("doc_id"),
          md5(col("norm").cast("binary")).as("norm_md5"),
          (col("norm") =!= col("text")).as("changed"),
          length(col("norm")).as("norm_len"))
        .orderBy("doc_id")
    }),

    // Exact duplicated-substring detection at the 8-token-gram level (the
    // span-dedup signal from "Deduplicating Training Data Makes Language
    // Models Better": memorized spans repeat VERBATIM across documents).
    // Every 8-gram START POSITION is a span (duplicates kept — shinglesAll,
    // not the set-semantics shingles), a gram is "duplicated" when it
    // occurs in >1 distinct document, and each doc reports its duplicated
    // span/gram counts. "More than one distinct doc" is min(doc_id) ≠
    // max(doc_id) over the gram partition — a window pair on ONE exchange
    // keyed by gram, so the corpus is tokenized and shingled exactly once
    // and there is no doc-frequency self-join recomputing the gram set.
    // No pairwise comparison anywhere; at 100 TB the gram key can be
    // swapped for its xxhash64 without changing the plan shape.
    "dedup_substring_ngram" -> ((s, d) => {
      val wg = Window.partitionBy("g")
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        // tokens projected to an attribute first — the HOF lambda runs
        // interpreted, an inline split would re-tokenize O(k²) per doc
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
        .select(col("doc_id"),
          explode(graft.operators.Dedup.shinglesAll(col("t"), 8)).as("g"))
        .withColumn("dup",
          min("doc_id").over(wg) =!= max("doc_id").over(wg))
        .filter(col("dup"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_spans"),
          countDistinct("g").as("n_dup_grams"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer-training step: the adjacent-symbol pair counts that
    // drive every merge decision. The corpus is FIRST compressed to its
    // vocabulary (token, freq) — the classic BPE-at-scale move: pair
    // explosion runs over |vocab| rows, not every token occurrence, so a
    // 100 TB corpus with a 10M-type vocabulary explodes 10M rows instead
    // of trillions. Two keyed hash aggregations + TakeOrderedAndProject
    // for the top-20; the pair extraction is a SQL transform over
    // character positions (no UDF).
    "bpe_pair_counts" -> ((s, d) =>
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(length(col("token")) >= 2)
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .select(col("freq"), explode(expr(
          "transform(sequence(1, char_length(token) - 1)," +
            " i -> substring(token, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)),

    // Iterative BPE merge TRAINING — completes the tokenizer family:
    // `bpe_pair_counts` is one pair census, this is the loop that
    // produces the ordered merge table a tokenizer ships. Scale
    // discipline is VOCAB COMPRESSION, exactly how large-corpus BPE
    // trainers work: every iteration runs over (word-type, freq) rows —
    // O(|vocab|), never O(occurrences); the corpus is tokenized ONCE.
    // Per iteration: one pair-count hash aggregate, a 1-ROW collect of
    // the argmax pair (bounded by construction; deterministic
    // lexicographic tie-break), and a codegen'd higher-order fold that
    // applies the merge greedily left-to-right inside each word —
    // matching positional greedy BPE exactly, since a symbol merged in
    // this pass (l+r) can never equal l again (r is non-empty).
    // localCheckpoint per iteration truncates the K-deep lineage, the
    // same discipline as graph_pagerank. No oracle (iterative argmax is
    // not SQL-expressible); the spec asserts exact equality of the merge
    // table against an independent reference trainer.
    "bpe_train_merges" -> ((s, d) => {
      val K = 8
      var vocab = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(length(col("token")) >= 2)
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .select(split(col("token"), "").as("syms"), col("freq"))
        .localCheckpoint(true)
      val merges =
        scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      var exhausted = false
      for (rank <- 1 to K if !exhausted) {
        val best = vocab
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(syms) - 2)," +
              " i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val l = best(0).getString(0)
          val r = best(0).getString(1)
          merges += ((rank, l, r, best(0).getLong(2)))
          val folded = aggregate(col("syms"),
            array().cast("array<string>"),
            (out, x) => when(
              size(out) > 0 && element_at(out, -1) === lit(l) &&
                x === lit(r),
              concat(slice(out, lit(1), size(out) - 1), array(lit(l + r))))
              .otherwise(concat(out, array(x))))
          vocab = vocab.select(folded.as("syms"), col("freq"))
            .localCheckpoint(true)
        }
      }
      import s.implicits._
      merges.toSeq.toDF("rank", "left", "right", "score").orderBy("rank")
    }),

    // BPE ENCODING — the tokenization step itself, downstream of the
    // trainer: apply the trained merge table to the corpus and report
    // per-document piece statistics (the number that prices a training
    // run). Scalable shape mirrors how real tokenizers batch: merges
    // apply to DISTINCT word types (vocab-cardinality, never
    // occurrence-cardinality) via the same codegen'd left-to-right
    // greedy fold the trainer uses — one fold per merge rank, ≤K
    // vocab-sized passes — and documents then JOIN the (type → pieces)
    // table and aggregate. The merge table is the only driver state
    // (≤K rows). Spec-gated like the trainer (iterative merges are not
    // SQL-expressible): an independent positional encoder must agree on
    // every document.
    "tokenize_bpe_encode" -> ((s, d) => {
      // ≤K rows of driver state, read from the staged artifact (the
      // trainer runs once per corpus, not once per encode job)
      val merges = s.read.parquet(bpeMergesStaged(s, d))
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2)))
      // unlike the trainer (whose per-iteration argmax ACTION forces a
      // materialization boundary), the encoder is one straight-line
      // plan: the K folds nest into a single projection over the type
      // table — one pass, no intermediate checkpoints (measured ~2×
      // over checkpoint-per-merge)
      val symsAll = merges.foldLeft(
        split(col("token"), "").as("syms")) { case (syms, (l, r)) =>
        aggregate(syms, array().cast("array<string>"),
          (out, x) => when(
            size(out) > 0 && element_at(out, -1) === lit(l) &&
              x === lit(r),
            concat(slice(out, lit(1), size(out) - 1), array(lit(l + r))))
            .otherwise(concat(out, array(x))))
      }
      val pieces = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(length(col("token")) >= 2)
        .distinct()
        .select(col("token"), size(symsAll).cast("long").as("pieces"))
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(length(col("token")) >= 2)
        .join(pieces, "token")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("pieces").as("n_pieces"),
          round(sum("pieces").cast("double") / count(lit(1)), 4)
            .as("pieces_per_token"))
        .orderBy("doc_id")
    }),

    // HTML boilerplate strip — the extract-visible-text pass every
    // web-scraped corpus runs before quality scoring. Markup is wrapped
    // around each document deterministically (tags with attributes, a
    // self-closing tag, entity escapes) so the strip has real structure to
    // remove: tags → space, then entity decode (&amp; LAST, so it can't
    // create new entities), then whitespace collapse. All RE2-safe
    // codegen'd regexp_replace — map-side only, no shuffle, the same
    // plan shape as pii_scrub.
    "text_html_strip" -> ((s, d) => {
      val html = concat(
        lit("<html><body><h1 class=\"t\">Doc "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><a href=\"/d/"), col("doc_id"),
        lit("\">link &amp; more&nbsp;&lt;here&gt;</a><br/></body></html>"))
      val noTags = regexp_replace(html, "<[^>]*>", " ")
      val decoded = regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(noTags, "&nbsp;", " "), "&lt;", "<"),
        "&gt;", ">"), "&amp;", "&")
      t(s, d, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(decoded, "\\s+", " ")).as("visible"))
        .withColumn("n_visible_chars",
          length(col("visible")).cast("long"))
        .orderBy("doc_id")
    }),

    // Corpus-diversity entropy (mixture monitoring): Shannon entropy of
    // each language's source distribution — the number a data-mixture
    // dashboard alarms on when one crawl starts dominating a language.
    // Uses the identity H = log2(N) - Σ n·log2(n) / N so the whole thing
    // is TWO map-side-combinable hash aggregations over (lang, source)
    // counts — no per-row probabilities, no window, and the exchange
    // carries group cardinality (|langs|×|sources|) regardless of corpus
    // size. Every log2 runs on an exact integer count cast to double, so
    // both engines evaluate the identical IEEE expression.
    "text_diversity_entropy" -> ((s, d) => {
      val n = col("n").cast("double")
      val tot = sum("n").cast("double")
      t(s, d, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .groupBy("lang")
        .agg(sum("n").as("n_docs"),
          count(lit(1)).as("n_sources"),
          round(log2(tot) - sum(n * log2(n)) / tot, 4).as("entropy_bits"))
        .orderBy("lang")
    }),

    // Normalized exact dedup: the curation step between byte-exact
    // dedup (misses trivial reformatting) and MinHash (overkill for
    // it) — case-fold, strip punctuation, collapse whitespace, then
    // group byte-exact on the NORMALIZED form. The md5 key means the
    // exchange carries 16-byte keys, never document text, and the
    // canonical pick (lowest doc_id) plus the copy count come from one
    // window over that single keyed exchange. At 100 TB this replaces
    // most of the near-dup workload for a fraction of its cost, which
    // is why production pipelines run it FIRST.
    "dedup_exact_normalized" -> ((s, d) => {
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", " "), " +", " "))
      val w = Window.partitionBy("norm_key")
      t(s, d, "documents")
        .select(col("doc_id"), md5(norm).as("norm_key"))
        .withColumn("canonical_id", min("doc_id").over(w))
        .withColumn("n_copies", count(lit(1)).over(w))
        .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
        .select("doc_id", "canonical_id", "n_copies", "is_canonical")
        .orderBy("doc_id")
    }),

    // Perplexity proxy — a character-bigram language model trained on
    // the corpus itself, scoring each doc in bits/char: the cheap
    // fluency signal that separates natural prose from gibberish and
    // near-random payloads without a neural model. Two passes: (1) a
    // keyed count over exploded bigrams builds the LM (vocabulary =
    // distinct char bigrams, ~1k rows — broadcastable at ANY corpus
    // size since the alphabet, not the corpus, bounds it); (2) the
    // same exploded scan joins the broadcast LM and folds avg
    // -log2 p per doc. Shuffles carry (doc_id, 2-char gram) pairs;
    // at 100 TB both aggs partial map-side, and the LM can be trained
    // on a sample without changing the plan shape.
    "text_perplexity_proxy" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(length(col("text")) >= 2)
        .select(col("doc_id"), lower(col("text")).as("t"))
      // Bigram extraction is slice+zip over the split char array — all
      // codegen'd, O(len) per doc. NOT substring(t, i, 2) per exploded
      // index: UTF8 char offsets make each substring O(i), turning a
      // doc into O(len²) byte scans (measured 3.7 s at sf0.1; this
      // shape ~1 s). Grams become xxhash64'd longs immediately (the
      // (c1, c2) pair keys the hash — collision-free equality classes),
      // so every downstream agg/join key is 8 bytes. The LM agg
      // combines map-side to ~|alphabet|² rows per partition; the
      // scoring pass joins the raw hashed stream against the broadcast
      // LM and folds avg map-side, so the per-doc shuffle carries avg
      // partials, never occurrences. The grand total needs no
      // extraction at all: Σ(len−1) off the base scan.
      def grams(src: DataFrame) = src
        .select(col("doc_id"), split(col("t"), "").as("cs"))
        .select(col("doc_id"),
          explode(arrays_zip(
            slice(col("cs"), lit(1), size(col("cs")) - 1),
            slice(col("cs"), lit(2), size(col("cs")) - 1))).as("p"))
        .select(col("doc_id"), xxhash64(col("p.0"), col("p.1")).as("g"))
      val lm = grams(docs).groupBy("g").agg(count(lit(1)).as("c"))
      val total = docs.agg(sum(length(col("t")) - 1).as("tot"))
      grams(docs).join(broadcast(lm), "g")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (round(-avg(log2(col("c").cast("double") /
            col("tot").cast("double"))), 4) + lit(0.0))
            .as("bits_per_char"))
        .orderBy("doc_id")
    }),

    // Token burstiness (Church/Gale): variance-to-mean ratio of a
    // token's within-doc count, measured over the docs that CONTAIN it.
    // Function words arrive ~Poisson (ratio ≈ 1); topical words clump
    // (ratio > 1) — the signal behind adaptive LMs and keyword scoring
    // that plain df/tf cannot see. Shape: one (doc, token) hash
    // aggregate over the exploded token stream (map-side combine), a
    // token-keyed moment fold, TakeOrdered top-30 — both exchange keys
    // are the natural ones and nothing is corpus-quadratic. Reported
    // for df ≥ 50 tokens under the (df DESC, token ASC) total order.
    "text_burstiness" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      tf.groupBy("token")
        .agg(count(lit(1)).as("df"),
          avg("c").as("m"),
          var_pop(col("c")).as("v"))
        .filter(col("df") >= 50)
        .select(col("token"), col("df"),
          round(col("m"), 4).as("mean_c"),
          round(col("v") / col("m"), 4).as("burstiness"))
        .orderBy(col("df").desc, col("token").asc)
        .limit(30)
    }),

    // Duplicate-rate scorecard per source — the first number a curation
    // postmortem asks for ("which feed is flooding us with copies?").
    // Canonicals are GLOBAL (min doc_id per normalized key across all
    // sources, same normalization as dedup_exact_normalized), so a
    // mirror that re-hosts another feed's text is charged for the copy
    // while the original feed keeps its canonical. One norm-key window
    // over the key-projected scan + one source-cardinality aggregate.
    "quality_dup_rate_by_source" -> ((s, d) => {
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", " "), " +", " "))
      val w = Window.partitionBy("norm_key")
      t(s, d, "documents")
        .select(col("source"), col("doc_id"), md5(norm).as("norm_key"))
        .withColumn("is_dup", col("doc_id") =!= min("doc_id").over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
        .withColumn("dup_pct",
          round(lit(100.0) * col("n_dups") / col("n_docs"), 2))
        .orderBy("source")
    }),

    // zlib compressibility — the classic cheap redundancy signal in LLM
    // data curation (boilerplate, spam and generated slop compress far
    // below natural prose; encrypted/binary payloads barely compress).
    // ratio = deflate(level 6) bytes / raw UTF-8 bytes, folded per
    // language with a repetitive-doc count at the 0.3 gate. The deflate
    // runs in a Scala UDF — deliberately: it is per-doc CPU work on the
    // text bytes (exactly like the multimodal codec loops), gains
    // nothing from codegen, and shuffles only (lang, 2 scalars).
    // Spec-gated: no SQL engine exposes deterministic zlib; the spec
    // replays the identical Deflater per doc and pins the fold.
    "text_compression_ratio" -> ((s, d) => {
      val ratio = udf { (t: String) =>
        val bytes = t.getBytes("UTF-8")
        val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
        val defl = new java.util.zip.Deflater(6)
        val dos = new java.util.zip.DeflaterOutputStream(bos, defl)
        dos.write(bytes); dos.close(); defl.end()
        bos.size.toDouble / math.max(1, bytes.length)
      }
      t(s, d, "documents")
        .select(col("lang"), ratio(col("text")).as("r"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("r"), 4).as("avg_ratio"),
          round(min("r"), 4).as("min_ratio"),
          sum(when(col("r") < 0.3, 1L).otherwise(0L))
            .as("n_repetitive"))
        .orderBy("lang")
    }),

    // Classifier evaluation for the langid heuristic: confusion matrix
    // of predicted vs ground-truth language plus per-class recall — the
    // eval every auto-labeler must publish before its labels feed a
    // sampler (sample_temperature_lang consumes lang labels; this key
    // says how wrong a heuristic replacement would be). Same charset
    // rules as text_langid_ngram; one scan → ≤|langs|²-cell aggregate,
    // recall off a partitioned window over those cells.
    "quality_langid_confusion" -> ((s, d) => {
      val pred = when(col("text").isNull, "und")
        .when(col("text").rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
        .when(col("text").rlike("[äöüß]"), "de")
        .when(col("text").rlike("[ñ¡¿]"), "es")
        .when(col("text").rlike("[éèêçà]"), "fr")
        .otherwise("en")
      val wA = Window.partitionBy("actual")
      t(s, d, "documents")
        .select(col("lang").as("actual"), pred.as("pred"))
        .groupBy("actual", "pred")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("recall_pct",
          round(lit(100.0) * col("n_docs") / sum("n_docs").over(wA), 2))
        .orderBy("actual", "pred")
    }),

    // MinHash banding parameter sweep — the tuning report behind every
    // "(bands, rows) = ?" decision: for each factorization of the K=12
    // signature, the candidate-pair volume (cost) against recall of the
    // EXACT j ≥ 0.5 pair set (quality). The ground truth is the STAGED
    // referee artifact (`exactPairsStaged` — exact-recall prefix filter,
    // no LSH, stamped against the corpus): a sweep is re-run many times
    // per ground-truth build, so the referee is consumed, not
    // recomputed per invocation. Each config re-slices the SAME
    // signature pass (one shingle/minhash computation, four cheap
    // band-key explodes), and candidates meet truth in a semi-join —
    // nothing is all-pairs. The 1-row per-config aggregates union into
    // the 4-row report. More bands of fewer rows ⇒ more candidates and
    // recall ↑ / precision ↓: MinhashTradeoffSpec pins that
    // monotonicity, and that the (6, 2) row reproduces
    // dedup_minhash_native's verified-pair count exactly.
    "dedup_minhash_tradeoff" -> ((s, d) => {
      val truth = s.read.parquet(exactPairsStaged(s, d))
        .localCheckpoint(true)
      val sig = mhShingledRead(s, d)
        .withColumn("sig", call_function("graft_minhash", col("g")))
        .select("doc_id", "sig").localCheckpoint(true)
      val configs = Seq((2, 6), (3, 4), (4, 3), (6, 2))
      configs.map { case (nb, nr) =>
        val bands = sig.select(col("doc_id"),
          explode(array((0 until nb).map(b =>
            struct(lit(b).as("band"),
              hash((0 until nr).map(r =>
                element_at(col("sig"), b * nr + r + 1)): _*).as("key")))
            : _*)).as("bk"))
          .select(col("doc_id"), col("bk.band"), col("bk.key"))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") &&
              col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          .distinct()
        // r19: one pass per config — the truth flag rides a LEFT join
        // (both sides distinct ⇒ multiplicity 1) so n_candidates and
        // n_true_found come from the SAME aggregate; the old shape
        // eagerly checkpointed cand per config (4 serialized jobs) to
        // feed two separate counts, which also kept the four configs
        // from executing inside one job.
        cand.join(truth.withColumn("__t", lit(1)), Seq("da", "db"), "left")
          .agg(count(lit(1)).as("n_candidates"),
            count(col("__t")).as("n_true_found"))
          .crossJoin(truth.agg(count(lit(1)).as("n_true_pairs")))
          .select(lit(nb).as("bands"), lit(nr).as("rows_per_band"),
            col("n_candidates"), col("n_true_found"), col("n_true_pairs"),
            round(col("n_true_found") /
              nullif(col("n_true_pairs").cast("double"), lit(0.0)), 4)
              .as("recall"),
            round(col("n_true_found") /
              nullif(col("n_candidates").cast("double"), lit(0.0)), 4)
              .as("precision"))
      }.reduce(_ unionByName _).orderBy("bands")
    }),
  )

  /** Shared by the guarded all-pairs key and its prefix-filter twin —
    * the twin is output-identical (exact recall by pigeonhole), so both
    * compare against the same brute-force DuckDB recompute.
    */
  private val jaccardOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), bg AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i+1])) AS g
      |  FROM tok
      |), p AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |         round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
      |           (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 4)
      |           AS jaccard
      |  FROM bg a JOIN bg b ON a.doc_id < b.doc_id
      |)
      |SELECT da, db, jaccard FROM p WHERE jaccard >= 0.5
      |ORDER BY da, db""".stripMargin

  private val containmentOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), bg AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i+1])) AS g
      |  FROM tok
      |), p AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |         len(list_intersect(a.g, b.g)) AS inter,
      |         len(a.g) AS la, len(b.g) AS lb
      |  FROM bg a JOIN bg b ON a.doc_id < b.doc_id
      |)
      |SELECT da, db,
      |       round(CAST(inter AS DOUBLE) / la, 4) AS c_ab,
      |       round(CAST(inter AS DOUBLE) / lb, 4) AS c_ba
      |FROM p WHERE 10 * inter >= 9 * least(la, lb) AND least(la, lb) > 0
      |ORDER BY da, db""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // identical distributions, join, and 0·ln0 pinning
    "text_js_divergence" ->
      """WITH pe AS (
        |  SELECT token, CAST(count(*) AS DOUBLE) /
        |         sum(count(*)) OVER () AS p
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents WHERE lang = 'en')
        |  WHERE length(token) >= 2 GROUP BY token
        |), qd AS (
        |  SELECT token, CAST(count(*) AS DOUBLE) /
        |         sum(count(*)) OVER () AS q
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents WHERE lang = 'de')
        |  WHERE length(token) >= 2 GROUP BY token
        |), j AS (
        |  SELECT coalesce(p, 0.0) AS p, coalesce(q, 0.0) AS q
        |  FROM pe FULL OUTER JOIN qd USING (token)
        |)
        |SELECT round(sum((CASE WHEN p > 0
        |                       THEN p * ln(p / ((p + q) / 2))
        |                       ELSE 0.0 END +
        |                  CASE WHEN q > 0
        |                       THEN q * ln(q / ((p + q) / 2))
        |                       ELSE 0.0 END) / 2), 6) + 0.0 AS js_nats,
        |       count(*) AS n_union_tokens,
        |       CAST(count_if(p > 0 AND q > 0) AS BIGINT)
        |         AS n_shared_tokens
        |FROM j""".stripMargin,
    // same tokenize + top-K with the (count DESC, token) tie-break;
    // count(v.token) counts the non-null join matches = in-vocab tokens
    "text_oov_rate" ->
      """WITH tk AS (
        |  SELECT lang, token FROM (
        |    SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        |    FROM documents
        |  ) WHERE length(token) >= 2
        |), vocab AS (
        |  SELECT token FROM tk GROUP BY token
        |  ORDER BY count(*) DESC, token LIMIT 2000
        |)
        |SELECT lang, count(*) AS n_tokens,
        |       CAST(count(*) - count(v.token) AS BIGINT) AS n_oov,
        |       round(CAST(count(*) - count(v.token) AS DOUBLE)
        |             / count(*), 4) AS oov_rate
        |FROM tk LEFT JOIN vocab v USING (token)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // same occurrence-bigram rank/cumsum, same (cnt DESC, bg) tie-break
    "text_vocab_coverage" ->
      """WITH c AS (
        |  SELECT bg, count(*) AS cnt FROM (
        |    SELECT t[i] || ' ' || t[i + 1] AS bg FROM (
        |      SELECT string_split(lower(text), ' ') AS t FROM documents
        |    ), LATERAL (SELECT unnest(range(1, len(t))) AS i) s
        |  ) GROUP BY bg
        |), r AS (
        |  SELECT cnt,
        |         row_number() OVER (ORDER BY cnt DESC, bg) AS rn,
        |         sum(cnt) OVER (ORDER BY cnt DESC, bg
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         sum(cnt) OVER () AS total
        |  FROM c
        |)
        |SELECT CAST(rn AS INT) AS k,
        |       CAST(cum AS BIGINT) AS covered_bigrams,
        |       CAST(total AS BIGINT) AS total_bigrams,
        |       round(CAST(cum AS DOUBLE) / total, 4) AS coverage
        |FROM r WHERE rn IN (100, 250, 500, 750)
        |ORDER BY k""".stripMargin,
    // same counting expressions; DuckDB's len(regexp_extract_all) ==
    // Spark's size(regexp_extract_all) for these POSIX-class patterns
    "text_readability" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |  greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
        |    AS BIGINT)) AS sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |    AS BIGINT) AS syllables,
        |  round(0.39 * CAST(len(string_split(text, ' ')) AS DOUBLE)
        |          / greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |        + 11.8 * CAST(len(regexp_extract_all(lower(text),
        |                          '[aeiouy]+')) AS DOUBLE)
        |          / len(string_split(text, ' '))
        |        - 15.59, 4) + 0.0 AS fk_grade
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identical tokenize → per-lang counts → top-200 rank → least-squares
    // slope; ln() and regr_slope/regr_r2 agree across engines
    "text_zipf_fit" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents
        |), v AS (
        |  SELECT lang, token, count(*) AS freq FROM tok
        |  WHERE length(token) >= 2 GROUP BY lang, token
        |), r AS (
        |  SELECT lang, freq,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY freq DESC, token ASC)
        |           AS rank
        |  FROM v
        |)
        |SELECT lang, count(*) AS n_tokens,
        |       round(regr_slope(ln(freq), ln(rank)), 4) + 0.0
        |         AS zipf_slope,
        |       round(regr_r2(ln(freq), ln(rank)), 4) AS fit_r2
        |FROM r WHERE rank <= 200
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // same head/tail k-token string keys and self-pair exclusion
    "dedup_boundary_overlap" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, t FROM tok WHERE len(t) >= 8
        |), hd AS (
        |  SELECT doc_id AS next_doc_id,
        |         array_to_string(t[1 : 4], ' ') AS boundary
        |  FROM base
        |), tl AS (
        |  SELECT doc_id AS prev_doc_id,
        |         array_to_string(t[len(t) - 3 : len(t)], ' ') AS boundary
        |  FROM base
        |)
        |SELECT prev_doc_id, next_doc_id, boundary
        |FROM tl JOIN hd USING (boundary)
        |WHERE prev_doc_id <> next_doc_id
        |ORDER BY prev_doc_id, next_doc_id""".stripMargin,
    // same bigram first-source min, bounded source axis, log-log slope
    "text_vocab_growth" ->
      """WITH tok AS (
        |  SELECT CAST(substr(source, 4) AS INT) AS src_ord,
        |         string_split(lower(text), ' ') AS t
        |  FROM documents
        |), fs AS (
        |  SELECT min(src_ord) AS first_src
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
        |  GROUP BY t[i], t[i + 1]
        |), nv AS (
        |  SELECT first_src AS src_ord,
        |         CAST(count(*) AS BIGINT) AS new_vocab
        |  FROM fs GROUP BY first_src
        |), tp AS (
        |  SELECT src_ord, CAST(sum(len(t)) AS BIGINT) AS n_tokens
        |  FROM tok GROUP BY src_ord
        |), ax AS (
        |  SELECT tp.src_ord, n_tokens,
        |         coalesce(new_vocab, 0) AS new_vocab,
        |         CAST(sum(n_tokens) OVER (ORDER BY tp.src_ord
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_tokens,
        |         CAST(sum(coalesce(new_vocab, 0)) OVER (ORDER BY tp.src_ord
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_vocab
        |  FROM tp LEFT JOIN nv ON tp.src_ord = nv.src_ord
        |)
        |SELECT src_ord, n_tokens, new_vocab, cum_tokens, cum_vocab,
        |       round(regr_slope(ln(CAST(cum_vocab AS DOUBLE)),
        |                        ln(CAST(cum_tokens AS DOUBLE))) OVER (), 4)
        |         + 0.0 AS heaps_beta
        |FROM ax ORDER BY src_ord""".stripMargin,
    // same synthesized mirror corpus; DuckDB hash() differs from Spark's
    // xxhash64, but the group KEY is never output — grouping by the raw
    // text is value-identical (hash collisions aside, the standing
    // identity assumption of every hash-keyed dedup here)
    "dedup_source_priority" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000000, text, 'mirror'
        |  FROM documents WHERE doc_id % 3 = 0
        |), keyed AS (
        |  SELECT text,
        |         CASE WHEN source = 'mirror' THEN 100
        |              ELSE CAST(regexp_extract(source, '\d+', 0) AS INT)
        |         END * 10000000000 + doc_id AS skey,
        |         source
        |  FROM corpus
        |), grp AS (
        |  SELECT arg_min(source, skey) AS kept_source,
        |         count(*) AS n_copies
        |  FROM keyed GROUP BY text
        |)
        |SELECT kept_source, count(*) AS survivors,
        |       CAST(sum(n_copies - 1) AS BIGINT) AS dropped
        |FROM grp GROUP BY kept_source ORDER BY kept_source""".stripMargin,
    // DuckDB's nfc_normalize is the same Unicode NFC the JDK Normalizer
    // implements; lower() agrees on the simple case mappings the corpus
    // uses. md5 over the UTF-8 bytes on both engines.
    "text_unicode_normalize" ->
      """SELECT doc_id,
        |       md5(nfc_normalize(lower(text))) AS norm_md5,
        |       nfc_normalize(lower(text)) <> text AS changed,
        |       CAST(length(nfc_normalize(lower(text))) AS INT)
        |         AS norm_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // census of the published next-run handoff; 64-bit-hash collisions
    // would deflate the Spark counts vs these text-distinct counts, but
    // are negligible at any tested sf (same identity assumption as every
    // hash-keyed dedup here)
    "dedup_bloom_publish" ->
      """WITH base AS (
        |  SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0
        |), batch AS (
        |  SELECT DISTINCT text FROM documents
        |  WHERE doc_id % 10 = 0 OR doc_id % 17 = 3
        |), tot AS (
        |  SELECT count(*) AS n
        |  FROM (SELECT text FROM base UNION SELECT text FROM batch)
        |)
        |SELECT (SELECT count(*) FROM base) AS n_base,
        |       (SELECT n FROM tot) - (SELECT count(*) FROM base) AS n_added,
        |       (SELECT n FROM tot) AS n_total""".stripMargin,
    "bpe_pair_counts" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents
        |), v AS (
        |  SELECT token, count(*) AS freq FROM tok
        |  WHERE length(token) >= 2 GROUP BY token
        |), p AS (
        |  SELECT substring(token, i, 2) AS pair, freq
        |  FROM v,
        |       LATERAL (SELECT unnest(generate_series(1, length(token) - 1))
        |                AS i) s
        |)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
    "dedup_substring_ngram" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents
        |), spans AS (
        |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        |  FROM toks,
        |       LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) s
        |), df AS (
        |  SELECT g, count(DISTINCT doc_id) AS nd FROM spans GROUP BY g
        |)
        |SELECT spans.doc_id,
        |       count(*) AS n_dup_spans,
        |       count(DISTINCT spans.g) AS n_dup_grams
        |FROM spans JOIN df ON spans.g = df.g
        |WHERE df.nd > 1
        |GROUP BY spans.doc_id ORDER BY spans.doc_id""".stripMargin,
    "text_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         '<html><body><h1 class="t">Doc ' || doc_id ||
        |         '</h1><p>' || text || '</p><a href="/d/' || doc_id ||
        |         '">link &amp; more&nbsp;&lt;here&gt;</a><br/>' ||
        |         '</body></html>' AS html
        |  FROM documents
        |), v AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(
        |           regexp_replace(regexp_replace(regexp_replace(
        |             regexp_replace(
        |               regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |               '&nbsp;', ' ', 'g'),
        |             '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |             '&amp;', '&', 'g'),
        |           '\s+', ' ', 'g')) AS visible
        |  FROM h
        |)
        |SELECT doc_id, visible,
        |       CAST(length(visible) AS BIGINT) AS n_visible_chars
        |FROM v ORDER BY doc_id""".stripMargin,
    "text_ngram_entropy" ->
      """SELECT doc_id, round(ln(n) - clnc / n, 4) + 0.0
        |         AS token_entropy FROM (
        |  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n,
        |         sum(CAST(c AS DOUBLE) * ln(c)) AS clnc FROM (
        |    SELECT doc_id, tok, count(*) AS c FROM (
        |      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |      FROM documents
        |    ) GROUP BY doc_id, tok
        |  ) GROUP BY doc_id
        |) ORDER BY doc_id""".stripMargin,
    "text_repetition_score" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), cnts AS (
        |  SELECT doc_id, unnest(t) AS tk FROM tok
        |), top AS (
        |  SELECT doc_id,
        |         round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 4)
        |           AS top_token_frac
        |  FROM (SELECT doc_id, tk, count(*) AS cnt FROM cnts
        |        GROUP BY doc_id, tk)
        |  GROUP BY doc_id
        |), bg AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) >= 2
        |           THEN round(1.0 - CAST(len(list_distinct(
        |             list_transform(range(1, len(t)),
        |               i -> t[i] || ' ' || t[i+1]))) AS DOUBLE)
        |             / (len(t) - 1), 4)
        |           ELSE 0.0 END AS dup_bigram_frac
        |  FROM tok
        |)
        |SELECT doc_id, top_token_frac, dup_bigram_frac
        |FROM top JOIN bg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "quality_gate" ->
      """SELECT lang, verdict, count(*) AS n_docs FROM (
        |  SELECT lang,
        |    CASE
        |      WHEN len(t) < 5 THEN 'too_short'
        |      WHEN len(t) > 5000 THEN 'too_long'
        |      WHEN CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) < 2.0
        |        OR CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) > 15.0
        |        THEN 'token_shape'
        |      ELSE 'keep' END AS verdict
        |  FROM (SELECT lang, text, string_split(lower(text), ' ') AS t
        |        FROM documents)
        |) GROUP BY lang, verdict ORDER BY lang, verdict""".stripMargin,
    "text_ngram_novelty" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g
        |  FROM tok
        |), f AS (
        |  SELECT g, min(doc_id) AS first_seen FROM sh GROUP BY g
        |)
        |SELECT sh.doc_id,
        |       count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN first_seen = sh.doc_id THEN 1 ELSE 0
        |                     END) AS BIGINT) AS n_novel,
        |       round(CAST(sum(CASE WHEN first_seen = sh.doc_id THEN 1
        |                          ELSE 0 END) AS DOUBLE) / count(*), 6)
        |         AS novelty
        |FROM sh JOIN f USING (g)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "text_contamination_check" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1]))) AS g
        |  FROM tok
        |), bench AS (
        |  SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0
        |)
        |SELECT doc_id, count(*) AS n_shared
        |FROM sh JOIN bench USING (g)
        |WHERE doc_id % 20 != 0
        |GROUP BY doc_id HAVING count(*) >= 5
        |ORDER BY doc_id""".stripMargin,
    "text_langid_ngram" ->
      """SELECT doc_id,
        |       CASE
        |         WHEN text IS NULL THEN 'und'
        |         WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |         WHEN regexp_matches(text, '[äöüß]') THEN 'de'
        |         WHEN regexp_matches(text, '[ñ¡¿]') THEN 'es'
        |         WHEN regexp_matches(text, '[éèêçà]') THEN 'fr'
        |         ELSE 'en' END AS pred_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |         string_split(lower(text), ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_fuzzy_blocking" ->
      """WITH names AS (
        |  SELECT DISTINCT p_name,
        |         split_part(p_name, ' ', 2) AS blk
        |  FROM part
        |)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    "dedup_exact" ->
      """SELECT lang, count(*) AS survivors FROM (
        |  SELECT lang, row_number() OVER (PARTITION BY text ORDER BY doc_id)
        |    AS rn
        |  FROM documents
        |) WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardOracle,
    // the prefix-filter twin is output-identical by construction
    // (pigeonhole recall proof at prefixCandidates) — same oracle
    "dedup_ngram_jaccard_prefix" -> jaccardOracle,
    // threshold as integer arithmetic (10·inter >= 9·min) on both engines
    // so no float boundary can disagree; same 64-bit-hash set identity
    // assumption as dedup_ngram_jaccard
    "dedup_containment" -> containmentOracle,
    // prefix-filter twin: output-identical by construction — same oracle
    "dedup_containment_prefix" -> containmentOracle,
    // identical distinct doc-membership, top-50 cut, pairing and pinned
    // rounded-pmi total order
    "text_cooccur_pmi" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents
        |), top AS (
        |  SELECT tok, count(*) AS df FROM dt GROUP BY tok
        |  ORDER BY df DESC, tok ASC LIMIT 50
        |), mem AS (
        |  SELECT dt.doc_id, dt.tok, top.df
        |  FROM dt JOIN top USING (tok)
        |), pr AS (
        |  SELECT a.tok AS ta, b.tok AS tb, a.df AS na, b.df AS nb,
        |         count(*) AS nab
        |  FROM mem a JOIN mem b
        |    ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY a.tok, b.tok, a.df, b.df
        |), n AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents
        |)
        |SELECT ta, tb, CAST(nab AS BIGINT) AS n_both,
        |       round(ln(nab * nd / (na * nb)), 6) + 0.0 AS pmi
        |FROM pr, n WHERE nab >= 5
        |ORDER BY pmi DESC, ta ASC, tb ASC LIMIT 20""".stripMargin,
    // identical tokenize/split, add-1 formula and natural-key joins;
    // range(1, len) is [1, len) so w2 = t[i+1] reaches exactly t[len]
    "text_bigram_lm_nll" ->
      """WITH tok AS (
        |  SELECT lang, doc_id % 2 = 0 AS train,
        |         string_split(lower(text), ' ') AS t
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2
        |), bi AS (
        |  SELECT lang, train, t[i] AS w1, t[i + 1] AS w2
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
        |), cb AS (
        |  SELECT lang, w1, w2, CAST(count(*) AS DOUBLE) AS cb
        |  FROM bi WHERE train GROUP BY lang, w1, w2
        |), cu AS (
        |  SELECT lang, w1, CAST(count(*) AS DOUBLE) AS cu
        |  FROM bi WHERE train GROUP BY lang, w1
        |), v AS (
        |  SELECT lang, CAST(count(DISTINCT w) AS DOUBLE) AS v
        |  FROM (SELECT lang, unnest(t) AS w FROM tok WHERE train)
        |  GROUP BY lang
        |)
        |SELECT bi.lang, count(*) AS n_bigrams,
        |       round(avg(-ln((coalesce(cb, 0) + 1.0) /
        |                     (coalesce(cu, 0) + v + 1.0))), 4) AS avg_nll
        |FROM bi
        |LEFT JOIN cb ON bi.lang = cb.lang AND bi.w1 = cb.w1
        |            AND bi.w2 = cb.w2
        |LEFT JOIN cu ON bi.lang = cu.lang AND bi.w1 = cu.w1
        |JOIN v ON bi.lang = v.lang
        |WHERE NOT bi.train
        |GROUP BY bi.lang
        |ORDER BY bi.lang""".stripMargin,
    "dedup_passage_exact" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), pas AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(t[i : i + 7], ' ') AS passage
        |  FROM tok,
        |       LATERAL (SELECT unnest(generate_series(1, len(t), 8)) AS i) s
        |), keep AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY passage
        |           ORDER BY doc_id, pos) AS rn
        |  FROM pas
        |)
        |SELECT doc_id, count(*) AS n_passages,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept
        |FROM keep GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // same 4-token chunking on the chunk STRING; boilerplate = chunk in
    // ≥2 distinct docs of the same source, counted over ALL instances
    "text_boilerplate_strip" ->
      """WITH tok AS (
        |  SELECT source, doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents
        |), pas AS (
        |  SELECT source, doc_id,
        |         array_to_string(t[i : i + 3], ' ') AS passage
        |  FROM tok,
        |       LATERAL (SELECT unnest(generate_series(1, len(t), 4)) AS i) s
        |), per AS (
        |  SELECT source, passage, count(DISTINCT doc_id) AS df,
        |         count(*) AS inst
        |  FROM pas GROUP BY source, passage
        |)
        |SELECT source, CAST(sum(inst) AS BIGINT) AS n_passages,
        |       CAST(sum(CASE WHEN df >= 2 THEN inst ELSE 0 END) AS BIGINT)
        |         AS n_boiler,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_boiler_distinct,
        |       round(CAST(sum(CASE WHEN df >= 2 THEN inst ELSE 0 END)
        |             AS DOUBLE) / sum(inst), 4) AS boiler_share
        |FROM per GROUP BY source ORDER BY source""".stripMargin,
    // same chunking; dedup on the passage STRING (the hash is a 64-bit
    // content key — collision-free at fixture scale by construction)
    "dedup_intradoc" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), pas AS (
        |  SELECT doc_id, array_to_string(t[i : i + 7], ' ') AS passage
        |  FROM tok,
        |       LATERAL (SELECT unnest(generate_series(1, len(t), 8)) AS i) s
        |), per AS (
        |  SELECT doc_id, passage, count(*) AS c
        |  FROM pas GROUP BY doc_id, passage
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_passages,
        |       count(*) AS n_distinct,
        |       CAST(sum(c) - count(*) AS BIGINT) AS n_repeated,
        |       round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 4)
        |         AS rep_share
        |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM tok GROUP BY doc_id, token
        |), dfreq AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY token
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, token, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tfidf DESC, token ASC) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, rn, token, round(tfidf, 4) AS tfidf
        |FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,
    "text_tokens_stats" ->
      """SELECT lang,
        |       count(DISTINCT doc_id) AS n_docs,
        |       count(*) AS n_tokens,
        |       count(DISTINCT token) AS n_distinct_tokens,
        |       round(CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id), 4)
        |         AS avg_tokens_per_doc
        |FROM (
        |  SELECT lang, doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents
        |) GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality_score" ->
      """WITH q AS (
        |  SELECT doc_id,
        |         len(string_split(lower(text), ' ')) AS n_tokens,
        |         CAST(length(text) AS BIGINT) AS n_chars2,
        |         len(list_filter(string_split(lower(text), ' '),
        |           x -> x IN ('the', 'a'))) AS n_stop
        |  FROM documents
        |)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |       round(CAST(n_chars2 - (n_tokens - 1) AS DOUBLE) / n_tokens, 4)
        |         AS avg_token_len,
        |       round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
        |       round(least(1.0, n_tokens / 100.0) *
        |         (1.0 - CAST(n_stop AS DOUBLE) / n_tokens), 4) AS quality
        |FROM q ORDER BY doc_id""".stripMargin,
    "token_count_bpe" ->
      """SELECT doc_id,
        |       CAST(len(string_split(lower(text), ' ')) AS INT)
        |         AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text),
        |         '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_pieces,
        |       round(CAST(len(regexp_extract_all(lower(text),
        |           '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS DOUBLE) /
        |         len(string_split(lower(text), ' ')), 4) AS pieces_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_diversity_entropy" ->
      """WITH c AS (
        |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
        |)
        |SELECT lang,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  count(*) AS n_sources,
        |  round(log2(CAST(sum(n) AS DOUBLE)) -
        |        sum(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) /
        |        CAST(sum(n) AS DOUBLE), 4) AS entropy_bits
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_exact_normalized" ->
      """WITH n AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
        |      AS norm_key
        |  FROM documents
        |)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY norm_key) AS canonical_id,
        |  count(*) OVER (PARTITION BY norm_key) AS n_copies,
        |  doc_id = min(doc_id) OVER (PARTITION BY norm_key) AS is_canonical
        |FROM n ORDER BY doc_id""".stripMargin,
    "text_perplexity_proxy" ->
      """WITH docs AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE length(text) >= 2
        |), grams AS (
        |  SELECT doc_id, substring(t, CAST(s.i AS INT), 2) AS g
        |  FROM docs,
        |       LATERAL (SELECT unnest(generate_series(1, length(t) - 1))
        |                AS i) s
        |), lm AS (
        |  SELECT g, count(*) AS c FROM grams GROUP BY g
        |), tot AS (
        |  SELECT CAST(sum(c) AS DOUBLE) AS tot FROM lm
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-avg(log2(CAST(c AS DOUBLE) / tot)), 4) + 0.0
        |         AS bits_per_char
        |FROM grams JOIN lm USING (g), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same per-doc counts, same population moments, same total order
    "text_burstiness" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS c
        |  FROM (SELECT doc_id,
        |               unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  GROUP BY doc_id, token
        |), b AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df,
        |         avg(c) AS m, var_pop(c) AS v
        |  FROM tf GROUP BY token
        |)
        |SELECT token, df, round(m, 4) AS mean_c,
        |       round(v / m, 4) AS burstiness
        |FROM b WHERE df >= 50
        |ORDER BY df DESC, token ASC LIMIT 30""".stripMargin,
    // same normalization, global canonical window, per-source fold
    "quality_dup_rate_by_source" ->
      """WITH n AS (
        |  SELECT source, doc_id, md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
        |      AS norm_key
        |  FROM documents
        |), f AS (
        |  SELECT source,
        |         doc_id <> min(doc_id) OVER (PARTITION BY norm_key)
        |           AS is_dup
        |  FROM n
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dups,
        |       round(100.0 * CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)
        |             AS DOUBLE) / count(*), 2) AS dup_pct
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    // same charset rules as the langid oracle, same window recall
    "quality_langid_confusion" ->
      """WITH p AS (
        |  SELECT lang AS actual,
        |         CASE
        |           WHEN text IS NULL THEN 'und'
        |           WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |           WHEN regexp_matches(text, '[äöüß]') THEN 'de'
        |           WHEN regexp_matches(text, '[ñ¡¿]') THEN 'es'
        |           WHEN regexp_matches(text, '[éèêçà]') THEN 'fr'
        |           ELSE 'en' END AS pred
        |  FROM documents
        |), cm AS (
        |  SELECT actual, pred, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM p GROUP BY actual, pred
        |)
        |SELECT actual, pred, n_docs,
        |       round(100.0 * CAST(n_docs AS DOUBLE) /
        |         sum(n_docs) OVER (PARTITION BY actual), 2) AS recall_pct
        |FROM cm ORDER BY actual, pred""".stripMargin,
  )
}
