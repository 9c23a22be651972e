package graft

import org.apache.spark.sql.functions._

/** Corpus-curation operators: connected components against a driver-side
  * union-find oracle, sampling determinism, scrub behavior.
  */
class PipelineSpec extends SparkSpec {

  test("pack_spfhp: matches an independent per-doc shortest-pack-first " +
    "fold and conserves tokens and packs") {
    val cap = 128
    // independent formulation: ONE DOC AT A TIME (no histogram batching)
    val lens = graft.Tables(spark, sf, "documents").select("text").collect()
      .map(r => math.min(r.getString(0).toLowerCase.split(" ").length, cap))
      .sortBy(l => -l)
    val open = scala.collection.mutable.TreeMap.empty[Int, Long]
    var nPacks = 0L
    lens.foreach { len =>
      open.rangeFrom(len).headOption match {
        case Some((space, n)) =>
          if (n == 1) open.remove(space) else open(space) = n - 1
          val left = space - len
          if (left > 0) open(left) = open.getOrElse(left, 0L) + 1
        case None =>
          nPacks += 1
          val left = cap - len
          if (left > 0) open(left) = open.getOrElse(left, 0L) + 1
      }
    }
    val expected =
      ((0 -> (nPacks - open.values.sum)) +: open.toSeq).filter(_._2 > 0)
        .sortBy(_._1)
    val rows = q("pack_spfhp").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._1, t._2)).toSeq === expected)
    val totalPacks = rows.head._3
    val totTokens = rows.head._4
    assert(totalPacks === nPacks)
    assert(totTokens === lens.map(_.toLong).sum)
    // conservation: used + leftover space = total capacity opened
    assert(rows.map(t => t._1.toLong * t._2).sum + totTokens ===
      totalPacks * cap)
    // optimality bounds: at least the fractional lower bound, at most
    // one pack per doc
    assert(totalPacks >= (totTokens + cap - 1) / cap)
    assert(totalPacks <= lens.length)
  }

  test("HLL sketches are mergeable state: union of per-lang sketches " +
    "equals one sketch over everything, and tracks the exact count") {
    val docs = graft.Tables(spark, sf, "documents")
    val perLang = docs.groupBy("lang")
      .agg(hll_sketch_agg(col("doc_id")).as("sk"))
    val merged = perLang
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().head.getLong(0)
    val direct = docs
      .agg(hll_sketch_estimate(hll_sketch_agg(col("doc_id"))).as("est"))
      .collect().head.getLong(0)
    // union-of-partials tracks the direct sketch closely (not bit-equal:
    // the union path can take a different sparse/dense promotion) and
    // both track the exact count
    assert(math.abs(merged - direct).toDouble / direct <= 0.01,
      s"merged=$merged direct=$direct")
    val exact = docs.select("doc_id").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact <= 0.05,
      s"merged=$merged exact=$exact")
  }

  test("sketch_hll_mergeable round-trips persisted sketch state: day-1 " +
    "sketches written to parquet, read back by a later load, merged with " +
    "day-2 — estimates track exact and the whole-corpus sketch") {
    import org.apache.spark.sql.types.BinaryType
    val p = graft.Staging.dir("graft_hll_day1", sf)
    // start from a clean slate so this test exercises the write path too
    val dirF = new java.io.File(p)
    if (dirF.exists()) scala.reflect.io.Directory(dirF).deleteRecursively()
    val out1 = q("sketch_hll_mergeable").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the persisted state exists and is binary sketch state, one per lang
    assert(new java.io.File(p, "_SUCCESS").exists(),
      "day-1 sketch state must be persisted")
    val state = spark.read.parquet(p)
    assert(state.schema("sketch").dataType === BinaryType)
    assert(state.count() ===
      graft.Tables(spark, sf, "documents").select("lang").distinct().count())
    // a second load REUSES the persisted state (no re-write) and agrees —
    // the incremental contract: yesterday's raw rows are never touched
    val mtime = new java.io.File(p, "_SUCCESS").lastModified()
    val out2 = q("sketch_hll_mergeable").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 === out1)
    assert(new java.io.File(p, "_SUCCESS").lastModified() === mtime,
      "second run must read the persisted sketches, not re-stage them")
    // merged day1+day2 estimates track the exact per-lang counts and the
    // single whole-corpus sketch (sparse sketches at this scale are near
    // exact; keep the bounds meaningful yet not flaky)
    val docs = graft.Tables(spark, sf, "documents")
    val exact = docs.groupBy("lang").agg(countDistinct("doc_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = docs.groupBy("lang")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("doc_id"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out1.keySet === exact.keySet)
    out1.foreach { case (lang, est) =>
      assert(math.abs(est - exact(lang)) <= math.max(1L,
        math.ceil(0.05 * exact(lang)).toLong), s"$lang: $est vs exact")
      assert(math.abs(est - whole(lang)) <= math.max(1L,
        math.ceil(0.02 * whole(lang)).toLong), s"$lang: $est vs whole-corpus")
    }
  }

  test("cdc_upsert: deletes vanish, updates overwrite, inserts appear, " +
    "untouched keys carry through unchanged") {
    val base = graft.Tables(spark, sf, "customer")
    val out = q("cdc_upsert").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val snap = base.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getDouble(3))).toMap
    snap.foreach { case (k, (name, bal)) =>
      k % 10 match {
        case 0 => assert(out(k) ===
          (name + "*", math.rint((bal + 100.0) * 100) / 100))
        case 1 => assert(!out.contains(k))
        case 2 => assert(out(k + 1000000L) === ("NEW_" + name, 0.0))
          assert(out(k) === (name, math.rint(bal * 100) / 100))
        case _ => assert(out(k) === (name, math.rint(bal * 100) / 100))
      }
    }
    assert(out.size === snap.size - snap.keys.count(_ % 10 == 1) +
      snap.keys.count(_ % 10 == 2))
  }

  test("doc_pack_greedy matches a driver-side sequential packer exactly " +
    "(incl. oversized-doc overflow) and conserves the corpus total") {
    val rows = q("doc_pack_greedy").collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val docs = graft.Tables(spark, sf, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(lower(col("text")), " ")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // sequential reference: pack = floor(tokens-before / cap) per lang in
    // doc_id order — oversized docs may SKIP pack ids (overflow, not
    // split), so expectations come from replay, not contiguity
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      var cum = 0L
      ds.sortBy(_._2).toSeq.map { case (_, _, n) =>
        val pack = cum / 2048
        cum += n
        ((lang, pack), n.toLong)
      }
    }.groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.size.toLong, vs.map(_._2).sum))
    }
    assert(rows === expected)
    assert(rows.values.map(_._2).sum === docs.map(_._3.toLong).sum)
  }

  test("dedup_cluster_scale: every scale-path cluster refines an exact " +
    "cluster (banded edges are exact-verified), recovering most of it") {
    val exact = q("dedup_cluster_cc").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scale = q("dedup_cluster_scale").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scale.nonEmpty)
    // every doc the scale path clusters is also exact-clustered, and two
    // docs sharing a scale cluster always share an exact cluster (edges
    // are a subset of the true pairs, so clusters can only refine)
    scale.keys.foreach(k => assert(exact.contains(k)))
    scale.groupBy(_._2).values.foreach { grp =>
      assert(grp.keys.map(exact).toSet.size === 1)
    }
    assert(scale.size >= (exact.size * 0.9).ceil.toInt,
      s"scale=${scale.size} exact=${exact.size}")
  }

  test("ConnectedComponents labels a known two-component graph with each " +
    "component's minimum id") {
    import spark.implicits._
    // component {1,2,3,7} (chain) and {10,11}; 20-20 self loop
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 7L), (10L, 11L), (20L, 20L))
      .toDF("src", "dst")
    val got = graft.operators.ConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("pointer jumping converges a 200-vertex path in O(log n) rounds " +
    "(plain hash-min would need ~200)") {
    import spark.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = graft.operators.ConnectedComponents(chain, maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 200)
    assert(got.values.forall(_ == 0L))
  }

  test("ConnectedComponents refuses to return unconverged labels when " +
    "maxIter is below the component diameter") {
    import spark.implicits._
    // a 6-chain needs several hash-min rounds; maxIter=1 cannot converge
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      graft.operators.ConnectedComponents(chain, maxIter = 1)
    }
    assert(e.getMessage.contains("converge"), e.getMessage)
  }

  test("dedup_cluster_cc agrees with a driver union-find over the exact " +
    "jaccard pairs") {
    val pairs = q("dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    val got = q("dedup_cluster_cc").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("consistent hash sample is stable across runs and joins with itself") {
    val a = q("sample_hash_consistent").collect().map(_.getLong(0)).toSeq
    val b = q("sample_hash_consistent").collect().map(_.getLong(0)).toSeq
    assert(a === b)
    val n = Tables.documents(spark, sf).count()
    // ~25% target: 4 of 16 hex chars; md5 is uniform, allow wide slack
    assert(a.size > n / 10 && a.size < n / 2, s"${a.size} of $n sampled")
  }

  test("stratified cap keeps at most 50 docs per language") {
    val got = q("sample_stratified_cap").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.nonEmpty)
    assert(got.forall(_._2 <= 50), got.mkString(", "))
  }

  test("pipeline_curation_census: all four funnel stages match a driver " +
    "replay (exact dedup, jaccard union-find clusters, token gate)") {
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val surv = docs.groupBy(_._2)
      .map { case (t, ds) => (ds.map(_._1).min, t) }.toArray
    val sets = surv.map { case (id, t) =>
      (id, t.toLowerCase.split(" ").sliding(2).map(_.mkString(" ")).toSet)
    }
    val pairs = for {
      (da, sa) <- sets
      (db, sb) <- sets if da < db
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= 0.5
    } yield (da, db)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val reps = surv.filter { case (id, _) => find(id) == id }
    val nFinal = reps.count(_._2.toLowerCase.split(" ").length >= 40)
    val r = q("pipeline_curation_census").collect().head
    assert(r.getLong(0) === docs.length.toLong)
    assert(r.getLong(1) === surv.length.toLong)
    assert(r.getLong(2) === reps.length.toLong)
    assert(r.getLong(3) === nFinal.toLong)
    // the funnel must be monotone
    assert(r.getLong(0) >= r.getLong(1) && r.getLong(1) >= r.getLong(2) &&
      r.getLong(2) >= r.getLong(3))
  }

  test("pipeline_census_incremental: the delta refresh of staged base " +
    "state is output-identical to the from-scratch census, and the " +
    "fixture exercises a real base/delta near-dup merge") {
    val full = q("pipeline_curation_census").collect().head
    val incr = q("pipeline_census_incremental").collect().head
    assert(incr.toSeq === full.toSeq,
      s"incremental ${incr.toSeq} vs from-scratch ${full.toSeq}")
    // the staged base state the refresh consumed is present and current
    val p = queries.Pipeline.censusBaseStaged(spark, sf)
    assert(Staging.current(spark, "graft_census_base", sf,
      s"$sf/documents.parquet").contains(p))
    // vacuity guards: the delta really adds documents, and at least one
    // j >= 0.5 pair straddles base/delta — otherwise neither the merged
    // survivors nor the cross-slice edge contraction is exercised
    val delta = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0).count()
    assert(delta > 0)
    val straddles = q("dedup_ngram_jaccard").collect()
      .exists(r => (r.getLong(0) % 10 == 0) ^ (r.getLong(1) % 10 == 0))
    assert(straddles,
      "fixture has no base/delta near-dup pair; slice split needs revisiting")
  }

  test("pii_dp_counts: the seeded Laplace release replays exactly from " +
    "the md5 draw, and every group is present with finite noise") {
    val rows = q("pii_dp_counts").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val truth = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSet === truth.keySet)
    rows.foreach { case (t, noisy, eps) =>
      assert(eps === 0.5)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(("dp:" + t).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = hex(0).toInt * 65536 + hex(1).toInt * 256 + hex(2).toInt
      val u = (h + 0.5) / 16777216.0
      val noise = -(1.0 / eps) * math.signum(u - 0.5) *
        math.log(1 - 2 * math.abs(u - 0.5))
      val expected = BigDecimal(truth(t) + noise)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(noisy.isFinite)
      assert(math.abs(noisy - expected) < 1e-9, s"$t: $noisy vs $expected")
    }
  }

  test("pii_scrub redacts emails and long digit runs, leaves prose alone") {
    import spark.implicits._
    val probe = Seq(
      (1L, "contact me at jane.doe+x@example.org today"),
      (2L, "call 089 1234-5678 now"),
      (3L, "plain text with a number 42 inside"))
      .toDF("doc_id", "text")
    probe.createOrReplaceTempView("pii_probe")
    val scrub = regexp_replace(
      regexp_replace(col("text"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9][0-9 -]{5,}[0-9]", "<NUM>")
    val got = probe.select(col("doc_id"), scrub.as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "contact me at <EMAIL> today")
    assert(got(2L) === "call <NUM> now")
    assert(got(3L) === "plain text with a number 42 inside")
  }

  test("count-min sketch: estimates bound the exact counts from above, " +
    "within eps*N") {
    val rows = q("sketch_count_min").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " "))).count()
    rows.foreach { case (tok, exact, est) =>
      assert(est >= exact, s"$tok: CMS can never under-count")
      assert(est <= exact + (0.0001 * n).ceil.toLong + 1,
        s"$tok: est $est exceeds exact $exact + eps*N")
    }
  }

  test("sketch_heavy_hitters: MG invariant est <= true <= est + err on " +
    "every emitted row, err within the n/(k+1) budget, and any token " +
    "clearing the 10th estimate by err is guaranteed listed") {
    val rows = q("sketch_heavy_hitters").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val exact = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val err = rows.head._3
    assert(err <= n / (graft.functions.MisraGries.Capacity + 1),
      s"error budget $err exceeds n/(k+1) = ${n / 65}")
    rows.foreach { case (tok, est, e) =>
      assert(e === err, "err is a summary property, identical on every row")
      val tru = exact(tok)
      assert(est <= tru, s"$tok: MG never over-counts ($est > $tru)")
      assert(tru <= est + err, s"$tok: undercount beyond the budget")
    }
    // presence: true count above the 10th estimate + err forces a rank
    // above 10th, so the token MUST be in the emitted top-10
    val floor10 = rows.map(_._2).min + err
    val listed = rows.map(_._1).toSet
    exact.foreach { case (tok, tru) =>
      if (tru > floor10)
        assert(listed(tok), s"$tok (true $tru > $floor10) missing")
    }
  }

  test("sketch_heavy_hitters_grouped: the MG invariant holds per " +
    "language against that language's exact counts") {
    val rows = q("sketch_heavy_hitters_grouped").collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val exact = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { case (lang, tok, est, err) =>
      val tru = exact((lang, tok))
      assert(est <= tru, s"$lang/$tok: MG never over-counts")
      assert(tru <= est + err, s"$lang/$tok: undercount beyond budget")
    }
  }

  test("bloom filter: no false negatives — every truly-shipped part key " +
    "probes true; positives bounded by the fp rate") {
    val Array(row) = q("sketch_bloom_filter").collect()
    val (nMaybe, nParts) = (row.getLong(0), row.getLong(1))
    val trueKeys = Tables(spark, sf, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_partkey")).distinct().count()
    assert(nMaybe >= trueKeys, "bloom filters cannot have false negatives")
    assert(nMaybe <= trueKeys + math.ceil(0.02 * nParts).toLong,
      s"$nMaybe maybe-hits vs $trueKeys true keys: fp rate out of bound")
  }

  test("resample_gapfill: per-user grid is dense (span hours, no holes) " +
    "and filled rows sum back to the raw event count") {
    val rows = q("resample_gapfill").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, rs) =>
      val hours = rs.map(_._2.getTime).sorted
      val span = (hours.last - hours.head) / 3600000L + 1
      assert(hours.length.toLong === span, s"user $u grid has holes")
      assert(hours.distinct.length === hours.length, s"user $u dup buckets")
    }
    val total = rows.map(_._3).sum
    assert(total === Tables.events(spark, sf).count())
    assert(rows.exists(_._3 == 0L), "expected at least one gap-filled zero")
  }

  test("text_ngram_topk is a deterministic total order (cnt desc, ngram asc)") {
    val rows = q("text_ngram_topk").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.size === 20)
    val resorted = rows.sortBy { case (g, c) => (-c, g) }
    assert(rows.toSeq === resorted.toSeq)
  }

  test("split_leakage_safe: no j>=0.5 near-dup pair straddles splits, " +
    "every doc is assigned, and all three splits are non-empty") {
    val split = q("split_leakage_safe").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(split.size === Tables.documents(spark, sf).count())
    assert(split.values.toSet === Set("train", "val", "test"))
    val pairs = q("dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b),
        s"near-dup pair ($a, $b) split across ${split(a)}/${split(b)} — " +
          "evaluation contamination")
    }
  }

  test("sample_temperature_lang: probabilities sum to ~1 and alpha=0.5 " +
    "up-weights low-resource languages relative to their share") {
    val rows = q("sample_temperature_lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val total = rows.map(_._2).sum.toDouble
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-2)
    rows.foreach { case (lang, n, p) =>
      val share = n / total
      if (share < 1.0 / rows.size)
        assert(p > share, s"$lang: temperature must up-weight ($p vs $share)")
      else if (share > 1.0 / rows.size)
        assert(p < share, s"$lang: temperature must down-weight ($p vs $share)")
    }
  }

  test("sketch_tdigest_quantile: rank error vs the exact distribution " +
    "stays within the digest's resolution bound") {
    val est = q("sketch_tdigest_quantile").collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    exact.foreach { case (flag, vs) =>
      val (q50, q90, q99) = est(flag)
      def rankOf(v: Double) = vs.count(_ <= v).toDouble / vs.size
      assert(math.abs(rankOf(q50) - 0.50) <= 0.03,
        s"$flag q50=$q50 rank=${rankOf(q50)}")
      assert(math.abs(rankOf(q90) - 0.90) <= 0.03,
        s"$flag q90=$q90 rank=${rankOf(q90)}")
      assert(math.abs(rankOf(q99) - 0.99) <= 0.02,
        s"$flag q99=$q99 rank=${rankOf(q99)}")
    }
  }

  test("TDigest primitives: compress preserves total weight and mean; " +
    "quantile is monotone in q") {
    val vs = (1 to 1000).map(i => (i.toDouble, 1L))
    val c = graft.functions.TDigest.compress(vs)
    assert(c.size <= graft.functions.TDigest.Compression)
    assert(c.map(_._2).sum === 1000L)
    val mean = c.map { case (m, w) => m * w }.sum / 1000.0
    assert(math.abs(mean - 500.5) < 1e-6) // merges are weight-exact
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
      .map(graft.functions.TDigest.quantile(c, _))
    assert(qs === qs.sorted)
    assert(math.abs(qs(2) - 500.5) < 25) // mid-quantile within resolution
  }

  test("multimodal_phash_neardup: banded dHash recovers the constructed " +
    "image groups with high precision and recall") {
    val pairs = q("multimodal_phash_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty)
    val intra = pairs.count { case (a, b, _) => a / 4 == b / 4 }
    // precision: nearly all found pairs are within a constructed group
    // (cross-group hits are rare pattern-space collisions)
    assert(intra.toDouble / pairs.length >= 0.9,
      s"precision ${intra.toDouble / pairs.length}")
    // recall: most groups are recovered — each group of 4 has 6 pairs;
    // count groups where at least 5 intra pairs survived the Hamming cut
    val nDocs = Tables.documents(spark, sf).count()
    val nGroups = nDocs / 4
    val byGroup = pairs.filter { case (a, b, _) => a / 4 == b / 4 }
      .groupBy(_._1 / 4)
    val recovered = byGroup.count(_._2.length >= 5)
    assert(recovered.toDouble / nGroups >= 0.9,
      s"recall ${recovered.toDouble / nGroups} ($recovered/$nGroups)")
    // hamming is within the cut everywhere
    assert(pairs.forall(_._3 <= 2))
  }

  test("sketch_hll_intersection: the inclusion-exclusion overlap estimate " +
    "tracks the exact intersection within 10% and the union estimate is " +
    "sub-additive") {
    val r = q("sketch_hll_intersection").collect()
    assert(r.length === 1)
    val row = r.head
    // hll_sketch_estimate returns BIGINT; round() keeps it integral
    val estA = row.getLong(0).toDouble
    val estB = row.getLong(1).toDouble
    val estU = row.getLong(2).toDouble
    val estI = row.getLong(3).toDouble
    val exact = row.getLong(4)
    val relErr = row.getDouble(5)
    // exact side recomputed independently off the same residue classes
    val keys = Tables(spark, sf, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0))
    val want = keys.count(k => k % 3 != 0 && k % 2 != 0)
    assert(exact === want.toLong)
    assert(estU <= estA + estB + 1e-6, "union estimate must be sub-additive")
    assert(math.abs(estI - (estA + estB - estU)) <= 1e-6,
      "est_inter is the inclusion-exclusion of the three estimates")
    assert(relErr <= 0.10,
      s"overlap estimate off by ${relErr * 100}% (est $estI vs exact $exact)")
  }
}
