package graft

import org.apache.spark.sql.functions._


/** Plan-shape assertions for the physical-layout operators and the native
  * Catalyst expression.
  */
class PhysicalSpec extends SparkSpec {

  test("scan_partition_pruned: the year predicate is a PartitionFilter") {
    val plan = q("scan_partition_pruned").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*o_year[^\\]]*\\].*"),
      plan.take(1200))
  }

  test("Z-order layout: a value-only predicate touches every file of a " +
    "user-sorted layout but only a subset of the Morton-clustered one") {
    import graft.operators.ZOrder
    val ev = graft.Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_zspec")
      .toString
    ev.repartitionByRange(8, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(s"$dir/by_user")
    ev.withColumn("__z",
        ZOrder.interleave(col("user_id"), floor(col("value"))))
      .repartitionByRange(8, col("__z")).sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(s"$dir/by_z")
    // files CONTAINING matches = files a min/max-stats reader must touch
    def touched(sub: String): Long = spark.read.parquet(s"$dir/$sub")
      .filter(col("value").between(100.0, 200.0))
      .select(col("_metadata.file_path")).distinct().count()
    val (byUser, byZ) = (touched("by_user"), touched("by_z"))
    assert(byUser == 8, s"user-sorted layout should spread the value " +
      s"range across all 8 files, got $byUser")
    assert(byZ < byUser, s"z-order should confine the value range to " +
      s"fewer files: byZ=$byZ byUser=$byUser")
    // and clustering never changes answers
    val a = ev.filter(col("value").between(100.0, 200.0)).count()
    val b = spark.read.parquet(s"$dir/by_z")
      .filter(col("value").between(100.0, 200.0)).count()
    assert(a === b)
  }

  test("BinnedRangeJoinRule: with the conf set, a plain inequality join " +
    "plans as a binned equi-join (no NestedLoop) with unchanged results") {
    import graft.plans.BinnedRangeJoinRule.ConfKey
    val pts = graft.Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    val ivs = graft.Tables(spark, sf, "orders")
      .filter(col("o_orderkey") % 43 === 0)
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
    def joined = pts.join(ivs,
      col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_end"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("l_orderkey", "l_shipdate", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.getLong(2))).toSet
    spark.conf.unset(ConfKey)
    val off = joined
    val offRows = rows(off)
    assert(off.queryExecution.executedPlan.toString.contains("NestedLoop"))
    try {
      spark.conf.set(ConfKey, (7L * 86400).toString)
      val on = joined
      assert(!on.queryExecution.executedPlan.toString.contains("NestedLoop"),
        on.queryExecution.executedPlan.toString.take(1200))
      assert(rows(on) === offRows)
      assert(offRows.nonEmpty)
    } finally spark.conf.unset(ConfKey)
  }

  test("BinnedRangeJoinRule leaves equi-keyed, streaming, and " +
    "unsupported-type joins alone") {
    import graft.plans.BinnedRangeJoinRule.ConfKey
    try {
      spark.conf.set(ConfKey, "604800")
      // equi conjunct present → hash-joinable as-is, rule must not touch it
      val li = graft.Tables(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = graft.Tables(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val equi = li.join(ord, col("l_orderkey") === col("o_orderkey") &&
        col("l_quantity") < col("o_totalprice"))
      assert(!equi.queryExecution.optimizedPlan.toString
        .contains("__graft_bin"))
      // string bounds → unsupported type, untouched
      val a = graft.Tables(spark, sf, "nation").select(col("n_name"))
      val b = graft.Tables(spark, sf, "region").select(col("r_name"))
      val str = a.join(b, col("n_name") >= col("r_name") &&
        col("n_name") <= col("r_name"))
      assert(!str.queryExecution.optimizedPlan.toString
        .contains("__graft_bin"))
    } finally spark.conf.unset(ConfKey)
  }

  test("RangeJoin.binned equals the naive inequality join, and plans an " +
    "equi-join where the naive form plans a nested loop") {
    spark.conf.unset(graft.plans.BinnedRangeJoinRule.ConfKey)
    val pts = graft.Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    val ivs = graft.Tables(spark, sf, "orders")
      .filter(col("o_orderkey") % 43 === 0)
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
    val naive = pts.join(ivs,
      col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_end"))
    val binned = graft.operators.RangeJoin.binned(pts, col("l_shipdate"),
      ivs, col("o_orderdate"), col("o_end"),
      c => floor(unix_timestamp(c) / lit(7L * 86400)))
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("l_orderkey", "l_shipdate", "o_orderkey").collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.getLong(2))).toSet
    val n = pairs(naive); val b = pairs(binned)
    assert(n.nonEmpty, "fixture should produce at least one in-window pair")
    assert(b === n)
    assert(naive.queryExecution.executedPlan.toString
      .contains("NestedLoop"))
    assert(!binned.queryExecution.executedPlan.toString
      .contains("NestedLoop"),
      binned.queryExecution.executedPlan.toString.take(1200))
  }

  test("RangeJoin.binned equals the naive join on seeded random data " +
    "(negative values, empty intervals, null bounds, bin-width mismatch)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val pts = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(2001) - 1000.0)).toDF("pid", "p")
    val ivs = Seq.tabulate(80) { i =>
      val lo = rnd.nextInt(2001) - 1000.0
      val width = rnd.nextInt(300) - 20 // sometimes negative → empty
      (1000L + i, lo: java.lang.Double, (lo + width): java.lang.Double)
    } ++ Seq((2000L, null: java.lang.Double, (5.0): java.lang.Double),
      (2001L, (5.0): java.lang.Double, null: java.lang.Double))
    val ivsDf = ivs.toDF("iid", "lo", "hi")
    val naive = pts.join(ivsDf,
      col("p") >= col("lo") && col("p") <= col("hi"))
    // bin width deliberately NOT matched to interval widths: intervals
    // span 0..9 bins, exactness must not depend on the width choice
    val binned = graft.operators.RangeJoin.binned(pts, col("p"), ivsDf,
      col("lo"), col("hi"), c => floor(c / lit(37.0)))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = pairs(naive)
    assert(n.nonEmpty)
    assert(pairs(binned) === n)
  }

  test("scan_orc: the status predicate is pushed into the ORC scan") {
    val plan = q("scan_orc").queryExecution.executedPlan.toString
    assert(plan.contains("orc"), plan.take(800))
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*o_orderstatus[^\\]]*\\].*"),
      plan.take(1200))
  }

  test("simsearch_ivf_persisted: the index scan carries a cell " +
    "PartitionFilter (probed directories only) and matches the " +
    "in-memory IVF query exactly") {
    val df = q("simsearch_ivf_persisted")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches(
      "(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"), plan.take(1500))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // same codebook (stride), same probe set, same exact rerank — the
    // persisted layout must change nothing but where the bytes live
    assert(rows(df) === rows(q("simsearch_ivf_topk")))
  }

  test("join_runtime_bloom: the fact side probes an injected bloom filter " +
    "below the shuffle and the join is not broadcast") {
    val df = q("join_runtime_bloom")
    df.collect() // AQE finalizes the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(1500))
    assert(plan.contains("bloom_filter_agg"), plan.take(1500))
    assert(!plan.contains("BroadcastHashJoin"),
      "runtime filter demo requires a shuffle join:\n" + plan.take(1500))
    // the probe must actually DROP fact rows pre-shuffle, not just appear
    // in the plan: the bloom filter's output row count has to be well
    // under the full lineitem scan (the filtered dim keeps ~10% of
    // orders, so a working probe passes a small fraction of the fact)
    val factRows = Tables.lineitem(spark, sf).count()
    // TreeNode.collect stops at AQE stage boundaries (QueryStageExec is
    // a leaf), so walk stages explicitly to reach the pre-shuffle filter
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val bloomFilters = flatten(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("might_contain") => f
    }
    assert(bloomFilters.nonEmpty, "no FilterExec carries the bloom probe")
    val passed = bloomFilters.map(_.metrics("numOutputRows").value).max
    assert(passed > 0 && passed < factRows / 2,
      s"bloom probe passed $passed of $factRows fact rows — not selective")
  }

  test("agg_decimal_exact: exactness costs no plan change — the decimal " +
    "sums run as the same partial/final HashAggregate pair a double sum " +
    "gets, never an object/sort aggregate") {
    val plan = q("agg_decimal_exact").queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(1200))
    assert(plan.contains("partial_sum"), plan.take(1200))
    assert(!plan.contains("ObjectHashAggregate") &&
      !plan.contains("SortAggregate"), plan.take(1200))
  }

  test("join_skew_aqe: AQE marks the join skewed and splits the hot " +
    "partition at runtime") {
    val df = q("join_skew_aqe")
    df.collect() // skew handling only exists in the FINAL adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin(skew=true)"), plan.take(1500))
    assert(plan.contains("skewed"), plan.take(1500))
  }

  test("join_dpp: the fact scan carries a dynamic pruning expression") {
    val plan = q("join_dpp").queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(1500))
  }

  test("join_bucketed: both scans read buckets and the join needs no " +
    "shuffle exchange below it") {
    val df = q("join_bucketed")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
    // the only exchanges allowed are above the join (final agg/sort);
    // the join inputs themselves must be exchange-free: in the string
    // form, no Exchange may appear between the SortMergeJoin and the
    // scans below it. Cheap proxy: the scan sections mention buckets and
    // the plan has at most the aggregate+sort exchanges.
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 exchanges (agg+sort), got " +
      s"$exchanges:\n${plan.take(1500)}")
  }

  test("graft_dot native expression: bit-equal to the higher-order-function " +
    "dot and present in SQL after registration") {
    val emb = Tables.embeddings(spark, sf).limit(100)
    val both = emb.select(
      call_function("graft_dot", col("embedding"), col("embedding")).as("n"),
      graft.functions.VectorFunctions.dot(col("embedding"), col("embedding"))
        .as("h")).collect()
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)))
    // and through SQL
    emb.createOrReplaceTempView("graft_emb_probe")
    val viaSql = spark.sql(
      "SELECT graft_dot(embedding, embedding) FROM graft_emb_probe LIMIT 1")
      .collect()(0).getDouble(0)
    assert(viaSql > 0.0)
  }

  test("simsearch_lsh_bucketed derives buckets via codegen'd graft_dot — " +
    "no interpreted zip_with/aggregate lambda on the scan (r7 advice), and " +
    "the mixed float×double projection is bit-equal to the HOF spelling") {
    val plan = q("simsearch_lsh_bucketed").queryExecution.executedPlan.toString
    assert(!plan.contains("zip_with"), plan.take(1500))
    assert(plan.contains("graft_dot"), plan.take(1500))
    // bit-equality of the float-embedding × double-plane-literal path
    // against the interpreted spelling it replaced
    val plane = {
      val rnd = new scala.util.Random(42)
      Array.fill(64)(rnd.nextGaussian()).toSeq
    }
    val both = Tables.embeddings(spark, sf).limit(100).select(
      call_function("graft_dot", col("embedding"), typedlit(plane)).as("n"),
      aggregate(zip_with(col("embedding"), typedlit(plane),
        (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v)
        .as("h")).collect()
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("profile_table plans no row-multiplying Expand: per-column " +
    "single-distinct aggregates union'd, each scan pruned to its column " +
    "(r7 audit item)") {
    val plan = q("profile_table").queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan.take(1500))
  }

  test("join_asof plans one keyed shuffle + window, not a pair join: no " +
    "Join node, at most the window and presentation exchanges") {
    val plan = q("join_asof").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(1200))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"expected <=2 exchanges (window + final sort), got $exchanges:\n" +
        plan.take(1200))
  }

  test("win_rank_topk_pergrp plans WindowGroupLimit (partial+final): " +
    "per-group top-k drops rows before the full window, like map-side " +
    "combine for rank filters") {
    val plan = q("win_rank_topk_pergrp").queryExecution.executedPlan.toString
    val limits = "WindowGroupLimit".r.findAllIn(plan).size
    assert(limits >= 2, s"expected partial+final WindowGroupLimit:\n" +
      plan.take(1200))
  }

  test("observe() surfaces row counts from the executed plan without a " +
    "second pass (the accumulator-metrics twin GraftJob uses)") {
    val df = Tables.lineitem(spark, sf)
      .select("l_orderkey")
      .observe("probe", count(lit(1)).as("rows_seen"))
    // collect() drives THIS dataset's QueryExecution (count() would build
    // and execute a different one, leaving these metrics unpopulated)
    val n = df.collect().length.toLong
    val metrics = df.queryExecution.observedMetrics
    assert(metrics.contains("probe"), metrics.keys.toString)
    assert(metrics("probe").getAs[Long]("rows_seen") === n)
  }

  test("profile_table: one scan PER PROFILED COLUMN, each pruned to " +
    "exactly its column (columnar reads sum to one wide scan's bytes — " +
    "the shape that replaced the r7 Expand-×7 single aggregate)") {
    val plan = q("profile_table").queryExecution.executedPlan.toString
    val scans = "(?i)scan parquet".r.findAllIn(plan).size
    assert(scans === 6,
      s"expected 6 single-column parquet scans, got $scans:\n" +
        plan.take(1500))
    // every scan's ReadSchema carries exactly one column
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.size === 6, plan.take(1500))
    assert(readSchemas.forall(s => s.split(",").length === 1),
      s"multi-column ReadSchema in a profile branch: $readSchemas")
  }

  test("graft_minhash native expression: bit-equal to the boxed-UDF " +
    "formulation, codegen'd, empty arrays give Long.MaxValue slots") {
    import spark.implicits._
    val K = 12
    val rnd = new scala.util.Random(7)
    val ha = Array.fill(K)(rnd.nextLong() | 1L)
    val hb = Array.fill(K)(rnd.nextLong())
    val udfSig = udf((g: Array[Long]) => {
      val out = new Array[Long](K)
      var i = 0
      while (i < K) {
        var m = Long.MaxValue; var j = 0
        while (j < g.length) {
          val v = ha(i) * g(j) + hb(i)
          if (v < m) m = v
          j += 1
        }
        out(i) = m; i += 1
      }
      out
    })
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_sort(transform(
          graft.operators.Dedup.shingles(split(lower(col("text")), " "), 2),
          g => xxhash64(g))).as("g"))
    val both = docs.select(
      call_function("graft_minhash", col("g")).as("n"),
      udfSig(col("g")).as("u")).collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)))
    // empty input → Long.MaxValue in every slot (min over empty set)
    val empty = Seq(Array.empty[Long]).toDF("g")
      .select(call_function("graft_minhash", col("g")).as("n"))
      .collect()(0).getSeq[Long](0)
    assert(empty === Seq.fill(K)(Long.MaxValue))
    // and the signature pass stays inside whole-stage codegen
    val plan = docs.select(call_function("graft_minhash", col("g")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(800))
  }

  test("graft_jaccard_sorted native expression: equals the set-definition " +
    "jaccard on real shingle data and runs inside codegen") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_sort(transform(
          graft.operators.Dedup.shingles(split(lower(col("text")), " "), 2),
          g => xxhash64(g))).as("g"))
    val a = docs.select(col("doc_id").as("da"), col("g").as("ga"))
    val b = docs.select(col("doc_id").as("db"), col("g").as("gb"))
    val pairs = a.join(b, col("da") < col("db")).limit(500)
      .select(col("ga"), col("gb"),
        call_function("graft_jaccard_sorted", col("ga"), col("gb"))
          .as("j"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val sa = r.getSeq[Long](0).toSet
      val sb = r.getSeq[Long](1).toSet
      val expected = (sa & sb).size.toDouble / (sa ++ sb).size
      assert(math.abs(r.getDouble(2) - expected) < 1e-12)
    }
    // self-similarity is exactly 1
    val self = docs.limit(20)
      .select(call_function("graft_jaccard_sorted", col("g"), col("g")))
      .collect().map(_.getDouble(0))
    assert(self.forall(_ == 1.0))
    val plan = docs
      .select(call_function("graft_jaccard_sorted", col("g"), col("g")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(800))
  }

  test("join_pit_scd2 plans one equi-join + one keyed window: the " +
    "interval test rides the user-keyed join as a residual, never a " +
    "nested-loop/cartesian theta join (r8 addition, pinned per verdict)") {
    val plan = q("join_pit_scd2").queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(1500))
    assert("Join".r.findAllIn(plan).size === 1,
      s"expected exactly one join:\n${plan.take(1500)}")
    assert("Window".r.findAllIn(plan).size === 1,
      s"expected exactly one window (the SCD2 lead):\n${plan.take(1500)}")
  }

  test("cdc_snapshot_diff plans ONE full-outer join — the diff is " +
    "classified from null-sides in a single pass, not composed from " +
    "anti/semi join pairs") {
    val plan = q("cdc_snapshot_diff").queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), plan.take(1500))
    assert("Join".r.findAllIn(plan).size === 1,
      s"expected exactly one join:\n${plan.take(1500)}")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(1500))
  }

  test("multimodal_image_resize: every shuffle carries per-doc scalars " +
    "only — PNG payloads are produced, decoded and resampled inside one " +
    "partition and never cross an exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    val root = q("multimodal_image_resize").queryExecution.executedPlan
    val unwrapped: SparkPlan = root match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = unwrapped.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty, s"expected at least one exchange:\n$unwrapped")
    shuffles.foreach { e =>
      assert(!e.output.exists(_.dataType == BinaryType),
        s"shuffle carries a binary payload: ${e.output.mkString(", ")}")
    }
  }

  test("win_funnel_skewproof plans NO window and no nested-loop: the " +
    "funnel runs as partial+final hash aggregations, so a hot user " +
    "collapses map-side instead of serializing one sort task") {
    val plan = q("win_funnel_skewproof").queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).isEmpty,
      s"skew-proof funnel must not sort per user:\n${plan.take(1500)}")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(1500))
    assert(plan.contains("HashAggregate"), plan.take(1500))
  }

  test("dedup_bloom_incremental probes the persisted filter scan-side " +
    "(codegen'd graft_bloom_contains, no batch-x-corpus join) and " +
    "exact-confirms via a semi-join") {
    val plan = q("dedup_bloom_incremental").queryExecution.executedPlan
      .toString
    assert(plan.contains("graft_bloom_contains"), plan.take(1500))
    assert(plan.contains("LeftSemi"), plan.take(1500))
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(1500))
  }

  test("agg_ewma_ordered: one hash exchange by key, per-row sort_array, " +
    "no global Sort below the agg and no Window — the order-sensitive " +
    "fold stays a keyed aggregate") {
    val df = q("agg_ewma_ordered")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(user_id"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
    // exactly one Sort: the final ORDER BY user_id presentation sort;
    // series ordering happens per-row inside sort_array, never as an
    // exchange-wide Sort node
    assert(plan.split("\\bSort \\[").length - 1 === 1, plan.take(2000))
  }

  test("dedup_bloom_publish merge: union + hash-keyed distinct over " +
    "8-byte hash rows only — no join, no sort, text bytes never shuffle") {
    val df = queries.TextOps.bloomMergedHashes(spark, sf)
    df.write.format("noop").mode("overwrite").save() // resolve AQE final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(1500))
    assert(!plan.contains("Join") && !plan.contains("Cartesian"),
      plan.take(1500))
    assert(!plan.contains("Sort "), plan.take(1500))
    // the exchange carries the 8-byte hash, not text: no `text` column
    // may survive past the per-batch projection into the distinct
    assert(df.schema.fieldNames.toSeq === Seq("h"))
  }

  test("sink_partitioned_capped: per-lang parallel write, every output " +
    "file holds <= 100 rows, file counts match ceil(rows/100)") {
    val res = q("sink_partitioned_capped").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Tables.documents(spark, sf)
      .groupBy("lang").agg(ceil(count(lit(1)) / 100.0).cast("long").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res === expected)
    // the written layout honors the cap: no physical file exceeds 100 rows
    val out = s"${sys.props("java.io.tmpdir")}/graft_phys_docs_by_lang_" +
      sf.replaceAll("[^a-zA-Z0-9]", "_")
    val maxPerFile = spark.read.parquet(out)
      .groupBy(col("_metadata.file_path")).count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxPerFile <= 100, s"file with $maxPerFile rows breaks the cap")
    // and the cap actually split something (not one file per lang)
    assert(res.values.exists(_ > 1L), res.toString)
  }

  test("graft_nearest_cells native expression: matches a reference argmin " +
    "over L2, the IVF plan carries no UDF node, and the assignment pass " +
    "stays inside whole-stage codegen") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val cents: Seq[Seq[Float]] = emb.orderBy("vec_id").limit(16)
      .select("embedding").as[Array[Float]].collect().map(_.toSeq).toSeq
    val codebook = typedlit(cents)
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) *
        (x.toDouble - y.toDouble) }.sum
    val rows = emb.limit(200)
      .select(col("embedding"),
        call_function("graft_nearest_cells", col("embedding"), codebook,
          lit(4)).as("cells"))
      .as[(Array[Float], Array[Int])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, cells) =>
      val expected = cents.indices
        .sortBy(i => (l2(v.toSeq, cents(i)), i)).take(4)
      assert(cells.toSeq === expected,
        s"got ${cells.toSeq}, want $expected")
    }
    // the full IVF query plans without any UDF eval boundary
    val ivfPlan = q("simsearch_ivf_topk").queryExecution.executedPlan.toString
    assert(!ivfPlan.contains("UDF("), ivfPlan.take(1500))
    // and the per-vector assignment projection is codegen'd
    val assignPlan = emb.select(
      call_function("graft_nearest_cells", col("embedding"), codebook,
        lit(1))).queryExecution.executedPlan.toString
    assert(assignPlan.contains("*(1)"), assignPlan.take(800))
  }

  test("graft_adc native expression: matches a reference LUT gather, " +
    "flags bad codes as NaN, the PQ plan carries no UDF node, and the " +
    "ADC scan stays inside whole-stage codegen") {
    import spark.implicits._
    // M=4 subspaces, K=3 centroids: score = Σ_m lut[m*3 + codes[m]]
    val lut = (0 until 12).map(_.toDouble * 1.5)
    val rows = Seq(
      (Seq(0, 1, 2, 0), lut),
      (Seq(2, 2, 2, 2), lut),
      (Seq(0, 0, 0, 0), lut),
      (Seq(0, 3, 0, 0), lut)) // 3 is out of range for K=3 → NaN
      .toDF("codes", "lut")
      .select(call_function("graft_adc", col("codes"), col("lut")))
      .as[Double].collect()
    def ref(codes: Seq[Int]): Double =
      codes.zipWithIndex.map { case (c, m) => lut(m * 3 + c) }.sum
    assert(rows(0) === ref(Seq(0, 1, 2, 0)))
    assert(rows(1) === ref(Seq(2, 2, 2, 2)))
    assert(rows(2) === ref(Seq(0, 0, 0, 0)))
    assert(rows(3).isNaN, s"out-of-range code must score NaN, got ${rows(3)}")
    // the PQ probe plans without any UDF eval boundary
    val pqPlan = q("simsearch_pq_topk").queryExecution.executedPlan.toString
    assert(!pqPlan.contains("UDF("), pqPlan.take(1500))
    // and the per-code-word ADC projection over the persisted code index
    // is codegen'd (a local relation would collapse to LocalTableScan)
    val p = graft.queries.SimSearch.pqStaged(spark, sf)
    val adcPlan = spark.read.parquet(s"$p/index")
      .select(call_function("graft_adc", col("codes"),
        typedlit((0 until 256).map(_.toDouble))))
      .queryExecution.executedPlan.toString
    assert(adcPlan.contains("*(1)"), adcPlan.take(800))
  }

  test("CBO join reorder: ANALYZE'd row/column stats drive a cost-based " +
    "3-way reorder — the small dims join first regardless of written " +
    "order, and join nodes carry cardinality estimates") {
    // managed-table twins of the three join tables, external data under
    // /tmp so the repo tree stays clean; ANALYZE gives the optimizer real
    // row counts + join-key NDVs (the inputs CostBasedJoinReorder needs)
    def stage(name: String, df: org.apache.spark.sql.DataFrame,
        keys: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      df.write.option("path", graft.Staging.dir(name, sf))
        .mode("overwrite").saveAsTable(name)
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS $keys")
    }
    stage("graft_cbo_customer", Tables(spark, sf, "customer")
      .select("c_custkey", "c_name"), "c_custkey")
    stage("graft_cbo_orders", Tables(spark, sf, "orders")
      .select("o_orderkey", "o_custkey"), "o_orderkey, o_custkey")
    stage("graft_cbo_lineitem", Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity"), "l_orderkey")
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // written WORST-first: lineitem ⨝ orders would build the largest
      // intermediate (|lineitem| rows); customer ⨝ orders builds |orders|.
      // The greedy syntactic rule (ReorderJoin) keeps lineitem first here,
      // so a customer/orders-first plan is specifically the COST-based
      // reorder firing on the ANALYZE'd stats.
      val df = spark.sql(
        """SELECT c.c_custkey, count(*) AS n
          |FROM graft_cbo_lineitem l, graft_cbo_customer c, graft_cbo_orders o
          |WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
          |GROUP BY c.c_custkey""".stripMargin)
      val optimized = df.queryExecution.optimizedPlan
      val leafOrder = optimized.collectLeaves().map(_.toString)
      val deepestTwo = leafOrder.take(2).mkString(" ; ")
      assert(deepestTwo.contains("graft_cbo_customer") &&
        deepestTwo.contains("graft_cbo_orders"),
        s"cost-based reorder did not fire; leaf order:\n" +
          leafOrder.mkString("\n"))
      // CBO estimation is live: the reordered plan carries a row-count
      // estimate (size-only estimation leaves rowCount undefined on joins)
      assert(optimized.stats.rowCount.isDefined,
        "cbo must propagate cardinality estimates through the plan")
      // and the reorder is semantics-free: equals the DataFrame twin
      val expected = Tables.lineitem(spark, sf)
        .join(Tables(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables(spark, sf, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Seq("graft_cbo_customer", "graft_cbo_orders", "graft_cbo_lineitem")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("graft_bloom_contains native expression: agrees with the sketch's " +
    "own mightContain on every key, probe stays inside whole-stage " +
    "codegen, and the consuming queries carry no UDF boundary") {
    val bf = Tables(spark, sf, "lineitem")
      .filter(col("l_quantity") > 45).select(col("l_partkey"))
      .stat.bloomFilter("l_partkey", 10000L, 0.01)
    val bytes = new java.io.ByteArrayOutputStream()
    bf.writeTo(bytes)
    val fb = lit(bytes.toByteArray)
    val part = Tables(spark, sf, "part")
    val rows = part.select(col("p_partkey"),
      call_function("graft_bloom_contains", col("p_partkey"), fb).as("m"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(1) === bf.mightContainLong(r.getLong(0)),
        s"key ${r.getLong(0)}: expression disagrees with the sketch")
    }
    // null key propagates to null (SQL semantics), not false
    val nullRow = part.select(call_function("graft_bloom_contains",
      lit(null).cast("long"), fb)).limit(1).collect()(0)
    assert(nullRow.isNullAt(0))
    // the probe compiles into the scan's codegen stage — no UDF boundary
    val plan = part
      .filter(call_function("graft_bloom_contains", col("p_partkey"), fb))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(800))
    assert(!plan.contains("UDF("), plan.take(800))
    // and the two queries that probe Bloom filters plan UDF-free
    Seq("sketch_bloom_filter", "text_contamination_check").foreach { name =>
      val p = q(name).queryExecution.executedPlan.toString
      assert(!p.contains("UDF("), s"$name: ${p.take(800)}")
    }
  }

  test("text_langid_ngram plans as pure built-ins — no UDF node, " +
    "projection inside whole-stage codegen") {
    val df = q("text_langid_ngram")
    df.collect() // finalize the AQE plan so codegen markers materialize
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("UDF("), p.take(800))
    assert(p.contains("RLIKE"), p.take(800)) // the built-in, not a closure
    assert(p.contains("*("), p.take(1200)) // codegen stage marker
  }

  test("text_perplexity_proxy extraction is codegen'd slice+zip — no " +
    "interpreted higher-order lambda and no per-index substring on the " +
    "gram hot path") {
    val df = q("text_perplexity_proxy")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("lambdafunction"), p.take(1200))
    assert(!p.toLowerCase.contains("transform("), p.take(1200))
    // the slice+zip spelling, not substring(t, i, 2) per exploded index
    assert(!p.contains("substring("), p.take(1200))
    assert(p.contains("*("), p.take(1200)) // codegen stage marker
  }

  test("quality_funnel_report costs ONE documents scan — all four stage " +
    "flags fold into a single aggregate over the survivor window") {
    val df = q("quality_funnel_report")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "FileScan parquet" contains "Scan parquet"; count the latter only
    // (AQE can print the reused stage once more — allow 2)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected one documents scan, got $scans:\n" +
      p.take(1500))
  }

  test("graft_dot participates in whole-stage codegen") {
    val df = Tables.embeddings(spark, sf)
      .select(call_function("graft_dot", col("embedding"), col("embedding"))
        .as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(800)) // codegen stage marker
  }

  test("sink_compact_smallfiles merges the 64-file input to the " +
    "size-derived target without losing rows") {
    val rows = q("sink_compact_smallfiles").collect()
    def nFiles(path: String): Long =
      spark.read.parquet(path)
        .select(col("_metadata.file_path")).distinct().count()
    val nIn = nFiles(Staging.dir("graft_phys_docs_fragmented", sf))
    val nOut = nFiles(Staging.dir("graft_phys_docs_compacted", sf))
    assert(nIn === 64L)
    assert(nOut < nIn)
    assert(nOut === 1L) // sf0.001 is far below one 32 MB target file
    // nothing lost: per-source totals equal the original table's
    val want = Tables.documents(spark, sf)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got === want)
  }

  test("agg_bitmap_distinct equals count(DISTINCT) exactly") {
    val got = q("agg_bitmap_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("metrics_observe: the observed metrics equal a direct recompute and " +
    "ride the plan as a CollectMetrics node (no second scan)") {
    val got = q("metrics_observe").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val li = Tables(spark, sf, "lineitem")
    val ref = li.agg(
      round(avg(col("l_discount")), 4).as("avg_disc"),
      count(when(col("l_returnflag") === "R", 1)).as("n_returns"),
      count(lit(1)).as("n_rows"),
      round(sum(col("l_quantity")), 2).as("sum_qty")).collect().head
    assert(got("avg_disc") === ref.getDouble(0))
    assert(got("n_returns") === ref.getLong(1).toDouble)
    assert(got("n_rows") === ref.getLong(2).toDouble)
    assert(got("sum_qty") === ref.getDouble(3))
    // the metrics hang off the SAME plan that does the work
    val obs = org.apache.spark.sql.Observation()
    val df = li.observe(obs, count(lit(1)).as("n"))
    assert(df.queryExecution.optimizedPlan.toString
      .contains("CollectMetrics"), "observe must be a plan node")
  }

  test("scan_file_metadata: _metadata rows point into the staged layout " +
    "and every event_type dir holds exactly one file") {
    val rows = q("scan_file_metadata").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 === 1L), s"one file per partition dir: $rows")
    assert(rows.map(_._3).sum === Tables.events(spark, sf).count())
    val p = graft.Staging.dir("graft_phys_filemeta", sf)
    val paths = spark.read.parquet(p)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0))
    assert(paths.nonEmpty && paths.forall(_.contains("graft_phys_filemeta")),
      "file_path must name the physical source file inside the staged dir")
  }

  test("scan_csv_multiline: every quoted payload round-trips the embedded " +
    "newline byte-for-byte through write -> multiLine read") {
    q("scan_csv_multiline").collect() // ensures the layout is staged
    val path = graft.Staging.dir("graft_csv_multiline", sf)
    val back = spark.read
      .schema("doc_id LONG, lang STRING, payload STRING")
      .option("header", "true").option("multiLine", "true").csv(path)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val want = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        concat(col("lang"), lit("\n"), substring(col("text"), 1, 40))
          .as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back === want)
    assert(want.values.forall(_.contains("\n")),
      "the fixture must actually embed newlines")
  }

  test("agg_bucketed_noshuffle: grouping on the bucket key aggregates " +
    "with ZERO exchanges (the only shuffle in the shipped query is the " +
    "presentation sort)") {
    val (sumQ, cnt) = {
      val rows = q("agg_bucketed_noshuffle").collect()
      (rows.map(_.getDouble(1)).sum, rows.length)
    }
    assert(cnt > 0 && sumQ > 0)
    // orderBy-free twin: the aggregate itself must ride the bucket layout
    val li = spark.table("graft_li_bucketed")
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .filter(col("n_lines") >= 4)
    val plan = li.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed aggregation must not shuffle:\n$plan")
    val shipped = q("agg_bucketed_noshuffle")
      .queryExecution.executedPlan.toString
    assert(shipped.split("Exchange").length - 1 <= 1,
      "the shipped query may shuffle only for its final ORDER BY")
  }

  test("sink_manifest_commit: orphan data files are on disk but invisible " +
    "through the manifest, old versions time-travel, uncommitted " +
    "versions refuse") {
    val path = queries.Physical.manifestSinkStaged(spark, sf)
    // the crashed writer's files really exist in the data dir
    val orphanDir = new java.io.File(s"$path/data/orphan")
    assert(orphanDir.isDirectory &&
      orphanDir.listFiles().exists(_.getName.startsWith("part-")),
      "fixture must contain uncommitted orphan files")
    // manifest read (latest = v1) excludes them; a naive dir glob does not
    val latest = TableLog.scan(spark, path, None).count()
    val globbed = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$path/data").count()
    val orders = Tables(spark, sf, "orders")
    val committed = orders.filter(col("o_orderkey") % 3 < 2).count()
    val all = orders.count()
    assert(latest === committed,
      s"manifest read $latest rows, committed slice is $committed")
    assert(globbed === all,
      "sanity: the glob DOES see the orphans the manifest hides")
    assert(globbed > latest)
    // time travel: v0 is exactly the first committed slice
    val v0 = TableLog.scan(spark, path, Some(0)).count()
    assert(v0 === orders.filter(col("o_orderkey") % 3 === 0).count())
    // a version that was never committed refuses by name
    val e = intercept[IllegalArgumentException] {
      TableLog.scan(spark, path, Some(7))
    }
    assert(e.getMessage.contains("never committed"))
  }
}
