package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Row type for the typed-Dataset coverage query (`typed_dataset_agg`):
  * top-level so Spark can derive a product Encoder for it.
  */
case class GraftEvent(event_id: Long, user_id: Long,
    ts: java.sql.Timestamp, event_type: String, value: Double)

/** Relational core — SURVEY.md §2.B rows B1–B19, B24–B27.
  *
  * Scans, every join variant (with the physical strategy pinned via hints so
  * the plan is testable), the aggregation family, sort/limit and set ops.
  * All built-ins: Catalyst plans partial→final hash aggregation, broadcast
  * vs sort-merge vs shuffled-hash join selection, and top-k
  * (`TakeOrderedAndProject`) without custom code.
  *
  * Determinism contract (SURVEY §2 header): every query ends in a total
  * ORDER BY and `round(x, 2|4)`s floating aggregates; DuckDB oracle SQL uses
  * explicit NULLS FIRST/LAST to match Spark's ASC-nulls-first /
  * DESC-nulls-last defaults.
  */
object Relational {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B1: columnar scan with pushdown — filter + projection must reach the
    // parquet reader (PushedFilters / ReadSchema, SURVEY §4.2).
    "scan_parquet" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(col("l_quantity") > 30)
        .orderBy("l_orderkey", "l_linenumber")),

    // B2: csv scan with header + schema inference. No csv exists in the
    // test corpus, so materialize one deterministically from `region` first.
    "scan_csv_infer" -> ((s, d) => {
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_csv_region"
      t(s, d, "region").orderBy("r_regionkey").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").option("inferSchema", "true").csv(tmp)
        .select(col("r_regionkey").cast("int"), col("r_name"))
        .orderBy("r_regionkey")
    }),

    // PERMISSIVE malformed-record handling: real ingests carry broken
    // rows, and silently dropping them (DROPMALFORMED) or failing the job
    // (FAILFAST) are both wrong at 100 TB — the production contract is
    // "quarantine and count". Every 7th line of the staged CSV gets an
    // unparseable n_chars field; the read routes those rows to the
    // columnNameOfCorruptRecord column (keeping the fields that DID
    // parse — partial results) and the query reports the good/quarantined
    // breakdown the pipeline would alert on. The corrupted field must be
    // one the query REFERENCES: Spark's CSV parser only parses required
    // columns, so corruption confined to a pruned column is invisible.
    // The oracle reproduces the expected outcome from the clean table —
    // checking the PARSER's behavior, not a copy of the expression.
    // PERMISSIVE JSONL scan with a corrupt-record column — the JSON
    // parser's half of what scan_csv_malformed proves for CSV: bad
    // records (every 7th line is a truncated object) land in _corrupt
    // with the typed fields null, good records parse, and NOTHING is
    // dropped (row conservation is the whole point of PERMISSIVE over
    // DROPMALFORMED at ingest time — you quarantine, you don't lose).
    // Same staged-text fixture idiom; the scan itself is a plain
    // splittable text read + per-row parse, no exchange before the
    // fold.
    "scan_json_malformed" -> ((s, d) => {
      val path = graft.Staging.layout(s, "graft_json_badrows", d,
        s"$d/documents.parquet")(t(s, d, "documents")
          .select(when(col("doc_id") % 7 === 0,
            concat(lit("{\"doc_id\":"), col("doc_id"),
              lit(",\"lang\":")))
            .otherwise(concat(lit("{\"doc_id\":"), col("doc_id"),
              lit(",\"lang\":\""), col("lang"),
              lit("\",\"n_chars\":"), col("n_chars"), lit("}")))
            .as("value"))
          .write.mode("overwrite").text(_))
      s.read
        .schema("doc_id LONG, lang STRING, n_chars LONG, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .groupBy(col("_corrupt").isNotNull.as("is_corrupt"), col("lang"))
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
        .orderBy(col("is_corrupt"), col("lang").asc_nulls_first)
    }),

    "scan_csv_malformed" -> ((s, d) => {
      val path = graft.Staging.layout(s, "graft_csv_badrows", d,
        s"$d/documents.parquet")(t(s, d, "documents")
          .select(when(col("doc_id") % 7 === 0,
            concat(col("doc_id"), lit(","), col("lang"),
              lit(",bad#"), col("doc_id")))
            .otherwise(concat_ws(",",
              col("doc_id"), col("lang"), col("n_chars"))).as("value"))
          .write.mode("overwrite").text(_))
      s.read
        .schema("doc_id LONG, lang STRING, n_chars LONG, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .groupBy(col("_corrupt").isNotNull.as("is_corrupt"), col("lang"))
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
        .orderBy(col("is_corrupt"), col("lang").asc_nulls_first)
    }),

    // Multi-line CSV: quoted fields with EMBEDDED NEWLINES — the layout
    // exported spreadsheets and free-text columns actually arrive in.
    // Default CSV reading splits records at raw newlines (fast,
    // per-line splittable); multiLine=true switches to a real
    // quote-aware parser. The staged file is built by Spark's own CSV
    // writer from a payload that ALWAYS contains '\n' (lang + newline +
    // a text prefix), so the writer must quote every payload and the
    // read must reassemble it exactly — the per-lang rollup counts the
    // embedded newlines round-tripped. Scale note: a multiLine CSV file
    // is NOT splittable (a record boundary can't be found mid-file), so
    // the stage keeps several files — at 100 TB parallelism comes from
    // file count, not intra-file splits; convert to parquet at first
    // touch.
    "scan_csv_multiline" -> ((s, d) => {
      val path = graft.Staging.layout(s, "graft_csv_multiline", d,
          s"$d/documents.parquet") { path =>
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            concat(col("lang"), lit("\n"), substring(col("text"), 1, 40))
              .as("payload"))
          .repartition(4)
          // gotcha pinned by the oracle: Spark's CSV WRITER trims
          // leading/trailing whitespace by default (ignore*WhiteSpace
          // default true on write, false on read) — a payload whose
          // 40-char prefix ends in a space would come back shorter
          .write.mode("overwrite").option("header", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(path)
      }
      s.read
        .schema("doc_id LONG, lang STRING, payload STRING")
        .option("header", "true").option("multiLine", "true")
        .csv(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum((size(split(col("payload"), "\n")) - 1).cast("long"))
            .as("n_embedded_newlines"),
          sum(length(col("payload"))).as("sum_len"))
        .orderBy("lang")
    }),

    // B3: json-lines scan (inference widens ints to long → cast back).
    "scan_json" -> ((s, d) => {
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_json_nation"
      t(s, d, "nation").orderBy("n_nationkey").coalesce(1)
        .write.mode("overwrite").json(tmp)
      s.read.json(tmp)
        .select(col("n_nationkey").cast("int"), col("n_name"),
          col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    }),

    // B4: broadcast hash join — dim side explicitly broadcast; at 100 TB the
    // fact side never shuffles for a small-dim join.
    "join_broadcast" -> ((s, d) =>
      t(s, d, "nation")
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey")),

    // B5: shuffle sort-merge equi-join (fact ⨝ fact), pinned via merge hint.
    "join_sortmerge" -> ((s, d) =>
      t(s, d, "lineitem").hint("merge")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")),

    // B6: shuffled hash join, pinned via shuffle_hash hint.
    "join_shuffled_hash" -> ((s, d) =>
      t(s, d, "lineitem").hint("shuffle_hash")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")),

    // B7: left-semi join (EXISTS).
    "join_left_semi" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
          "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // B8: left-anti join (NOT EXISTS) — customers with no high-value order
    // (the unfiltered variant is empty on this data: every customer orders).
    "join_left_anti" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // B9: equi + theta predicate (range condition rides on the hash join).
    "join_theta_range" -> ((s, d) =>
      t(s, d, "part")
        .join(t(s, d, "lineitem"),
          col("l_partkey") === col("p_partkey") &&
            col("l_quantity") > col("p_size"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), round(avg("l_quantity"), 2).as("avg_qty"))
        .orderBy("p_brand")),

    // B10: as-of join — per purchase event, the latest click by the same
    // user at-or-before the purchase, via the generic operator
    // (graft.operators.AsOfJoin — range join + row_number rewrite).
    "join_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      graft.operators.AsOfJoin(purchases, clicks,
        leftKey = col("user_id"), rightKey = col("c_user"),
        leftTs = col("p_ts"), rightTs = col("c_ts"), tieBreak = col("c_id"))
        .select(col("p_id"), col("user_id"), col("c_id").as("last_click_id"))
        .orderBy("p_id")
    }),

    // B10b: as-of join with a tolerance — same operator, but a carried
    // click older than 1 h before the purchase no longer matches (the
    // match column nulls out). The bound is applied to the carried row
    // after the single keyed shuffle, so the skew-safe shape is unchanged.
    "join_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      graft.operators.AsOfJoin(purchases, clicks,
        leftKey = col("user_id"), rightKey = col("c_user"),
        leftTs = col("p_ts"), rightTs = col("c_ts"), tieBreak = col("c_id"),
        tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(col("p_id"), col("user_id"), col("c_id").as("last_click_id"))
        .orderBy("p_id")
    }),

    // B9b: the range join above at scale — Spark plans inequality-only
    // conditions as a broadcast nested loop (O(|L|·|R|)); RangeJoin.binned
    // rewrites point-in-interval matching as an equi-join on fixed-width
    // bin keys + an exact residual filter (plan spec asserts no
    // NestedLoop node). Here: shipments landing in each sampled order's
    // 7-day window, binned by 7-day buckets of epoch seconds.
    "join_range_binned" -> ((s, d) => {
      val weekBin = (c: org.apache.spark.sql.Column) =>
        floor(unix_timestamp(c) / lit(7L * 86400))
      val pts = t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      val ivs = t(s, d, "orders").filter(col("o_orderkey") % 199 === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
      graft.operators.RangeJoin.binned(pts, col("l_shipdate"), ivs,
          col("o_orderdate"), col("o_end"), weekBin)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_shipments"))
        .orderBy("o_orderkey")
    }),

    // B9c: the SAME rewrite applied automatically by the injected
    // optimizer rule (plans.BinnedRangeJoinRule): the query is written as
    // a plain inequality join — the shape a SQL user would write — and
    // the rule turns it into the binned equi-join at optimization time
    // (opt-in via the bin-width conf, exact residual keeps semantics).
    // The plan spec asserts no NestedLoop node survives.
    "join_range_auto" -> ((s, d) => {
      // deliberately left set for the session: restoring it in a finally
      // would disable the rule before the caller's action re-plans the
      // (lazy) DataFrame. Safe to leave on — the rule is exactness-
      // preserving for ANY join and only fires on inequality-only inner
      // joins, of which this query is the session's only one; the plan-
      // contrast specs unset the key themselves.
      s.conf.set(graft.plans.BinnedRangeJoinRule.ConfKey,
        (7L * 86400).toString)
      val pts = t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      val ivs = t(s, d, "orders").filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
      pts.join(ivs,
          col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_end"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_shipments"))
        .orderBy("o_orderkey")
    }),

    // B10c: forward as-of join — for each purchase, the EARLIEST click at
    // or after it (attribution's post-event twin). Same single-shuffle
    // skew-safe shape with the window frame mirrored; smallest click id
    // wins a same-instant tie.
    "join_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      graft.operators.AsOfJoin(purchases, clicks,
        leftKey = col("user_id"), rightKey = col("c_user"),
        leftTs = col("p_ts"), rightTs = col("c_ts"), tieBreak = col("c_id"),
        direction = "forward")
        .select(col("p_id"), col("user_id"), col("c_id").as("next_click_id"))
        .orderBy("p_id")
    }),

    // Nearest-in-time join: each purchase matched to its temporally
    // CLOSEST view by the same user, in either direction — the two-sided
    // complement of the as-of family (backward picks the last-before,
    // forward the first-after; nearest picks whichever is closer, ties
    // to the earlier). Both candidate neighbors come from running frames
    // over ONE (user, time) sort — the "next" neighbor from a descending
    // re-sort of the same exchange, never an O(partition²) following
    // frame and never a broadcast-nested-loop on the time predicate.
    "join_nearest_time" -> ((s, d) => {
      val wPrev = Window.partitionBy("user_id")
        .orderBy(col("sec").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wNext = Window.partitionBy("user_id")
        .orderBy(col("sec").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("pv",
          max(when(col("event_type") === "view", col("sec"))).over(wPrev))
        .withColumn("nv",
          min(when(col("event_type") === "view", col("sec"))).over(wNext))
        .filter(col("event_type") === "purchase")
        .withColumn("nearest_view_sec",
          when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .when(col("sec") - col("pv") <= col("nv") - col("sec"),
              col("pv"))
            .otherwise(col("nv")))
        .select(col("event_id"), col("user_id"), col("sec"),
          col("nearest_view_sec"),
          (col("nearest_view_sec") - col("sec")).as("dt_sec"))
        .orderBy("event_id")
    }),

    // POINT-IN-TIME join against an SCD2 dimension — the feature-store
    // primitive that keeps training features leakage-free: every fact
    // row joins the dimension version that was valid AT ITS TIMESTAMP,
    // never a later one. Versions = each user's signup events with
    // [valid_from, valid_to) from lead(); facts = purchase events. The
    // plan is a user-keyed EQUI-join carrying the interval test as a
    // residual filter — per-user version counts are small, so this
    // never becomes a theta/nested-loop join, and at 100 TB it is one
    // keyed shuffle like any dimension join. Output: purchases rolled
    // up per matched dimension version.
    "join_pit_scd2" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("sec"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec").asc, col("event_id").asc)
      val dim = ev.filter(col("event_type") === "signup")
        .withColumn("valid_to",
          coalesce(lead(col("sec"), 1).over(w) - 1L, lit(Long.MaxValue)))
        .select(col("user_id"), col("sec").as("valid_from"),
          col("valid_to"))
      val fact = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sec"), col("value"))
      fact.join(dim, Seq("user_id"))
        .filter(col("sec").between(col("valid_from"), col("valid_to")))
        .groupBy("user_id", "valid_from")
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("value"), 2).as("purch_value"))
        .orderBy("user_id", "valid_from")
    }),

    // B10d: the as-of join under HOT-KEY skew, via the two-phase chunked
    // variant (AsOfJoin.chunked): three quarters of the users remap onto
    // one key — apply()'s per-key window would serialize that key onto a
    // single task, while here the carry is computed per (key, hour-chunk)
    // and stitched through a chunk-level boundary table (rows = #chunks,
    // not #events). Same answer as the single-window plan (spec'd), same
    // oracle shape as join_asof on the remapped key.
    "join_asof_chunked" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("skew_user",
          when(col("user_id") % 4 =!= 3, lit(0L)).otherwise(col("user_id")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("skew_user").as("user_id"),
          col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("skew_user").as("c_user"),
          col("ts").as("c_ts"))
      graft.operators.AsOfJoin.chunked(purchases, clicks,
        leftKey = col("user_id"), rightKey = col("c_user"),
        leftTs = col("p_ts"), rightTs = col("c_ts"), tieBreak = col("c_id"),
        chunkOf = c => floor(unix_micros(c) / 3600000000L))
        .select(col("p_id"), col("user_id"), col("c_id").as("last_click_id"))
        .orderBy("p_id")
    }),

    // B66: null-safe equi-join (<=>) — SQL equality never matches NULL
    // keys; <=> does, which is what entity-resolution joins over
    // incomplete keys need. Nulls synthesized deterministically from the
    // nation key; result aggregated per key to keep output bounded.
    "join_null_safe" -> ((s, d) => {
      val a = t(s, d, "customer")
        .select(nullif(col("c_nationkey") % 7, lit(0)).as("k"),
          col("c_custkey"))
      val b = t(s, d, "supplier")
        .select(nullif(col("s_nationkey") % 7, lit(0)).as("sk"),
          col("s_suppkey"))
      a.join(b, col("k") <=> col("sk"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("s_suppkey")).as("n_supps"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // B11: cross join.
    "join_cross" -> ((s, d) =>
      t(s, d, "region").crossJoin(t(s, d, "nation"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    // B12: full outer join (supplier side is sparse → real nulls).
    "join_outer_full" -> ((s, d) =>
      t(s, d, "nation")
        .join(t(s, d, "supplier"), col("s_nationkey") === col("n_nationkey"),
          "full_outer")
        .select("n_nationkey", "n_name", "s_suppkey", "s_name")
        .orderBy(col("n_nationkey").asc_nulls_first,
          col("s_suppkey").asc_nulls_first)),

    // Interval-overlap join WITHOUT an equi key — the case a plain join
    // can't express and a theta join turns into broadcast-nested-loop.
    // Each event interval [start, start+1h) is fanned to the (≤2) hour
    // bins it touches, the hourly grid keys each bin once, and the join
    // becomes an EQUI join on the bin plus a residual overlap predicate —
    // the binned-range-join pattern generalized to interval×interval. At
    // 100 TB the fan-out factor is ceil(span/bin)+1 per row, never n².
    "join_interval_overlap" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("a_start", unix_timestamp(col("ts")))
        .withColumn("a_end", col("a_start") + 3600L)
      val grid = ev
        .agg((floor(min("a_start") / 3600L) * 3600L).cast("long").as("lo"),
          max("a_end").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), lit(3600L)))
          .as("b_start"))
      val binned = ev.select(col("event_id"), col("a_start"), col("a_end"),
        col("value"),
        explode(sequence(floor(col("a_start") / 3600L).cast("long"),
          floor((col("a_end") - 1L) / 3600L).cast("long"))).as("bin"))
      grid.withColumn("bin", floor(col("b_start") / 3600L).cast("long"))
        .join(binned, "bin")
        .filter(col("a_start") < col("b_start") + 3600L &&
          col("b_start") < col("a_end"))
        .groupBy("b_start")
        .agg(count(lit(1)).as("n_overlap"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("b_start")
    }),

    // B13: multi-aggregate hash aggregation (TPC-H Q1 shape).
    // Basket-size histogram: line items per order → (size, n_orders,
    // avg basket value) — the order-shape profile behind the
    // within-basket pairing bound mine_basket_lift documents (its n²
    // term is THIS distribution's max). Two keyed aggregates, output
    // bounded by the max basket size.
    "agg_basket_size_distribution" -> ((s, d) => {
      val baskets = t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("basket_size"),
          sum("l_extendedprice").as("basket_value"))
      baskets.groupBy("basket_size")
        .agg(count(lit(1)).as("n_orders"),
          round(avg("basket_value"), 2).as("avg_value"))
        .orderBy("basket_size")
    }),

    "agg_groupby_multi" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          round(avg("l_extendedprice"), 2).as("avg_price"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // B14: exact distinct aggregation (Catalyst expands to 2-phase).
    "agg_count_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .agg(
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("cnt"))),

    // df.stat.crosstab — the contingency-table API surface (the same
    // counts chi2/Cramér's V consume, materialized as a wide table).
    // The value columns are selected EXPLICITLY in domain order: Spark
    // derives crosstab column order from a driver-side distinct whose
    // order is not contractual, and a wide result's column order is
    // part of the compare. A status value ABSENT from the input yields
    // no crosstab column at all (crosstab pivots on observed values),
    // while the SQL twin's conditional aggregation returns 0 — so each
    // expected column falls back to lit(0L) when missing rather than
    // throwing AnalysisException on a corpus slice with, say, no 'P'
    // orders. One pivot-shaped aggregate; both axes bounded
    // (5 priorities × 3 statuses).
    "stat_crosstab" -> ((s, d) => {
      val ct = t(s, d, "orders").stat
        .crosstab("o_orderpriority", "o_orderstatus")
      def cnt(status: String, as: String) =
        (if (ct.columns.contains(status)) col(status) else lit(0L)).as(as)
      ct.select(col("o_orderpriority_o_orderstatus").as("priority"),
          cnt("F", "n_f"), cnt("O", "n_o"), cnt("P", "n_p"))
        .orderBy("priority")
    }),

    // GROUPED multi-distinct MIXED with plain aggregates — the plan
    // class agg_count_distinct's global form doesn't exercise: two
    // DISTINCT columns + two plain aggregates under one GROUP BY force
    // Catalyst's Expand rewrite (each input row replicated once per
    // distinct group with the others nulled, gid-tagged, then two
    // aggregate passes). Scale note the comment must carry: the Expand
    // multiplies the exchange by (#distinct-columns + 1) — at 100 TB
    // you either accept that ×3, split into per-distinct aggregates
    // joined on the group key, or drop to approx_count_distinct
    // (one pass, no Expand); this key is the exact baseline the
    // approx variant is judged against.
    "agg_multi_distinct_mixed" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(year(col("o_orderdate"))).as("n_years"),
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("rev"))
        .orderBy("o_orderpriority")),

    // Log-decade histogram of order totals — the heavy-tail profile in
    // one keyed fold: fixed-width bins (agg_hist_fixed) waste cells on
    // a long tail and equi-depth (agg_hist_equidepth) hides magnitude;
    // decade bins answer "how many orders per order of magnitude".
    // floor(log10) is per-row deterministic; bounded bin axis.
    "agg_hist_log_bins" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(floor(log10(col("o_totalprice"))).cast("int")
          .as("decade"))
        .agg(count(lit(1)).as("n_orders"),
          round(min("o_totalprice"), 2).as("min_total"),
          round(max("o_totalprice"), 2).as("max_total"),
          round(sum("o_totalprice"), 2).as("rev"))
        .orderBy("decade")),

    // B15: HLL approximate distinct — no oracle (sketch differs from
    // DuckDB); bound-checked against exact in ScalaTest.
    "agg_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))),

    // B16: rollup.
    "agg_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // B17: cube.
    "agg_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // B18: grouping sets (SQL-only surface in Spark).
    "agg_grouping_sets" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS cnt
        FROM graft_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
      """)
    }),

    // B19: order-fixed collect (sort_array makes collect_set deterministic;
    // concat_ws serializes the list — the driver's pandas comparator cannot
    // hash array-typed cells).
    "agg_collect_sorted" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(concat_ws(",", sort_array(collect_set(col("source"))))
          .as("sources"))
        .orderBy("lang")),

    // B70: statistical aggregate family — dispersion, correlation and
    // shape moments per group (the numeric half of a data profile).
    // Note: Spark's skewness/kurtosis are POPULATION central-moment
    // formulas (m3/m2^1.5, m4/m2^2-3) — the oracle reproduces them from
    // explicit moments, since DuckDB's built-ins are sample-corrected.
    "agg_stats_family" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev("l_quantity"), 4).as("sd_qty"),
          round(variance("l_quantity"), 4).as("var_qty"),
          (round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            + lit(0.0)).as("corr_qp"),
          (round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
            + lit(0.0)).as("cov_qp"),
          (round(skewness(col("l_quantity")), 4) + lit(0.0)).as("skew_qty"),
          (round(kurtosis(col("l_quantity")), 4) + lit(0.0)).as("kurt_qty"))
        .orderBy("l_returnflag")),

    // B74: exact mode with a pinned tie-break — the built-in `mode()`
    // picks an arbitrary value among ties, so the deterministic form is
    // count-then-rank: two keyed shuffles, no driver state.
    "agg_mode_exact" -> ((s, d) => {
      val counts = t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("cnt").desc, col("l_quantity").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("cnt"))
        .orderBy("l_returnflag")
    }),

    // extra: exact interpolated percentile (matches DuckDB quantile_cont).
    "agg_percentile_exact" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 2).as("med_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 2).as("p90_price"))
        .orderBy("l_returnflag")),

    // Fixed-width histogram per group — the profiling/EDA primitive.
    // The bucket is computed with explicit floor arithmetic (NOT an
    // engine-specific width_bucket, whose edge conventions differ), so
    // both engines run the identical IEEE expression; the top bucket is
    // clamped closed. One hash aggregation on (group, bucket): map-side
    // partials reduce every group to ≤20 rows before the exchange, so
    // the shuffle is O(groups × buckets) no matter the input size.
    "agg_hist_fixed" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderpriority"),
          least(floor(col("o_totalprice") / 25000.0), lit(19.0))
            .cast("long").as("bucket"))
        .groupBy("o_orderpriority", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority", "bucket")),

    // Exact weighted median: the smallest value whose running weight
    // reaches half the total — percentile where each row votes with its
    // weight (revenue-weighted price points, token-weighted doc stats).
    // The running and total sums ride ONE window sort over the group, and
    // the weights are cast to BIGINT first so both cumulative sums are
    // exact integer arithmetic — no FP-order-of-addition hazard at the
    // threshold comparison. Shape: one exchange + one sort, then a
    // min-reduce; no self-join against a separate totals aggregate.
    "agg_weighted_median" -> ((s, d) => {
      // r19 measured rejection: pre-aggregating sum(wt) per (group,
      // price) before the window would shrink the 3-task sort only if
      // prices repeat — they don't (594,330 distinct (flag, price) of
      // 600,000 rows at sf0.1), so the extra exchange cost ~0.3 s for
      // zero reduction (1.43 → 1.72 s REPS=3). Kept as one exchange +
      // one sort.
      val wRun = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").asc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("l_returnflag")
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("wt"))
        .withColumn("cw", sum("wt").over(wRun))
        .withColumn("tw", sum("wt").over(wAll))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag")
        .agg(min("l_extendedprice").as("wmedian_price"))
        .orderBy("l_returnflag")
    }),

    // Linear-regression aggregate family (regr_slope/intercept/r2) —
    // closed-form least squares from the same co-moment state the stats
    // family carries: one pass, map-side combined, O(groups) output. The
    // per-group trendline is the monitoring/EDA primitive ("is price
    // drifting with quantity?") that otherwise gets exported to pandas.
    "agg_regression_family" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          (round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
            + lit(0.0)).as("slope"),
          (round(regr_intercept(col("l_extendedprice"),
            col("l_quantity")), 4) + lit(0.0)).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy("l_returnflag")),

    // Sorted string aggregation (listagg): collect_set → array_sort →
    // array_join pins a deterministic element order — bare listagg /
    // string_agg ordering is engine-arbitrary, the classic silent
    // cross-engine mismatch. Distinct-set state keeps the aggregation
    // buffer bounded by cardinality, not row count.
    "agg_string_concat" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",")
          .as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))
        .orderBy("l_returnflag")),

    // grouping()/grouping_id() flags: the machine-readable way to tell a
    // subtotal row from a data row whose group key is genuinely NULL —
    // without these, every rollup consumer falls back to the fragile
    // "key IS NULL means total" heuristic. Same single-Expand plan as
    // agg_rollup; the flags are free metadata off the grouping-set id.
    "agg_grouping_flags" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"),
          grouping_id().as("gid"),
          count(lit(1)).as("cnt"))
        .orderBy(col("gid").asc, col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Conditional/boolean aggregate family — count_if / bool_and /
    // bool_or (every/any): predicate aggregation without the
    // sum(case...) detour; all three fold into one map-side-combined
    // hash aggregation over one scan.
    "agg_conditional_family" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("count_if(l_quantity > 25)").as("n_big"),
          expr("bool_and(l_quantity > 0)").as("all_pos"),
          expr("bool_or(l_discount > 0.09)").as("any_deep_discount"),
          expr("count_if(l_tax = 0.0)").as("n_tax_free"))
        .orderBy("l_returnflag")),

    // max_by/min_by family (arg-max aggregation): which order carried the
    // extreme price per group — one hash aggregation instead of the
    // rank-window-filter detour. The comparison key is a STRUCT
    // (price, orderkey): lexicographic struct ordering gives a total
    // order at any scale (a packed price*M+key long caps out once
    // orderkey reaches M — at TPC-H sf≥1 that silently returns the
    // wrong row), so both engines pick the same row without
    // engine-specific tie arbitration. The oracle expresses the same
    // total order as rank-1 windows, since DuckDB's arg_max takes only
    // scalar keys.
    "agg_first_last_by" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("cmp", struct(col("o_totalprice"), col("o_orderkey")))
        .groupBy("o_orderpriority")
        .agg(expr("max_by(o_orderkey, cmp)").as("top_order"),
          expr("min_by(o_orderkey, cmp)").as("bottom_order"),
          round(max("o_totalprice"), 2).as("top_price"),
          round(min("o_totalprice"), 2).as("bottom_price"))
        .orderBy("o_orderpriority")),

    // Exact DECIMAL money aggregation — the 100 TB answer to "sum
    // revenue": double summation drifts with partition/merge order (the
    // low bits of a cluster-wide float sum are nondeterministic
    // run-to-run), while DECIMAL partial sums are integer arithmetic —
    // exact, overflow-checked, order-independent — under the very same
    // partial→final HashAggregate plan (no perf cliff for exactness).
    // The cast to double happens ONCE, on the final per-group cents,
    // for the gate's scalar compare; every accumulation step is exact.
    "agg_decimal_exact" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice").cast("decimal(12,2)").as("price"),
          col("l_discount").cast("decimal(4,2)").as("disc"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("price")).as("sp"),
          sum(col("price") * (lit(1).cast("decimal(4,2)") - col("disc")))
            .as("sd"))
        .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
          round(col("sp").cast("double"), 2).as("sum_price"),
          round(col("sd").cast("double"), 2).as("sum_disc_price"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Order-SENSITIVE aggregate — per-key exponential moving average
    // (α=0.1) folded over each user's events in (ts, value) order, the
    // smoothing primitive behind per-entity health scores / rate
    // estimates. A sequential recurrence has no window-function form, so
    // it runs as ONE hash exchange by user_id + a codegen'd higher-order
    // `aggregate` over the sorted collect_list — state per key is that
    // key's own history, the minimum any order-sensitive fold needs, and
    // keys fold in parallel. Hot-key escape at 100 TB: the EWMA step is
    // AFFINE in the accumulator (acc ↦ 0.9·acc + 0.1·x), and affine maps
    // compose associatively — so a whale key folds as segmented partial
    // coefficients (a,b) = (0.9^n, Σ 0.1·0.9^i·x) per chunk, composed in
    // order, instead of one task holding the whole series. Identical
    // float fold order to the DuckDB list_reduce oracle → exact compare
    // (round(6) as the usual belt-and-braces).
    "agg_ewma_ordered" -> ((s, d) =>
      graft.Tables.events(s, d)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("value"))))
          .as("series"))
        .select(col("user_id"),
          round(expr(
            """aggregate(series, CAST(NULL AS DOUBLE),
              |  (acc, x) -> CASE WHEN acc IS NULL THEN x.value
              |              ELSE 0.1D * x.value + 0.9D * acc END)"""
              .stripMargin), 6).as("ewma"),
          size(col("series")).cast("long").as("n_events"))
        .orderBy("user_id")),

    // LATERAL correlated subquery — top-2 customers per nation written
    // the way an analyst writes it; Catalyst DECORRELATES the per-row
    // subquery into a ranked window join (no nation-by-nation re-scan of
    // customer — the plan is the same shape as win_rank_topk_pergrp).
    // The point at 100 TB: correlated SQL is declarative input, not an
    // execution strategy — the optimizer owns the join shape.
    "join_lateral_topk" -> ((s, d) => {
      graft.Tables.registerAll(s, d)
      s.sql(
        """SELECT n.n_name, c.c_custkey, c.c_acctbal
          |FROM nation n, LATERAL (
          |  SELECT c_custkey, c_acctbal FROM customer
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
          |) c
          |ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin)
    }),

    // Cohort retention: users grouped by first-activity day, activity
    // counted per whole-week offset from that day. The cohort assignment
    // is a window min over the user partition (ONE shuffle by user_id, no
    // self-join back to an aggregate), then a keyed count-distinct on the
    // (cohort, offset) pair — partial aggregation makes the second
    // exchange carry one row per (cohort, offset, user), not per event.
    "agg_retention_cohort" -> ((s, d) => {
      val wu = Window.partitionBy("user_id")
      Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .withColumn("cohort_day", min("day").over(wu))
        .withColumn("week_offset",
          floor(datediff(col("day"), col("cohort_day")) / 7).cast("long"))
        .groupBy("cohort_day", "week_offset")
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort_day", "week_offset")
    }),

    // EXACT distinct counting via fixed-size mergeable bitmaps — the
    // scale-path alternative to count(DISTINCT): the classic plan expands
    // to one row per (group, value) before the final count, while here
    // each (group, 32k-value bucket) collapses to a 4 KB bitmap in the
    // partial aggregate and the merge is bitwise OR. Same two-exchange
    // shape, but the second exchange carries #buckets bitmaps instead of
    // #distinct values — and unlike HLL the answer is exact.
    "agg_bitmap_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
          .as("bm"))
        .groupBy("l_returnflag")
        .agg(sum(expr("bitmap_count(bm)")).as("n_parts"))
        .orderBy("l_returnflag")),

    // Data profiling (training-data QA): per-column row/null/distinct
    // counts and value ranges in long format — the first pass any pipeline
    // runs over a new drop. Shape: one SINGLE-COLUMN aggregate per
    // profiled column, union-all'd. Six countDistinct in ONE aggregate
    // would plan an Expand that emits every row 7× into the partial
    // aggregate (the r7 audit hit); a single-distinct aggregate per
    // branch needs no Expand, each branch's scan is pruned to exactly
    // its column (columnar parquet → the union reads the same total
    // bytes as one wide scan), and each exchange carries only that
    // column's partially-aggregated distinct values — never multiplied
    // rows. Exact distincts preserved (the oracle checks them);
    // approx_count_distinct remains the knob if profiling semantics
    // ever allow it.
    "profile_table" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val numCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val strCols = Seq("l_returnflag", "l_linestatus")
      // one profiling shape for both families: numerics profile the value,
      // strings profile the char length (nulls/distinct stay on the raw
      // column)
      def m(c: String) =
        if (strCols.contains(c)) length(col(c)).cast("double")
        else col(c).cast("double")
      (numCols ++ strCols).map { c =>
        li.select(col(c)) // column-pruned scan: reads exactly this column
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col(c)).as("n_distinct"),
            round(min(m(c)), 4).as("min_val"),
            round(max(m(c)), 4).as("max_val"),
            round(avg(m(c)), 4).as("avg_val"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_val"), col("max_val"),
            col("avg_val"))
      }.reduce(_.unionAll(_)).orderBy("col_name")
    }),

    // B24: total sort + limit — planned as TakeOrderedAndProject (top-k
    // without a full sort at scale).
    "sort_limit_topk" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")),

    // B25a: union all.
    "set_union_all" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .unionAll(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // B25b: union distinct.
    "set_union_distinct" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk")),

    // B26: intersect (distinct semantics in both engines).
    "set_intersect" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // B27: except — parts never shipped in high quantity (every nationkey /
    // partkey is covered on this dense synthetic data, so the filter makes
    // the result non-trivially non-empty).
    "set_except" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey").as("pk"))
        .except(t(s, d, "lineitem").filter(col("l_quantity") > 45)
          .select(col("l_partkey").as("pk")))
        .orderBy("pk")),

    // B59a: multiset except — keeps duplicate cardinality (a nation with 3
    // customers and 1 supplier survives twice).
    "set_except_all" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .exceptAll(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // B59b: multiset intersect.
    "set_intersect_all" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersectAll(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // B56: wide pivot — groupBy().pivot(col, values).agg(); pinning the
    // pivot values keeps the output schema static (at scale the
    // values-discovery pass is a separate job you usually skip).
    "pivot_wide" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum("l_quantity"), 2))
        .orderBy("l_returnflag")),

    // Multi-measure pivot: one pivot spread carrying TWO aggregates per
    // pivoted value (sum + count -> F_qty/F_cnt/O_qty/O_cnt). Same
    // single-Expand plan as the one-measure pivot — the measures ride
    // the same partial aggregate, so a reporting layer gets the whole
    // block of KPIs for one scan + one exchange instead of re-pivoting
    // per measure. Explicit pivot values (no distinct-collect pass).
    "pivot_multi_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum("l_quantity"), 2).as("qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // Typed Dataset API coverage: case-class Encoder, lambda filter,
    // groupByKey + mapGroups — the type-safe surface for logic that is
    // genuinely per-group imperative. The costs are real and stated:
    // the lambda filter is opaque to Catalyst (no pushdown through it)
    // and mapGroups shuffles whole deserialized objects — so production
    // pipelines keep this for logic the Column API can't express, and
    // every aggregate here is order-independent (count/max/min folds)
    // because mapGroups makes no intra-group ordering promise. The
    // DataFrame twin is the oracle: same numbers, declarative plan.
    "typed_dataset_agg" -> ((s, d) => {
      import s.implicits._
      val ds = Tables.events(s, d)
        .select("event_id", "user_id", "ts", "event_type", "value")
        .as[GraftEvent]
      ds.filter(_.value > 10.0)
        .groupByKey(_.user_id)
        .mapGroups { (uid, it) =>
          var n = 0L
          var mx = Double.MinValue
          var first = Long.MaxValue
          var last = Long.MinValue
          it.foreach { e =>
            n += 1
            if (e.value > mx) mx = e.value
            val sec = e.ts.getTime / 1000 // floor to epoch seconds
            if (sec < first) first = sec
            if (sec > last) last = sec
          }
          (uid, n, mx, last - first)
        }
        .toDF("user_id", "n_events", "raw_max", "span_sec")
        .select(col("user_id"), col("n_events"),
          round(col("raw_max"), 2).as("max_value"), col("span_sec"))
        .orderBy("user_id")
    }),

    // B57: unpivot/melt — wide measures to long (id, measure, val) rows;
    // the inverse of pivot and the standard shape-normalization step
    // before a long-format profile or plot.
    "unpivot_melt" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
          "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // Star-schema rollup (TPC-H Q5 shape): the fact table climbs a
    // dimension chain lineitem→orders→customer→nation→region. The two
    // leaf dims broadcast explicitly — they are constant-sized (25
    // nations / 5 regions) at ANY scale factor, so the broadcast holds
    // at 100 TB; only the two fact-side joins shuffle, each keyed on its
    // FK. The date and region predicates sit before their joins so
    // Catalyst pushes the date filter into the orders scan and the
    // region filter prunes the broadcast side to one row.
    // Recursive CTE (Spark 4 WITH RECURSIVE): hierarchy closure as one
    // declarative SQL statement — the iterative frontier⨝edges loop
    // graph_bfs_distance hand-rolls with checkpointed DataFrames, here
    // delegated to the engine's UnionLoop execution. The hierarchy is a
    // deterministic binary tree over nation (parent(k) = (k-1)/2, root
    // 0), so depth is floor(log2(k+1)) and the recursion terminates in
    // ~log2(|nation|) rounds; each round is one broadcast-sized join,
    // state is the frontier — at 100 TB-scale hierarchies the same
    // statement runs with the anchor/step sizing the planner sees, and
    // the recursion-depth guard (spark.sql.cteRecursionLevelLimit)
    // bounds runaway loops.
    "sql_recursive_cte" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("graft_nation_rcte")
      s.sql(
        """WITH RECURSIVE anc AS (
          |  SELECT n_nationkey AS key, CAST(0 AS BIGINT) AS depth,
          |         n_name AS path
          |  FROM graft_nation_rcte WHERE n_nationkey = 0
          |  UNION ALL
          |  SELECT n.n_nationkey, a.depth + 1,
          |         concat(a.path, '/', n.n_name)
          |  FROM graft_nation_rcte n
          |  JOIN anc a
          |    ON a.key = CAST(floor((n.n_nationkey - 1) / 2) AS BIGINT)
          |  WHERE n.n_nationkey > 0
          |)
          |SELECT key, depth, path FROM anc ORDER BY key""".stripMargin)
    }),

    "join_star_schema" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") < lit("1997-01-01").cast("date")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")),

    // Lorenz curve deciles per market segment — the plottable companion
    // of agg_gini_segment: decile d's cumulative share of segment spend.
    // Same per-customer pre-aggregate; ntile + running share ride ONE
    // segment-keyed window exchange. A perfectly equal segment is the
    // diagonal (share ≈ d/10); concentration bows the curve down.
    "agg_lorenz_deciles" -> ((s, d) => {
      val spend = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(sum("o_totalprice").as("x"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("x").asc, col("c_custkey").asc)
      val wSeg = Window.partitionBy("c_mktsegment")
      spend.withColumn("decile", ntile(10).over(w))
        .groupBy("c_mktsegment", "decile")
        .agg(sum("x").as("dx"), count(lit(1)).as("n_cust"))
        .withColumn("cum_share",
          round(sum("dx").over(Window.partitionBy("c_mktsegment")
            .orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) /
            sum("dx").over(wSeg), 4))
        .select(col("c_mktsegment"), col("decile"), col("n_cust"),
          col("cum_share"))
        .orderBy("c_mktsegment", "decile")
    }),

    // Month-over-month growth: revenue per order month + the lag-based
    // growth percentage — the first chart of every revenue review. The
    // lag window runs over the BOUNDED month axis (the aggregate's
    // output), so the global ordering touches months, never orders.
    "agg_mom_growth" -> ((s, d) => {
      val w = Window.orderBy("mo") // bounded: |months| calendar axis
      t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mo"))
        .agg(round(sum("o_totalprice"), 2).as("rev"),
          count(lit(1)).as("n_orders"))
        .withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("mo"), col("rev"), col("n_orders"),
          (round((col("rev") - col("prev")) / col("prev") * 100, 4)
            + lit(0.0)).as("mom_pct"))
        .orderBy("mo")
    }),

    // Keyset-free pagination: ORDER BY + LIMIT/OFFSET (Spark 3.4+ SQL
    // OFFSET). The plan truth at scale: OFFSET n LIMIT k still sorts
    // top-(n+k) per partition and merges (TakeOrdered-shaped) — cheap
    // for page 3, pathological for page 10⁶, which is why the keyset
    // (WHERE key > last_seen) form is the deep-pagination escape; this
    // query pins the surface and the shallow-page cost.
    "sort_limit_offset" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("graft_page_orders")
      s.sql(
        """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
          |FROM graft_page_orders
          |ORDER BY o_totalprice DESC, o_orderkey ASC
          |LIMIT 20 OFFSET 40""".stripMargin)
    }),

    // Built-in approximate percentile (Greenwald–Khanna via
    // approx_percentile) side by side with the exact sort-based
    // percentile — the accuracy-for-memory trade stated as data: the
    // GK summary guarantees rank error ≤ accuracy⁻¹·n, the exact twin
    // costs a per-group sort. No oracle (sketch output is
    // engine-specific, like the custom t-digest); the spec bounds the
    // rank error against the guarantee.
    "agg_percentile_approx_builtin" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          round(expr("approx_percentile(o_totalprice, 0.5, 1000)"), 2)
            .as("p50_approx"),
          round(expr("percentile(o_totalprice, 0.5D)"), 2)
            .as("p50_exact"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),

    // Pareto skyline over parts (minimize size, maximize retail price):
    // the non-dominated frontier — "no part is both smaller and pricier"
    // — via the distributed local-sweep/global-merge operator
    // (operators/Skyline.scala; skyline(P₁∪P₂) = skyline(skyline(P₁) ∪
    // skyline(P₂)), so the global pass only ever sees per-partition
    // fronts). Output re-sorted ascending by size with the key as
    // tiebreak.
    "agg_skyline_pareto" -> ((s, d) =>
      graft.operators.Skyline.pareto(s,
          t(s, d, "part"), "p_partkey", "p_size", "p_retailprice")
        .select(col("p_partkey"),
          col("p_size").cast("long").as("p_size"),
          round(col("p_retailprice"), 2).as("p_retailprice"))
        .orderBy("p_size", "p_partkey")),

    // Pairwise Pearson correlation matrix over lineitem's numeric
    // columns — the profiling step after profile_table's univariate
    // pass ("which measures move together"). All six pairs fold in ONE
    // map-side-combined aggregate over a single scan (corr is an
    // algebraic moment aggregate — nothing here needs a second pass or
    // a window); output is one row. The /n vs /(n−1) variance
    // convention cancels inside the ratio, so the engines agree without
    // a convention pin.
    "agg_corr_matrix" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        (round(corr("l_quantity", "l_extendedprice"), 4) + lit(0.0))
          .as("qty_price"),
        (round(corr("l_quantity", "l_discount"), 4) + lit(0.0))
          .as("qty_discount"),
        (round(corr("l_quantity", "l_tax"), 4) + lit(0.0)).as("qty_tax"),
        (round(corr("l_extendedprice", "l_discount"), 4) + lit(0.0))
          .as("price_discount"),
        (round(corr("l_extendedprice", "l_tax"), 4) + lit(0.0))
          .as("price_tax"),
        (round(corr("l_discount", "l_tax"), 4) + lit(0.0))
          .as("discount_tax"))),

    // Percent-of-parent contribution down the product hierarchy — the
    // BI staple behind every drill-down table: each (brand, type)
    // cell's revenue as a share of its brand and of the grand total.
    // One lineitem⨝part aggregate to the bounded catalog grid
    // (brands × types, a product-dimension alphabet — not a corpus
    // axis), then two share windows: brand-partitioned and global over
    // those same bounded rows.
    "agg_pct_of_parent" -> ((s, d) => {
      val wB = Window.partitionBy("p_brand")
      val wAll = Window.partitionBy() // bounded: brand×type catalog grid
      t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
        .select(col("p_brand"), col("p_type"),
          round(col("rev"), 2).as("revenue"),
          round(col("rev") / sum("rev").over(wB), 4).as("pct_of_brand"),
          round(col("rev") / sum("rev").over(wAll), 4).as("pct_of_total"))
        .orderBy("p_brand", "p_type")
    }),

    // ABC inventory classification per brand — the ops-desk Pareto cut:
    // rank each brand's parts by revenue, class A carries the first 80%
    // of cumulative share, B to 95%, C the tail. The rank/cumulative
    // windows are PARTITIONED BY BRAND (a bounded product alphabet) so
    // every exchange is keyed — the global-sort formulation this
    // replaces is the same one-task trap the fences twins fixed for the
    // customer-grain keys. Output folds to ≤ |brands|×3 class rows.
    "agg_abc_classification" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
      val wCum = Window.partitionBy("p_brand")
        .orderBy(col("rev").desc, col("p_partkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wB = Window.partitionBy("p_brand")
      rev
        .withColumn("cum_share", sum("rev").over(wCum) / sum("rev").over(wB))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.8, "A")
            .when(col("cum_share") <= 0.95, "B").otherwise("C"))
        .groupBy("p_brand", "abc_class")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("crev"))
        .withColumn("revenue_share",
          round(col("crev") / sum("crev").over(wB), 4))
        .select(col("p_brand"), col("abc_class"), col("n_parts"),
          col("revenue_share"))
        .orderBy("p_brand", "abc_class")
    }),

    // Gini coefficient of customer spend per market segment — the
    // inequality lens on revenue concentration ("do 20% of customers
    // carry 80% of the segment"). Rank formula over the ascending spend
    // order: G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n. Spend pre-aggregates per
    // customer first (the only order-cardinality exchange), then the
    // rank window partitions BY SEGMENT — customer-cardinality keyed
    // work, no global sort; the closed form needs one pass over the
    // ranked rows, no pairwise |xᵢ−xⱼ| join (that twin is O(n²)).
    "agg_gini_segment" -> ((s, d) => {
      val spend = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(sum("o_totalprice").as("x"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("x").asc, col("c_custkey").asc)
      spend.withColumn("i", row_number().over(w))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          round((lit(2.0) * sum(col("i") * col("x")) /
            (count(lit(1)) * sum(col("x"))) -
            (count(lit(1)) + lit(1.0)) / count(lit(1))), 4).as("gini"))
        .orderBy("c_mktsegment")
    }),

    // Hill tail-index estimator of order value per market segment — the
    // heavy-tail screen that says whether segment revenue has finite
    // variance (α > 2) or is whale-dominated (α ≤ 2): over the k = 100
    // largest orders, α̂ = [mean(ln xᵢ) − ln x₍ₖ₊₁₎]⁻¹ with the
    // (k+1)-th order statistic as the threshold. The per-segment
    // top-(k+1) rides the rank window's WindowGroupLimit (partial
    // top-k BEFORE the full window sort — map-side combine for rank
    // filters, pinned in PhysicalSpec), so the sort input is ≤ k+1
    // rows per segment regardless of order volume. Tie-break by
    // orderkey makes the cut deterministic cross-engine; every emitted
    // statistic derives from that exact row set.
    "agg_hill_tail_index" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 101)
        .groupBy("c_mktsegment")
        .agg(sum(when(col("rn") <= 100, log(col("o_totalprice"))))
          .as("slog"),
          max(when(col("rn") === 101, col("o_totalprice"))).as("xk1"))
        .select(col("c_mktsegment"), lit(100L).as("k"),
          round(col("xk1"), 2).as("x_threshold"),
          round(lit(1.0) / (col("slog") / 100.0 - log(col("xk1"))), 4)
            .as("alpha"))
        .orderBy("c_mktsegment")
    }),

    // Herfindahl–Hirschman concentration of supplier revenue per
    // nation — the antitrust-style market-concentration screen
    // (HHI = Σ shareᵢ² — 1/n at perfect competition, 1.0 at monopoly)
    // beside the Gini/Theil inequality pair. Supplier revenue is the
    // only lineitem-cardinality exchange; the share normalization
    // window and the squared-share reduce both run over
    // suppliers-per-nation rows.
    "agg_herfindahl" -> ((s, d) => {
      val wN = Window.partitionBy("s_nationkey")
      t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey", "s_suppkey")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
        .withColumn("share", col("rev") / sum("rev").over(wN))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum("rev"), 2).as("total_rev"),
          round(sum(col("share") * col("share")), 6).as("hhi"))
        .orderBy("s_nationkey")
    }),

    // Theil T inequality index of customer spend per nation — the
    // decomposable companion to the segment Gini (Theil is additive
    // across subgroups, which is why it survives re-aggregation):
    // with per-customer spend x and nation mean μ,
    // T = Σ x·ln x / (n·μ) − ln μ — the algebraic form needs NO rank
    // window at all, just two keyed hash aggregates (customer spend,
    // then nation moments), so unlike the Gini's per-segment sort this
    // shape is unchanged at any customer cardinality. Perfect equality
    // computes T as a ±1-ulp zero → +0.0 guard on the rounded output.
    // Theil inequality DECOMPOSITION by market segment — the additive
    // split T_total = T_between + Σ wᵍ·T_within(g) that says whether
    // spend inequality lives INSIDE segments or BETWEEN them (the lens
    // agg_theil_index alone can't give). Everything reduces to three
    // segment moments (n, Σx, Σ x·ln x) from one customer-grain
    // aggregate; the global moments are window sums over the BOUNDED
    // segment axis, so the whole decomposition costs exactly one
    // customer-cardinality exchange. The within/between identity is
    // checked by the spec, not assumed.
    // DETERMINISM: hardened with agg_theil_index's integer-moment form
    // (same round(double-sum/count, 2) exposure, fewer boundary draws —
    // 5 segments vs 25 nations — so it passed r12 by luck, not design):
    // cents for spend, ten-thousandths for x·ln(x), and the between-term
    // quantized to integer 1e-10ths per segment so the unordered window
    // sum over the segment axis is exact integer arithmetic too.
    "agg_theil_decomposition" -> ((s, d) => {
      val wAll = Window.partitionBy() // bounded: 5 market segments
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("c_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cx"))
        .withColumn("x", col("cx") / lit(100.0))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          sum("cx").as("sxc"),
          sum(round(col("x") * log(col("x")) * 10000).cast("long"))
            .as("sxl4"))
        .withColumn("nn", sum("n_cust").over(wAll))
        .withColumn("ssc", sum("sxc").over(wAll))
        .withColumn("ssxl4", sum("sxl4").over(wAll))
        .withColumn("bt10", round((col("sxc") / col("ssc")) *
          log((col("sxc") / (col("n_cust") * lit(100.0))) /
            (col("ssc") / (col("nn") * lit(100.0)))) * lit(1e10))
          .cast("long"))
        .select(col("c_mktsegment"), col("n_cust"),
          round(col("sxc") / (col("n_cust") * lit(100.0)), 2)
            .as("mean_spend"),
          round(col("sxc") / col("ssc"), 4).as("spend_share"),
          (round((col("sxl4") / lit(10000.0)) / (col("sxc") / lit(100.0)) -
            log(col("sxc") / (col("n_cust") * lit(100.0))), 6)
            + lit(0.0)).as("theil_within"),
          (round((col("ssxl4") / lit(10000.0)) / (col("ssc") / lit(100.0)) -
            log(col("ssc") / (col("nn") * lit(100.0))), 6)
            + lit(0.0)).as("theil_total"),
          (round(sum("bt10").over(wAll) / lit(1e10), 6) + lit(0.0))
            .as("theil_between"))
        .orderBy("c_mktsegment")
    }),

    // Laspeyres / Paasche / Fisher price indexes of part unit prices by
    // ship year against the corpus's FIRST year as base — the
    // economics-desk view of "are we paying more for the same basket".
    // Unit price is the quantity-weighted mean (Σ extendedprice /
    // Σ quantity per part-year, one lineitem pass); each year's basket
    // inner-joins the base year on partkey (a part-keyed equi-join —
    // the index only prices parts traded in both periods, the standard
    // matched-basket convention), and the index folds are year-keyed
    // sums. The base year is a 1-row broadcast, derived not hardcoded
    // (the synthetic calendar has drifted between testdata generations
    // before). No window over anything unbounded; the base-year side is
    // |parts|-sized, shuffled once.
    "agg_price_index" -> ((s, d) => {
      // (yr, part) unit economics checkpointed ONCE — the frame is
      // |parts × years|-bounded and referenced THREE times (base-year
      // probe, base slice, current slice); without the checkpoint each
      // reference re-runs the full lineitem scan + aggregate exchange
      val py = t(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).as("yr"), col("l_partkey"))
        .agg((sum("l_extendedprice") / sum("l_quantity")).as("p"),
          sum("l_quantity").as("q"))
        .localCheckpoint(true)
      val y0 = py.agg(min("yr").as("y0"))
      val base = py.join(broadcast(y0), col("yr") === col("y0"))
        .select(col("l_partkey"), col("p").as("p0"), col("q").as("q0"))
      py.join(broadcast(y0), col("yr") =!= col("y0"))
        .join(base, "l_partkey")
        .groupBy("yr")
        .agg(count(lit(1)).as("n_parts"),
          round(sum(col("p") * col("q0")) / sum(col("p0") * col("q0")), 4)
            .as("laspeyres"),
          round(sum(col("p") * col("q")) / sum(col("p0") * col("q")), 4)
            .as("paasche"),
          round(sqrt((sum(col("p") * col("q0")) / sum(col("p0") * col("q0"))) *
            (sum(col("p") * col("q")) / sum(col("p0") * col("q")))), 4)
            .as("fisher"))
        .orderBy("yr")
    }),

    // CR-k concentration ratios — the antitrust-desk companion to the
    // Herfindahl index: the revenue share of the top 4 / 8 / 20
    // suppliers (the k=20 row only exists where the supplier axis has
    // 20 rows — at sf0.001 it has 10, and BOTH engines drop it the
    // same way). Two scale hazards are designed out: (1) per-row money
    // is quantized to integer TEN-THOUSANDTHS (exact — extendedprice
    // and discount carry 2 decimals each, so price·(1−disc) has ≤4)
    // and summed as BIGINT, so the rank order and every rounded output
    // derive from order-free exact sums — a double-sum rank near a tie
    // can flip the k-boundary between engines on partial-merge order;
    // (2) the supplier axis grows 10k·sf, so instead of a global
    // row_number/cumsum window (single-task sort of ALL suppliers at
    // 100×) the plan takes only what CR-20 needs: a TakeOrdered top-20
    // (per-partition top-k, no shuffle of the axis), a 1-row total
    // broadcast, and prefix sums folded over the 20-element sorted
    // array — no Window operator anywhere (SessionPlanShapeSpec pins
    // this).
    "agg_cr_concentration" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 10000).cast("long")).as("rev_i"))
      val total = rev.agg(sum("rev_i").as("total_i"))
      // TakeOrderedAndProject: each task keeps its local top-20, the
      // driver merges — the only rows that ever leave a partition
      val top20 = rev.orderBy(col("rev_i").desc, col("s_suppkey").asc)
        .limit(20)
        .agg(sort_array(collect_list(struct(
          (-col("rev_i")).as("nrev"), col("s_suppkey").as("sk"),
          col("rev_i").as("r")))).as("arr"))
      top20.crossJoin(broadcast(total))
        .select(explode(array(lit(4), lit(8), lit(20))).as("k"),
          col("arr"), col("total_i"))
        .filter(size(col("arr")) >= col("k"))
        .withColumn("cum_i",
          aggregate(slice(col("arr"), lit(1), col("k")), lit(0L),
            (acc, x) => acc + x.getField("r")))
        .select(col("k"),
          round(col("cum_i") / lit(10000.0), 2).as("top_k_rev"),
          round(col("total_i") / lit(10000.0), 2).as("total_rev"),
          round(col("cum_i").cast("double") / col("total_i"), 4)
            .as("cr_k"))
        .orderBy("k")
    }),

    // Price-volume-mix waterfall between the corpus's first two ship
    // years — the finance-desk decomposition of WHY revenue moved:
    // price effect Σ(p1−p0)·q1 + volume effect Σ(q1−q0)·p0 over parts
    // traded in BOTH years, plus new/lost assortment effects. The
    // identity rev1 − rev0 = price + volume + new + lost is exact by
    // construction and spec-pinned. One lineitem pass to (part, year)
    // unit economics, a part-keyed FULL outer join of the two year
    // slices, one 1-row fold; the base year is derived, never
    // hardcoded (calendar-drift rule). lost_effect is negated (a sign-
    // capable round → +0.0 guard).
    "agg_price_volume_mix" -> ((s, d) => {
      // same triple-reference pattern as agg_price_index: checkpoint the
      // |parts × years|-bounded unit-economics frame once instead of
      // re-running the lineitem scan + aggregate per reference
      val py = t(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).as("yr"), col("l_partkey"))
        .agg(sum("l_quantity").as("q"),
          sum("l_extendedprice").as("rev"))
        .withColumn("p", col("rev") / col("q"))
        .localCheckpoint(true)
      val y0 = py.agg(min("yr").as("y0"))
      val a = py.join(broadcast(y0), col("yr") === col("y0"))
        .select(col("l_partkey"), col("q").as("q0"), col("p").as("p0"),
          col("rev").as("rev0"))
      val b = py.join(broadcast(y0), col("yr") === col("y0") + 1)
        .select(col("l_partkey"), col("q").as("q1"), col("p").as("p1"),
          col("rev").as("rev1"))
      a.join(b, Seq("l_partkey"), "full_outer")
        .crossJoin(broadcast(y0))
        .agg(first("y0").as("y0v"),
          round(sum(coalesce(col("rev0"), lit(0.0))), 2).as("rev_y0"),
          round(sum(coalesce(col("rev1"), lit(0.0))), 2).as("rev_y1"),
          (round(sum(when(col("q0").isNotNull && col("q1").isNotNull,
            (col("p1") - col("p0")) * col("q1"))), 2) + lit(0.0))
            .as("price_effect"),
          (round(sum(when(col("q0").isNotNull && col("q1").isNotNull,
            (col("q1") - col("q0")) * col("p0"))), 2) + lit(0.0))
            .as("volume_effect"),
          round(sum(when(col("q0").isNull, col("rev1"))), 2)
            .as("new_effect"),
          (round(-sum(when(col("q1").isNull, col("rev0"))), 2) + lit(0.0))
            .as("lost_effect"))
        .select(col("y0v").cast("int").as("year0"),
          (col("y0v") + 1).cast("int").as("year1"),
          col("rev_y0"), col("rev_y1"), col("price_effect"),
          col("volume_effect"), col("new_effect"), col("lost_effect"))
    }),

    // DETERMINISM (r12's one red row): both sums feeding the rounded
    // output are ORDER-FREE integer sums — customer spend in integer
    // CENTS (exact BIGINT, so mean_spend is a single division of exact
    // integers, never round(double-sum/count, 2)) and the x·ln(x)
    // moment quantized to integer ten-thousandths per CUSTOMER before
    // the nation fold (partial-agg merge order moved the low bits of a
    // double sum across a rounding boundary between engines). Every
    // double the output rounds is derived from exact integers via one
    // fixed operation order, mirrored verbatim in the DuckDB twin.
    // Quantization error ≤ 5e-5·n_cust absolute in the moment ≈ 1e-12
    // in T — invisible at 6 decimals, pinned by InequalityGraphSpec.
    "agg_theil_index" -> ((s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cx"))
        .withColumn("x", col("cx") / lit(100.0))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum("cx").as("sxc"),
          sum(round(col("x") * log(col("x")) * 10000).cast("long"))
            .as("sxl4"))
        .select(col("c_nationkey"), col("n_cust"),
          round(col("sxc") / (col("n_cust") * lit(100.0)), 2)
            .as("mean_spend"),
          (round((col("sxl4") / lit(10000.0)) / (col("sxc") / lit(100.0)) -
            log(col("sxc") / (col("n_cust") * lit(100.0))), 6) +
            lit(0.0)).as("theil"))
        .orderBy("c_nationkey")
    }),

    // Winsorized and trimmed means of event value per type — the
    // robust-location pair every metrics pipeline reports beside the
    // raw mean (winsorize CLAMPS the tails to the exact p05/p95
    // fences, trimming DROPS them; both kill the one-whale-moves-the-
    // KPI failure). One exact-percentile aggregate for the fences
    // (sort-based, type-keyed), broadcast back, one counting pass.
    // Exact percentiles interpolate identically cross-engine (IQR/MAD
    // precedent), so the clamp boundaries are deterministic.
    "agg_winsorized_mean" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_type", "value")
      val fences = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.05)").as("p05"),
          expr("percentile(value, 0.95)").as("p95"))
      ev.join(broadcast(fences), Seq("event_type"))
        .groupBy("event_type", "p05", "p95")
        .agg(count(lit(1)).as("n_rows"),
          round(avg(col("value")), 4).as("raw_mean"),
          round(avg(greatest(least(col("value"), col("p95")),
            col("p05"))), 4).as("winsor_mean"),
          round(avg(when(col("value") >= col("p05") &&
            col("value") <= col("p95"), col("value"))), 4)
            .as("trimmed_mean"))
        .select(col("event_type"), col("n_rows"),
          round(col("p05"), 4).as("p05"), round(col("p95"), 4).as("p95"),
          col("raw_mean"), col("winsor_mean"), col("trimmed_mean"))
        .orderBy("event_type")
    }),

    // Time-hierarchy rollup: hour/day/month subtotals and the grand
    // total from ONE scan — the rollup's single Expand multiplies rows
    // by the 4 grouping levels BEFORE the map-side partial aggregate
    // collapses them, so the exchange carries only group cardinality
    // (bounded by hours in the calendar, not events). The standard
    // "pre-aggregate the metrics cube" job a reporting layer runs
    // instead of three separate GROUP BYs over the fact table.
    // The level keys are formatted strings with an 'ALL' sentinel for
    // the rolled-up positions (not NULL timestamps: a subtotal's NULL
    // key is untyped metadata, and null-vs-null compares engine-
    // dependently in downstream consumers — the sentinel is explicit
    // and totally ordered).
    "agg_rollup_time" -> ((s, d) =>
      Tables.events(s, d)
        .select(date_format(col("ts"), "yyyy-MM").as("mo"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          date_format(col("ts"), "yyyy-MM-dd HH").as("hr"),
          col("value"))
        .rollup("mo", "day", "hr")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("sum_value"))
        .select(coalesce(col("mo"), lit("ALL")).as("mo"),
          coalesce(col("day"), lit("ALL")).as("day"),
          coalesce(col("hr"), lit("ALL")).as("hr"),
          col("n_events"), col("sum_value"))
        .orderBy("mo", "day", "hr")),
  )

  val oracleSql: Map[String, String] = Map(
    "scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 30 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_csv_infer" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "scan_json" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name FROM nation
        |JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey""".stripMargin,
    "join_sortmerge" ->
      """SELECT o_orderpriority,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_shuffled_hash" ->
      """SELECT o_orderstatus, round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_left_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "join_theta_range" ->
      """SELECT p_brand, count(*) AS cnt, round(avg(l_quantity), 2) AS avg_qty
        |FROM part JOIN lineitem
        |  ON l_partkey = p_partkey AND l_quantity > p_size
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_asof" ->
      """SELECT p_id, user_id, last_click_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS last_click_id,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id AND c.ts <= p.ts
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,
    "join_asof_tolerance" ->
      """SELECT p_id, user_id, last_click_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS last_click_id,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id AND c.ts <= p.ts
        |   AND c.ts >= p.ts - INTERVAL '1 hour'
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,
    "join_range_binned" ->
      """SELECT o_orderkey, count(*) AS n_shipments
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 7 DAY
        |WHERE o_orderkey % 199 = 0
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "join_range_auto" ->
      """SELECT o_orderkey, count(*) AS n_shipments
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 7 DAY
        |WHERE o_orderkey % 97 = 0
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "join_asof_chunked" ->
      """SELECT p_id, user_id, last_click_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS last_click_id,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
        |  FROM (SELECT event_id, ts,
        |          CASE WHEN user_id % 4 <> 3 THEN 0 ELSE user_id END AS user_id
        |        FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT event_id, ts,
        |          CASE WHEN user_id % 4 <> 3 THEN 0 ELSE user_id END AS user_id
        |        FROM events WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id AND c.ts <= p.ts
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,
    "join_nearest_time" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), nb AS (
        |  SELECT *,
        |         max(CASE WHEN event_type = 'view' THEN sec END)
        |           OVER (PARTITION BY user_id
        |             ORDER BY sec ASC, event_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS pv,
        |         min(CASE WHEN event_type = 'view' THEN sec END)
        |           OVER (PARTITION BY user_id
        |             ORDER BY sec DESC, event_id DESC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS nv
        |  FROM e
        |)
        |SELECT event_id, user_id, sec,
        |       CASE WHEN pv IS NULL THEN nv
        |            WHEN nv IS NULL THEN pv
        |            WHEN sec - pv <= nv - sec THEN pv
        |            ELSE nv END AS nearest_view_sec,
        |       CASE WHEN pv IS NULL THEN nv
        |            WHEN nv IS NULL THEN pv
        |            WHEN sec - pv <= nv - sec THEN pv
        |            ELSE nv END - sec AS dt_sec
        |FROM nb WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "join_pit_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), dim AS (
        |  SELECT user_id, sec AS valid_from,
        |         COALESCE(lead(sec, 1) OVER (PARTITION BY user_id
        |           ORDER BY sec ASC, event_id ASC) - 1,
        |           9223372036854775807) AS valid_to
        |  FROM e WHERE event_type = 'signup'
        |), fact AS (
        |  SELECT user_id, sec, value FROM e
        |  WHERE event_type = 'purchase'
        |)
        |SELECT f.user_id, d.valid_from,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       round(sum(f.value), 2) AS purch_value
        |FROM fact f JOIN dim d ON f.user_id = d.user_id
        |  AND f.sec BETWEEN d.valid_from AND d.valid_to
        |GROUP BY f.user_id, d.valid_from
        |ORDER BY f.user_id, d.valid_from""".stripMargin,
    "join_asof_forward" ->
      """SELECT p_id, user_id, next_click_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS next_click_id,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY c.ts ASC NULLS LAST, c.event_id ASC NULLS LAST) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id AND c.ts >= p.ts
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,
    "join_null_safe" ->
      """SELECT k, count(*) AS n_pairs,
        |       count(DISTINCT s_suppkey) AS n_supps
        |FROM (SELECT nullif(c_nationkey % 7, 0) AS k, c_custkey
        |      FROM customer) a
        |JOIN (SELECT nullif(s_nationkey % 7, 0) AS sk, s_suppkey
        |      FROM supplier) b
        |  ON a.k IS NOT DISTINCT FROM b.sk
        |GROUP BY k ORDER BY k NULLS FIRST""".stripMargin,
    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "join_outer_full" ->
      """SELECT n_nationkey, n_name, s_suppkey, s_name FROM nation
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |ORDER BY n_nationkey ASC NULLS FIRST, s_suppkey ASC NULLS FIRST""".stripMargin,
    "agg_basket_size_distribution" ->
      """WITH b AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS basket_size,
        |         sum(l_extendedprice) AS basket_value
        |  FROM lineitem GROUP BY l_orderkey
        |)
        |SELECT basket_size, count(*) AS n_orders,
        |       round(avg(basket_value), 2) AS avg_value
        |FROM b GROUP BY basket_size ORDER BY basket_size""".stripMargin,
    "agg_groupby_multi" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(avg(l_quantity), 2) AS avg_qty,
        |       round(avg(l_extendedprice), 2) AS avg_price,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS distinct_parts,
        |       count(DISTINCT l_suppkey) AS distinct_supps,
        |       count(*) AS cnt
        |FROM lineitem""".stripMargin,
    "stat_crosstab" ->
      """SELECT o_orderpriority AS priority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F'
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O'
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P'
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY priority""".stripMargin,
    "agg_multi_distinct_mixed" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey) AS n_cust,
        |       count(DISTINCT CAST(year(o_orderdate) AS INT)) AS n_years,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_hist_log_bins" ->
      """SELECT CAST(floor(log10(o_totalprice)) AS INT) AS decade,
        |       count(*) AS n_orders,
        |       round(min(o_totalprice), 2) AS min_total,
        |       round(max(o_totalprice), 2) AS max_total,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY 1 ORDER BY decade""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_collect_sorted" ->
      """SELECT lang,
        |       array_to_string(list(DISTINCT source ORDER BY source), ',')
        |         AS sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "agg_stats_family" ->
      """WITH m AS (
        |  SELECT l_returnflag AS f, avg(l_quantity) AS mu
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 4) AS sd_qty,
        |       round(var_samp(l_quantity), 4) AS var_qty,
        |       round(corr(l_quantity, l_extendedprice), 4) + 0.0
        |         AS corr_qp,
        |       round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0
        |         AS cov_qp,
        |       round(avg(pow(l_quantity - mu, 3)) /
        |         pow(avg(pow(l_quantity - mu, 2)), 1.5), 4) + 0.0
        |         AS skew_qty,
        |       round(avg(pow(l_quantity - mu, 4)) /
        |         pow(avg(pow(l_quantity - mu, 2)), 2) - 3, 4) + 0.0
        |         AS kurt_qty
        |FROM lineitem JOIN m ON l_returnflag = f
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_mode_exact" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM (
        |  SELECT l_returnflag, l_quantity, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY count(*) DESC, l_quantity ASC) AS rn
        |  FROM lineitem GROUP BY l_returnflag, l_quantity
        |) WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "agg_regression_family" ->
      """SELECT l_returnflag,
        |       round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0
        |         AS slope,
        |       round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0
        |         AS icept,
        |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |       regr_count(l_extendedprice, l_quantity) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_string_concat" ->
      """SELECT l_returnflag,
        |       string_agg(DISTINCT l_linestatus, ','
        |                  ORDER BY l_linestatus) AS statuses,
        |       count(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_grouping_flags" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status,
        |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
        |            AS BIGINT) AS gid,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,
    "agg_conditional_family" ->
      """SELECT l_returnflag,
        |       CAST(count_if(l_quantity > 25) AS BIGINT) AS n_big,
        |       bool_and(l_quantity > 0) AS all_pos,
        |       bool_or(l_discount > 0.09) AS any_deep_discount,
        |       CAST(count_if(l_tax = 0.0) AS BIGINT) AS n_tax_free
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // list_reduce seeds the accumulator with the first element, then
    // applies (acc, x) left-to-right — the same fold as the Spark CASE
    // WHEN NULL init, in the same (ts, value) order, in doubles
    // every accumulation is exact decimal in both engines; only the final
    // per-group value crosses to double, so the compare is drift-free
    "agg_decimal_exact" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
        |             AS DOUBLE), 2) AS sum_price,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             (CAST(1 AS DECIMAL(4,2)) -
        |              CAST(l_discount AS DECIMAL(4,2))))
        |             AS DOUBLE), 2) AS sum_disc_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_ewma_ordered" ->
      """SELECT user_id,
        |       round(list_reduce(list(value ORDER BY ts, value),
        |         (acc, x) -> 0.1 * x + 0.9 * acc), 6) AS ewma,
        |       count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_first_last_by" ->
      """WITH r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rt,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice ASC, o_orderkey ASC) AS rb
        |  FROM orders
        |)
        |SELECT o_orderpriority,
        |       max(CASE WHEN rt = 1 THEN o_orderkey END) AS top_order,
        |       max(CASE WHEN rb = 1 THEN o_orderkey END) AS bottom_order,
        |       round(max(o_totalprice), 2) AS top_price,
        |       round(min(o_totalprice), 2) AS bottom_price
        |FROM r GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "join_lateral_topk" ->
      """SELECT n.n_name, c.c_custkey, c.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
        |) c
        |ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin,
    "agg_hist_fixed" ->
      """SELECT o_orderpriority,
        |       CAST(least(floor(o_totalprice / 25000.0), 19.0) AS BIGINT)
        |         AS bucket,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1, 2
        |ORDER BY o_orderpriority, bucket""".stripMargin,
    "agg_weighted_median" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         sum(CAST(l_quantity AS BIGINT)) OVER (
        |           PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice ASC, l_orderkey ASC,
        |                    l_linenumber ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |         sum(CAST(l_quantity AS BIGINT)) OVER (
        |           PARTITION BY l_returnflag) AS tw
        |  FROM lineitem
        |)
        |SELECT l_returnflag, min(l_extendedprice) AS wmedian_price
        |FROM c WHERE cw * 2 >= tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile_exact" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 2) AS med_qty,
        |       round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_retention_cohort" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events
        |), c AS (
        |  SELECT user_id, day,
        |         min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM e
        |)
        |SELECT cohort_day,
        |       CAST(floor(datediff('day', cohort_day, day) / 7) AS BIGINT)
        |         AS week_offset,
        |       count(DISTINCT user_id) AS n_active
        |FROM c GROUP BY 1, 2 ORDER BY cohort_day, week_offset""".stripMargin,
    "agg_bitmap_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "join_interval_overlap" ->
      """WITH ev AS (
        |  SELECT event_id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS a_start,
        |         CAST(floor(epoch(ts)) AS BIGINT) + 3600 AS a_end
        |  FROM events
        |), bounds AS (
        |  SELECT CAST(floor(min(a_start) / 3600) AS BIGINT) * 3600 AS lo,
        |         max(a_end) AS hi
        |  FROM ev
        |), grid AS (
        |  SELECT unnest(generate_series(lo, hi, 3600)) AS b_start
        |  FROM bounds
        |)
        |SELECT b_start, count(*) AS n_overlap,
        |       round(sum(value), 2) AS sum_value
        |FROM grid JOIN ev
        |  ON a_start < b_start + 3600 AND b_start < a_end
        |GROUP BY b_start ORDER BY b_start""".stripMargin,
    // the parser check: the rollup re-derived from the payload
    // CONSTRUCTION must equal what the quote-aware reader reassembled
    "scan_csv_multiline" ->
      """WITH m AS (
        |  SELECT doc_id, lang,
        |         concat(lang, chr(10), substring(text, 1, 40)) AS payload
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_rows,
        |       CAST(sum(len(string_split(payload, chr(10))) - 1)
        |            AS BIGINT) AS n_embedded_newlines,
        |       CAST(sum(length(payload)) AS BIGINT) AS sum_len
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // corrupt JSON rows null every typed field (unlike CSV, which
    // salvages the leading columns) — lang is NULL on the bad side
    "scan_json_malformed" ->
      """SELECT (doc_id % 7 = 0) AS is_corrupt,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |       count(*) AS n_rows,
        |       CAST(sum(CASE WHEN doc_id % 7 = 0 THEN NULL
        |                     ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY is_corrupt, lang NULLS FIRST""".stripMargin,
    "scan_csv_malformed" ->
      """SELECT (doc_id % 7 = 0) AS is_corrupt,
        |       lang,
        |       count(*) AS n_rows,
        |       CAST(sum(CASE WHEN doc_id % 7 = 0 THEN NULL
        |                     ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY is_corrupt, lang NULLS FIRST""".stripMargin,
    "sort_limit_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "profile_table" -> {
      val strCols = Set("l_returnflag", "l_linestatus")
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus").map { c =>
        // DuckDB length() = chars, same as Spark's length() on strings
        val mc = if (strCols(c)) s"CAST(length($c) AS DOUBLE)"
          else s"CAST($c AS DOUBLE)"
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  round(min($mc), 4) AS min_val, round(max($mc), 4) AS max_val,
           |  round(avg($mc), 4) AS avg_val
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "set_union_all" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION ALL SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "set_union_distinct" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "set_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "set_except" ->
      """SELECT p_partkey AS pk FROM part
        |EXCEPT SELECT l_partkey AS pk FROM lineitem WHERE l_quantity > 45
        |ORDER BY pk""".stripMargin,
    "set_except_all" ->
      """SELECT c_nationkey AS nk FROM customer
        |EXCEPT ALL SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "set_intersect_all" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT ALL SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin,
    "pivot_wide" ->
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
        |    AS "F",
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
        |    AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "unpivot_melt" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |         l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |) ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "pivot_multi_agg" ->
      """SELECT l_returnflag,
        |       round(sum(CASE WHEN l_linestatus = 'F'
        |                      THEN l_quantity END), 2) AS F_qty,
        |       count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F_cnt,
        |       round(sum(CASE WHEN l_linestatus = 'O'
        |                      THEN l_quantity END), 2) AS O_qty,
        |       count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O_cnt
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the declarative twin of the typed mapGroups fold; epoch() floors
    // to seconds exactly like ts.getTime / 1000
    "typed_dataset_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |       round(max(value), 2) AS max_value,
        |       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts)))
        |            AS BIGINT) AS span_sec
        |FROM events WHERE value > 10.0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical recursion in DuckDB dialect; floor() keeps the parent
    // arithmetic engine-agnostic (DuckDB ROUNDS double→bigint casts
    // where Spark truncates)
    "sql_recursive_cte" ->
      """WITH RECURSIVE anc AS (
        |  SELECT n_nationkey AS key, CAST(0 AS BIGINT) AS depth,
        |         n_name AS path
        |  FROM nation WHERE n_nationkey = 0
        |  UNION ALL
        |  SELECT n.n_nationkey, a.depth + 1,
        |         concat(a.path, '/', n.n_name)
        |  FROM nation n
        |  JOIN anc a
        |    ON a.key = CAST(floor((n.n_nationkey - 1) / 2) AS BIGINT)
        |  WHERE n.n_nationkey > 0
        |)
        |SELECT key, depth, path FROM anc ORDER BY key""".stripMargin,
    // same spend ranking, tiling, and running-share arithmetic
    "agg_lorenz_deciles" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey, sum(o_totalprice) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, c_custkey
        |), tiled AS (
        |  SELECT c_mktsegment, x,
        |         ntile(10) OVER (PARTITION BY c_mktsegment
        |           ORDER BY x ASC, c_custkey ASC) AS decile
        |  FROM spend
        |), g AS (
        |  SELECT c_mktsegment, decile, sum(x) AS dx,
        |         count(*) AS n_cust
        |  FROM tiled GROUP BY c_mktsegment, decile
        |)
        |SELECT c_mktsegment, decile, n_cust,
        |       round(sum(dx) OVER (PARTITION BY c_mktsegment
        |               ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |             / sum(dx) OVER (PARTITION BY c_mktsegment), 4)
        |         AS cum_share
        |FROM g ORDER BY c_mktsegment, decile""".stripMargin,
    // same month bucketing (strftime) and lag arithmetic
    "agg_mom_growth" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS mo,
        |         round(sum(o_totalprice), 2) AS rev,
        |         count(*) AS n_orders
        |  FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
        |)
        |SELECT mo, rev, n_orders,
        |       round((rev - lag(rev, 1) OVER (ORDER BY mo))
        |             / lag(rev, 1) OVER (ORDER BY mo) * 100, 4) + 0.0
        |         AS mom_pct
        |FROM m ORDER BY mo""".stripMargin,
    "sort_limit_offset" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20 OFFSET 40""".stripMargin,
    // dominance definition spelled out — the ground truth the sweep must
    // reproduce exactly
    "agg_skyline_pareto" ->
      """SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |       round(p_retailprice, 2) AS p_retailprice
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_size <= a.p_size
        |    AND b.p_retailprice >= a.p_retailprice
        |    AND (b.p_size < a.p_size
        |         OR b.p_retailprice > a.p_retailprice))
        |ORDER BY p_size, p_partkey""".stripMargin,
    // same per-customer pre-aggregate, rank order, and closed form
    // same six moment-aggregate pairs in one pass
    "agg_corr_matrix" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       round(corr(l_quantity, l_extendedprice), 4) + 0.0
        |         AS qty_price,
        |       round(corr(l_quantity, l_discount), 4) + 0.0
        |         AS qty_discount,
        |       round(corr(l_quantity, l_tax), 4) + 0.0 AS qty_tax,
        |       round(corr(l_extendedprice, l_discount), 4) + 0.0
        |         AS price_discount,
        |       round(corr(l_extendedprice, l_tax), 4) + 0.0 AS price_tax,
        |       round(corr(l_discount, l_tax), 4) + 0.0 AS discount_tax
        |FROM lineitem""".stripMargin,
    // same bounded catalog grid and two share denominators
    "agg_pct_of_parent" ->
      """WITH g AS (
        |  SELECT p_brand, p_type,
        |         sum(l_extendedprice * (1.0 - l_discount)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_type
        |)
        |SELECT p_brand, p_type, round(rev, 2) AS revenue,
        |       round(rev / sum(rev) OVER (PARTITION BY p_brand), 4)
        |         AS pct_of_brand,
        |       round(rev / sum(rev) OVER (), 4) AS pct_of_total
        |FROM g ORDER BY p_brand, p_type""".stripMargin,
    // same brand-partitioned cumulative-share cut and class fold
    "agg_abc_classification" ->
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |         sum(l_extendedprice * (1.0 - l_discount)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey
        |), cls AS (
        |  SELECT p_brand, rev,
        |         CASE WHEN sum(rev) OVER (PARTITION BY p_brand
        |                ORDER BY rev DESC, p_partkey ASC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              / sum(rev) OVER (PARTITION BY p_brand) <= 0.8
        |              THEN 'A'
        |              WHEN sum(rev) OVER (PARTITION BY p_brand
        |                ORDER BY rev DESC, p_partkey ASC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              / sum(rev) OVER (PARTITION BY p_brand) <= 0.95
        |              THEN 'B' ELSE 'C' END AS abc_class
        |  FROM rev
        |), g AS (
        |  SELECT p_brand, abc_class,
        |         CAST(count(*) AS BIGINT) AS n_parts,
        |         sum(rev) AS crev
        |  FROM cls GROUP BY p_brand, abc_class
        |)
        |SELECT p_brand, abc_class, n_parts,
        |       round(crev / sum(crev) OVER (PARTITION BY p_brand), 4)
        |         AS revenue_share
        |FROM g ORDER BY p_brand, abc_class""".stripMargin,
    "agg_gini_segment" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey, sum(o_totalprice) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, c_custkey
        |), ranked AS (
        |  SELECT c_mktsegment, x,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY x ASC, c_custkey ASC) AS i
        |  FROM spend
        |)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |       round(2.0 * sum(i * x) / (count(*) * sum(x))
        |             - (count(*) + 1.0) / count(*), 4) AS gini
        |FROM ranked GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "agg_hill_tail_index" ->
      """WITH j AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |)
        |SELECT c_mktsegment, CAST(100 AS BIGINT) AS k,
        |       round(max(CASE WHEN rn = 101 THEN o_totalprice END), 2)
        |         AS x_threshold,
        |       round(1.0 /
        |             (sum(CASE WHEN rn <= 100 THEN ln(o_totalprice) END)
        |                / 100.0
        |              - ln(max(CASE WHEN rn = 101 THEN o_totalprice
        |                       END))), 4) AS alpha
        |FROM j WHERE rn <= 101
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "agg_herfindahl" ->
      """WITH rev AS (
        |  SELECT s_nationkey, s_suppkey,
        |         sum(l_extendedprice * (1.0 - l_discount)) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY s_nationkey, s_suppkey
        |), sh AS (
        |  SELECT s_nationkey, rev,
        |         rev / sum(rev) OVER (PARTITION BY s_nationkey) AS share
        |  FROM rev
        |)
        |SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
        |       round(sum(rev), 2) AS total_rev,
        |       round(sum(share * share), 6) AS hhi
        |FROM sh GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // same three-moment reduction with agg_theil_index's integer-moment
    // determinism form; the between-term window sum is over integer
    // 1e-10ths so the unordered fold is exact on both engines
    "agg_theil_decomposition" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cx
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, c_custkey
        |), m AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |         CAST(sum(cx) AS BIGINT) AS sxc,
        |         CAST(sum(CAST(round((cx / 100.0) * ln(cx / 100.0) * 10000)
        |                       AS BIGINT)) AS BIGINT) AS sxl4
        |  FROM spend GROUP BY c_mktsegment
        |), g AS (
        |  SELECT *,
        |         CAST(sum(n_cust) OVER () AS BIGINT) AS nn,
        |         CAST(sum(sxc) OVER () AS BIGINT) AS ssc,
        |         CAST(sum(sxl4) OVER () AS BIGINT) AS ssxl4
        |  FROM m
        |), b AS (
        |  SELECT *,
        |         CAST(round((sxc / ssc) * ln((sxc / (n_cust * 100.0)) /
        |              (ssc / (nn * 100.0))) * 1e10) AS BIGINT) AS bt10
        |  FROM g
        |)
        |SELECT c_mktsegment, n_cust,
        |       round(sxc / (n_cust * 100.0), 2) AS mean_spend,
        |       round(sxc / ssc, 4) AS spend_share,
        |       round((sxl4 / 10000.0) / (sxc / 100.0) -
        |             ln(sxc / (n_cust * 100.0)), 6) + 0.0 AS theil_within,
        |       round((ssxl4 / 10000.0) / (ssc / 100.0) -
        |             ln(ssc / (nn * 100.0)), 6) + 0.0 AS theil_total,
        |       round(CAST(sum(bt10) OVER () AS BIGINT) / 1e10, 6) + 0.0
        |         AS theil_between
        |FROM b ORDER BY c_mktsegment""".stripMargin,
    // same bounded-axis rank/cumsum with the s_suppkey tie-break
    // same integer ten-thousandths quantization before any sum — the
    // ranked/cumulative values are exact BIGINTs in both engines
    "agg_cr_concentration" ->
      """WITH rev AS (
        |  SELECT s_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |                             * 10000) AS BIGINT)) AS BIGINT) AS rev_i
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY s_suppkey
        |), r AS (
        |  SELECT rev_i,
        |         row_number() OVER (ORDER BY rev_i DESC, s_suppkey) AS rn,
        |         CAST(sum(rev_i) OVER (ORDER BY rev_i DESC, s_suppkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_i,
        |         CAST(sum(rev_i) OVER () AS BIGINT) AS total_i
        |  FROM rev
        |)
        |SELECT CAST(rn AS INT) AS k,
        |       round(cum_i / 10000.0, 2) AS top_k_rev,
        |       round(total_i / 10000.0, 2) AS total_rev,
        |       round(CAST(cum_i AS DOUBLE) / total_i, 4) AS cr_k
        |FROM r WHERE rn IN (4, 8, 20) ORDER BY k""".stripMargin,
    // same (part, year) unit economics, same derived base year, same
    // full-outer assortment split
    "agg_price_volume_mix" ->
      """WITH py AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS yr, l_partkey,
        |         sum(l_quantity) AS q, sum(l_extendedprice) AS rev,
        |         sum(l_extendedprice) / sum(l_quantity) AS p
        |  FROM lineitem GROUP BY 1, 2
        |), y AS (SELECT min(yr) AS y0 FROM py),
        |a AS (
        |  SELECT l_partkey, q AS q0, p AS p0, rev AS rev0
        |  FROM py, y WHERE yr = y0
        |), b AS (
        |  SELECT l_partkey, q AS q1, p AS p1, rev AS rev1
        |  FROM py, y WHERE yr = y0 + 1
        |)
        |SELECT (SELECT CAST(y0 AS INT) FROM y) AS year0,
        |       (SELECT CAST(y0 + 1 AS INT) FROM y) AS year1,
        |       round(sum(coalesce(rev0, 0.0)), 2) AS rev_y0,
        |       round(sum(coalesce(rev1, 0.0)), 2) AS rev_y1,
        |       round(sum(CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
        |                      THEN (p1 - p0) * q1 END), 2) + 0.0
        |         AS price_effect,
        |       round(sum(CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
        |                      THEN (q1 - q0) * p0 END), 2) + 0.0
        |         AS volume_effect,
        |       round(sum(CASE WHEN q0 IS NULL THEN rev1 END), 2)
        |         AS new_effect,
        |       round(-sum(CASE WHEN q1 IS NULL THEN rev0 END), 2) + 0.0
        |         AS lost_effect
        |FROM a FULL OUTER JOIN b USING (l_partkey)""".stripMargin,
    // same matched-basket join on the derived min-year base
    "agg_price_index" ->
      """WITH py AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS yr, l_partkey,
        |         sum(l_extendedprice) / sum(l_quantity) AS p,
        |         sum(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2
        |), base AS (
        |  SELECT l_partkey, p AS p0, q AS q0 FROM py
        |  WHERE yr = (SELECT min(yr) FROM py)
        |)
        |SELECT yr, count(*) AS n_parts,
        |       round(sum(p * q0) / sum(p0 * q0), 4) AS laspeyres,
        |       round(sum(p * q) / sum(p0 * q), 4) AS paasche,
        |       round(sqrt((sum(p * q0) / sum(p0 * q0)) *
        |                  (sum(p * q) / sum(p0 * q))), 4) AS fisher
        |FROM py JOIN base USING (l_partkey)
        |WHERE yr <> (SELECT min(yr) FROM py)
        |GROUP BY yr ORDER BY yr""".stripMargin,
    // same integer-cents / integer-ten-thousandths moments, same fixed
    // division order — both engines round identical doubles
    "agg_theil_index" ->
      """WITH spend AS (
        |  SELECT c_nationkey, c_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cx
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, c_custkey
        |), m AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |         CAST(sum(cx) AS BIGINT) AS sxc,
        |         CAST(sum(CAST(round((cx / 100.0) * ln(cx / 100.0) * 10000)
        |                       AS BIGINT)) AS BIGINT) AS sxl4
        |  FROM spend GROUP BY c_nationkey
        |)
        |SELECT c_nationkey, n_cust,
        |       round(sxc / (n_cust * 100.0), 2) AS mean_spend,
        |       round((sxl4 / 10000.0) / (sxc / 100.0) -
        |             ln(sxc / (n_cust * 100.0)), 6) + 0.0 AS theil
        |FROM m ORDER BY c_nationkey""".stripMargin,
    "agg_winsorized_mean" ->
      """WITH f AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.05) AS p05,
        |         quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type,
        |       count(*) AS n_rows,
        |       round(p05, 4) AS p05, round(p95, 4) AS p95,
        |       round(avg(value), 4) AS raw_mean,
        |       round(avg(greatest(least(value, p95), p05)), 4)
        |         AS winsor_mean,
        |       round(avg(CASE WHEN value >= p05 AND value <= p95
        |                      THEN value END), 4) AS trimmed_mean
        |FROM events e JOIN f USING (event_type)
        |GROUP BY e.event_type, p05, p95
        |ORDER BY event_type""".stripMargin,
    "join_star_schema" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2)
        |         AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE o_orderdate < DATE '1997-01-01' AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "agg_rollup_time" ->
      """WITH e AS (
        |  SELECT strftime(ts, '%Y-%m') AS mo,
        |         strftime(ts, '%Y-%m-%d') AS day,
        |         strftime(ts, '%Y-%m-%d %H') AS hr, value
        |  FROM events
        |), r AS (
        |  SELECT mo, day, hr, count(*) AS n_events,
        |         round(sum(value), 4) AS sum_value
        |  FROM e GROUP BY ROLLUP (mo, day, hr)
        |)
        |SELECT coalesce(mo, 'ALL') AS mo, coalesce(day, 'ALL') AS day,
        |       coalesce(hr, 'ALL') AS hr, n_events, sum_value
        |FROM r ORDER BY mo, day, hr""".stripMargin,
  )
}
