package graft

import org.apache.spark.sql.functions._

/** Join-view IVM (`sink_changefeed_ivm_join`): the delta-join fold must
  * equal a from-scratch recompute of the v1 join aggregate, and the
  * classic mistake — folding the fact delta against the OLD dim, which
  * drops the ΔF⨝ΔD cross term — must measurably differ on this fixture
  * (it is built so customers exist whose orders AND segment both
  * changed in the same version step).
  */
class IvmJoinSpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** From-scratch recompute of the v1 view straight from the staged
    * logs' v1 snapshots — the referee the fold must match exactly.
    */
  private def recomputeV1() = {
    val p = queries.Physical.joinIvmStaged(spark, sf)
    val fact = TableLog.scan(spark, s"$p/fact", Some(1))
    val dim = TableLog.scan(spark, s"$p/dim", Some(1))
    fact.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double"), 2).as("revenue"))
      .orderBy("seg")
  }

  test("the correct fold (ΔA⨝D_new + A0⨝ΔD) equals the v1 recompute " +
    "exactly; the naive ΔA⨝D_old fold does not") {
    val correct = rowsOf(
      queries.Physical.joinIvmMaintained(spark, sf, naive = false))
    val referee = rowsOf(recomputeV1())
    assert(correct === referee,
      "delta-join maintenance must equal the from-scratch join view")
    val naive = rowsOf(
      queries.Physical.joinIvmMaintained(spark, sf, naive = true))
    assert(naive !== referee,
      "the fixture must expose the dropped ΔF⨝ΔD cross term — if the " +
        "naive fold passes, no customer changed on both sides and the " +
        "spec proves nothing")
    // the damage is localized where the cross term lives: the
    // reassigned segment (and the donors) disagree, because inserts
    // for custkey ≡ 0 (mod 50) were joined to the stale segment
    val diff = naive.zip(referee).filter { case (a, b) => a != b }
    assert(diff.exists(_._2._1 == "REASSIGNED"),
      s"expected the reassigned segment to carry the miscount: $diff")
  }

  test("the fixture exercises the cross term: some arriving fact rows " +
    "belong to customers whose dim row also changed") {
    val p = queries.Physical.joinIvmStaged(spark, sf)
    def files(log: String, v: Int): Seq[String] =
      TableLog.snapshot(spark, s"$p/$log", Some(v)).files
    val added = files("fact", 1).diff(files("fact", 0))
    val crossed = spark.read.parquet(added: _*)
      .filter(col("o_custkey") % 50 === 0).count()
    assert(crossed > 0,
      "no arriving order belongs to a reassigned customer — the naive " +
        "fold would accidentally be correct")
  }

  test("the fold is a pure function of the logs: re-running it yields " +
    "identical rows (replay safety without state)") {
    val a = rowsOf(q("sink_changefeed_ivm_join"))
    val b = rowsOf(q("sink_changefeed_ivm_join"))
    assert(a === b)
    assert(a.nonEmpty && a.exists(_._1 == "REASSIGNED"),
      "the maintained view must carry the segment that only exists at v1")
  }

  test("the streaming twin tails the commit feed to the identical " +
    "view, and replaying an applied event is a structural no-op") {
    val batch = rowsOf(q("sink_changefeed_ivm_join"))
    val streamed = rowsOf(q("stream_changefeed_ivm_join"))
    assert(streamed === batch,
      "feed-tailing maintenance must converge to the batch fold")
    // replay: both events are in the state's applied set — re-applying
    // must not grow the view log or move its content
    val fix = queries.Physical.joinIvmStaged(spark, sf)
    val (state, _) = streaming.StreamingOps.joinIvmStreamDirs(spark, sf)
    val before = TableLog.versions(spark, state)
    streaming.StreamingOps.applyJoinIvmEvent(spark, fix, state, "dim", 1)
    streaming.StreamingOps.applyJoinIvmEvent(spark, fix, state, "fact", 1)
    assert(TableLog.versions(spark, state) === before,
      "replayed events must not commit")
    assert(rowsOf(q("stream_changefeed_ivm_join")) === batch,
      "state must not move under replay")
  }

  /** Mini-fixture for the feed-applier edge cases the shipped fixture
    * never emits: metadata-only (no-op) commits on BOTH logs, and a
    * feed that delivers dim v2 before the fact delta — the applier must
    * fold the fact delta against the HIGHEST delivered dim version
    * (from the `# applied=` markers), not a hardcoded v0/v1.
    */
  private def miniFeedFixture(): String = {
    import spark.implicits._
    val fix = java.nio.file.Files
      .createTempDirectory("graft_ivmj_mini").toString
    val fs = new org.apache.hadoop.fs.Path(fix)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(dir: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath).filter(_.getName.startsWith("part-"))
        .map(_.toString).sorted.toSeq
    // fact v0: one order each for customers 1 and 2; v1 adds an order
    // for customer 2; v2 is METADATA-ONLY (identical file list)
    Seq((1L, 1L, 10.0), (2L, 2L, 20.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .coalesce(1).write.parquet(s"$fix/data/f0")
    Seq((3L, 2L, 5.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .coalesce(1).write.parquet(s"$fix/data/f1")
    val f0 = parts(s"$fix/data/f0")
    TableLog.commit(spark, s"$fix/fact", 0, f0)
    TableLog.commit(spark, s"$fix/fact", 1,
      f0 ++ parts(s"$fix/data/f1"))
    TableLog.commit(spark, s"$fix/fact", 2,
      f0 ++ parts(s"$fix/data/f1"))
    // dim: customer 2 moves A→B at v1 and B→C at v2; v3 is a no-op
    def dimVer(v: Int, seg2: String): Seq[String] = {
      Seq((1L, "A"), (2L, seg2)).toDF("c_custkey", "seg")
        .coalesce(1).write.parquet(s"$fix/data/d$v")
      val fls = parts(s"$fix/data/d$v")
      TableLog.commit(spark, s"$fix/dim", v, fls)
      fls
    }
    dimVer(0, "A"); dimVer(1, "B")
    val d2 = dimVer(2, "C")
    TableLog.commit(spark, s"$fix/dim", 3, d2)
    // staged v0 subview + view, same shapes as joinIvmStaged's
    spark.read.parquet(f0: _*).groupBy("o_custkey")
      .agg(count(lit(1)).as("a_n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("a_rev"))
      .write.mode("overwrite").parquet(s"$fix/aux")
    spark.read.parquet(s"$fix/aux")
      .join(spark.read.parquet(parts(s"$fix/data/d0"): _*),
        col("o_custkey") === col("c_custkey"))
      .groupBy("seg")
      .agg(sum("a_n").as("n0"),
        sum("a_rev").cast("decimal(28,2)").as("rev0"))
      .write.mode("overwrite").parquet(s"$fix/view")
    fix
  }

  private def stateView(state: String) = {
    spark.read.parquet(TableLog.snapshot(spark, state, None).files: _*)
      .filter(col("n") =!= 0)
      .select(col("seg"), col("n"), col("rev").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
  }

  test("a metadata-only feed event is a structural no-op on both " +
    "branches, and the fact fold joins the DELIVERED dim version") {
    val fix = miniFeedFixture()
    val apply = (log: String, v: Int) => streaming.StreamingOps
      .applyJoinIvmEvent(spark, fix, s"$fix/state", log, v)
    // the feed delivers dim v1 AND v2 before the fact delta: the fold
    // must use dim v2 (customer 2 → C), not a hardcoded earlier version
    apply("dim", 1); apply("dim", 2); apply("fact", 1)
    val afterFact = stateView(s"$fix/state")
    assert(afterFact === Seq(("A", 1L, 10.0), ("C", 2L, 25.0)),
      "fact delta must fold against the highest delivered dim version")
    // no-op fact commit: marker-only manifest, view content unchanged
    val commitsBefore = TableLog.versions(spark, s"$fix/state").size
    apply("fact", 2)
    assert(TableLog.versions(spark, s"$fix/state").size === commitsBefore + 1,
      "the no-op event must still commit its applied marker")
    assert(stateView(s"$fix/state") === afterFact,
      "a metadata-only fact commit must not move the view")
    // no-op dim commit: same contract on the dim branch
    apply("dim", 3)
    assert(stateView(s"$fix/state") === afterFact,
      "a metadata-only dim commit must not move the view")
    // replaying the no-ops must not commit again (idempotence markers)
    val replayBefore = TableLog.versions(spark, s"$fix/state")
    apply("fact", 2); apply("dim", 3)
    assert(TableLog.versions(spark, s"$fix/state") === replayBefore,
      "replayed no-op events must not commit")
  }

  test("a no-op event arriving FIRST bootstraps the staged v0 view " +
    "instead of committing an empty file list") {
    val fix = miniFeedFixture()
    streaming.StreamingOps
      .applyJoinIvmEvent(spark, fix, s"$fix/state2", "dim", 3)
    assert(stateView(s"$fix/state2") === Seq(("A", 2L, 30.0)),
      "bootstrap on a no-op event must materialize the v0 view")
  }
}
