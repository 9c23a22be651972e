package graft

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{CodegenCompiles, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Per-round benchmark main (driver contract): runs every SparkEntry query
  * against $SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":"total","value":sec,"unit":"sec","cold":{name:sec},
  * "compiles":{name:[n,...]},"queries":{name:sec},...,"n_failed":k,
  * "failed":{name:cause}}. "queries" holds each key's median over its reps,
  * "cold" its first rep (which pays first-touch codegen and JIT: nothing is
  * warmed up before the timed loop) and "compiles" the classes codegen
  * compiled during each rep. A key that throws is listed under "failed"
  * with its cause (and counted in "n_failed") and left out of "cold",
  * "compiles", "queries" and the total: time-to-crash is not a measurement.
  *
  * Each query is forced through the noop sink rather than count() — count()
  * lets Catalyst prune every computed column (a scan-only measurement),
  * while noop executes the full plan including projections and sorts, which
  * is what a real consumer pays.
  */
object Bench {
  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    // one-off layout/source staging outside the timed loop — bench should
    // measure the operators, not idempotent one-time writes
    try SparkEntry.prepare(spark, sfDir)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] prepare failed: ${e.getMessage}")
    }
    // dev loop: `runMain graft.Bench q1 q2` times only the named queries;
    // the driver invokes with no args → full sweep
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
      else SparkEntry.queries

    // Post-run cleanup, OUTSIDE the timed section. Release storage pinned
    // by the query (persisted iterations, localCheckpoints, broadcast
    // sketches) — queries are independent, and carried-over blocks
    // otherwise build GC pressure that bleeds into later measurements.
    def cleanup(): Unit = {
      try {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] cleanup: cache clear failed: $e")
      }
      // streaming queries additionally pin driver/executor memory the
      // cache clear misses: memory-sink tables (all emitted rows, held by
      // the temp view) and loaded state-store providers (one per shuffle
      // partition per stateful query; the maintenance thread only unloads
      // them on a slow cycle). Left alone they compound across a 124-query
      // sweep and inflate the later streaming entries 3-6x.
      try {
        spark.streams.active.foreach(q => q.stop())
        spark.catalog.listTables().collect()
          .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
          .foreach(t => spark.catalog.dropTempView(t.name))
        org.apache.spark.sql.execution.streaming.state.StateStoreJanitor
          .unloadAll()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] cleanup: stream teardown failed: $e")
      }
      // Spark's ContextCleaner frees dead broadcasts / shuffle files /
      // accumulators only when the DRIVER garbage-collects their handles —
      // in a 124-query sweep the driver heap never fills, so nothing is
      // ever cleaned and later queries pay 3-6x in block-manager pressure
      // (measured: dedup_minhash_native 1.9s standalone vs 12.2s in-sweep).
      // One explicit GC per query, outside the timed section, keeps every
      // measurement as close to standalone as one JVM allows.
      System.gc()
      // The GC only ENQUEUES the cleanups — ContextCleaner processes its
      // reference queue on its own thread and issues async block-removal /
      // shuffle-unregister RPCs that would otherwise execute INSIDE the
      // next key's timed window (the r18/r20 in-sweep inflation of the
      // task-heavy MLlib keys, 5x their solo time while code was
      // unchanged). A short quiesce drains that backlog outside the
      // window.
      Thread.sleep(250)
    }

    // SPARK_GRAFT_BENCH_REPS=N runs every query N times and reports the
    // MEDIAN — same-host back-to-back sweeps measured ±30% single-run
    // variance (PERF.md), so cross-round deltas on single runs are mostly
    // noise. Default 1 keeps the driver's per-round sweep cheap; use 3 for
    // any comparison a decision hangs on (scripts/bench_compare.py).
    val reps = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").trim.toInt).getOrElse(1))

    // key -> cause of the first failure; a failed key reports no time
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()

    // The timing window is this whole function and nothing else — it returns
    // the elapsed seconds, so cleanup() structurally CANNOT land inside it
    // (the r2/r3 bug class was cleanup creeping into the timed expression).
    def timedRun(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        if (!failed.contains(name)) failed(name) = Verify.cause(e)
      }
      (System.nanoTime() - t0) / 1e9
    }
    // true median: average of the two middle elements for even sizes (the
    // upper-middle pick would report the WORSE of two runs at reps=2)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // per-rep series to stderr: medians hide WHICH rep was slow, and the
    // r14 dedup_minhash_lsh postmortem stalled for a round on exactly that
    // (first-touch JIT vs sustained inflation vs bimodal plans all median
    // the same) — one line per key makes the next dispute self-serve
    def logReps(tag: String, name: String, ts: Seq[Double]): Unit =
      System.err.println(s"[bench] $tag $name reps=" +
        ts.map(t => f"$t%.2f").mkString(","))
    // (name, seconds per rep, classes compiled per rep); the counter is
    // read outside timedRun, and reading it costs nothing measurable
    val raw = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (times, compiles) = (1 to reps).map { _ =>
        val c0 = CodegenCompiles()
        val dt = timedRun(name, fn)
        val compiled = CodegenCompiles() - c0
        cleanup() // after timedRun returned: provably outside the window
        (dt, compiled)
      }.unzip
      logReps("sweep", name, times)
      (name, times, compiles)
    }.filterNot { case (name, _, _) => failed.contains(name) }
    val results = raw.map { case (name, ts, _) => name -> median(ts) }

    // Second pass over every key whose own reps spread >= 3x this run
    // (plus any named in SPARK_GRAFT_BENCH_SOLO): re-measure AFTER the
    // sweep so every artifact carries {queries: in-sweep, solo:
    // post-sweep} pairs and judges can separate sweep-transient
    // interference (solo snaps back to the fresh-JVM time) from
    // accumulated-JVM-state interference (solo stays inflated) without
    // ad-hoc postmortems. Same JVM by design — a fresh-JVM number
    // answers a different question.
    val envSolo = sys.env.get("SPARK_GRAFT_BENCH_SOLO").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val spreadFlagged = raw.collect {
      case (name, ts, _) if ts.size >= 2 && ts.max > 1.0 &&
        ts.max >= 3 * math.max(ts.min, 1e-3) => name
    }
    val soloPairs = (envSolo ++ spreadFlagged).distinct
      .filter(selected.contains).take(10).map { name =>
        // one UNTIMED warm rep first: the sweep's cleanup() dropped every
        // cached/persisted intermediate, so a staging-amortizing key's
        // first post-sweep run pays a rebuild its in-sweep runs had warm
        // (dedup_minhash_tradeoff measured 10.1 in-sweep vs 22.5 "solo"
        // purely from that) — a pair where the solo number includes a
        // cold rebuild answers neither question the pairs exist for
        val warm = timedRun(name, selected(name))
        cleanup()
        // ≥5 reps for solo: the r15 root-cause probes showed these keys'
        // per-rep distribution is BIMODAL under host interference (mode
        // ~2 s with sporadic 3-6x reps when the hypervisor steals CPU /
        // the kernel stalls in sys time — vmstat-correlated, GC and code
        // cache exonerated), so a 3-rep median lands on the slow mode
        // with p ≈ 0.2-0.3 per key and the pairs re-open every round
        val soloReps = math.max(reps, 5)
        val times = (1 to soloReps).map { _ =>
          val dt = timedRun(name, selected(name))
          cleanup()
          dt
        }
        logReps(f"solo(warm=$warm%.2f)", name, times)
        name -> median(times)
      }.filterNot { case (name, _) => failed.contains(name) }
    val total = results.map(_._2).sum
    val full = Serialization.write(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "cold" -> ListMap(raw.map { case (name, ts, _) => name -> ts.head }: _*),
      "compiles" -> ListMap(raw.map { case (name, _, cs) => name -> cs }: _*),
      "queries" -> ListMap(results: _*), "solo" -> ListMap(soloPairs: _*),
      "reps" -> reps, "sf" -> sfDir, "n_failed" -> failed.size,
      "failed" -> ListMap(failed.toSeq: _*)))
    // full line (per-query breakdown), then a durable file copy, then a
    // SHORT final line — the r1 driver tail-capture truncated the 4 KB full
    // line and lost the total; the short line cannot be truncated away.
    println(full)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")), full)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] file write failed: ${e.getMessage}")
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} FAILED: " +
        failed.keys.mkString(", "))
    println(Serialization.write(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec", "sf" -> sfDir)))
    spark.stop()
  }
}
