package graft

import org.apache.spark.sql.functions._

/** Refresh contract for staged derived artifacts (IVF cells, PQ codes,
  * near-dup edges): an index keyed only by dataset dir would silently
  * serve codes trained on a PREVIOUS corpus after the source table
  * changes. `Staging.fingerprint` (metadata-only: file path+length+mtime,
  * never a data read) stamps every staged layout; a mismatch rebuilds.
  */
class StagingSpec extends SparkSpec {

  private def freshDir(): String = {
    val f = java.nio.file.Files.createTempDirectory("graft_staging_spec")
    f.toFile.deleteOnExit()
    f.toString
  }

  private def writeEmb(dir: String, n: Int): Unit =
    Tables(spark, sf, "embeddings").filter(col("vec_id") < n)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  test("fingerprint is stable across calls on an unchanged source and " +
    "moves when the source is rewritten") {
    val dir = freshDir()
    writeEmb(dir, 32)
    val src = s"$dir/embeddings.parquet"
    val f1 = Staging.fingerprint(spark, src)
    assert(f1 === Staging.fingerprint(spark, src))
    writeEmb(dir, 48) // different rows → different data files
    assert(Staging.fingerprint(spark, src) !== f1)
  }

  test("a changed embeddings corpus rebuilds the PQ code index (and an " +
    "unchanged corpus does NOT re-stage)") {
    val dir = freshDir()
    writeEmb(dir, 40)
    val p = queries.SimSearch.pqStaged(spark, dir)
    assert(spark.read.parquet(s"$p/index").count() === 40L)
    // unchanged corpus: the second call must be a no-op — parquet
    // overwrite generates fresh part-file names, so an identical file
    // set proves no rewrite happened
    val files1 = new java.io.File(s"$p/index").list().sorted.toSeq
    queries.SimSearch.pqStaged(spark, dir)
    assert(new java.io.File(s"$p/index").list().sorted.toSeq === files1)
    // grown corpus: stamp mismatch → retrain + re-encode, never stale codes
    writeEmb(dir, 60)
    val p2 = queries.SimSearch.pqStaged(spark, dir)
    assert(spark.read.parquet(s"$p2/index").count() === 60L)
  }

  test("a changed embeddings corpus rebuilds the persisted IVF index") {
    val dir = freshDir()
    writeEmb(dir, 40)
    val p = queries.SimSearch.ivfStaged(spark, dir)
    // soft assignment writes each vector into 2 cells
    assert(spark.read.parquet(s"$p/index").count() === 80L)
    writeEmb(dir, 60)
    queries.SimSearch.ivfStaged(spark, dir)
    assert(spark.read.parquet(s"$p/index").count() === 120L)
  }

  test("a changed documents corpus rebuilds the staged BM25 df/avgdl " +
    "stats (and an unchanged corpus does NOT re-stage)") {
    val dir = freshDir()
    def writeDocs(n: Int): Unit =
      Tables(spark, sf, "documents").filter(col("doc_id") < n)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(60)
    val p = queries.SimSearch.bm25Staged(spark, dir)
    assert(spark.read.parquet(s"$p/stats").head().getLong(0) === 60L)
    // unchanged corpus: no re-stage (fresh part names would differ)
    val files1 = new java.io.File(s"$p/stats").list().sorted.toSeq
    queries.SimSearch.bm25Staged(spark, dir)
    assert(new java.io.File(s"$p/stats").list().sorted.toSeq === files1)
    // grown corpus: stamp mismatch → df AND n_docs/avgdl re-derive —
    // stale corpus statistics are the silent-wrong-ranking class
    writeDocs(200)
    queries.SimSearch.bm25Staged(spark, dir)
    assert(spark.read.parquet(s"$p/stats").head().getLong(0) === 200L)
    val dfSum = spark.read.parquet(s"$p/df").agg(sum("df"))
      .head().getLong(0)
    val direct = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " "))
        .as("tok"))
      .select("doc_id", "tok").distinct().count()
    assert(dfSum === direct,
      "rebuilt df table must equal the direct derivation")
  }

  test("a changed documents corpus rebuilds the staged near-dup edge set") {
    val dir = freshDir()
    def writeDocs(n: Int): Unit =
      Tables(spark, sf, "documents").filter(col("doc_id") < n)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(60)
    val p = queries.TextOps.edgesStaged(spark, dir)
    val n1 = spark.read.parquet(p).count()
    val files1 = new java.io.File(p).list().sorted.toSeq
    // unchanged → no re-stage
    queries.TextOps.edgesStaged(spark, dir)
    assert(new java.io.File(p).list().sorted.toSeq === files1)
    // a larger slice of the corpus can only keep or add true j>=0.5 edges
    writeDocs(200)
    queries.TextOps.edgesStaged(spark, dir)
    assert(spark.read.parquet(p).count() >= n1)
    assert(new java.io.File(p).list().sorted.toSeq !== files1)
  }

  test("the staged shingle projection equals the direct derivation, " +
    "re-stages only on corpus change, and feeds the prefix twin " +
    "identically") {
    val dir = freshDir()
    def writeDocs(n: Int): Unit =
      Tables(spark, sf, "documents").filter(col("doc_id") < n)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(80)
    val p = queries.TextOps.mhShingledStaged(spark, dir)
    // staged content == the direct tokenize+shingle+hash pass
    val staged = spark.read.parquet(s"$p/docs")
      .select(col("doc_id"), xxhash64(col("g").cast("string")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = queries.TextOps.mhShingled(spark, dir)
      .select(col("doc_id"), xxhash64(col("g").cast("string")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(staged === direct)
    // the rarity order carries the SAME multiset as g, rarest-first
    val bad = spark.read.parquet(s"$p/docs")
      .filter(xxhash64(array_sort(col("gr")).cast("string")) =!=
        xxhash64(col("g").cast("string"))).count()
    assert(bad === 0L, "gr must be a permutation of g")
    // unchanged corpus → no re-stage (identical part-file set)
    val files1 = new java.io.File(s"$p/docs").list().sorted.toSeq
    queries.TextOps.mhShingledStaged(spark, dir)
    assert(new java.io.File(s"$p/docs").list().sorted.toSeq === files1)
    // changed corpus → rebuild, and the prefix twin consumes the fresh
    // projection (a stale-shingle serve would miss the new docs' pairs)
    writeDocs(200)
    queries.TextOps.mhShingledStaged(spark, dir)
    assert(spark.read.parquet(s"$p/docs").count() === 200L)
    assert(new java.io.File(s"$p/docs").list().sorted.toSeq !== files1)
  }

  test("a changed documents corpus rebuilds the staged exact-pair " +
    "referee, and the tradeoff report consumes it unchanged") {
    val dir = freshDir()
    def writeDocs(n: Int): Unit =
      Tables(spark, sf, "documents").filter(col("doc_id") < n)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(60)
    val p = queries.TextOps.exactPairsStaged(spark, dir)
    val n1 = spark.read.parquet(p).count()
    val files1 = new java.io.File(p).list().sorted.toSeq
    // unchanged → no re-stage
    queries.TextOps.exactPairsStaged(spark, dir)
    assert(new java.io.File(p).list().sorted.toSeq === files1)
    // a larger corpus slice can only keep or add true j>=0.5 pairs
    writeDocs(200)
    queries.TextOps.exactPairsStaged(spark, dir)
    assert(spark.read.parquet(p).count() >= n1)
    assert(new java.io.File(p).list().sorted.toSeq !== files1)
    // the report's n_true_pairs equals the staged referee's row count
    val report = SparkEntry.queries("dedup_minhash_tradeoff")(spark, dir)
      .select("n_true_pairs").distinct().collect()
    assert(report.length === 1 &&
      report(0).getLong(0) === spark.read.parquet(p).count())
  }

  test("packed-shard re-stage over EXISTING blobs keeps index offsets " +
    "consistent with blob bytes (attempt-unique temp + rename-into-place)") {
    val dir = queries.Multimodal.ensurePackedStaged(spark, sf)
    val read = () => spark.read.parquet(s"$dir/index")
      .collect().map(r => (r.getString(0), r.getInt(1),
        r.getLong(2), r.getInt(3))).sortBy(_._1).toSeq
    val before = read()
    // simulate the re-run-of-the-same-group case: previous blobs still in
    // place, plus a stray orphaned attempt temp from a "lost" retry
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".shard_0.bin.attempt-99999"),
      Array[Byte](1, 2, 3))
    assert(new java.io.File(dir, "_GRAFT_SRC_STAMP").delete())
    queries.Multimodal.ensurePackedStaged(spark, sf)
    // deterministic layout: identical index either run
    assert(read() === before)
    // and the index is consistent with the actual blob BYTES: every
    // (offset, len) slice decodes to the PNG with that id's dimensions —
    // a truncated/mixed blob cannot pass this
    val byShard = before.groupBy(_._2)
    byShard.foreach { case (shard, entries) =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, s"shard_$shard.bin"))
      entries.foreach { case (fname, _, off, len) =>
        val id = fname.stripPrefix("img_").stripSuffix(".png").toLong
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(
            bytes.slice(off.toInt, off.toInt + len)))
        assert(img != null, s"$fname: slice is not a PNG")
        assert(img.getWidth === (id % 16 + 1).toInt, fname)
        assert(img.getHeight === (id % 12 + 1).toInt, fname)
      }
      // offsets tile the blob exactly: total length == file length
      assert(entries.map(_._4.toLong).sum === bytes.length.toLong, shard)
    }
  }

  test("cache_reuse_scan residency slot: a call against a DIFFERENT " +
    "dataset dir unpersists the displaced slice (no untracked residency)") {
    val persisted = () =>
      spark.sparkContext.getPersistentRDDs.keySet
    q("cache_reuse_scan").collect() // resident: sf slice
    val s0 = persisted()
    // different dir: displaces and must unpersist the sf slice's RDD
    SparkEntry.queries("cache_reuse_scan")(spark, "/root/testdata/sf0.01")
      .collect()
    val s1 = persisted()
    // back to sf: displaces the sf0.01 slice in turn
    q("cache_reuse_scan").collect()
    val s2 = persisted()
    // each swap drops what the previous call persisted — nothing strands:
    // no RDD persisted by call 1 survives call 2, etc., and total
    // residency never grows beyond one slice per step
    assert((s1 -- s0).nonEmpty, "second call persisted nothing?")
    assert(((s1 -- s0) -- s2).size === (s1 -- s0).size,
      s"sf0.01 slice leaked across the swap back: ${s2 & (s1 -- s0)}")
    assert(s2.size <= s0.size + 1)
  }

  test("kill-the-commit: every staged family treats a missing stamp as " +
    "stale and REBUILDS (data rewritten, stamp restored) — partial " +
    "commits are never served") {
    // the observable state of a crash mid-restage: stamp gone AND a data
    // file gone. Each family must come back current with data present.
    val families: Seq[(String, () => String)] = Seq(
      "multimodal_binfiles" ->
        (() => queries.Multimodal.ensureStaged(spark, sf)),
      "multimodal_packed" ->
        (() => queries.Multimodal.ensurePackedStaged(spark, sf)),
      "simsearch_ivf" -> (() => queries.SimSearch.ivfStaged(spark, sf)),
      "textops_nd_edges" ->
        (() => queries.TextOps.edgesStaged(spark, sf)),
      "textops_bloom" ->
        (() => queries.TextOps.bloomBaseStaged(spark, sf)),
      "ingest_xmlbulk" ->
        (() => queries.Ingest.ensureBulkStaged(spark, sf)),
      "textops_bpe_merges" ->
        (() => queries.TextOps.bpeMergesStaged(spark, sf)))
    // recursive: partitioned layouts (e.g. the IVF index's cell=N dirs)
    // keep their data files below subdirectories
    def dataFiles(d: java.io.File): Array[java.io.File] = {
      val (dirs, files) = d.listFiles()
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .partition(_.isDirectory)
      files ++ dirs.flatMap(dataFiles)
    }
    families.foreach { case (name, ensure) =>
      val stamped = new java.io.File(ensure())
      val stamp = new java.io.File(stamped, "_GRAFT_SRC_STAMP")
      assert(stamp.exists(), s"$name: no stamp after ensure")
      val victim = dataFiles(stamped).head
      assert(victim.delete(), s"$name: could not delete ${victim.getName}")
      assert(stamp.delete(), s"$name: could not delete stamp")
      val again = new java.io.File(ensure())
      assert(again === stamped, s"$name: path moved on rebuild")
      assert(stamp.exists(), s"$name: stamp not restored by rebuild")
      assert(dataFiles(stamped).nonEmpty, s"$name: rebuild wrote no data")
    }
  }

  private def writeDocsTo(dir: String, n: Int): Unit =
    Tables(spark, sf, "documents").filter(col("doc_id") < n)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("a layout once gated on _SUCCESS alone rebuilds when its source " +
    "is rewritten (scan_json_malformed no longer serves the old rows)") {
    val dir = freshDir()
    def nRows(): Long = SparkEntry.queries("scan_json_malformed")(spark, dir)
      .agg(sum("n_rows")).head().getLong(0)
    def nDocs(): Long = Tables(spark, dir, "documents").count()
    writeDocsTo(dir, 60)
    assert(nRows() === nDocs())
    writeDocsTo(dir, 140)
    assert(nDocs() > 60L)
    assert(nRows() === nDocs(), "stale staged text served after a rewrite")
  }

  test("a build that throws leaves the layout stale, the exception " +
    "propagates, and the next call rebuilds") {
    val dir = freshDir()
    writeDocsTo(dir, 20)
    val src = s"$dir/documents.parquet"
    var builds = 0
    val boom = intercept[IllegalStateException] {
      Staging.layout(spark, "graft_spec_throw", dir, src) { p =>
        builds += 1
        spark.range(3).write.mode("overwrite").parquet(p)
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage === "build failed")
    assert(Staging.current(spark, "graft_spec_throw", dir, src) === None)
    val p = Staging.layout(spark, "graft_spec_throw", dir, src) { p =>
      builds += 1
      spark.range(5).write.mode("overwrite").parquet(p)
    }
    assert(builds === 2)
    assert(Staging.current(spark, "graft_spec_throw", dir, src) === Some(p))
    assert(spark.read.parquet(p).count() === 5L)
    // current now: a third call does not build
    Staging.layout(spark, "graft_spec_throw", dir, src)(_ => builds += 1)
    assert(builds === 2)
  }

  test("a layout stamped by another build of the code (the bare source " +
    "fingerprint) is stale and rebuilds") {
    val dir = freshDir()
    writeDocsTo(dir, 60)
    val p = queries.TextOps.edgesStaged(spark, dir)
    val stampFile = java.nio.file.Paths.get(p, "_GRAFT_SRC_STAMP")
    val ours = new String(java.nio.file.Files.readAllBytes(stampFile), "UTF-8")
    val bare = Staging.fingerprint(spark, s"$dir/documents.parquet")
    assert(ours !== bare)
    val files1 = new java.io.File(p).list().sorted.toSeq
    java.nio.file.Files.write(stampFile, bare.getBytes("UTF-8"))
    // the local FileSystem checks a .crc sidecar; drop it with the bytes
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(p, "._GRAFT_SRC_STAMP.crc"))
    queries.TextOps.edgesStaged(spark, dir)
    assert(new String(java.nio.file.Files.readAllBytes(stampFile),
      "UTF-8") === ours)
    assert(new java.io.File(p).list().sorted.toSeq !== files1,
      "a layout from another build must be rewritten, not re-stamped")
  }
}
