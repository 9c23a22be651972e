package graft

import java.nio.file.{Files, Paths}

/** The executor-side blob writer over a layout that already holds a
  * complete blob and a stray temp of a lost attempt — the state a retried
  * or speculative task meets, which a fresh staging never reaches (a stale
  * layout is deleted whole before its build).
  */
class AttemptFileSpec extends SparkSpec {

  private val old = Array[Byte](9, 9, 9)
  private val strayBytes = Array[Byte](1, 2, 3)

  /** A fresh dir holding `blob` with old bytes and its stray temp. */
  private def planted(blob: String, stray: String): String = {
    val dir = Files.createTempDirectory("graft_attempt_file").toString
    Files.write(Paths.get(dir, blob), old)
    Files.write(Paths.get(dir, stray), strayBytes)
    dir
  }

  /** Hidden names left in `dir`, checksum sidecars aside. */
  private def hidden(dir: String): Set[String] =
    new java.io.File(dir).list().toSet
      .filter(n => n.startsWith(".") && !n.endsWith(".crc"))

  private def checkBlob(dir: String, blob: String, stray: String): Unit = {
    val now = Files.readAllBytes(Paths.get(dir, blob))
    assert(now.nonEmpty && !(now sameElements old),
      s"$blob must hold the new bytes")
    assert(hidden(dir) === Set(stray),
      s"the call's own temps must be gone and the stray kept: ${hidden(dir)}")
    assert(Files.readAllBytes(Paths.get(dir, stray)) sameElements strayBytes,
      "the stray temp must be left untouched")
  }

  test("bulk corpus: an existing shard is replaced, the call's temps go, " +
    "the stray stays and is never listed by the manifest") {
    val (blob, stray) = ("filing_0000.xml", ".filing_0000.xml.attempt-99999")
    val dir = planted(blob, stray)
    try {
      queries.Ingest.writeBulk(spark, sf, dir)
      checkBlob(dir, blob, stray)
      assert(new String(Files.readAllBytes(Paths.get(dir, blob)), "UTF-8")
        .startsWith("<Return"))
      val listed = new String(Files.readAllBytes(
        Paths.get(dir, "manifest.txt")), "UTF-8").split("\n").toSeq
      assert(listed.contains(blob))
      assert(listed.forall(_.matches("""filing_\d{4}\.xml""")),
        s"the manifest lists a non-shard: $listed")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("packed shards: an existing blob is replaced, the call's temps go, " +
    "the stray stays and is never listed by the index") {
    val (blob, stray) = ("shard_0.bin", ".shard_0.bin.attempt-99999")
    val dir = planted(blob, stray)
    try {
      queries.Multimodal.writePacked(spark, sf, dir)
      checkBlob(dir, blob, stray)
      val idx = spark.read.parquet(s"$dir/index").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      val blobs = idx.map(e => s"shard_${e._2}.bin").toSet
      assert(blobs.contains(blob) && !blobs.contains(stray))
      assert(blobs.forall(b => new java.io.File(dir, b).isFile))
      // the index tiles the new blob exactly
      assert(idx.filter(_._2 == 0).map(_._4.toLong).sum ===
        Files.size(Paths.get(dir, blob)))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }
}
