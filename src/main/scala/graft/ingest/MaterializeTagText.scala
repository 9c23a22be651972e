package graft.ingest

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Dev utility: materialize the XML corpus's flattened ingest to the single
  * committed golden file `tagtext.parquet` (FIXTURES.md §B — backs the
  * DuckDB oracles for the A-family queries). Usage:
  *   runMain graft.ingest.MaterializeTagText <irs990Dir>
  */
object MaterializeTagText {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(graft.queries.IrsFixtures.dir)
    val spark = graft.Session("local[4]", "graft-materialize-tagtext")
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_tagtext_out"
    XmlIngest.fetchParse(spark, s"$dir/manifest.txt", dir, 4)
      .orderBy("doc", "pos").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$dir/tagtext.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    println(s"wrote $dir/tagtext.parquet (${part.length()} bytes)")
    spark.stop()
  }
}
