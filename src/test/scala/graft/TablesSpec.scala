package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.parquet.schema.{MessageType, Types}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The r9 postmortem class of bug: `Tables.events` hard-coded ONE parquet
  * encoding for `events.ts` (TIMESTAMP NANOS) while the driver's testdata
  * had moved to `timestamp[us]` — 40/199 queries died at plan time with no
  * correctness row. These specs pin the loader's schema-dispatch across
  * every encoding the data has ever shipped in, and tripwire the REAL
  * testdata so the next regeneration fails as one named test, not 40
  * silent absences.
  */
class TablesSpec extends SparkSpec {

  private def freshDir(): String = {
    val f = java.nio.file.Files.createTempDirectory("graft_tables_spec")
    f.toFile.deleteOnExit()
    f.toString
  }

  // one reference instant, expressed per-encoding below
  private val micros = 1705322096789012L // 2024-01-15T12:34:56.789012Z

  private def writeMicros(dir: String, ntz: Boolean): Unit = {
    val tsCol =
      if (ntz) expr(s"to_timestamp_ntz(timestamp_micros(${micros}L))")
      else timestamp_micros(lit(micros))
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try spark.range(1).select(tsCol.as("ts"), col("id").as("event_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  /** Spark cannot write TIMESTAMP(NANOS) parquet; author the old-generation
    * fixture with the low-level example writer so the legacy branch is
    * exercised against a REAL nanos annotation, not a stand-in.
    */
  private def writeNanos(dir: String): Unit = {
    val schema: MessageType = Types.buildMessage()
      .addField(Types.required(INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS))
        .named("ts"))
      .addField(Types.required(INT64).named("event_id"))
      .named("events")
    val out = new java.io.File(s"$dir/events.parquet")
    out.mkdirs()
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet/part-00000.parquet"))
      .withConf(new Configuration())
      .withType(schema)
      .build()
    val gf = new SimpleGroupFactory(schema)
    writer.write(gf.newGroup()
      .append("ts", micros * 1000L).append("event_id", 0L))
    writer.close()
  }

  /** Plain unannotated INT64 — what the NANOS encoding degrades to once
    * `spark.sql.legacy.parquet.nanosAsLong` is already on session-wide
    * (the loader sets it permanently on first nanos encounter, so later
    * reads hit the LongType branch directly, never the retry).
    */
  private def writeLongNanos(dir: String): Unit =
    spark.range(1)
      .select(lit(micros * 1000L).as("ts"), col("id").as("event_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("events loader handles every shipped ts encoding and agrees on " +
    "the decoded instant (micros-UTC, micros-NTZ, nanos, nanos-as-long)") {
    val fixtures = Seq[(String, String => Unit)](
      "micros-utc" -> (d => writeMicros(d, ntz = false)),
      "micros-ntz" -> (d => writeMicros(d, ntz = true)),
      "nanos" -> writeNanos,
      "long" -> writeLongNanos)
    fixtures.foreach { case (label, write) =>
      val dir = freshDir()
      write(dir)
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType,
        s"encoding $label must normalize to TimestampType")
      val got = df.select(unix_micros(col("ts"))).head().getLong(0)
      assert(got === micros, s"encoding $label decoded wrong instant")
    }
  }

  test("Tables(spark, dir, \"events\") goes through the same encoding " +
    "dispatch as Tables.events") {
    val dir = freshDir()
    writeNanos(dir)
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampType,
      "a generic events read must normalize ts to TimestampType")
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) === micros,
      "a generic events read decoded the wrong instant")
  }

  test("events loader fails loudly (not silently) on an unhandled ts type") {
    val dir = freshDir()
    spark.range(1)
      .select(lit("2024-01-15").as("ts"), col("id").as("event_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
  }

  // ---- testdata drift tripwire -------------------------------------------

  private def footerTs(path: String): String = {
    val f = new java.io.File(path)
    val part =
      if (f.isDirectory)
        f.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).head
      else f
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(part.getAbsolutePath), new Configuration()))
    try {
      val s = reader.getFileMetaData.getSchema
      val prim = s.getType(s.getFieldIndex("ts")).asPrimitiveType()
      s"${prim.getPrimitiveTypeName} ${Option(prim.getLogicalTypeAnnotation).map(_.toString).getOrElse("(none)")}"
    } finally reader.close()
  }

  test("tripwire: the driver testdata's actual events.ts physical type is " +
    "one the loader dispatches on") {
    // footer-level: the annotation present on disk today must be in the
    // handled set, so a regeneration to e.g. INT96-free micros or back to
    // nanos stays green, and anything novel names itself here
    val physical = footerTs(s"$sf/events.parquet")
    val handled = Seq("TIMESTAMP(MICROS", "TIMESTAMP(MILLIS",
      "TIMESTAMP(NANOS", "INT96", "(none)")
    assert(handled.exists(h => physical.contains(h)),
      s"events.ts on disk is '$physical' — teach Tables.events this encoding")
    // loader-level: it must actually load and normalize
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.limit(5).collect().nonEmpty)
  }

  test("tripwire: every driver table loads and decodes through its loader") {
    Tables.names.foreach { n =>
      val df =
        if (n == "events") Tables.events(spark, sf) else Tables(spark, sf, n)
      // a real (tiny) action: schema inference alone would miss decode-time
      // incompatibilities in the vectorized reader
      assert(df.limit(1).collect().length === 1, s"table $n is empty/unreadable")
    }
  }
}
