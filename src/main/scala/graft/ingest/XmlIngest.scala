package graft.ingest

import java.io.InputStream
import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession, V2TableFrame}
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

/** One flattened XML element: document URI, namespace-stripped local tag,
  * trimmed text, document-order position of the start tag.
  *
  * This is our twin of the reference's per-filing `(tag, text)` pair list
  * (IRSSpark.py:248-249), with two deliberate divergences from the
  * reference's verified bugs (SURVEY §1.3):
  *  - namespace removal is a real prefix strip (the reference's
  *    `str.strip("{'{http://www.irs.gov/efile}")` is a char-SET strip that
  *    mangles e.g. `Filer` → `F`);
  *  - empty elements (`<Foo/>`) yield text "" instead of crashing the whole
  *    document (the reference's `elem.text.strip()` raises on None and its
  *    bare `except:` then drops the entire file).
  * `pos` pins document order so downstream results are deterministic.
  */
case class TagText(doc: String, pos: Int, tag: String, text: String)

/** Ingest metrics — twin of the reference's three accumulators
  * (IRSSpark.py:119-125), with the miscount fixed: a URI is exactly one of
  * ok/failed (the reference increments `processed` but not `failed` for
  * invalid s3 URIs, IRSSpark.py:202-208).
  */
case class IngestMetrics(processed: LongAccumulator, ok: LongAccumulator,
    failed: LongAccumulator, records: LongAccumulator)

object IngestMetrics {
  def apply(spark: SparkSession): IngestMetrics = IngestMetrics(
    spark.sparkContext.longAccumulator("xml_input_processed"),
    spark.sparkContext.longAccumulator("xml_input_ok"),
    spark.sparkContext.longAccumulator("xml_input_failed"),
    spark.sparkContext.longAccumulator("records_emitted"))
}

/** XML ingest: manifest of URIs → fetch → streaming StAX parse →
  * flattened [[TagText]] rows. The driver plans the fan-out from the
  * manifest (graft.sources.XmlManifestSource); each executor-side reader
  * runs every URI through one per-file step, [[XmlIngest.fetchParseAll]].
  *
  * Replaces the reference's three hand-rolled IO branches (boto3 S3 /
  * pydoop HDFS / local `open`, IRSSpark.py:192-244) with the one Hadoop
  * `FileSystem` API, which resolves s3a://, hdfs://, file: and bare paths
  * uniformly — same code path on a laptop and on a 1000-executor cluster.
  * Parsing is streaming (StAX) rather than DOM, so a filing never
  * materializes as a tree. A file's kept elements are buffered until it
  * parses whole, which keeps a failed file's rows out of the output, so
  * memory per task is bounded by the kept elements of its largest file; a
  * pushed tag filter narrows that to the matching elements.
  */
object XmlIngest {

  /** Manifest text scan: one URI per line, `n` partitions by shuffle
    * (`n` <= 0 keeps the file's splits). A path may be a glob, a directory
    * or a compressed file, as for any Spark text source. The V2 source
    * collects it on the driver to plan its fan-out
    * (graft.sources.XmlManifestSource); the manifest-scan keys and the
    * incremental key read it as a Dataset.
    */
  def manifest(spark: SparkSession, path: String, n: Int): Dataset[String] = {
    val raw = spark.read.textFile(path).filter(_.nonEmpty)
    if (n > 0) raw.repartition(n) else raw
  }

  /** A1-A3: scan the manifest, fetch each URI and flatten its XML, through
    * the V2 source (graft.sources.XmlManifestSource), so a tag filter above
    * it is pushed into the StAX loop. Relative URIs resolve against
    * `baseDir` (the manifest's directory; the reference resolved against
    * the script directory, IRSSpark.py:194,236). `nPartitions` > 0 is the
    * exact input fan-out, 0 one partition per core; either is capped at
    * one partition per URI ([[graft.sources.XmlManifestSource.slices]]).
    */
  def fetchParse(spark: SparkSession, manifestPath: String, baseDir: String,
      nPartitions: Int = 0,
      metrics: Option[IngestMetrics] = None): Dataset[TagText] = {
    import spark.implicits._
    V2TableFrame(spark, new graft.sources.XmlManifestTable(manifestPath,
      baseDir, nPartitions, metrics)).as[TagText]
  }

  /** The same fetch+flatten over an ALREADY-SELECTED URI set, one task
    * per partition of `uriDs`. It stays only because
    * `ingest_incremental_manifest` feeds it a computed set (the manifest
    * anti-joined with the processed log), not a manifest file.
    */
  def fetchParseUris(spark: SparkSession, uriDs: Dataset[String],
      baseDir: String,
      metrics: Option[IngestMetrics] = None): Dataset[TagText] = {
    import spark.implicits._
    val bc = taskConf(spark)
    uriDs.mapPartitions(
      fetchParseAll(_, baseDir, bc.value.value, _ => true, metrics))
  }

  /** One task's URIs → the flattened elements `keep` accepts; the per-file
    * step of every ingest path. Each URI counts in `metrics` as exactly one
    * of ok/failed, and `records` counts every element of a parsed file,
    * kept or not, so it means the same with or without a pushed tag filter.
    * An unreadable or malformed file is skipped whole, never the task.
    * Like the reference's once-per-partition client setup
    * (IRSSpark.py:196-199), the task's conf and StAX factory serve all of
    * its files.
    */
  private[graft] def fetchParseAll(uris: Iterator[String], baseDir: String,
      conf: Configuration, keep: String => Boolean,
      metrics: Option[IngestMetrics]): Iterator[TagText] = {
    val xml = xmlInputFactory()
    uris.flatMap { uri =>
      metrics.foreach(_.processed.add(1))
      try {
        val p = resolve(uri, baseDir)
        val in = p.getFileSystem(conf).open(p)
        val (kept, elements) = try flatten(uri, in, keep, xml)
          finally in.close()
        metrics.foreach { m => m.ok.add(1); m.records.add(elements) }
        kept
      } catch {
        case scala.util.control.NonFatal(_) =>
          metrics.foreach(_.failed.add(1))
          Nil
      }
    }
  }

  /** The Hadoop conf every ingest task of one scan reads, broadcast once:
    * the session's conf at the call ([[graft.HadoopConf.broadcast]]) with
    * [[anonymousS3Fallback]] applied to that copy only.
    */
  private[graft] def taskConf(spark: SparkSession)
      : Broadcast[SerializableConfiguration] =
    graft.HadoopConf.broadcast(spark, anonymousS3Fallback)

  /** The reference reads the public IRS registry with an UNSIGNED boto3
    * client (IRSSpark.py:196-199) — no credentials needed for the public
    * bucket. The Hadoop-FS twin: append `AnonymousAWSCredentialsProvider`
    * to the s3a provider chain so a credential-less environment falls
    * through to anonymous access, while real credentials still win because
    * they are tried first. The list mirrors Hadoop 3.4's DEFAULT chain
    * (conf/session, access-key conf, AWS_ACCESS_KEY_ID/SECRET env vars,
    * instance profile — in that order) with Anonymous appended last, so no
    * credentialed environment the default chain serves regresses to
    * anonymous. `setIfUnset` keeps a caller-provided provider list
    * authoritative.
    */
  private[graft] def anonymousS3Fallback(conf: Configuration): Configuration = {
    conf.setIfUnset("fs.s3a.aws.credentials.provider",
      "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider," +
        "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider," +
        "software.amazon.awssdk.auth.credentials.EnvironmentVariableCredentialsProvider," +
        "org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider," +
        "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider")
    conf
  }

  private val SchemePrefix = Pattern.compile("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")

  private[graft] def resolve(uri: String, baseDir: String): Path = {
    val hasScheme = SchemePrefix.matcher(uri).matches()
    if (hasScheme || uri.startsWith("/")) new Path(uri)
    else new Path(baseDir, uri)
  }

  /** A StAX factory with DTDs and external entities off, so a filing can
    * neither fetch nor expand anything. `newInstance()` is a service
    * lookup: a task makes one factory and reuses it for every document.
    */
  private def xmlInputFactory(): XMLInputFactory = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory
  }

  /** Flatten every element in document order, ElementTree-equivalently:
    * an element's text is the character run between its start tag and its
    * first child (or end tag), trimmed, null-safe.
    */
  private[graft] def parse(doc: String, in: InputStream): Seq[TagText] =
    flatten(doc, in, _ => true, xmlInputFactory())._1

  /** [[parse]] restricted to the elements `keep` accepts, plus the number
    * of elements in the document, kept or not. `keep` is the tag-filter
    * pushdown hook of the V2 source: an element it rejects is never
    * buffered or emitted — only the document-order position counter
    * advances — so a one-tag extraction materializes one row per matching
    * element instead of one per element.
    */
  private def flatten(doc: String, in: InputStream, keep: String => Boolean,
      factory: XMLInputFactory): (Seq[TagText], Int) = {
    val r = factory.createXMLStreamReader(in)
    val out = ArrayBuffer.empty[(Int, String, java.lang.StringBuilder)]
    // per-open-element text buffer (null for skipped tags) + child marker
    val bufs = ArrayBuffer.empty[java.lang.StringBuilder]
    val childSeen = ArrayBuffer.empty[Boolean]
    var pos = 0
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            if (childSeen.nonEmpty) childSeen(childSeen.size - 1) = true
            val tag = r.getLocalName
            val sb =
              if (keep(tag)) { val b = new java.lang.StringBuilder
                out += ((pos, tag, b)); b
              } else null
            bufs += sb
            childSeen += false
            pos += 1
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (bufs.nonEmpty && bufs.last != null &&
              !childSeen(childSeen.size - 1))
              bufs.last.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            bufs.remove(bufs.size - 1)
            childSeen.remove(childSeen.size - 1)
          case _ => ()
        }
      }
    } finally r.close()
    (out.map { case (p, tag, sb) => TagText(doc, p, tag, sb.toString.trim) }
      .toSeq, pos)
  }
}
