package graft.ingest

import java.io.InputStream
import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.util.LongAccumulator

import graft.SerializableHadoopConf

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

/** Executor-side XML ingest: manifest of URIs → fetch → streaming StAX
  * parse → flattened [[TagText]] rows.
  *
  * Replaces the reference's three hand-rolled IO branches (boto3 S3 /
  * pydoop HDFS / local `open`, IRSSpark.py:192-244) with the one Hadoop
  * `FileSystem` API, which resolves s3a://, hdfs://, file: and bare paths
  * uniformly — same code path on a laptop and on a 1000-executor cluster.
  * Parsing is streaming (StAX) rather than DOM, so a single huge filing
  * never materializes as a tree; memory per task is O(element depth).
  */
object XmlIngest {

  /** A1: manifest scan. One URI per line; `n` partitions spread the
    * fetch/parse fan-out (the reference's `minPartitions`,
    * IRSSpark.py:177-178).
    */
  def manifest(spark: SparkSession, path: String, n: Int): Dataset[String] = {
    val raw = spark.read.textFile(path).filter(_.nonEmpty)
    if (n > 0) raw.repartition(n) else raw
  }

  /** A2+A3: fetch each URI and flatten its XML. Relative URIs resolve
    * against `baseDir` (the manifest's directory — the reference resolved
    * against the script directory, IRSSpark.py:194,236).
    */
  def fetchParse(spark: SparkSession, manifestPath: String, baseDir: String,
      nPartitions: Int = 0,
      metrics: Option[IngestMetrics] = None): Dataset[TagText] =
    fetchParseUris(spark, manifest(spark, manifestPath, nPartitions),
      baseDir, metrics)

  /** Same fetch+flatten over an ALREADY-SELECTED uri set — the entry point
    * incremental ingestion needs (parse only the manifest ∖ processed-log
    * slice, not the whole manifest).
    */
  def fetchParseUris(spark: SparkSession, uriDs: Dataset[String],
      baseDir: String,
      metrics: Option[IngestMetrics] = None): Dataset[TagText] = {
    import spark.implicits._
    val bc = taskConf(spark)
    uriDs.mapPartitions { uris =>
      // per-partition init mirrors the reference's once-per-partition
      // client setup (IRSSpark.py:196-199): the task reads the scan's
      // broadcast conf (read-only, shared by every task on the executor)
      // and builds one StAX factory for all of its documents
      val conf = bc.value.value
      val xml = xmlInputFactory()
      uris.flatMap { uri =>
        metrics.foreach(_.processed.add(1))
        try {
          val p = resolve(uri, baseDir)
          val fs = p.getFileSystem(conf)
          val in = fs.open(p)
          try {
            val out = parse(uri, in, factory = xml)
            metrics.foreach { m => m.ok.add(1); m.records.add(out.size) }
            out
          } finally in.close()
        } catch {
          case scala.util.control.NonFatal(_) =>
            // malformed/unreadable → count + skip the file, never the job
            metrics.foreach(_.failed.add(1))
            Nil
        }
      }
    }
  }

  /** The Hadoop conf every ingest task of one scan reads, broadcast once.
    *
    * Taken on the driver at the call: `sessionState.newHadoopConf()` is a
    * copy of the session's `hadoopConfiguration` (plus its SQL conf, as
    * Spark's own file sources see it), so filesystem settings made on the
    * session (s3a credentials and endpoints, provider chains, custom
    * schemes) reach the executors. [[anonymousS3Fallback]] is applied to
    * that copy only; the session conf and the shared
    * [[graft.HadoopConf.broadcast]] value are never touched. Tasks resolve
    * `FileSystem`s against `value.value` and must not mutate it: it is one
    * object shared by every task on an executor. A fresh broadcast per
    * scan (about 100 KB) means a setting changed between scans is seen by
    * the next one, and no task re-parses `core-default.xml`.
    */
  private[graft] def taskConf(spark: SparkSession)
      : Broadcast[SerializableHadoopConf] =
    spark.sparkContext.broadcast(new SerializableHadoopConf(
      anonymousS3Fallback(spark.sessionState.newHadoopConf())))

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
  private[graft] def xmlInputFactory(): XMLInputFactory = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory
  }

  /** Flatten every element in document order, ElementTree-equivalently:
    * an element's text is the character run between its start tag and its
    * first child (or end tag), trimmed, null-safe.
    *
    * `keep` is the tag-filter pushdown hook (used by the V2 source,
    * graft.sources.XmlManifestSource): elements whose tag doesn't match
    * are never buffered or emitted — only the document-order position
    * counter advances — so a one-tag extraction materializes one row per
    * matching element instead of one per element.
    *
    * `factory` is the caller's [[xmlInputFactory]], made once per task.
    */
  private[graft] def parse(doc: String, in: InputStream,
      keep: String => Boolean = _ => true,
      factory: XMLInputFactory = xmlInputFactory()): Seq[TagText] = {
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
    out.map { case (p, tag, sb) => TagText(doc, p, tag, sb.toString.trim) }
      .toSeq
  }
}
