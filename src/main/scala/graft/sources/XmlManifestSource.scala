package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.SerializableHadoopConf
import graft.ingest.XmlIngest

/** DataSource V2 connector for the XML-manifest corpus — the reference's
  * ingest model (a text manifest of XML document URIs) exposed as a real
  * Spark table:
  *
  * {{{
  * spark.read.format("graft.sources.XmlManifestSource")
  *   .option("manifest", "/path/manifest.txt")
  *   .option("partitions", "32")
  *   .load()                       // schema: doc, pos, tag, text
  * }}}
  *
  * The point of the V2 route (vs the `XmlIngest.fetchParse` helper, which
  * stays for programmatic use): Catalyst can now SEE the ingest. Tag
  * predicates (`tag = 'CityNm'`, `tag IN (...)`) push down through
  * `SupportsPushDownFilters` into the StAX loop, which then skips
  * non-matching elements *before* materializing rows — the reference
  * flattens every element of every file no matter what the job needs
  * (SURVEY §4.1). URIs are split across `partitions` input partitions, so
  * the fetch/parse fan-out scales with the cluster exactly like the RDD
  * path. The manifest is read through the session's Hadoop conf, and every
  * reader resolves its files against one broadcast of it
  * ([[XmlIngest.taskConf]]), so session filesystem settings hold on the
  * executors too.
  */
class XmlManifestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XmlManifestSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val manifest = properties.get("manifest")
    require(manifest != null, "option 'manifest' is required")
    val base = Option(properties.get("basedir"))
      .getOrElse(new Path(manifest).getParent.toString)
    val parts = Option(properties.get("partitions")).map(_.toInt).getOrElse(4)
    new XmlManifestTable(manifest, base, parts)
  }
}

object XmlManifestSource {
  val schema: StructType = StructType(Seq(
    StructField("doc", StringType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))
}

private[sources] class XmlManifestTable(manifest: String, baseDir: String,
    nParts: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_xml($manifest)"
  override def schema(): StructType = XmlManifestSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Collections.singleton(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(manifest, baseDir, nParts)
}

private[sources] class XmlScanBuilder(manifest: String, baseDir: String,
    nParts: Int) extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) = filters.partition {
      case EqualTo("tag", _: String) => true
      case In("tag", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    pushed = supported
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // pushed filters are CONJUNCTS — a row must satisfy every one, so the
    // allowed tag set is the INTERSECTION of the per-filter sets (a union
    // would silently turn AND into OR, and Spark won't re-filter rows the
    // source claimed to handle)
    val tags: Option[Set[String]] =
      if (pushed.isEmpty) None
      else Some(pushed.toSeq.map {
        case EqualTo("tag", v: String) => Set(v)
        case In("tag", vs) => vs.toSeq.map(_.asInstanceOf[String]).toSet
        case _ => Set.empty[String]
      }.reduce(_ intersect _))
    new XmlScan(SparkSession.active, manifest, baseDir, nParts, tags)
  }
}

private[sources] class XmlScan(spark: SparkSession, manifest: String,
    baseDir: String, nParts: Int, tagFilter: Option[Set[String]])
  extends Scan with Batch {
  override def readSchema(): StructType = XmlManifestSource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_xml manifest=$manifest " +
      s"PushedTagFilter=${tagFilter.map(_.mkString("[", ",", "]")).getOrElse("[]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(manifest)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val uris =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toArray
      finally in.close()
    val per = math.max(1, math.ceil(uris.length.toDouble / nParts).toInt)
    uris.grouped(per).map(g => XmlInputPartition(g): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new XmlReaderFactory(XmlIngest.taskConf(spark), baseDir, tagFilter)
}

private[sources] case class XmlInputPartition(uris: Array[String])
  extends InputPartition

private[sources] class XmlReaderFactory(
    conf: Broadcast[SerializableHadoopConf], baseDir: String,
    tagFilter: Option[Set[String]]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new XmlPartitionReader(conf.value.value,
      p.asInstanceOf[XmlInputPartition].uris, baseDir, tagFilter)
}

/** Executor-side reader: Hadoop-FS fetch → StAX flatten → (optionally
  * tag-pruned) InternalRows. Unreadable/malformed files are skipped whole,
  * matching GraftJob's ingest semantics. `conf` is the scan's broadcast
  * conf, shared read-only with every reader on the executor.
  */
private[sources] class XmlPartitionReader(conf: Configuration,
    uris: Array[String], baseDir: String, tagFilter: Option[Set[String]])
  extends PartitionReader[InternalRow] {
  private val xml = XmlIngest.xmlInputFactory()
  private val keep: String => Boolean = tagFilter match {
    case Some(tags) => tags.contains _
    case None => _ => true
  }
  private var uriIdx = 0
  private var current: Iterator[InternalRow] = Iterator.empty

  private def nextFile(): Boolean = {
    while (!current.hasNext && uriIdx < uris.length) {
      val uri = uris(uriIdx)
      uriIdx += 1
      try {
        val p = XmlIngest.resolve(uri, baseDir)
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        val kept =
          try XmlIngest.parse(uri, in, keep, xml)
          finally in.close()
        current = kept.iterator.map { t =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(t.doc), t.pos,
            UTF8String.fromString(t.tag), UTF8String.fromString(t.text)))
        }
      } catch {
        case scala.util.control.NonFatal(_) => () // skip file, keep going
      }
    }
    current.hasNext
  }

  override def next(): Boolean = current.hasNext || nextFile()
  override def get(): InternalRow = current.next()
  override def close(): Unit = ()
}
