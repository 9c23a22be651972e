package graft.sources

import java.util.{Map => JMap}

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

import org.apache.spark.util.SerializableConfiguration
import graft.ingest.{IngestMetrics, TagText, XmlIngest}

/** DataSource V2 connector for the XML-manifest corpus — the reference's
  * ingest model (a text manifest of XML document URIs) exposed as a real
  * Spark table:
  *
  * {{{
  * spark.read.format("graft.sources.XmlManifestSource")
  *   .option("manifest", "/path/manifest.txt")
  *   .option("partitions", "32")   // optional; derived when absent
  *   .load()                       // schema: doc, pos, tag, text
  * }}}
  *
  * The one manifest ingest path: `GraftJob.run` and `XmlIngest.fetchParse`
  * read through it too, with the job's accumulators. Tag predicates
  * (`tag = 'CityNm'`, `tag IN (...)`) push down through
  * `SupportsPushDownFilters` into the StAX loop, which then skips
  * non-matching elements *before* materializing rows — the reference
  * flattens every element of every file (SURVEY §4.1). The driver reads
  * the manifest with Spark's text reader (a glob, a directory of manifests
  * and a compressed manifest all work) and splits its URIs into input
  * partitions with no shuffle: exactly `partitions` when given, else one
  * per core (`defaultParallelism`), never more than one per URI
  * ([[XmlManifestSource.slices]]). It holds the URI list while planning,
  * as Spark's `InMemoryFileIndex` holds file statuses: a few hundred MB for
  * the registry's 300k–3M-line manifests. Readers resolve files against
  * one broadcast of the session's Hadoop conf ([[XmlIngest.taskConf]]).
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
    val parts = Option(properties.get("partitions")).map(_.toInt).getOrElse(0)
    new XmlManifestTable(manifest, base, parts, None)
  }
}

object XmlManifestSource {
  val schema: StructType = StructType(Seq(
    StructField("doc", StringType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** `uris` cut into exactly `min(n, uris.length)` contiguous slices, in
    * order, whose sizes differ by at most one.
    */
  def slices(uris: Array[String], n: Int): Array[Array[String]] = {
    val k = math.min(n, uris.length)
    def cut(i: Int) = (i.toLong * uris.length / k).toInt
    Array.tabulate(k)(i => uris.slice(cut(i), cut(i + 1)))
  }
}

/** `metrics`, when set, receives the scan's file and element counts. */
private[graft] class XmlManifestTable(manifest: String, baseDir: String,
    nParts: Int, metrics: Option[IngestMetrics])
  extends Table with SupportsRead {
  override def name(): String = s"graft_xml($manifest)"
  override def schema(): StructType = XmlManifestSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Collections.singleton(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(manifest, baseDir, nParts, metrics)
}

private[sources] class XmlScanBuilder(manifest: String, baseDir: String,
    nParts: Int, metrics: Option[IngestMetrics])
  extends ScanBuilder with SupportsPushDownFilters {
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
    new XmlScan(SparkSession.active, manifest, baseDir, nParts, tags, metrics)
  }
}

private[sources] class XmlScan(spark: SparkSession, manifest: String,
    baseDir: String, nParts: Int, tagFilter: Option[Set[String]],
    metrics: Option[IngestMetrics])
  extends Scan with Batch {
  override def readSchema(): StructType = XmlManifestSource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_xml manifest=$manifest " +
      s"PushedTagFilter=${tagFilter.map(_.mkString("[", ",", "]")).getOrElse("[]")}"

  // one manifest read per scan: Spark copies the scan's exec node while
  // planning, and every copy asks for the partitions again
  private lazy val partitions: Array[InputPartition] = {
    val uris = XmlIngest.manifest(spark, manifest, 0).collect()
    val n = if (nParts > 0) nParts else spark.sparkContext.defaultParallelism
    XmlManifestSource.slices(uris, n).map(XmlInputPartition(_): InputPartition)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new XmlReaderFactory(XmlIngest.taskConf(spark), baseDir, tagFilter, metrics)
}

private[sources] case class XmlInputPartition(uris: Array[String])
  extends InputPartition

private[sources] class XmlReaderFactory(
    conf: Broadcast[SerializableConfiguration], baseDir: String,
    tagFilter: Option[Set[String]], metrics: Option[IngestMetrics])
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new XmlPartitionReader(XmlIngest.fetchParseAll(
      p.asInstanceOf[XmlInputPartition].uris.iterator, baseDir,
      conf.value.value, tagFilter.fold[String => Boolean](_ => true)(_.contains),
      metrics))
}

/** Executor-side reader over one partition's flattened elements
  * (`XmlIngest.fetchParseAll`, which fetches one file at a time).
  */
private[sources] class XmlPartitionReader(rows: Iterator[TagText])
  extends PartitionReader[InternalRow] {
  private var row: InternalRow = _

  override def next(): Boolean = rows.hasNext && {
    val t = rows.next()
    row = new GenericInternalRow(Array[Any](UTF8String.fromString(t.doc),
      t.pos, UTF8String.fromString(t.tag), UTF8String.fromString(t.text)))
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
