package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.util
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.embl.{EmblSegmenter, EnaPipeline, LocusRow}

/** DataSource V2 connector exposing an EMBL flat-file tree as a table
  * of loci: `spark.read.format("embl").load(root)` ≡
  * [[graft.embl.EnaPipeline.readLoci]], but as a first-class source —
  * catalogable, pruning-aware, and usable from pure SQL
  * (`CREATE TABLE ena USING embl LOCATION ...`).
  *
  * Physical layout: ONE input partition per `.dat.gz` file (gzip is
  * non-splittable, and the segmentation state machine needs each file
  * whole — the same per-file granularity the reference schedules,
  * dask_tasks.py:168). Column pruning pushes into the reader: unneeded
  * fields are never materialized into rows (`SupportsPushDownRequiredColumns`).
  *
  * Options: `divisionPrune` (default true) applies the S3 filename
  * prune to `sequence/` trees at file-listing time — partition pruning
  * in the proper sense: pruned files are never opened.
  */
class EmblDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "embl"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EmblDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EmblTable(properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = false
}

object EmblDataSource {
  /** The loci relation schema (mirrors [[LocusRow]]). */
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("ena_id", StringType),
    StructField("chr_struct", IntegerType),
    StructField("chr_len", LongType),
    StructField("locus_idx", IntegerType),
    StructField("direction", IntegerType),
    StructField("start", LongType),
    StructField("end", LongType),
    StructField("uniprot_ids", ArrayType(StringType)),
    StructField("protein_ids", ArrayType(StringType))))
}

private[sources] class EmblTable(properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"embl(${properties.getOrElse("path", properties.getOrElse("paths", "?"))})"
  override def schema(): StructType = EmblDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EmblScanBuilder(options, properties)
}

private[sources] class EmblScanBuilder(
    options: CaseInsensitiveStringMap, tableProps: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = EmblDataSource.Schema
  private var pathFilters: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `file_path` predicates prune at FILE level (every row of a
    * partition shares its file_path — a whole-file skip, the scan-time
    * analog of partition pruning). All filters are also returned for
    * post-scan re-evaluation, which keeps the contract trivially
    * correct.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pathFilters = filters.filter {
      case EqualTo("file_path", _) | StringContains("file_path", _) |
           StringStartsWith("file_path", _) | StringEndsWith("file_path", _) => true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pathFilters

  // DataFrame reads deliver path via scan options; CREATE TABLE ...
  // USING embl delivers it via the table properties (OPTIONS/LOCATION)
  private def opt(key: String): Option[String] =
    Option(options.get(key)).orElse(tableProps.get(key))

  override def build(): Scan = {
    val paths = opt("paths").map(EmblScanBuilder.parsePaths)
      .orElse(opt("path").map(Seq(_)))
      .orElse(opt("location").map(Seq(_)))
      .getOrElse(Seq.empty)
    val prune = opt("divisionPrune").forall(_.toBoolean)
    new EmblScan(paths, prune, required, pathFilters)
  }
}

private[sources] object EmblScanBuilder {
  /** `DataFrameReader.load(p1, p2, ...)` delivers the multi-path list
    * as a JSON-encoded array string in the `paths` option (the same
    * convention Spark's own FileDataSourceV2 decodes); a raw
    * comma-separated list is accepted for hand-written
    * `OPTIONS (paths '...')` DDL. The former split(",") mangled JSON
    * arrays into nonexistent bracket-wrapped paths (ADVICE r3).
    */
  def parsePaths(raw: String): Seq[String] =
    if (raw.trim.startsWith("["))
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(raw, classOf[Array[String]]).toSeq
    else raw.split(",").toSeq
}

private[sources] class EmblScan(
    roots: Seq[String], divisionPrune: Boolean, required: StructType,
    pathFilters: Array[Filter] = Array.empty)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"EmblScan(roots=${roots.mkString(",")}, prune=$divisionPrune, " +
      s"columns=${required.fieldNames.mkString(",")})"

  /** S1/S2/S3 at listing time: recursive walk, `*.dat.gz` glob,
    * divisional filename prune — pruned files never become partitions.
    * A nonexistent root is an error (matching `spark.read.parquet`),
    * not a silent empty result; an existing-but-empty tree still
    * yields a clean zero-partition scan.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val files = roots.flatMap { root =>
      val p = new HPath(root)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p))
        throw new java.io.FileNotFoundException(s"embl source root does not exist: $root")
      val it = fs.listFiles(p, true)
      val buf = Seq.newBuilder[FileStatus]
      while (it.hasNext) buf += it.next()
      buf.result()
        .map(_.getPath.toString)
        .filter(_.endsWith(".dat.gz"))
        .filter(f => !divisionPrune || EnaPipeline.keptByPrune(f))
        .filter(matchesPathFilters)
    }
    files.sorted.map(f => EmblInputPartition(f): InputPartition).toArray
  }

  private def matchesPathFilters(f: String): Boolean =
    pathFilters.forall {
      case EqualTo("file_path", v) => f == v.toString
      case StringContains("file_path", v) => f.contains(v)
      case StringStartsWith("file_path", v) => f.startsWith(v)
      case StringEndsWith("file_path", v) => f.endsWith(v)
      case _ => true
    }

  /** The session Hadoop conf is captured HERE (driver, scan build) and
    * shipped to executors inside the serialized factory: a blank
    * `new Configuration()` on the reader side would silently drop every
    * session-level `spark.hadoop.*` setting — S3 credentials,
    * endpoints, custom FS impls — so remote filesystems would list on
    * the driver but fail to open on executors (ADVICE r3).
    */
  override def createReaderFactory(): PartitionReaderFactory =
    new EmblReaderFactory(required,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))
}

private[sources] case class EmblInputPartition(file: String) extends InputPartition

private[sources] class EmblReaderFactory(
    required: StructType,
    val conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EmblPartitionReader(
      partition.asInstanceOf[EmblInputPartition].file, required, conf.value)
}

/** Streams one gzip EMBL file through the segmentation state machine,
  * emitting only the pruned columns. O(one record) memory, same as the
  * batch path.
  */
private[sources] class EmblPartitionReader(
    file: String, required: StructType,
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val hp = new HPath(file)
  private val stream = hp.getFileSystem(conf).open(hp)
  private val reader = new BufferedReader(
    new InputStreamReader(new GZIPInputStream(stream), "UTF-8"))

  private val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
  private val loci = EmblSegmenter.segment(lines.map(l => (file, l)))

  // column-pruned projection: required field name -> LocusRow getter
  private val getters: Array[LocusRow => Any] = required.fieldNames.map {
    case "file_path" => (r: LocusRow) => UTF8String.fromString(r.file_path)
    case "ena_id" => (r: LocusRow) => UTF8String.fromString(r.ena_id)
    case "chr_struct" => (r: LocusRow) => r.chr_struct
    case "chr_len" => (r: LocusRow) => r.chr_len
    case "locus_idx" => (r: LocusRow) => r.locus_idx
    case "direction" => (r: LocusRow) => r.direction
    case "start" => (r: LocusRow) => r.start
    case "end" => (r: LocusRow) => r.end
    case "uniprot_ids" => (r: LocusRow) =>
      ArrayData.toArrayData(r.uniprot_ids.map(UTF8String.fromString).toArray)
    case "protein_ids" => (r: LocusRow) =>
      ArrayData.toArrayData(r.protein_ids.map(UTF8String.fromString).toArray)
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  private var current: LocusRow = _

  override def next(): Boolean =
    if (loci.hasNext) { current = loci.next(); true } else false

  override def get(): InternalRow =
    new GenericInternalRow(getters.map(g => g(current)): Array[Any])

  override def close(): Unit = reader.close()
}
