package graft.sources.pbf

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** DataSourceV2 connector: `spark.read.format("osmpbf").load(path)`.
  *
  * What Catalyst gets to do through this connector that the bootstrap
  * `OsmPbf.read` path can't:
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): unneeded
  *    columns skip their decode allocations — reading only `id, lat, lon`
  *    never materializes tag maps or info (the reference's lazy-decode
  *    idea, blob.rs:92-113, generalized per column);
  *  - **`type` predicate pushdown** (`SupportsPushDownFilters` on
  *    `type = / in (…)`): excluded element kinds skip whole primitive
  *    groups without decoding — the scan-level analog of the reference's
  *    known-empty blob skip (indexed.rs:275-300);
  *  - clean split planning ([[OsmPbf.planSplits]]): each [[InputPartition]]
  *    holds at most `splitMb` of decoded blobs, so a planet file fans out
  *    to a few thousand tasks regardless of blob count, and a file too
  *    small to fill 2 tasks per core at the cap fans out to ~2 tasks per
  *    core instead of scanning as one task.
  *
  * Options: `splitMb` (per-task cap on decoded input in MB, an integer
  * >= 1, default 64);
  * `wayLocations` (default false) — decode the optional LocationsOnWays
  * way lat/lon arrays (osmpbf/src/elements.rs:201-216,390-423) into a
  * trailing `node_locations: array<struct<lat,lon>>` column (empty array
  * for ways in files without the feature, null for nodes/relations).
  */
class OsmPbfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osmpbf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OsmSchema.schemaFor(options.getBoolean("wayLocations", false))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new OsmPbfTable(properties.asScala.toMap)
}

class OsmPbfTable(properties: Map[String, String]) extends Table with SupportsRead {
  private val path = properties.getOrElse("path",
    throw new IllegalArgumentException("osmpbf source requires .load(path)"))
  // case-insensitive like every other option lookup here (inferSchema and
  // newScanBuilder read a CaseInsensitiveStringMap; this map is raw)
  private val wayLocs = properties.collectFirst {
    case (k, v) if k.equalsIgnoreCase("wayLocations") => v
  }.exists(_.equalsIgnoreCase("true"))

  override def name(): String = s"osmpbf:$path"
  override def schema(): StructType = OsmSchema.schemaFor(wayLocs)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val rawSplitMb = options.getOrDefault("splitMb",
      properties.getOrElse("splitMb", OsmPbf.DefaultSplitMb.toString))
    val splitMb = rawSplitMb.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"osmpbf option splitMb must be an integer number of MB, got '$rawSplitMb'"))
    require(splitMb >= 1, s"osmpbf option splitMb must be >= 1, got $splitMb")
    new OsmPbfScanBuilder(path, splitMb,
      Option(options.getOrDefault("spans", properties.getOrElse("spans", null))),
      options.getBoolean("wayLocations", wayLocs))
  }
}

class OsmPbfScanBuilder(path: String, splitMb: Int, spansOpt: Option[String] = None,
                        wayLocs: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private val sourceSchema: StructType = OsmSchema.schemaFor(wayLocs)
  private var requiredSchema: StructType = sourceSchema
  private var pushedTypeFilters: Array[Filter] = Array.empty
  private var typeSet: Set[String] =
    Set(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation)

  override def pruneColumns(required: StructType): Unit = {
    // preserve source column order for a stable read schema
    val names = required.fieldNames.toSet
    requiredSchema = StructType(sourceSchema.filter(f => names.contains(f.name)))
  }

  /** Accepts only `type = v` / `type IN (…)`; everything else stays with
    * Spark. An accepted filter is NOT returned, so Spark does not
    * re-evaluate it: the decoder skips every PrimitiveGroup of an
    * unwanted type, and that skip alone makes the result exact, because a
    * group holds elements of one type only. The match is case-sensitive
    * like Spark's own `=` (`type = 'Node'` selects nothing).
    * `pushedFilters` reports the accepted filters for plan display. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("type", _: String) => true
      case In("type", vs) if vs.forall(_.isInstanceOf[String]) => true
      case _ => false
    }
    pushedTypeFilters = accepted
    if (accepted.nonEmpty) {
      typeSet = accepted.map {
        case EqualTo(_, v: String) => Set(v)
        case In(_, vs) => vs.map(_.asInstanceOf[String]).toSet
        case _ => Set.empty[String]
      }.reduce(_ intersect _)
    }
    rest
  }

  override def pushedFilters(): Array[Filter] = pushedTypeFilters

  override def build(): Scan =
    new OsmPbfScan(path, splitMb, requiredSchema, typeSet, spansOpt, wayLocs)
}

class OsmPbfScan(path: String, splitMb: Int, requiredSchema: StructType,
                 typeSet: Set[String], spansOpt: Option[String] = None,
                 wayLocs: Boolean = false) extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"osmpbf $path types=${typeSet.mkString(",")} cols=${requiredSchema.fieldNames.mkString(",")}" +
      spansOpt.map(s => s" spans=${if (s.isEmpty) 0 else s.split(',').length}").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    // `spans` option = pre-planned pruned subset (IndexedPbf zone-map
    // pruning): skip enumeration entirely, scan only what the caller chose.
    val spans = spansOpt match {
      case Some(enc) if enc.nonEmpty =>
        // "offset:length[:rawSize]" — rawSize keeps decoded-size task
        // weighting on pruned scans; absent (legacy 2-part) = unknown
        enc.split(',').toSeq.map { s =>
          val parts = s.split(':')
          Blobs.BlobSpan(parts(0).toLong, parts(1).toInt, Blobs.TypeOsmData,
            if (parts.length > 2) parts(2).toInt else -1)
        }
      case Some(_) => Seq.empty
      case None =>
        val allSpans = OsmPbf.blobSpans(spark, path)
        // unknown blob types are an error, not a skip — matching the
        // reference's UnknownBlobType failure (pbf.rs:85-87)
        allSpans.find(s => s.blobType != Blobs.TypeOsmData && s.blobType != Blobs.TypeOsmHeader)
          .foreach(s => throw new PbfFormatException(
            s"unknown blob type '${s.blobType}' at offset ${s.offset}"))
        allSpans.filter(_.blobType == Blobs.TypeOsmData)
    }
    OsmPbf.planSplits(spans, splitMb.toLong << 20, spark.sparkContext.defaultParallelism)
      .map(g => OsmPbfInputPartition(path, g): InputPartition).toArray
  }

  // the conf broadcast lives as long as the plan that holds this factory:
  // the ContextCleaner drops it once the plan is unreachable, as for
  // Spark's file sources
  override def createReaderFactory(): PartitionReaderFactory = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    OsmPbfReaderFactory(OsmPbf.broadcastConf(sc, sc.hadoopConfiguration),
      requiredSchema, typeSet, wayLocs)
  }
}

case class OsmPbfInputPartition(path: String, spans: Array[Blobs.BlobSpan])
    extends InputPartition

case class OsmPbfReaderFactory(hconf: Broadcast[SerializableConfiguration],
                               requiredSchema: StructType,
                               typeSet: Set[String],
                               wayLocs: Boolean = false) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[OsmPbfInputPartition]
    new OsmPbfPartitionReader(p, hconf.value, requiredSchema, typeSet, wayLocs)
  }
}

/** Reads one span group: seek → read → decompress → decode → project to
  * the pruned schema as InternalRows. */
class OsmPbfPartitionReader(partition: OsmPbfInputPartition,
                            hconf: SerializableConfiguration,
                            requiredSchema: StructType,
                            typeSet: Set[String],
                            wayLocs: Boolean = false) extends PartitionReader[InternalRow] {

  private val need = requiredSchema.fieldNames.toSet
  private val proj = BlockDecoder.Projection(
    tags = need.contains("tags"),
    coords = need.contains("lat") || need.contains("lon"),
    nds = need.contains("nds"),
    members = need.contains("members"),
    info = Seq("changeset", "timestamp", "uid", "user", "version", "visible").exists(need),
    types = typeSet,
    // column pruning composes: a wayLocations read that doesn't select
    // node_locations skips the lat/lon decode like any pruned column
    wayLocs = wayLocs && need.contains("node_locations"))
  // decode emits rows of the ACTIVE source schema (13 or 14 cols)
  private val sourceSchema = OsmSchema.schemaFor(proj.wayLocs)
  // source-ordinal of each required column; identity when nothing is
  // pruned (pruneColumns preserves source order, so equal length ⇒ identity)
  private val ordinals = requiredSchema.fieldNames.map(sourceSchema.fieldIndex)
  private val fullWidth = ordinals.length == sourceSchema.length
  private val fieldTypes = ordinals.map(sourceSchema(_).dataType)

  private val fsPath = new Path(partition.path)
  private val fs = fsPath.getFileSystem(hconf.value)
  private val in = fs.open(fsPath)

  private val rows: Iterator[InternalRow] = partition.spans.iterator.flatMap { span =>
    in.seek(span.offset)
    val buf = new Array[Byte](span.length)
    in.readFully(buf)
    val decoded = BlockDecoder.decodeBlockInternal(Blobs.decode(buf), proj)
    if (fullWidth) decoded
    else decoded.map { row =>
      val out = new Array[Any](ordinals.length)
      var i = 0
      while (i < ordinals.length) {
        out(i) = row.get(ordinals(i), fieldTypes(i))
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
