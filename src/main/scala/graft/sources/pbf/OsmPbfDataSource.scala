package graft.sources.pbf

import java.util

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSourceV2 connector: `spark.read.format("osmpbf").load(path)`.
  *
  * Every PBF read goes through this connector (`OsmPbf.read` loads it).
  * What Catalyst gets to do through it:
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): unneeded
  *    columns skip their decode work, and rows hold only the required
  *    columns — reading only `id, lat, lon` never materializes tag maps or
  *    info (the reference's lazy-decode idea, blob.rs:92-113, generalized
  *    per column);
  *  - **`type` predicate pushdown** (`SupportsPushDownFilters` on
  *    `type = / in (…)`): excluded element kinds skip whole primitive
  *    groups without decoding — the scan-level analog of the reference's
  *    known-empty blob skip (indexed.rs:275-300);
  *  - **zone-map blob pruning** on `id`, `lat` and `lon` comparisons
  *    (`=`, `<`, `<=`, `>`, `>=`; [[IndexedPbf.prunable]]): the scan plans
  *    only blobs whose [[IndexedPbf]] catalog entry has a wanted type and
  *    an id range and node box that meet every pushed range, the
  *    reference's per-blob id-range skip (indexed.rs:174-225, 275-310).
  *    Spark still re-checks these comparisons on every row. Only a scan
  *    with a pushed range prunes (a `type`-only scan plans every blob); its
  *    first planning for a file version runs the catalog job, a pass over
  *    the whole file, and later ones reuse the cached catalog. Pruning
  *    trusts the file's (mtime, length) to name its version: a file
  *    rewritten in place whose blob offsets or lengths moved gets a new
  *    catalog, but one rewritten with the same mtime, length and blob
  *    layout is pruned by the old catalog. The `blobsPlanned` /
  *    `blobsPruned` scan metrics show the result in the SQL plan;
  *  - clean split planning ([[OsmPbf.planSplits]]): each [[InputPartition]]
  *    holds at most [[OsmPbf.DefaultSplitMb]] of decoded blobs, so a planet
  *    file fans out to a few thousand tasks regardless of blob count, and
  *    a file too small to fill 2 tasks per core at the cap fans out to ~2
  *    tasks per core instead of scanning as one task.
  *
  * Options: `wayLocations` (default false) — decode the optional
  * LocationsOnWays way lat/lon arrays (osmpbf/src/elements.rs:201-216,
  * 390-423) into a trailing `node_locations: array<struct<lat,lon>>` column
  * (empty array for ways in files without the feature, null for
  * nodes/relations); `spans`, set by [[IndexedPbf.readSpans]] — the
  * blobs to scan as `offset:length:rawSize` triples, instead of every
  * data blob of the file.
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

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OsmPbfScanBuilder(path,
      Option(options.getOrDefault("spans", properties.getOrElse("spans", null))),
      options.getBoolean("wayLocations", wayLocs))
}

class OsmPbfScanBuilder(path: String, spansOpt: Option[String] = None,
                        wayLocs: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private val sourceSchema: StructType = OsmSchema.schemaFor(wayLocs)
  private var requiredSchema: StructType = sourceSchema
  private var pushedTypeFilters: Array[Filter] = Array.empty
  private var pushedRanges: Array[Filter] = Array.empty
  private var typeSet: Set[String] =
    Set(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation)

  override def pruneColumns(required: StructType): Unit = {
    // preserve source column order for a stable read schema
    val names = required.fieldNames.toSet
    requiredSchema = StructType(sourceSchema.filter(f => names.contains(f.name)))
  }

  /** Takes `type = v` / `type IN (…)` and does NOT return it, so Spark
    * does not re-evaluate it: the decoder skips every PrimitiveGroup of an
    * unwanted type, and that skip alone makes the result exact, because a
    * group holds elements of one type only. The match is case-sensitive
    * like Spark's own `=` (`type = 'Node'` selects nothing). Takes the
    * [[IndexedPbf.prunable]] `id` / `lat` / `lon` comparisons for blob
    * pruning and returns them too: a kept blob holds rows that fail them.
    * Everything else stays with Spark. `pushedFilters` reports both kinds
    * for plan display. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("type", _: String) => true
      case In("type", vs) if vs.forall(_.isInstanceOf[String]) => true
      case _ => false
    }
    pushedTypeFilters = accepted
    pushedRanges = rest.filter(IndexedPbf.prunable)
    if (accepted.nonEmpty) {
      typeSet = accepted.map {
        case EqualTo(_, v: String) => Set(v)
        case In(_, vs) => vs.map(_.asInstanceOf[String]).toSet
        case _ => Set.empty[String]
      }.reduce(_ intersect _)
    }
    rest
  }

  override def pushedFilters(): Array[Filter] = pushedTypeFilters ++ pushedRanges

  override def build(): Scan =
    new OsmPbfScan(path, requiredSchema,
      IndexedPbf.Pushdown(typeSet, pushedRanges.toSeq), spansOpt, wayLocs)
}

class OsmPbfScan(path: String, requiredSchema: StructType,
                 pushdown: IndexedPbf.Pushdown, spansOpt: Option[String] = None,
                 wayLocs: Boolean = false) extends Scan with Batch {
  private def typeSet = pushdown.types
  // blob counts of the last planInputPartitions, reported to the plan
  @volatile private var blobsPlanned, blobsPruned = 0L

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"osmpbf $path types=${typeSet.mkString(",")} cols=${requiredSchema.fieldNames.mkString(",")}" +
      spansOpt.map(s => s" spans=${if (s.isEmpty) 0 else s.split(',').length}").getOrElse("") +
      (if (pushdown.ranges.isEmpty) "" else s" ranges=${pushdown.ranges.mkString(",")}")

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new BlobsPlannedMetric, new BlobsPrunedMetric)

  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    ScanCount(OsmPbfScan.BlobsPlanned, blobsPlanned),
    ScanCount(OsmPbfScan.BlobsPruned, blobsPruned))

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    // `spans` option = pre-planned pruned subset (IndexedPbf zone-map
    // pruning): skip enumeration entirely, scan only what the caller chose.
    val spans = spansOpt match {
      case Some(enc) if enc.nonEmpty =>
        // "offset:length:rawSize" — rawSize keeps decoded-size task
        // weighting on pruned scans
        enc.split(',').toSeq.map { s =>
          val parts = s.split(':')
          Blobs.BlobSpan(parts(0).toLong, parts(1).toInt, Blobs.TypeOsmData, parts(2).toInt)
        }
      case Some(_) => Seq.empty
      case None => OsmPbf.dataSpans(spark, path)
    }
    val kept = IndexedPbf.prune(spark, path, spans, pushdown)
    blobsPlanned = kept.size
    blobsPruned = spans.size - kept.size
    OsmPbf.planSplits(kept, OsmPbf.DefaultSplitMb.toLong << 20, spark.sparkContext.defaultParallelism)
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

object OsmPbfScan {
  val BlobsPlanned = "blobsPlanned"
  val BlobsPruned = "blobsPruned"
}

/** Data blobs the scan planned into its input partitions. */
class BlobsPlannedMetric extends CustomSumMetric {
  override def name(): String = OsmPbfScan.BlobsPlanned
  override def description(): String = "blobs planned"
}

/** Data blobs the scan's zone-map pruning dropped before any read. */
class BlobsPrunedMetric extends CustomSumMetric {
  override def name(): String = OsmPbfScan.BlobsPruned
  override def description(): String = "blobs pruned"
}

final case class ScanCount(name: String, value: Long) extends CustomTaskMetric

case class OsmPbfInputPartition(path: String, spans: Array[Blobs.BlobSpan])
    extends InputPartition

case class OsmPbfReaderFactory(hconf: Broadcast[ConfSnapshot],
                               requiredSchema: StructType,
                               typeSet: Set[String],
                               wayLocs: Boolean = false) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[OsmPbfInputPartition]
    new OsmPbfPartitionReader(p, hconf.value, requiredSchema, typeSet, wayLocs)
  }
}

/** Reads one span group: seek → read → inflate ([[SpanReader]]) → decode
  * into rows of the pruned schema, built in its column order. */
class OsmPbfPartitionReader(partition: OsmPbfInputPartition,
                            hconf: ConfSnapshot,
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

  private val in = new SpanReader(partition.path, hconf.value)

  private val rows: Iterator[InternalRow] =
    partition.spans.iterator.flatMap(span => BlockDecoder.rows(in.read(span), proj, requiredSchema))

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
