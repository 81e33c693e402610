package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** TIME TRAVEL over [[CatalogStore]] as a DataSource V2 read — the
  * `VERSION AS OF` shape (reference: the DynamoDB datasets table's
  * point-in-time view, `datasets/get.py`), so a pinned snapshot is a
  * QUERY-PLAN fact instead of an API call:
  *
  * {{{
  *   spark.read.format("graft.sources.CatalogSnapshotSource")
  *     .option("path", storeDir)
  *     .option("version", 3)      // omitted → the current version
  *     .load()
  * }}}
  *
  * Published snapshots are immutable, so the loaded version is pinned in
  * the plan (`description()` prints `v=N` — the store-mode audit's read
  * marker) and two reads of the same version are bit-identical no matter
  * what later upserts publish.
  *
  * Execution shape — and why it is a DRIVER materialization: a catalog
  * is METADATA-SCALE by the store's contract (it is the reference's
  * datasets table: one row per dataset, thousands at most — the corpus
  * IDs live in the lake, not the catalog), and [[CatalogStore.readVersion]]
  * already re-counts and re-hashes the snapshot against its manifest on
  * EVERY read. This source performs that integrity-checked read at
  * partition-planning time as ONE scan job (manifest count+hash
  * recomputed driver-side from the collected rows — see
  * `CatalogStore.readVersionRowsVerified`) and ships the verified rows
  * to executors inside the InputPartitions. The metadata-scale bound
  * (4M rows) is enforced at runtime against the committed manifest
  * BEFORE the collect and re-checked against the actual row count after,
  * so a data-scale relation can never silently ride this path. Column
  * pruning applies driver-side after the manifest fold (the hash is over
  * all three columns): executors receive only the requested columns.
  *
  * Schema: the table's schema is the one the version's `_COMMITTED` marker
  * carries (`{"rows":N,"xor":X,"schema":{…}}`, minus the `shard` storage
  * column — see [[CatalogStore]]'s layout), read from the marker on every
  * load, so loading the table runs no job and a store deleted and
  * re-published at the same path serves its new schema. A marker written
  * before the schema was carried resolves it through the versioned-store
  * core: one footer inference per file identity.
  */
class CatalogSnapshotSource extends TableProvider {
  private def resolve(options: CaseInsensitiveStringMap): (String, Long) = {
    val dir = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft.sources.CatalogSnapshotSource needs option(\"path\")"))
    val spark = SparkSession.active
    val v = Option(options.get("version")).map(_.toLong).getOrElse(
      CatalogStore.currentVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"no published catalog at $dir")))
    (dir, v)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (dir, v) = resolve(options)
    CatalogStore.snapshotSchema(SparkSession.active, dir, v)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (dir, v) = resolve(opts)
    new CatalogSnapshotTable(dir, v, schema)
  }
}

private[sources] class CatalogSnapshotTable(dir: String, version: Long, tschema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_catalog_snapshot($dir, v=$version)"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CatalogSnapshotScanBuilder(dir, version, tschema)
}

private[sources] class CatalogSnapshotScanBuilder(
    dir: String, version: Long, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new CatalogSnapshotScan(dir, version, required)
}

private[sources] class CatalogSnapshotScan(
    dir: String, version: Long, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft_catalog_snapshot dir=$dir v=$version cols=${required.fieldNames.mkString(",")}"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    // the integrity-checked store read as ONE scan job: rows gathered
    // through the metadata-scale seam, manifest count+hash recomputed
    // driver-side from those same rows (CatalogStore.readVersionRowsVerified
    // — readVersion's separate verification aggregate plus a second
    // collect paid two full snapshot scans per read, the r17 q68
    // regression). The hash needs all three columns, so pruning applies
    // here on the driver, after the fold.
    val (rows, fullSchema) = CatalogStore.readVersionRowsVerified(
      spark, dir, version, 4000000, s"catalog snapshot $dir v=$version")
    val idx = required.fieldNames.map(fullSchema.fieldIndex).toIndexedSeq
    // external (serializable) values ride the partitions; readers convert
    // to InternalRow against the pruned schema
    val ext: Array[Seq[Any]] = rows.map(r => idx.map(r.get))
    val slices = math.max(1, math.min(4, ext.length))
    val step = (ext.length + slices - 1) / math.max(1, slices)
    (0 until slices).map { i =>
      CatalogSnapshotSlice(ext.slice(i * step, math.min(ext.length, (i + 1) * step)))
    }.filter(_.rows.nonEmpty).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CatalogSnapshotReaderFactory(required)
}

private[sources] case class CatalogSnapshotSlice(rows: Array[Seq[Any]]) extends InputPartition

private[sources] class CatalogSnapshotReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slice = partition.asInstanceOf[CatalogSnapshotSlice]
    new PartitionReader[InternalRow] {
      private val conv = schema.fields.map(f =>
        CatalystTypeConverters.createToCatalystConverter(f.dataType))
      private var i = -1
      override def next(): Boolean = { i += 1; i < slice.rows.length }
      override def get(): InternalRow =
        InternalRow.fromSeq(slice.rows(i).zip(conv).map { case (v, c) => c(v) })
      override def close(): Unit = ()
    }
  }
}
