package graft.spark

import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

import graft.format.{DataFileEntry, TableMetadata}
import graft.objects.{ObjectKeys, TableDef}
import graft.storage.StorageOps
import graft.txn.{Action, ActionType, Transaction}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 table over a graft snapshot (reference analog:
  * OlympiaIcebergTable.java:24-40 — a thin facade that delegates the
  * data plane to the engine's native reader/writer while recording
  * transaction actions).
  *
  * Read path: delegates to Spark's own parquet DSv2 table constructed
  * over this snapshot's EXACT file list — vectorized reader, filter
  * pushdown, column pruning, file splitting all come from Spark
  * (SURVEY §4.1: no custom rule needed), while snapshot isolation and
  * time travel come from which files we hand it. A TABLE_SELECT action
  * is recorded for conflict analysis (OlympiaIcebergTableScan.java:31-48).
  *
  * Write path: native DSv2 [[GraftAppendWrite]] — executors stream
  * rows through Spark's parquet BatchWrite into a fresh commit
  * directory (clustered on partition columns), the produced files
  * become a new snapshot, and the snapshot commit rides the catalog
  * transaction (OlympiaIcebergMergeAppend.java:36-68).
  */
class GraftTable(
    catalog: GraftCatalog,
    val ident: Identifier,
    val tableDef: TableDef,
    val meta: TableMetadata,
    txn: Transaction,
    storage: StorageOps) extends Table with SupportsRead with SupportsWrite
    with SupportsDeleteV2 with SupportsRowLevelOperations
    with SupportsMetadataColumns {

  private def spark: ClassicSession =
    org.apache.spark.sql.SparkSession.active.asInstanceOf[ClassicSession]

  override def name(): String = s"${tableDef.namespaceName}.${tableDef.name}"

  override lazy val schema: StructType =
    DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]

  override def partitioning(): Array[Transform] =
    partitionSpec.map(_.toTransform).toArray

  override def properties(): java.util.Map[String, String] =
    tableDef.properties.asJava

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      // MERGE … WITH SCHEMA EVOLUTION: Spark's analyzer computes the
      // source-minus-target delta and applies it through alterTable
      // (metadata-only adds; old files read new columns as null)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  // -------- accessors for the row-level-operation machinery --------

  private[spark] def namespaceName: String = tableDef.namespaceName
  private[spark] def tableName: String = tableDef.name
  private[spark] def storageOps: StorageOps = storage

  private[spark] def partitionColumnNames: Seq[String] =
    tableDef.properties.get(GraftCatalog.PartitionColsProp)
      .map(_.split(',').toSeq).getOrElse(Seq.empty)

  /** Full partition spec — identity fields plus hidden derived
    * transforms ([[PartitionTransforms]]).
    */
  private[graft] def partitionSpec: Seq[PartitionField] =
    GraftCatalog.specOf(tableDef.properties)

  /** Hive directory column names the data layout actually uses. */
  private[spark] def partitionDirNames: Seq[String] =
    PartitionTransforms.dirNames(partitionSpec)

  private[spark] def sortColumnNames: Seq[String] =
    tableDef.properties.get(GraftCatalog.SortColsProp)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** Per-file bloom sidecar spec (PHYSICAL column names), if the
    * table declares `graft.file-bloom.columns`.
    */
  private[graft] def fileBloomSpec: Option[graft.format.FileBloom.Spec] =
    graft.format.FileBloom.specOf(tableDef.properties,
      ColumnMapping.renames(schema))

  private[spark] def currentFileTuples: Seq[(String, DataFileEntry)] =
    meta.currentFiles(storage).map(f => (storage.absolute(f.path), f))

  /** Merge-on-read delete predicates pending at THIS table's pinned
    * snapshot (time travel included — the pinned snapshot carries its
    * own list).
    */
  private[spark] def pendingDeletes: Seq[graft.format.DeletePredicate] =
    meta.currentSnapshot.map(_.deletes).getOrElse(Seq.empty)

  /** Position-delete objects pending at this table's pinned snapshot,
    * absolutized for the scan: (abs delete object path, entry).
    */
  private[spark] def pendingPosDeletes
      : Seq[(String, graft.format.PosDeleteFile)] =
    meta.currentSnapshot.map(_.posDeletes).getOrElse(Seq.empty)
      .map(p => (storage.absolute(p.path), p))

  /** Equality-delete objects (streaming upserts) pending at this
    * table's pinned snapshot, absolutized for the scan.
    */
  private[spark] def pendingEqDeletes
      : Seq[(String, graft.format.EqDeleteFile)] =
    meta.currentSnapshot.map(_.eqDeletes).getOrElse(Seq.empty)
      .map(p => (storage.absolute(p.path), p))

  /** Incremental read: the files appended in `(start, end]` — the
    * reprocess-only-new-data scan of a training pipeline. Only valid
    * over additive snapshots; a rewrite in the range is refused (use
    * [[TableChanges.between]] for row-level CDC across rewrites)
    * because serving rewritten files as "new data" would silently
    * duplicate rows.
    */
  private def incrementalFileTuples(options: CaseInsensitiveStringMap)
      : Seq[(String, DataFileEntry)] = {
    val startId = options.get(GraftTable.StartSnapshotOption).toLong
    val endId = Option(options.get(GraftTable.EndSnapshotOption))
      .map(_.toLong).getOrElse(meta.currentSnapshotId)
    require(endId <= meta.currentSnapshotId,
      s"end-snapshot-id $endId is newer than current ${meta.currentSnapshotId}")
    // gate on the endpoint's parent chain, not the global id interval:
    // a concurrent BRANCH snapshot with an id inside the interval must
    // not refuse a legitimately-additive range (the file diff below is
    // endpoint-based and never sees branch files)
    val nonAdditive = TableChanges.mainLineage(storage, meta, startId, endId)
      .filterNot(s => GraftTable.AdditiveOps(s.operation))
    if (nonAdditive.nonEmpty) throw new UnsupportedOperationException(
      s"incremental read range ($startId, $endId] of ${name()} contains " +
        s"non-additive snapshot ${nonAdditive.head.id} " +
        s"(${nonAdditive.head.operation}); use TableChanges.between for " +
        "row-level change capture across rewrites")
    def paths(id: Long): Set[String] =
      if (id < 0) Set.empty
      else graft.format.Manifests.filesOf(storage,
        meta.findSnapshot(storage, id).getOrElse(
          throw new IllegalArgumentException(
            s"no such snapshot on ${name()}: $id (expired?)"))).map(_.path).toSet
    val startPaths = paths(startId)
    if (endId < 0) return Seq.empty
    graft.format.Manifests.filesOf(storage,
      meta.findSnapshot(storage, endId).getOrElse(
        throw new IllegalArgumentException(
          s"no such snapshot on ${name()}: $endId (expired?)")))
      .filterNot(f => startPaths(f.path))
      .map(f => (storage.absolute(f.path), f))
  }

  private[spark] def dataRootAbs: String = storage.absolute(
    graft.objects.FileLocations.tableDataDir(tableDef.namespaceName, tableDef.name))

  /** This table's key in the catalog tree, in the name widths of the
    * catalog definition its own transaction's root names.
    */
  private lazy val treeKey: String =
    ObjectKeys.tableKey(tableDef.namespaceName, tableDef.name,
      graft.catalog.Graft.catalogDef(storage, txn.runningRoot))

  /** Record this read in the transaction's action log (conflict
    * detection under SERIALIZABLE — reference TableSelectDef,
    * actions.proto:94-97).
    */
  private[spark] def recordSelect(columns: Seq[String],
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Unit = {
    // conflict keys speak PHYSICAL names — read intervals must line up
    // with the footer-harvested stat ranges appends record
    val renames = ColumnMapping.renames(schema)
    val phys = filters.map(ColumnMapping.toPhysicalExpr(_, renames))
    txn.record(Action(ActionType.TableSelect, treeKey,
      Map("columns" -> columns.map(c => renames.getOrElse(c, c)).mkString(","),
        "filters" -> phys.map(_.sql).mkString(" AND ")) ++
        ReadIntervals.fromFilters(phys)))
  }

  // -------- metadata columns / row-level operations --------

  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftMetadataColumns.FileColumn, GraftMetadataColumns.PosColumn)

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(catalog, this, info)

  // ---------------- read ----------------

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val files =
      if (options.containsKey(GraftTable.StartSnapshotOption))
        incrementalFileTuples(options)
      else currentFileTuples
    val baseDir = storage.absolute(
      graft.objects.FileLocations.tableDataDir(
        tableDef.namespaceName, tableDef.name))
    // streaming reads re-resolve the CURRENT snapshot each trigger;
    // the batch path keeps this load's pinned file list (an empty
    // pinned list still streams — commits may arrive later)
    val streamCtx = new GraftStreamCtx(name(),
      () => catalog.loadTable(ident).asInstanceOf[GraftTable].meta, storage)
    new GraftScanBuilder(spark, name(), options, schema, files, baseDir,
      onBuild = (columns, filters) =>
        // projection + pushed predicates captured as the txn's read
        // set (reference TableSelectDef, actions.proto:94-97)
        txn.record(Action(ActionType.TableSelect, treeKey,
          Map("columns" -> columns.mkString(","),
            "filters" -> filters.map(_.sql).mkString(" AND ")) ++
            ReadIntervals.fromFilters(filters))),
      spec = partitionSpec,
      streamCtx = Some(streamCtx),
      deletes = pendingDeletes,
      posDeletes = pendingPosDeletes,
      eqDeletes = pendingEqDeletes,
      bloomRead = key =>
        if (storage.exists(key)) Some(storage.read(key)) else None,
      colStats = analyzeColStats)
  }

  /** ANALYZE's per-column statistics (logical names) — distinct
    * counts, bounds, null counts, equi-depth histograms — reported as
    * DSv2 column statistics when the statistics file covers THIS
    * load's pinned snapshot. Spark's CBO reads them for join
    * reordering, filter selectivity, and cardinality estimates.
    */
  private def analyzeColStats: Map[String, AnalyzedColStats] =
    meta.stats.filter(_.snapshotId == meta.currentSnapshotId).map { st =>
      val toLogical = ColumnMapping.renames(schema).map(_.swap)
      st.blobs.filter(_.column.nonEmpty).map { b =>
        toLogical.getOrElse(b.column, b.column) -> AnalyzedColStats(b.ndv,
          b.min, b.max, if (b.nullCount >= 0) Some(b.nullCount) else None,
          b.histBounds.map(_.toDouble), b.histNdv, b.histHeight,
          if (b.avgLen >= 0) Some(b.avgLen) else None,
          if (b.maxLen >= 0) Some(b.maxLen) else None)
      }.toMap
    }.getOrElse(Map.empty)

  // ---------------- delete (SQL `DELETE FROM`) ----------------

  /** Copy-on-write DELETE: translated to a rewrite-without-matching-
    * rows snapshot commit (delete-as-overwrite, SURVEY §2.4). Refused
    * (`false`) when a predicate can't be translated — deleting too
    * little silently is worse than an error.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean =
    PredicateToColumn.translateAll(predicates.toIndexedSeq).isDefined

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val cond = PredicateToColumn.translateAll(predicates.toIndexedSeq).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot translate delete predicates: ${predicates.mkString(", ")}"))
    // conjuncts that translate drive file-selective rewriting; the
    // rest just mean fewer files are provably untouched
    val pruneExprs = predicates.toIndexedSeq
      .flatMap(PredicateToExpression.translate)
    // merge-on-read: commit the predicate, rewrite nothing. Requires
    // the COMPLETE conjunct set in catalyst form (a partial predicate
    // would delete too much) — otherwise fall back to copy-on-write,
    // which is always correct.
    if (tableDef.properties.get(GraftCatalog.DeleteModeProp)
          .contains(GraftCatalog.DeleteModeMergeOnRead) &&
        pruneExprs.length == predicates.length)
      catalog.morDelete(ident, pruneExprs)
    else
      catalog.deleteWhere(spark, ident, cond, pruneExprs,
        complete = pruneExprs.length == predicates.length)
  }

  // ---------------- write ----------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false

      override def truncate(): WriteBuilder = { overwrite = true; this }

      override def build(): Write =
        new GraftAppendWrite(catalog, GraftTable.this, info, overwrite)
    }
}

object GraftTable {
  /** Incremental-read options (Iceberg option names): start is
    * EXCLUSIVE, end INCLUSIVE and defaults to the current snapshot.
    */
  val StartSnapshotOption = "start-snapshot-id"
  val EndSnapshotOption = "end-snapshot-id"

  /** Streaming read option: cap each micro-batch at N snapshots. */
  val MaxSnapshotsPerTriggerOption = "max-snapshots-per-trigger"

  /** Snapshot operations whose file delta IS a row delta. (An upsert
    * is NOT additive: its file delta omits the logical deletes.)
    */
  val AdditiveOps: Set[String] = Set("append", "import", "cherrypick")

  /** Commits with more fresh files than this fan footer reads out as a
    * Spark job; below it, driver-side reads skip the job overhead.
    */
  private val DriverStatsMax = 8

  /** Footer stats + object size for each storage-relative key, read
    * exclusively through [[StorageOps]] (listing, HEAD-style sizing,
    * cache-mediated local handles for the footer parse) — the commit
    * path never touches the filesystem behind a remote store's
    * keyspace. Beyond [[DriverStatsMax]] files the reads run as a
    * Spark job — a 100 TB append producing 10⁵ files must not
    * serialize 10⁵ footer round-trips into the driver-side commit path
    * (only the harvested stats, ~100 bytes/file, return to the
    * driver); tasks reopen storage from its serializable descriptor.
    * A backend with no descriptor (in-memory test store) stays
    * driver-side on the live instance.
    */
  def harvestStats(storage: StorageOps, keys: Seq[String],
      bloom: Option[graft.format.FileBloom.Spec] = None)
      : Map[String, (graft.format.ParquetStats.FileStats, Long, Option[String])] = {
    def one(st: StorageOps)(k: String) = {
      val local = st.prepareToReadLocal(k).toString
      // the bloom sidecar writes in the SAME task that reads the
      // footer: one local-file pass per data file, commit-time only,
      // and only the indexed columns are decoded
      val bloomPath = bloom.flatMap { spec =>
        val filters = graft.format.FileBloom.build(local, spec)
        if (filters.isEmpty) None
        else {
          val side = graft.format.FileBloom.sidecarKey(k)
          // overwrite, not writeAtomic: a retried task regenerates
          // byte-identical content
          st.overwrite(side, graft.format.FileBloom.serialize(filters))
          Some(side)
        }
      }
      (k, (graft.format.ParquetStats.read(local), st.sizeOf(k), bloomPath))
    }
    val sconf = storage.reopenConf
    if (keys.lengthCompare(DriverStatsMax) <= 0 || !sconf.reopenable)
      keys.map(one(storage)).toMap
    else {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      sc.parallelize(keys, math.min(keys.size, sc.defaultParallelism * 2))
        .mapPartitions { it =>
          val st = sconf.create() // one storage client per task
          it.map(one(st))
        }.collect().toMap
    }
  }

  /** List the parquet files Spark's writer produced under `relDir`
    * (recursive storage LIST — partitioned writes produce Hive-style
    * col=value levels), harvesting row counts + per-column min/max
    * from the footers (distributed via [[harvestStats]] for large
    * commits — these stats drive file-level pruning at scan time).
    */
  def listCommitFiles(storage: StorageOps, relDir: String,
      bloom: Option[graft.format.FileBloom.Spec] = None): Seq[DataFileEntry] = {
    val keys = storage.listDeep(relDir).filter(_.endsWith(".parquet")).sorted
    val stats = harvestStats(storage, keys, bloom)
    keys.map(k => fileEntry(relDir, k, stats(k)))
  }

  /** Build a [[DataFileEntry]] for one data file: footer stats, plus
    * Hive-style col=value path segments between `baseRel` and the
    * file as partition values — a partition value IS the column's
    * min and max for that file, so stats-based pruning covers
    * partition predicates with no extra machinery. Pure key
    * arithmetic: works identically on filesystem paths and object
    * keys.
    */
  def fileEntry(baseRel: String, key: String,
      harvested: (graft.format.ParquetStats.FileStats, Long, Option[String]))
      : DataFileEntry = {
    val (stats, size, bloomPath) = harvested
    val base = if (baseRel.endsWith("/")) baseRel else baseRel + "/"
    require(key.startsWith(base), s"data file $key outside commit base $base")
    val allPartVals = key.drop(base.length).split('/').dropRight(1).toSeq
      .filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        seg.take(i) -> unescapePathValue(seg.drop(i + 1))
      }
    val partVals = allPartVals
      .filter(_._2 != "__HIVE_DEFAULT_PARTITION__")
      .toMap
    // a partition value IS the column for every row of the file: a
    // concrete value means zero nulls, the null-partition means
    // all-null
    val partNulls = allPartVals.map { case (c, v) =>
      c -> (if (v == "__HIVE_DEFAULT_PARTITION__") stats.rowCount else 0L)
    }.toMap
    DataFileEntry(key, rowCount = stats.rowCount,
      sizeBytes = size,
      minValues = stats.minValues ++ partVals,
      maxValues = stats.maxValues ++ partVals,
      nullCounts = stats.nullCounts ++ partNulls,
      bloomPath = bloomPath)
  }

  /** Undo Spark's %xx path escaping of partition values. */
  def unescapePathValue(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { // malformed escape: pass the literal '%' through
          case _: NumberFormatException => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** Scan of an empty table: zero partitions, declared schema. */
private[spark] class EmptyScanBuilder(schema: StructType) extends ScanBuilder {
  override def build(): org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.Scan
        with org.apache.spark.sql.connector.read.SupportsReportStatistics {
      override def readSchema(): StructType = schema
      override def estimateStatistics()
          : org.apache.spark.sql.connector.read.Statistics =
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(0L)
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.of(0L)
        }
      override def toBatch: org.apache.spark.sql.connector.read.Batch =
        new org.apache.spark.sql.connector.read.Batch {
          override def planInputPartitions()
              : Array[org.apache.spark.sql.connector.read.InputPartition] = Array.empty
          override def createReaderFactory()
              : org.apache.spark.sql.connector.read.PartitionReaderFactory =
            (_: org.apache.spark.sql.connector.read.InputPartition) =>
              throw new UnsupportedOperationException("empty scan has no partitions")
        }
    }
}
