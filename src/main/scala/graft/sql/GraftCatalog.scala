package graft.sql

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile, RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader, ParquetOptions, ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.lake.{LakeTable, MetaFiles, TableSchemas}

/** `TableCatalog` for graft lake tables — the declarative surface:
  *
  * {{{
  *   SET spark.sql.catalog.graft = graft.sql.GraftCatalog
  *   CREATE TABLE graft.pages (url STRING, …) USING graft TBLPROPERTIES ('buckets'='64')
  *   SELECT * FROM graft.pages
  *   MERGE INTO graft.pages …   -- see GraftSqlStrategy
  * }}}
  *
  * Plays the role of the reference's config-driven entry point
  * (`/root/reference/common/src/main/java/com/spredfast/kafka/connect/s3/Configure.java:125-165`):
  * a user drives the engine by names and properties, not library calls.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Paths.get(Option(options.get("warehouse"))
      .getOrElse(sys.props.getOrElse("graft.sql.warehouse", "/tmp/graft-warehouse")))
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): Path =
    warehouse.resolve((ident.namespace() :+ ident.name()).mkString("/"))

  /** `CALL graft.system.<proc>(…)` — see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, warehouse)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace)) GraftProcedures.idents
    else Array.empty

  /** [[org.apache.spark.sql.connector.catalog.FunctionCatalog]]: exposes
    * the table partitioner so Spark can resolve the `bucket(n, url)`
    * transform [[GraftLakeScan]] reports — the hinge of storage-partitioned
    * joins (see [[GraftBucketFunction]]). Registered at the catalog root
    * (empty namespace), where `V2ExpressionUtils` looks transforms up. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    MetaFiles.list(namespace.foldLeft(warehouse)(_.resolve(_)))(p =>
      Option.when(LakeTable.exists(p))(Identifier.of(namespace, p.getFileName.toString))).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables: `t$snapshots` / `t$files` / `t$batches` resolve to a
    // read-only view over the BASE table's snapshot state (quote the name in
    // SQL: SELECT * FROM graft.`t$snapshots`). Never listed by SHOW TABLES.
    val name = ident.name()
    val dollar = name.lastIndexOf('$')
    // `t$changes` resolves to the table's change feed (graft.lake.FeedTable,
    // the Delta `table_changes` shape): a DISTRIBUTED scan of every retained
    // snapshot's winner rows with envelopes + `_feed_snapshot` — batch reads
    // default to the full genesis span; `spark.readStream.table` tails it
    // (the same DSv2 table serves MICRO_BATCH_READ). Unlike the driver-built
    // metadata views below, changes are data-sized, so they go through the
    // feed's parquet reader factory, never the driver.
    if (dollar > 0 && name.substring(dollar + 1) == "changes") {
      val base = Identifier.of(ident.namespace(), name.substring(0, dollar))
      val root = rootOf(base)
      if (!LakeTable.exists(root)) throw new NoSuchTableException(base)
      return graft.lake.FeedTable(root.toString)
    }
    if (dollar > 0 && GraftMetaTable.Kinds.contains(name.substring(dollar + 1))) {
      val base = Identifier.of(ident.namespace(), name.substring(0, dollar))
      val root = rootOf(base)
      if (!LakeTable.exists(root)) throw new NoSuchTableException(base)
      return new GraftMetaTable(LakeTable.load(root), ident.toString,
        name.substring(dollar + 1))
    }
    val root = rootOf(ident)
    if (!LakeTable.exists(root)) throw new NoSuchTableException(ident)
    val lake = LakeTable.load(root)
    // write-audit-publish session binding (Iceberg's `spark.wap.branch`):
    // while `spark.graft.sql.wapBranch` is set, reads AND writes on every
    // graft table THAT HAS the branch bind to it — see
    // GraftSql.WapBranchConf. A table WITHOUT the branch reads main
    // (Iceberg's fallback — production statements join read-only dimension
    // tables that were never forked) but REJECTS writes loudly at write
    // time: a typo'd branch name silently writing the audit to main is the
    // exact hazard WAP exists to prevent.
    GraftSql.wapBranchFor(org.apache.spark.sql.SparkSession.active) match {
      case Some(b) if lake.branchExists(b) =>
        new GraftSqlTable(lake.branchTable(b), s"$ident@b$b")
      case Some(b) =>
        new GraftSqlTable(lake, ident.toString, wapUnbound = Some((b, ident.toString)))
      case None => new GraftSqlTable(lake, ident.toString)
    }
  }

  /** Time travel: `SELECT … FROM graft.t VERSION AS OF <snapshotId>`, a
    * quoted tag name (`VERSION AS OF 'release-1'`) created by
    * [[graft.lake.LakeTable.createTag]] / `CALL graft.system.create_tag`,
    * or a BRANCH name — the audit read of the write-audit-publish flow:
    * validation queries run against the staged branch head
    * ([[graft.lake.LakeTable.createBranch]]) before anyone publishes it.
    * Numeric strings resolve as snapshot ids, then tags, then branches
    * (branch names can't be all-digit — enforced at creation). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!LakeTable.exists(root)) throw new NoSuchTableException(ident)
    val lake = LakeTable.load(root)
    val id = version.toLongOption.orElse(lake.tags.get(version)).getOrElse {
      if (lake.branchExists(version)) {
        val bt = lake.branchTable(version)
        return new GraftSqlTable(bt, s"$ident@b$version",
          pinnedSnapshot = Some(bt.currentSnapshotId))
      }
      throw new IllegalArgumentException(
        s"no tag or branch '$version' for graft table $ident " +
          s"(tags: ${lake.tags.keys.toSeq.sorted.mkString(", ")}; " +
          s"branches: ${lake.branchEntries.map(_._1).mkString(", ")})")
    }
    require(lake.snapshotIds.contains(id),
      s"no snapshot $id for graft table $ident (have ${lake.snapshotIds.mkString(", ")})")
    new GraftSqlTable(lake, s"$ident@v$version", pinnedSnapshot = Some(id))
  }

  /** Time travel: `SELECT … FROM graft.t TIMESTAMP AS OF <ts>`. Spark hands
    * the timestamp in epoch MICROS; resolution picks the latest retained
    * snapshot committed at or before it (commit stamps are strictly
    * monotonic per table — see [[graft.lake.LakeTable.commit]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!LakeTable.exists(root)) throw new NoSuchTableException(ident)
    val lake = LakeTable.load(root)
    val id = lake.snapshotAsOfTimestampMs(Math.floorDiv(timestamp, 1000L))
    new GraftSqlTable(lake, s"$ident@t$timestamp", pinnedSnapshot = Some(id))
  }

  /** CREATE TABLE accepts any VERSION of the web-page schema (newest match
    * wins): declaring `content_len INT` without `lang` creates a v1 table,
    * which `ALTER TABLE` can later evolve. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val root = rootOf(ident)
    if (LakeTable.exists(root)) throw new TableAlreadyExistsException(ident)
    val version = (TableSchemas.current to 1 by -1).find { v =>
      val userFacing = GraftSqlTable.userSchemaFor(v).fields.map(f => f.name -> f.dataType).toMap
      schema.fields.forall(f => userFacing.get(f.name).contains(f.dataType))
    }.getOrElse {
      val userFacing = GraftSqlTable.userSchema.fields.map(f => f.name -> f.dataType).toMap
      val unknown = schema.fieldNames.filterNot(userFacing.contains)
      throw new IllegalArgumentException(
        if (unknown.nonEmpty)
          s"graft tables have a fixed web-page schema; unknown columns: ${unknown.mkString(", ")}"
        else "graft tables have a fixed web-page schema; mistyped columns: " +
          schema.fields.filter(f => userFacing.get(f.name).exists(_ != f.dataType))
            .map(f => s"${f.name} is ${userFacing(f.name).sql}, got ${f.dataType.sql}").mkString(", "))
    }
    val nBuckets = Option(properties.get("buckets")).map(_.toInt).getOrElse(32)
    LakeTable.create(root, nBuckets, schemaVersion = version)
    new GraftSqlTable(LakeTable.load(root), ident.toString)
  }

  /** `ALTER TABLE graft.t ADD COLUMN …` / `ALTER COLUMN … TYPE …` mapped
    * onto the versioned evolution chain ([[LakeTable.evolveSchema]]): each
    * change must be part of the delta from the table's version to the
    * current one (today: v1→v2 adds `lang STRING` and widens `content_len`
    * INT→BIGINT). Anything outside that delta — drops, renames, arbitrary
    * columns — is rejected; a valid change evolves the table to the version
    * containing it (a metadata-only commit; old files align at read). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!LakeTable.exists(root)) throw new NoSuchTableException(ident)
    // schema evolution is part of what an audit validates: under the WAP
    // session binding ALTER TABLE commits on the BRANCH chain (the squash
    // carries schemaVersion, so publish lands the evolution with the data);
    // table lifecycle (CREATE/DROP/RENAME) stays main-only
    val lake = GraftSql.wapBranchFor(org.apache.spark.sql.SparkSession.active) match {
      case Some(b) =>
        val main = LakeTable.load(root)
        require(main.branchExists(b),
          s"${GraftSql.WapBranchConf}='$b' is set but table $ident has no branch '$b'")
        main.branchTable(b)
      case None => LakeTable.load(root)
    }
    val from = lake.currentSnapshot.schemaVersion
    val fromSchema = GraftSqlTable.userSchemaFor(from)
    val toSchema = GraftSqlTable.userSchemaFor(TableSchemas.current)
    val added = toSchema.fields.filterNot(f => fromSchema.fieldNames.contains(f.name))
      .map(f => f.name -> f.dataType).toMap
    val widened = toSchema.fields.filter(f => fromSchema.fieldNames.contains(f.name) &&
      fromSchema(f.name).dataType != f.dataType).map(f => f.name -> f.dataType).toMap
    def reject(what: String): Nothing = throw new IllegalArgumentException(
      s"graft ALTER TABLE: $what. Supported evolution from schema v$from: " +
        (added.map { case (n, t) => s"ADD COLUMN $n ${t.sql}" } ++
          widened.map { case (n, t) => s"ALTER COLUMN $n TYPE ${t.sql}" }).mkString(", "))
    changes.foreach {
      case add: TableChange.AddColumn =>
        val name = add.fieldNames().mkString(".")
        if (!added.get(name).contains(add.dataType()))
          reject(s"cannot add column `$name` ${add.dataType().sql}")
      case upd: TableChange.UpdateColumnType =>
        val name = upd.fieldNames().mkString(".")
        if (!widened.get(name).contains(upd.newDataType()))
          reject(s"cannot change column `$name` to ${upd.newDataType().sql}")
      case other => reject(s"unsupported change ${other.getClass.getSimpleName}")
    }
    if (changes.nonEmpty && from < TableSchemas.current)
      lake.evolveSchema(TableSchemas.current): Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!LakeTable.exists(root)) return false
    LakeTable.deleteRecursively(root)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = rootOf(oldIdent)
    if (!LakeTable.exists(from)) throw new NoSuchTableException(oldIdent)
    Files.move(from, rootOf(newIdent)): Unit
  }
}

object GraftSqlTable {
  /** User-facing schema: the logical schema minus engine columns. */
  def userSchema: StructType = userSchemaFor(TableSchemas.current)

  def userSchemaFor(version: Int): StructType = StructType(
    TableSchemas.forVersion(version).fields
      .filterNot(f => TableSchemas.internalNames.contains(f.name)))
}

/** DSv2 table over a LakeTable. Reads are CO-LOCATED resolve-on-read: one
  * input partition per bucket; within a task, the bucket's url-sorted files
  * are k-way MERGED streaming (k ≤ MaxFilesPerBucket+1), LWW-folded by the
  * `(warc_ts, _seq_offset, _seq_part)` order, tombstones dropped — no
  * shuffle, no hash map, O(k) memory however large the bucket. */
final class GraftSqlTable(val lake: LakeTable, ident: String,
    pinnedSnapshot: Option[Long] = None,
    wapUnbound: Option[(String, String)] = None) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  override def name(): String = ident
  /** The lake handle WRITE paths must use: under a `wapBranch` session
    * binding, a table WITHOUT the branch resolves main for reads
    * (dimension-table fallback, see [[GraftCatalog.loadTable]]) but every
    * write against it must fail loudly — this is where it does. */
  def writeLake: LakeTable = wapUnbound match {
    case Some((b, id)) => throw new IllegalStateException(
      s"${GraftSql.WapBranchConf}='$b' is set but table $id has no branch " +
        s"'$b' — a write here would land on MAIN, the exact hazard the WAP " +
        s"binding prevents. CALL graft.system.create_branch('$id', '$b') " +
        "first, or unset the conf")
    case None => lake
  }
  /** `TRUNCATE TABLE graft.t`: rollback-to-empty as one metadata commit —
    * see [[graft.lake.LakeTable.truncate]] for the marker-clearing and
    * change-feed (fail-loud) semantics. */
  override def truncateTable(): Boolean = { writeLake.truncate(); true }
  /** Schema follows the table's (or the pinned snapshot's) logical version —
    * a v1 table presents v1 columns until ALTERed; time travel to a
    * pre-evolution snapshot presents that era's schema. */
  override def schema(): StructType = GraftSqlTable.userSchemaFor(
    pinnedSnapshot.map(lake.snapshot).getOrElse(lake.currentSnapshot).schemaVersion)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      // INSERT OVERWRITE (static mode plans OverwriteByExpression(true) →
      // the builder's truncate(); filtered/dynamic overwrites stay
      // unsupported and fail in the planner's capability check)
      TableCapability.TRUNCATE).asJava
  /** The table's declared layout: hash-bucketed by url (SHOW/DESCRIBE
    * surface; the read-side partitioning contract lives on the scan —
    * [[GraftLakeScan.outputPartitioning]]). */
  override def partitioning(): Array[Transform] = Array(
    org.apache.spark.sql.connector.expressions.Expressions.bucket(
      pinnedSnapshot.map(lake.snapshot).getOrElse(lake.currentSnapshot).nBuckets, "url"))
  /** DESCRIBE EXTENDED / SHOW TBLPROPERTIES surface: the layout facts an
    * operator reads first (snapshot resolved once per call — this is a
    * metadata view, not a contract; the scan re-resolves its own). */
  override def properties(): util.Map[String, String] = {
    val s = pinnedSnapshot.map(lake.snapshot).getOrElse(lake.currentSnapshot)
    Map(
      "buckets" -> s.nBuckets.toString,
      "schema_version" -> s.schemaVersion.toString,
      "current_snapshot_id" -> s.snapshotId.toString,
      "total_rows" -> s.totalRows.toString,
      "format" -> "graft/parquet").asJava
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScan(lake,
      pinnedSnapshot.orElse(Option(options.get("snapshotId")).map(_.toLong))
        .orElse(Option(options.get("asOfTimestampMs"))
          .map(ms => lake.snapshotAsOfTimestampMs(ms.toLong))))
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // `INSERT OVERWRITE graft.t …` / `df.writeTo(t).overwrite(lit(true))`:
      // Spark's static overwrite plans through truncate() — the staged
      // rows' LWW winners become the WHOLE table state in one atomic
      // commit (Merge.overwrite; empty insert = plain truncate). Filtered
      // overwrites and dynamic partition overwrite stay unsupported and
      // fail loudly in Spark's planner.
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      // writeLake at BUILD (planning) time: under a wapBranch binding a
      // table without the branch must reject INSERT/streaming writes before
      // any task runs, not after (see writeLake's doc)
      override def build(): org.apache.spark.sql.connector.write.Write = {
        val wl = writeLake
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new GraftBatchWrite(wl, info.schema(), overwrite)
          // df.writeStream.toTable("graft.t"): user-schema rows as upsert
          // epochs (epoch id == exactly-once batch id)
          override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            // SupportsTruncate exists for BATCH INSERT OVERWRITE only. It
            // also makes Spark's Complete-output-mode streaming gate pass
            // (V2Writes requires SupportsTruncate and calls truncate()) —
            // but the sink below applies epochs as UPSERT merges, not
            // full-table replacement, so a Complete-mode aggregation would
            // SILENTLY diverge (a recomputed row with an older warc_ts
            // loses to the stale stored row under LWW). Keep the old loud
            // failure for that case.
            require(!overwrite,
              "graft-lake streaming writes are append/update upserts — " +
                "Complete output mode (per-epoch full-table replacement) " +
                "is not supported; use outputMode(\"update\") or " +
                "outputMode(\"append\")")
            // a branch-bound handle must NOT reach the streaming sink: its
            // commit() path re-loads the table from the root (= MAIN) —
            // staging data would silently land on main with raw epoch ids
            // in main's marker space, the exact hazard the WAP binding
            // prevents. Audited streaming ingest goes through
            // Ingest.startStream(branch = …), which mints salted
            // branch-domain markers and branch-scoped staging.
            require(wl.ref == graft.lake.LakeTable.MainRef,
              s"streaming writes cannot bind to staging branch '${wl.ref}' " +
                s"(session conf ${GraftSql.WapBranchConf}): the sink's epoch " +
                "ids carry no branch marker domain — use " +
                "Ingest.startStream(branch = …) for audited streaming " +
                "ingest, or unset the conf to stream to main")
            new graft.lake.LakeStreamingWrite(wl.root.toString,
              wl.currentSnapshot.nBuckets,
              GraftSql.mergeModeFor(org.apache.spark.sql.SparkSession.active),
              info.schema())
          }
        }
      }
    }
}

/** Internal maintenance read: the co-located per-bucket LWW resolve with
  * the FULL schema (internal columns, tombstone winners kept) — what
  * compaction consumes. No shuffle, O(filesPerBucket) memory per task.
  * The schema follows the snapshot's logical version, so a pre-evolution
  * snapshot reads (and rewrites) in its own era's columns. `files` (default:
  * every file of the snapshot) is the caller's selection — a fold reads
  * exactly the files it then replaces. */
private[graft] final class GraftRawTable(lake: LakeTable,
    snapshotId: Option[Long], files: Option[Seq[graft.lake.DataFile]])
  extends Table with SupportsRead {
  override def name(): String = s"graft-raw(${lake.root})"
  override def schema(): StructType = TableSchemas.forVersion(
    snapshotId.map(lake.snapshot).getOrElse(lake.currentSnapshot).schemaVersion)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScan(lake, snapshotId, raw = true, files = files)
}

object GraftRead {
  /** Raw-resolved rows of a snapshot (default current) in that snapshot's
    * logical schema, optionally restricted to a subset of its files. */
  def rawResolved(spark: SparkSession, lake: LakeTable,
      snapshotId: Option[Long] = None,
      files: Option[Seq[graft.lake.DataFile]] = None): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftBridge.readTable(spark, new GraftRawTable(lake, snapshotId, files))
}

final case class GraftBucketPartition(
    bucket: Int,
    files: Seq[(String, Long, Int)], // (absolute path, bytes, schemaVersion)
    raw: Boolean = false,
    limit: Option[Int] = None)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** The value of the reported partition transform `bucket(n, url)` for
    * every row this partition emits — what BatchScanExec groups and
    * aligns across the two sides of a storage-partitioned join. */
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

final class GraftLakeScan(lake: LakeTable, snapshotId: Option[Long],
    raw: Boolean = false, files: Option[Seq[graft.lake.DataFile]] = None)
    extends ScanBuilder with Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  /** The snapshot is resolved ONCE per scan: planInputPartitions and
    * createReaderFactory must see the same file/version set — a concurrent
    * commit (ingest, auto-maintenance) between the two calls would
    * otherwise leave the reader map missing a schema version a planned
    * partition uses, failing on executors. */
  private lazy val snap = snapshotId.map(lake.snapshot).getOrElse(lake.currentSnapshot)
  /** The files this scan may read before pruning: the caller's selection
    * (a fold's inputs) or the whole snapshot. */
  private lazy val scanFiles = files.getOrElse(snap.files)
  override def build(): Scan = this

  // --- column pruning: the k-way LWW merge always reads its resolution
  // columns (url + the (warc_ts, offset, partition) total order + the
  // tombstone flag), but payload columns a query doesn't project — above
  // all `html`, the dominant bytes of a webtext row — are never requested
  // from parquet. `required = None` = no pruning pushed (full schema).
  private var required: Option[StructType] = None
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def readSchema(): StructType = required.getOrElse(
    if (raw) TableSchemas.forVersion(snap.schemaVersion)
    else GraftSqlTable.userSchemaFor(snap.schemaVersion))
  override def description(): String =
    s"GraftLakeScan(${lake.root}${if (raw) ", raw" else ""})" +
      (if (urlKeys.nonEmpty) s" urlKeys=${urlKeys.mkString(",")}" else "") +
      tsLower.fold("") { case (lo, strict) =>
        s" tsLower${if (strict) ">" else ">="}$lo" } +
      pushedLimit.fold("")(l => s" limit=$l") +
      required.fold("")(r => s" columns=[${r.fieldNames.mkString(",")}]")
  override def toBatch: Batch = this

  // --- url point-lookup pushdown: a url equality/IN prunes to its hash
  // bucket (bucketOf == the write-time partitioner, so exactly one bucket
  // per key can hold it) and, within the bucket, to files whose manifest
  // [urlMin, urlMax] admit the key. All filters stay residual — Spark
  // re-applies them above the scan, so pruning can only skip, never lie.
  private var urlKeys: Seq[String] = Nil
  private var urlRowFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil

  // --- event-time pushdown: ONLY a lower bound on warc_ts may prune this
  // scan. The emitted rows are LWW winners (max (warc_ts, offset, partition)
  // envelope per url), and max-resolution commutes with a lower bound:
  // skipping a file whose every row is older than X either skips a url
  // entirely (its winner was older than X — the residual filter would have
  // dropped it) or promotes an older loser (also < X — residual-dropped).
  // An UPPER bound does NOT commute: skipping a file of NEWER rows would
  // un-shadow an older version (or un-delete a tombstoned url) and emit a
  // row the full read never produces — so `warc_ts <= Y` must never prune
  // here (the raw change feed, which does no resolution, may use both
  // bounds — see FeedScan). `tsLower` = (bound in epoch micros, strict).
  private var tsLower: Option[(Long, Boolean)] = None
  private var tsRowFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil

  // --- LIMIT pushdown: a bucket's drain may stop after emitting `limit`
  // winners — every row it has emitted by then IS a true final-state row
  // (winner resolution is per-url and the drain completes a url's whole
  // run before emitting it), and a LIMIT without ORDER BY is free to pick
  // any subset. Partial push: Spark keeps the global limit above, we skip
  // decoding the rest of every bucket below. Never set in raw mode
  // (maintenance reads use the DataFrame path, which plans no limit).
  private var pushedLimit: Option[Int] = None
  override def pushLimit(l: Int): Boolean = { pushedLimit = Some(l); true }

  // --- TopN pushdown: `ORDER BY url [ASC] LIMIT k` reuses the same
  // early-exit — the drain emits ascending url, so its first k rows ARE
  // the bucket's k smallest urls. Partial push: Spark merges the buckets'
  // prefixes above. NULLS FIRST (the ASC default) always matches the drain;
  // NULLS LAST only when the scan's url field is non-nullable (the table
  // writer rejects null urls, so the schema says so). Anything else (DESC,
  // other columns) declines — the drain order can't serve it.
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    val urlNullable = readSchema().find(_.name == "url").forall(_.nullable)
    val urlAsc = orders.length == 1 && (orders(0).expression() match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference =>
        r.fieldNames.sameElements(Array("url")) &&
          orders(0).direction() == SortDirection.ASCENDING &&
          (orders(0).nullOrdering() == NullOrdering.NULLS_FIRST || !urlNullable)
      case _ => false
    })
    if (urlAsc) pushedLimit = Some(limit)
    urlAsc
  }

  /** Both push interfaces: always PARTIAL — Spark keeps the global
    * limit/TopN above the per-bucket prefixes. (Required explicitly:
    * SupportsPushDownLimit and SupportsPushDownTopN each declare the
    * default, and Scala demands one override to own it.) */
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In}
    urlKeys = graft.lake.FeedSource.pushedUrlKeys(filters.toSeq)
    urlRowFilters = filters.collect {
      case f @ EqualTo("url", _: String) => f
      case f @ In("url", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) => f
    }.take(1).toSeq
    // the resolved scan uses LOWER bounds only (an upper bound would drop
    // a newer winner and un-shadow its losers); an EqualTo contributes its
    // implied inclusive lower bound — but only the BOUND, never the equality
    // (a row-level equality would drop the true winner likewise)
    tsLower = graft.lake.FeedSource.pushedTsBounds(filters.toSeq)._1
    // ALL lower-bound conjuncts go to parquet (each is individually sound;
    // row-group skipping then honors the strongest, not just the first)
    tsRowFilters = filters.toSeq.filter(graft.lake.FeedSource.pushedTsBound(_)._1.nonEmpty).map {
      case EqualTo(col, v) => GreaterThanOrEqual(col, v)
      case f => f
    }
    filters // everything residual
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = {
    val u: Seq[org.apache.spark.sql.sources.Filter] =
      if (urlKeys.isEmpty) Nil
      else Seq(org.apache.spark.sql.sources.In("url", urlKeys.toArray[Any]))
    (u ++ tsRowFilters).toArray
  }

  // --- runtime (dynamic) filtering: when this table is the probe side of
  // a join whose build side is small and selective, Spark collects the
  // build side's join keys at EXECUTION time and hands them here (the
  // Iceberg SupportsRuntimeFiltering discipline) — BatchScanExec then
  // re-plans input partitions, so `big JOIN dim ON url` scans only the
  // keys' buckets/files even though no static predicate existed. Sound for
  // the LWW resolve for the same reason static point-lookup pushdown is:
  // every version of a url lives in its one hash bucket, and within it we
  // keep every file whose bounds/bloom admit the key. Keys are
  // INTERSECTED with statically pushed ones; a key set above
  // [[GraftLakeScan.MaxRuntimeFilterKeys]] is ignored (always allowed —
  // per-key bounds+bloom checks are driver-side work that must not scale
  // with a huge build side).
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("url"))
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val keys = Some(graft.lake.FeedSource.pushedUrlKeys(filters.toSeq))
      .filter(ks => ks.nonEmpty && ks.size <= GraftLakeScan.MaxRuntimeFilterKeys)
    keys.foreach { ks =>
      val static = urlKeys
      urlKeys = if (static.isEmpty) ks else static.intersect(ks)
      // a runtime intersection that empties a static key set means the join
      // can match nothing — but an EMPTY urlKeys set here would read as "no
      // pushdown" and scan everything, so probe ONE STATIC key's bucket
      // instead of widening back to a full scan. A static key, not a runtime
      // one: its bucket is among the partitions already planned, and a
      // key-grouped scan may only drop partitions at runtime (a runtime
      // key's bucket can lie outside them, which Spark rejects). Reading it
      // is safe: the scan's rows still meet the join, whose runtime keys
      // are disjoint from every static key, so none of them match
      if (urlKeys.isEmpty) urlKeys = static.take(1)
    }
  }

  /** The post-pruning file set, per bucket — shared by partition planning,
    * [[estimateStatistics]] and [[outputPartitioning]] so Catalyst's size
    * estimate reflects exactly what this scan will read. MEMOIZED on the
    * mutable pushdown state (a plain lazy val would be wrong:
    * [[filter]] narrows `urlKeys` at execution time and the re-plan must
    * re-prune): the selection walks per-file bounds and stats bloom
    * sidecars, and the three planning callers must not triple that
    * driver-side I/O. Driver-single-threaded like the rest of the
    * pushdown state. */
  private var selMemoKey: (Seq[String], Option[(Long, Boolean)]) = _
  private var selMemoVal: Map[Int, Seq[graft.lake.DataFile]] = _
  private def selectedByBucket: Map[Int, Seq[graft.lake.DataFile]] = {
    val key = (urlKeys, tsLower)
    if (selMemoVal == null || selMemoKey != key) {
      selMemoVal = computeSelectedByBucket()
      selMemoKey = key
    }
    selMemoVal
  }

  private def computeSelectedByBucket(): Map[Int, Seq[graft.lake.DataFile]] = {
    // event-time file prune (lower bound only — see tsLower above): a file
    // whose manifest tsMax lies strictly below the bound cannot hold the
    // emitted winner of any url that survives the residual filter
    val timeAdmitted =
      if (tsLower.isEmpty) scanFiles
      else scanFiles.filter(f =>
        graft.lake.FeedSource.fileAdmitsTime(f, tsLower, hi = None))
    val byBucket = timeAdmitted.groupBy(_.bucket)
    val selected =
      if (urlKeys.isEmpty) byBucket
      else {
        val wanted: Map[Int, Seq[String]] = urlKeys
          .groupBy(u => LakeTable.bucketIdOf(u, snap.nBuckets))
        byBucket.collect {
          case (b, fs) if wanted.contains(b) =>
            b -> fs.filter(f => graft.lake.FeedSource.fileAdmits(lake.root, f, wanted(b)))
        }.filter(_._2.nonEmpty)
      }
    selected.map { case (b, fs) => b -> fs.toSeq }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    selectedByBucket.toSeq.sortBy(_._1).map { case (b, fs) =>
      GraftBucketPartition(b,
        fs.map(f => (lake.root.resolve(f.path).toString, f.bytes, f.schemaVersion)),
        raw, pushedLimit)
    }.toArray
  }

  // --- the read-side partitioning contract: each input partition is ONE
  // url-hash bucket (`bucket(nBuckets, url)` — resolved against the
  // catalog's function, see [[GraftBucketFunction]]), and within it rows
  // drain in ascending url order (the k-way merge pops the minimum url —
  // UTF8String comparison, identical to Spark's StringType sort order).
  // Reporting both makes graft⋈graft on url a storage-partitioned join
  // with ZERO Exchange and ZERO Sort on either side, and a groupBy(url)
  // aggregation shuffle-free (`spark.sql.sources.v2.bucketing.enabled`).
  // Under column pruning that drops url the rule can't resolve the
  // references and quietly claims nothing — a query that doesn't project
  // url can't join or group on it anyway.
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
        snap.nBuckets, "url")),
      selectedByBucket.size)

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column("url"),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))

  /** Manifest-exact scan statistics (O(1), no file opens) so Catalyst can
    * plan broadcast joins against graft tables: without this, DSv2 falls
    * back to `spark.sql.defaultSizeInBytes` (effectively infinite) and a
    * join against even a tiny dimension-sized graft table sort-merges.
    * Reported AFTER pushdown over the pruned file set — a point lookup
    * reports its one bucket's admitted files, so `big JOIN t ON url='x'`
    * subqueries broadcast. Both numbers are upper bounds for the resolved
    * read (LWW emits ≤ stored rows; column pruning reads ≤ file bytes) —
    * upper bounds can only make Catalyst broadcast LESS, never OOM it. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val fs = selectedByBucket.values.flatten
    val bytes = fs.iterator.map(_.bytes).sum
    val rows = fs.iterator.map(_.rowCount).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  /** Built ONCE per scan: Spark asks for the factory while planning
    * (`supportsColumnar`) and again from the executed `BatchScanExec`. It
    * depends only on the static pushdown state (the pruned schema,
    * `urlRowFilters`, `tsRowFilters`); runtime filtering changes none of it. */
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  private lazy val readerFactory: PartitionReaderFactory = {
    val out = readSchema()
    // the merge reader's WORKING schema: the projected columns plus the
    // always-needed resolution internals, in the logical layout's order
    val logical = TableSchemas.forVersion(snap.schemaVersion)
    val scanSchema = StructType(logical.fields.filter(f =>
      out.fieldNames.contains(f.name) ||
        GraftBucketReader.MergeInternals.contains(f.name)))
    // same snapshot object as planInputPartitions (see `snap`). Row-group/
    // page-level skipping INSIDE admitted files uses the same sound-for-LWW
    // set the file prune uses: url equality/IN (other urls' rows never
    // affect a looked-up url's winner) and the warc_ts LOWER bound (losers
    // it drops lose anyway; winners it drops are residual-filtered).
    // Parquet quietly skips the predicate on files whose physical type
    // can't evaluate it (legacy INT96) — both columns exist in every
    // schema version.
    val readers = GraftBucketReader.parquetReaders(SparkSession.active, scanSchema,
      scanFiles.map(_.schemaVersion), urlRowFilters ++ tsRowFilters)
    new GraftBucketReaderFactory(readers, scanSchema, out)
  }
}

object GraftLakeScan {
  /** Runtime-filter key ceiling: per-key bounds/bloom admission is
    * driver-side work, so a huge build side must degrade to "no dynamic
    * prune" (sound) rather than an O(keys × files) planning stall. */
  val MaxRuntimeFilterKeys = 10000
}

final class GraftBucketReaderFactory(
    readers: Map[Int, GraftBucketReader.FileReader],
    scanSchema: StructType, outSchema: StructType)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketPartition]
    new GraftBucketReader(p, readers, scanSchema, outSchema)
  }
}

object GraftBucketReader {
  /** Columns the k-way LWW merge itself consumes — always read, whatever
    * the projection: the group key, the winner total order, and the
    * tombstone flag. */
  val MergeInternals: Set[String] =
    Set("url", "_deleted") ++ graft.lake.Resolve.OrderCols

  /** One schema version's parquet reader: opens one file at a time with
    * Spark's `VectorizedParquetRecordReader`, step for step as the per-file
    * closure of Spark's V1 `ParquetFileFormat` reader does, but without
    * that builder's conf broadcast per call: the conf is the session's cached
    * broadcast ([[SessionHadoopConf]]), and the per-query state — the
    * requested columns and the pushed filters — travels in this object. */
  final class FileReader private[GraftBucketReader] (
      conf: Broadcast[SerializableConfiguration], s: ReadSettings,
      requiredJson: String, filters: Seq[org.apache.spark.sql.sources.Filter])
    extends Serializable {

    /** Rows (not batches) of the parquet file at `path`, `bytes` long. The
      * reader closes itself once drained and at the end of the task that
      * opened it, so a fold that stops early (a pushed LIMIT) leaves no
      * file open. */
    def open(path: String, bytes: Long): Iterator[InternalRow] = {
      val file = PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L, bytes)
      val shared = conf.value.value
      val opened = ParquetFooterReader.openFileAndReadFooter(shared, file, true)
      var handedOver = false // once initialized, the reader owns the stream
      try {
        val meta = opened.footer.getFileMetaData
        val kv = meta.getKeyValueMetaData
        val dtRebase = DataSourceUtils.datetimeRebaseSpec(kv.get(_), s.datetimeRebaseMode)
        val int96Rebase = DataSourceUtils.int96RebaseSpec(kv.get(_), s.int96RebaseMode)
        // filters bind against this file's own footer schema
        val pushed =
          if (!s.pushDown) None
          else {
            val pf = new ParquetFilters(meta.getSchema, s.pushDownDate, s.pushDownTimestamp,
              s.pushDownDecimal, s.pushDownStringPredicate, s.pushDownInThreshold,
              s.caseSensitive, dtRebase)
            filters.flatMap(pf.createFilter(_)).reduceOption(FilterApi.and)
          }
        val convertTz =
          if (s.int96Conversion && !meta.getCreatedBy.startsWith("parquet-mr"))
            DateTimeUtils.getZoneId(shared.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
          else null
        // the context COPIES the shared conf: the per-query keys go on the copy
        val ctx = new TaskAttemptContextImpl(shared,
          new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
        ctx.getConfiguration.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requiredJson)
        ctx.getConfiguration.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requiredJson)
        pushed.foreach(ParquetInputFormat.setFilterPredicate(ctx.getConfiguration, _))
        val task = Option(TaskContext.get())
        val reader = new VectorizedParquetRecordReader(convertTz,
          dtRebase.mode.toString, dtRebase.timeZone,
          int96Rebase.mode.toString, int96Rebase.timeZone,
          s.offHeap && task.isDefined, s.batchSize)
        val rows = new RecordReaderIterator[InternalRow](
          reader.asInstanceOf[org.apache.hadoop.mapreduce.RecordReader[Void, InternalRow]])
        try {
          reader.initialize(new FileSplit(file.toPath, 0L, bytes, Array.empty[String]), ctx,
            Some(opened.inputFile), Some(opened.inputStream), Some(opened.footer))
          handedOver = true
          reader.initBatch(new StructType(), InternalRow.empty)
        } catch { case e: Throwable => rows.close(); throw e }
        task.foreach(_.addTaskCompletionListener[Unit](_ => rows.close()))
        rows
      } finally if (!handedOver) opened.inputStream.close()
    }
  }

  /** The session's parquet read settings, taken on the driver, where the
    * session's `SQLConf` lives, as Spark's own closure takes them. */
  private[GraftBucketReader] final case class ReadSettings(offHeap: Boolean,
      int96Conversion: Boolean, batchSize: Int, pushDown: Boolean,
      pushDownDate: Boolean, pushDownTimestamp: Boolean, pushDownDecimal: Boolean,
      pushDownStringPredicate: Boolean, pushDownInThreshold: Int, caseSensitive: Boolean,
      datetimeRebaseMode: String, int96RebaseMode: String)

  private object ReadSettings {
    def of(c: SQLConf): ReadSettings = {
      val o = new ParquetOptions(Map.empty[String, String], c)
      ReadSettings(c.offHeapColumnVectorEnabled, c.isParquetINT96TimestampConversion,
        c.parquetVectorizedReaderBatchSize, c.parquetFilterPushDown,
        c.parquetFilterPushDownDate, c.parquetFilterPushDownTimestamp,
        c.parquetFilterPushDownDecimal, c.parquetFilterPushDownStringPredicate,
        c.parquetFilterPushDownInFilterThreshold, c.caseSensitiveAnalysis,
        o.datetimeRebaseModeInRead, o.int96RebaseModeInRead)
    }
  }

  /** The session's resolved Hadoop conf (`newHadoopConf` plus the
    * session-wide parquet read keys Spark's `ParquetFileFormat` sets) as
    * ONE broadcast per SparkContext, rebuilt only when its content changes:
    * the key is the context's Hadoop conf entries and the session's set SQL
    * confs, exactly what `newHadoopConf` merges. One slot, so the cache
    * cannot grow: a changed conf or a new context replaces it, and Spark's
    * ContextCleaner reclaims the old broadcast. */
  private object SessionHadoopConf {
    /** (Hadoop conf entries, set SQL confs) */
    private type Key = (Map[String, String], Map[String, String])
    private var slot: (SparkContext, Key, Broadcast[SerializableConfiguration]) = _

    def apply(spark: SparkSession): Broadcast[SerializableConfiguration] = synchronized {
      val sc = spark.sparkContext
      val key: Key = (sc.hadoopConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap,
        spark.sessionState.conf.getAllConfs)
      if (slot == null || (slot._1 ne sc) || slot._2 != key) {
        val conf = spark.sessionState.newHadoopConf()
        val c = spark.sessionState.conf
        // the requested schema is per query: each file's context sets it
        conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
        conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, c.sessionLocalTimeZone)
        Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> c.nestedSchemaPruningEnabled,
          SQLConf.CASE_SENSITIVE -> c.caseSensitiveAnalysis,
          SQLConf.PARQUET_BINARY_AS_STRING -> c.isParquetBinaryAsString,
          SQLConf.PARQUET_INT96_AS_TIMESTAMP -> c.isParquetINT96AsTimestamp,
          SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> c.parquetInferTimestampNTZEnabled,
          SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> c.legacyParquetNanosAsLong,
          SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
            c.parquetReaderRespectUnknownTypeAnnotation)
          .foreach { case (e, v) => conf.setBoolean(e.key, v) }
        slot = (sc, key, sc.broadcast(new SerializableConfiguration(conf)))
      }
      slot._3
    }
  }

  /** One parquet reader per physical schema version among `versions`, each
    * requesting only the columns of `scanSchema` (the reader's working
    * layout) that its version physically holds, with `filters` pushed into
    * parquet: row groups, and pages through the column index, whose
    * statistics exclude them are never decoded. The engine's one parquet
    * reader builder. */
  def parquetReaders(spark: SparkSession, scanSchema: StructType,
      versions: Seq[Int], filters: Seq[org.apache.spark.sql.sources.Filter])
      : Map[Int, FileReader] = {
    val conf = SessionHadoopConf(spark)
    val settings = ReadSettings.of(spark.sessionState.conf)
    versions.distinct.map { v =>
      val phys = TableSchemas.forVersion(v)
      v -> new FileReader(conf, settings, StructType(physRequired(scanSchema, v)).json,
        // a version's reader gets only the filters its columns can bind
        filters.filter(_.references.forall(phys.fieldNames.contains(_))))
    }.toMap
  }

  /** The columns of `target` a version-`v` file physically holds, with
    * their physical types, in `target` order: what its parquet reader
    * returns. */
  private def physRequired(target: StructType, v: Int): Array[StructField] = {
    val phys = TableSchemas.forVersion(v)
    target.fields.filter(f => phys.fieldNames.contains(f.name))
      .map(f => phys.fields(phys.fieldNames.indexOf(f.name)))
  }

  /** Align a version-`v` row from its [[parquetReaders]] reader to
    * `target`: widen-cast present columns, null-fill added ones, and take
    * `synthetic` columns (not stored in files) from their expressions. */
  def alignProj(target: StructType, v: Int,
      synthetic: Map[String, Expression] = Map.empty): UnsafeProjection = {
    val phys = physRequired(target, v)
    val exprs: Seq[Expression] = target.fields.toSeq.map { f =>
      val i = phys.indexWhere(_.name == f.name)
      if (synthetic.contains(f.name)) synthetic(f.name)
      else if (i < 0) Literal.create(null, f.dataType)
      else {
        val br = BoundReference(i, phys(i).dataType, phys(i).nullable)
        if (phys(i).dataType == f.dataType) br
        else Cast(br, f.dataType, Some("UTC"))
      }
    }
    UnsafeProjection.create(exprs.toArray)
  }
}

/** Streaming k-way LWW merge over one bucket's url-sorted files: the one
  * fold of stored files, behind every SQL read (`LakeTable.read` included),
  * every compaction and tier fold, and the COW merge
  * ([[graft.plans.BucketMergeExec]]), which passes its bucket's url-sorted
  * batch winners, already in `scanSchema`'s layout, as `batch`: one more
  * input after the files, so a tie keeps the stored row. */
final class GraftBucketReader(
    p: GraftBucketPartition,
    readers: Map[Int, GraftBucketReader.FileReader],
    scanSchema: StructType, outSchema: StructType,
    batch: Option[Iterator[InternalRow]] = None)
  extends PartitionReader[InternalRow] {

  // the WORKING layout (projected columns + merge internals, pruned —
  // see createReaderFactory): rows align to it in the SNAPSHOT's logical
  // column order; a pre-evolution snapshot presents its own era's columns;
  // files can never be newer than their snapshot, so alignment only
  // widens/null-fills
  private val full = scanSchema
  private def idx(n: String) = full.fieldNames.indexOf(n)
  private val urlIdx = idx("url")
  private val tsIdx = idx("warc_ts")
  private val offIdx = idx("_seq_offset")
  private val partIdx = idx("_seq_part")
  private val delIdx = idx("_deleted")

  // per-file iterators, each aligned with its OWN projection instance so the
  // heads (one live row per file) occupy distinct buffers
  private val its: Array[Iterator[InternalRow]] = p.files.toArray.map { case (path, bytes, v) =>
    val proj = GraftBucketReader.alignProj(full, v)
    readers(v).open(path, bytes).map(proj)
  } ++ batch
  private val heads: Array[InternalRow] = its.map(it => if (it.hasNext) it.next() else null)

  // raw mode (compaction/maintenance) keeps tombstone winners; user mode
  // drops them. Either way the emitted columns are EXACTLY outSchema (the
  // pruned projection readSchema() declared), in its order.
  private val outIdxs = outSchema.fieldNames.map(idx)
  private val outProj = UnsafeProjection.create(
    outIdxs.map { srcIdx =>
      BoundReference(srcIdx, full.fields(srcIdx).dataType, full.fields(srcIdx).nullable): Expression
    })

  private var current: InternalRow = _
  // pushed LIMIT: stop draining once this partition has emitted its quota
  // (every already-emitted row is a complete, true winner — see pushLimit)
  private var emitted = 0L

  override def next(): Boolean = {
    if (p.limit.exists(emitted >= _)) return false
    while (true) {
      // min url among live heads (unsigned UTF-8 byte order == sort order)
      var minI = -1
      var i = 0
      while (i < heads.length) {
        if (heads(i) != null &&
          (minI < 0 || heads(i).getUTF8String(urlIdx).compareTo(heads(minI).getUTF8String(urlIdx)) < 0))
          minI = i
        i += 1
      }
      if (minI < 0) return false
      // membership is recorded BEFORE any advance: `u` is a view into
      // heads(minI)'s projection buffer, which the advance overwrites
      val u = heads(minI).getUTF8String(urlIdx)
      val inGroup = new Array[Boolean](heads.length)
      inGroup(minI) = true
      var winner = heads(minI)
      var j = minI + 1
      while (j < heads.length) {
        if (heads(j) != null && heads(j).getUTF8String(urlIdx).compareTo(u) == 0) {
          inGroup(j) = true
          if (graft.lake.Resolve.newerRow(heads(j), winner, tsIdx, offIdx, partIdx)) winner = heads(j)
        }
        j += 1
      }
      // materialize BEFORE any advance; from here the fold state is the
      // projected row plus primitives, so head buffers are free to move.
      // The group url is CLONED to its own buffer (the output row may not
      // contain url at all under column pruning) — constant for the whole
      // run, immune to head advances
      current = outProj(winner)
      var bTs = winner.getLong(tsIdx)
      var bOff = winner.getLong(offIdx)
      var bPart = winner.getInt(partIdx)
      var deleted = winner.getBoolean(delIdx)
      val curUrl = u.clone()
      // advance every in-group file PAST its url run, folding run rows: a
      // file may hold several versions of one url (a multi-batch increment
      // written without per-url dedup), and correctness must not depend on
      // the one-version-per-file writer invariant — a missed run row here
      // leaks a shadowed live row past its tombstone (user mode) or writes
      // duplicate versions into compaction output (raw mode)
      var k = 0
      while (k < heads.length) {
        if (inGroup(k)) {
          heads(k) = if (its(k).hasNext) its(k).next() else null
          while (heads(k) != null && heads(k).getUTF8String(urlIdx).compareTo(curUrl) == 0) {
            val h = heads(k)
            val ts = h.getLong(tsIdx); val off = h.getLong(offIdx); val pt = h.getInt(partIdx)
            if (graft.lake.Resolve.newer(ts, off, pt, bTs, bOff, bPart)) {
              current = outProj(h)
              bTs = ts; bOff = off; bPart = pt
              deleted = h.getBoolean(delIdx)
            }
            heads(k) = if (its(k).hasNext) its(k).next() else null
          }
        }
        k += 1
      }
      if (p.raw || !deleted) { emitted += 1; return true }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
