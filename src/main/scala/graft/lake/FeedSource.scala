package graft.lake

import java.nio.file.{Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-feed`: a Structured Streaming SOURCE over a graft table's change
  * feed — the outgoing half of the CDC story (≙ Delta's `readStream` on a
  * table / Iceberg changelog scan). Downstream consumers tail a table's
  * COMMITTED snapshots as micro-batches, which chains pipelines: table A's
  * ingest stream feeds table B's derived stream with exactly-once semantics
  * end to end (A's snapshot ids are the feed's offsets; B's checkpoint
  * replays a span deterministically because the file set of `(from, to]`
  * is a pure function of A's retained snapshot chain). The same provider
  * also serves one-shot BATCH change reads (`spark.read.format
  * ("graft-feed")` — the Delta `table_changes` shape; see
  * [[FeedScan.toBatch]] for the batch option semantics), and the engine's
  * raw reads of stored rows ride the same scan: [[LakeTable.readFiles]],
  * and with it `readIncrement` and `readRaw`, is this batch read over the
  * caller's file selection, so a table's data files have one reader.
  *
  * Emitted rows are the PHYSICAL table rows — user columns plus the
  * engine's envelope (`_seq_part`, `_seq_offset`, `_deleted`) and a
  * `_feed_snapshot` column (the snapshot that committed the row). Under
  * merge-on-read each snapshot's delta files are exactly its post-dedup
  * winners, so the feed is precise: one row per (url, batch) winner,
  * tombstones included. Under copy-on-write a commit rewrites whole
  * buckets, so the feed RE-EMITS unchanged rows of rewritten buckets —
  * amplified but still convergent for any LWW consumer, because every row
  * keeps its original envelope and re-applying a loser is a no-op.
  *
  * Offsets: `{"snapshotId": N, "full": bool}`. `full=true` marks the
  * initial-state batch still pending: the first micro-batch emits ALL
  * files of the start snapshot (the resolved state, raw), then increments
  * follow. Options:
  *
  *  - `path` (required): table root.
  *  - `fromSnapshot` = `full` (default: current state as batch 0, then
  *    changes) | `latest` (changes after the current snapshot only) |
  *    `genesis` (replay the whole retained chain from snapshot 0 — fails
  *    loudly if the head of the chain was expired) | an explicit snapshot
  *    id (changes strictly AFTER it).
  *  - `maxSnapshotsPerBatch` (default 0 = unbounded): admission control —
  *    cap how many source snapshots one micro-batch folds together
  *    (counting maintenance snapshots, which add no rows).
  *  - `pin` (default true): hold an owned lease on the stream's cursor
  *    snapshot, advanced on every epoch commit, so the table's snapshot
  *    expiry retains the feed's forward span (the lease discipline of
  *    [[graft.ops.Curate.startCuratedStream]]). The owner tag derives from
  *    the checkpoint location; a restart re-leases and then drops its
  *    crashed predecessors' orphans. `stop()` leaves the lease in place by
  *    design — retention for the consumer's return; `pinOwner` overrides
  *    the tag (`[A-Za-z0-9_]+`).
  *  - `lineageToken`: key under which `planInputPartitions` records each
  *    batch's snapshot span in [[graft.binlog.BinlogLineage]] (partition
  *    [[FeedSource.LineagePartition]]) — [[graft.cdc.Mirror]] reads it back
  *    inside `foreachBatch` to stamp honest feed-domain lineage on the
  *    destination table without an extra data pass.
  *
  * Contracts, all fail-loud rather than silently wrong:
  *  - SCHEMA PINNED AT START: rows align to the table's schema version at
  *    stream (re)start; when the table evolves past it mid-stream, the
  *    stream fails with restart guidance (a restart re-pins the new
  *    version — the checkpoint replays the in-flight span under it, which
  *    only widens/null-fills).
  *  - ROLLBACK: a [[LakeTable.rollbackTo]] snapshot in the span fails the
  *    stream — downstream state derived from the rolled-back span must be
  *    re-seeded (restart with `fromSnapshot` = the rollback snapshot, or
  *    `full` against a fresh destination).
  *  - EXPIRED SPAN: a broken parent chain (snapshots GC'd under an
  *    unpinned consumer) fails the stream with the pin guidance.
  */
class FeedSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-feed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-feed requires option 'path' (table root)"))
    FeedSource.schemaFor(LakeTable.load(Paths.get(root)).currentSnapshot.schemaVersion)
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    FeedTable(properties.get("path"))
}

object FeedSource {
  /** Reserved lineage partition for feed-domain coverage runs stamped on a
    * MIRRORED table's batch markers: the covered "offsets" are SOURCE
    * SNAPSHOT IDS, not binlog offsets — a distinct domain, like bootstrap's
    * reserved (−1,−1) envelope. Contiguous runs here are the feed's
    * gap-free chain. Never point [[graft.binlog.Retention]] at a mirror
    * using these runs as a binlog horizon. */
  val LineagePartition: Int = -2

  /** The feed's row schema for a pinned table-schema version: the physical
    * table layout plus the snapshot the row was emitted FOR — the
    * committing snapshot on incremental batches; on a full-state batch
    * (`fromSnapshot=full`) every row carries the attach snapshot id, the
    * state it is a member of (per-snapshot attribution of pre-attach
    * history is not reconstructable from a state dump — use
    * `fromSnapshot=genesis` for that). */
  def schemaFor(version: Int): StructType =
    StructType(TableSchemas.forVersion(version).fields :+
      StructField("_feed_snapshot", LongType, nullable = false))

  /** The span walk behind every feed read (the batch scan, the micro-batch
    * stream and [[LakeTable.readIncrement]]): each file with the snapshot
    * it is emitted for — when `full`, every file of `from`'s state (tagged
    * `from`), then the files each snapshot in `(from, to]` added
    * ([[LakeTable.incrementFilesBySnapshot]]). */
  private[lake] def spanFiles(table: LakeTable, from: Long, to: Long,
      full: Boolean): Seq[(Long, DataFile)] =
    (if (full) table.snapshot(from).files.map(from -> _) else Nil) ++
      (if (to == from) Nil
       else table.incrementFilesBySnapshot(from, to).flatMap { case (id, fs) => fs.map(id -> _) })

  /** A span's input partitions, one per file `admit` keeps. Fails loudly
    * when the span committed files past the pinned schema version. */
  private[lake] def planPartitions(root: Path, files: Seq[(Long, DataFile)],
      pinnedVersion: Int)(admit: DataFile => Boolean): Seq[FeedInputPartition] = {
    files.find(_._2.schemaVersion > pinnedVersion).foreach { case (id, f) =>
      throw new IllegalStateException(
        s"feed pinned table schema v$pinnedVersion but snapshot $id committed " +
          s"file ${f.path} at v${f.schemaVersion}: the table evolved past the " +
          "stream's schema — restart the stream to re-pin (the checkpoint " +
          "replays the in-flight span under the new, wider schema)")
    }
    files.collect { case (id, f) if admit(f) =>
      FeedInputPartition(root.resolve(f.path).toString, f.bytes, f.rowCount, f.schemaVersion, id)
    }
  }

  /** Wire format for the streaming `urlKeys` option: a JSON string array
    * (urls can contain any delimiter a naive join would pick). */
  def encodeUrlKeys(keys: Seq[String]): String = {
    val m = new ObjectMapper()
    val arr = m.createArrayNode()
    keys.foreach(arr.add)
    m.writeValueAsString(arr)
  }

  private[lake] def parseUrlKeys(opt: Option[String]): Seq[String] =
    opt.filter(_.nonEmpty).map { s =>
      val node = new ObjectMapper().readTree(s)
      require(node.isArray, s"urlKeys must be a JSON string array, got: $s")
      (0 until node.size()).map(node.get(_).asText())
    }.getOrElse(Nil)

  /** Conservative per-file url-key admission, shared by the feed and the
    * resolved lake scan (`GraftLakeScan`): a file is skipped only when NO
    * key fits its manifest [urlMin, urlMax] or its bloom sidecar (when
    * present) proves absence. Pruning can only skip, never lie — the
    * query's filter is still applied above the scan. */
  private[graft] def fileAdmits(root: Path, f: DataFile, keys: Seq[String]): Boolean =
    keys.isEmpty || {
      val admitted = keys.filter(u =>
        f.urlMax == LakeTable.NoStatsMax ||
          (LakeTable.compareUtf8(f.urlMin, u) <= 0 &&
            LakeTable.compareUtf8(u, f.urlMax) <= 0))
      admitted.nonEmpty && Bloom.mightContainAny(root.resolve(f.path), admitted)
    }

  /** Url keys of the first pushed `url` equality or IN, the keys
    * [[fileAdmits]] prunes by; empty when none is pushed. Null IN entries
    * never match the non-null key and are dropped. Shared by the feed, the
    * resolved lake scan and its runtime filter. */
  private[graft] def pushedUrlKeys(filters: Seq[Filter]): Seq[String] =
    filters.collectFirst {
      case EqualTo("url", v: String) => Seq(v)
      case In("url", vs) if vs.nonEmpty && vs.forall(v => v == null || v.isInstanceOf[String]) =>
        vs.toSeq.collect { case s: String => s }
    }.getOrElse(Nil)

  /** One pushed `warc_ts` comparison as `(lower, upper)` bounds, each
    * `(micros, strict)`: an equality bounds both sides, a literal that is
    * no timestamp ([[LakeTable.tsLiteralMicros]]) bounds neither. */
  private[graft] def pushedTsBound(f: Filter): (Option[(Long, Boolean)], Option[(Long, Boolean)]) = {
    def at(v: Any, strict: Boolean) = LakeTable.tsLiteralMicros(v).map((_, strict))
    f match {
      case GreaterThan("warc_ts", v) => (at(v, true), None)
      case GreaterThanOrEqual("warc_ts", v) => (at(v, false), None)
      case LessThan("warc_ts", v) => (None, at(v, true))
      case LessThanOrEqual("warc_ts", v) => (None, at(v, false))
      case EqualTo("warc_ts", v) => (at(v, false), at(v, false))
      case _ => (None, None)
    }
  }

  /** The strongest pushed `warc_ts` bounds, `(lower, upper)`, across the
    * conjuncts (Spark hands top-level AND legs as separate entries). */
  private[graft] def pushedTsBounds(filters: Seq[Filter])
      : (Option[(Long, Boolean)], Option[(Long, Boolean)]) = {
    val bounds = filters.map(pushedTsBound)
    (bounds.flatMap(_._1).sortBy(l => (-l._1, !l._2)).headOption,
      bounds.flatMap(_._2).sortBy(h => (h._1, !h._2)).headOption)
  }

  /** Event-time file admission for the feed's BATCH scan. The feed emits
    * RAW change rows (no LWW resolution), so — unlike the resolved lake
    * scan, where only a lower bound commutes with winner resolution — BOTH
    * bounds prune soundly here: a file is skipped only when its manifest
    * [tsMin, tsMax] proves no row can satisfy the pushed range, and the
    * query's own filter is still re-applied above the scan. Unbounded
    * sentinels (pre-stats manifests, stat-less footers) always admit. */
  private[graft] def fileAdmitsTime(f: DataFile,
      lo: Option[(Long, Boolean)], hi: Option[(Long, Boolean)]): Boolean = {
    val loOk = lo.forall { case (x, strict) =>
      f.tsMaxMicros == DataFile.NoTsMax ||
        (if (strict) f.tsMaxMicros > x else f.tsMaxMicros >= x)
    }
    val hiOk = hi.forall { case (y, strict) =>
      f.tsMinMicros == DataFile.NoTsMin ||
        (if (strict) f.tsMinMicros < y else f.tsMinMicros <= y)
    }
    loOk && hiOk
  }

  /** Driver-built parquet reader closures, one per schema version among
    * the span's files — the bucket scan's own readers
    * ([[graft.sql.GraftBucketReader.parquetReaders]]). `required` is the
    * PRUNED output schema (column-pruning pushdown —
    * [[FeedScan.pruneColumns]]): each version's parquet reader requests only
    * the required columns it physically holds, so a projection that skips
    * `html` never decodes the payload pages — at web scale the payload IS
    * the scan cost. Row-group/page skipping inside admitted files: the feed
    * emits raw rows with the query's filter re-applied above, so any pushed
    * url/warc_ts predicate is sound here. */
  private[lake] def readerFactory(versions: Seq[Int], required: StructType,
      rowFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): FeedReaderFactory =
    new FeedReaderFactory(graft.sql.GraftBucketReader.parquetReaders(
      SparkSession.active, required, versions, rowFilters), required)
}

/** The change feed of the table at `root`, pinned at schema version
  * `pinnedVersion`. `files`, when given, is a fixed span (each file with the
  * snapshot it is emitted for) that a batch read returns in place of the
  * option-selected one — [[LakeTable.readFiles]]' relation, which is never
  * streamed. */
final class FeedTable private[lake] (root: Path, pinnedVersion: Int,
    files: Option[Seq[(Long, DataFile)]]) extends Table with SupportsRead {
  override def name(): String = s"graft-feed($root)"
  override def schema(): StructType = FeedSource.schemaFor(pinnedVersion)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FeedScan(root, pinnedVersion, options, files)
}

object FeedTable {
  /** The change feed of the table at `rootPath`, pinned at its current
    * schema version. */
  def apply(rootPath: String): FeedTable = {
    require(rootPath != null, "graft-feed requires option 'path' (table root)")
    val root = Paths.get(rootPath)
    new FeedTable(root, LakeTable.load(root).currentSnapshot.schemaVersion, None)
  }
}

final class FeedScan(root: Path, pinnedVersion: Int, options: CaseInsensitiveStringMap,
    files: Option[Seq[(Long, DataFile)]])
    extends ScanBuilder with Scan with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def build(): Scan = this

  // --- url point-history pushdown ("every change to url X"): an equality/
  // IN on url prunes the span's FILES by manifest bounds + bloom sidecars
  // (FeedSource.fileAdmits). All filters stay residual — Spark re-applies
  // them above the scan, so pruning can only skip, never lie. Streaming
  // mirrors get the same pruning via the `urlKeys` option (Spark does not
  // push filters into micro-batch scans) — see graft.cdc.Mirror.
  private var urlKeys: Seq[String] = Nil
  // event-time range pushdown: the feed emits RAW rows (no LWW resolve),
  // so BOTH warc_ts bounds prune soundly — at file granularity via the
  // manifest [tsMin, tsMax] (FeedSource.fileAdmitsTime) and at row-group
  // granularity via the forwarded parquet predicates. (bound micros, strict)
  private var tsLo: Option[(Long, Boolean)] = None
  private var tsHi: Option[(Long, Boolean)] = None
  private var tsRowFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    urlKeys = FeedSource.pushedUrlKeys(filters.toSeq)
    val (lo, hi) = FeedSource.pushedTsBounds(filters.toSeq)
    tsLo = lo
    tsHi = hi
    tsRowFilters = filters.toSeq.filter(f => FeedSource.pushedTsBound(f) != ((None, None)))
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = {
    val u: Seq[org.apache.spark.sql.sources.Filter] =
      if (urlKeys.isEmpty) Nil
      else Seq(org.apache.spark.sql.sources.In("url", urlKeys.toArray[Any]))
    (u ++ tsRowFilters).toArray
  }

  /** Column-pruning pushdown: a `$changes` projection that skips `html`
    * must never decode the payload pages (the dominant bytes of a webtext
    * row). The pruned schema drives both the parquet readers' required
    * columns and the emitted row shape; `_feed_snapshot` is synthesized
    * only when asked for. */
  private var required: StructType = FeedSource.schemaFor(pinnedVersion)
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftFeedScan($root, columns=[${required.fieldNames.mkString(",")}])" +
      (if (urlKeys.nonEmpty) s" urlKeys=${urlKeys.mkString(",")}" else "") +
      tsLo.fold("") { case (x, s) => s" ts${if (s) ">" else ">="}$x" } +
      tsHi.fold("") { case (y, s) => s" ts${if (s) "<" else "<="}$y" }

  /** BATCH mode — the `table_changes` shape (Delta CDF / Iceberg changelog
    * scan): `spark.read.format("graft-feed")` returns the physical winner
    * rows committed in the snapshot span `(fromSnapshot, toSnapshot]` with
    * their envelopes + `_feed_snapshot`, one DataFrame, no checkpoint.
    * `fromSnapshot` = `genesis` (default: every retained change) | a
    * snapshot id; `full` = the resolved state AT `toSnapshot` instead of a
    * change span (a raw snapshot dump). `toSnapshot` defaults to the
    * current snapshot, resolved at the planning of EACH action — pass an
    * explicit `toSnapshot` when two actions on one DataFrame must see the
    * same span on a table that keeps committing. Like every other batch
    * read of a graft table, the scan holds no GC lease: against a
    * concurrently-expiring table, [[LakeTable.pin]] the span base for the
    * job's duration (the read-under-pin discipline of
    * [[LakeTable.pinCurrent]]). The streaming guards apply unchanged:
    * rollback in
    * the span, expired parents, and schema evolution past the pin all fail
    * loudly (see [[LakeTable.incrementFilesBySnapshot]]). LWW-resolving
    * the emitted rows ([[Resolve.lww]]) reproduces the table state at
    * `toSnapshot` — graded by oracle `cdc_table_changes`. */
  /** `fromTimestamp` (epoch millis, or an ISO-8601 instant like
    * `2026-08-19T12:00:00Z`) resolved to the attach snapshot via the
    * monotonic commit stamps: the feed then emits exactly the changes
    * committed STRICTLY AFTER that wall-clock point (Delta CDF
    * `startingTimestamp`). Mutually exclusive with `fromSnapshot`; a
    * timestamp older than every retained stamped snapshot fails loudly
    * (the span may have been expired). */
  private def fromTimestampMs: Option[Long] =
    Option(options.get("fromTimestamp")).map { s =>
      require(options.get("fromSnapshot") == null,
        "pass fromSnapshot or fromTimestamp, not both")
      s.toLongOption.getOrElse(java.time.Instant.parse(s).toEpochMilli)
    }

  /** The batch span's input partitions after pruning — shared by
    * [[toBatch]] and [[estimateStatistics]] so the size estimate reflects
    * what the scan will actually read. A fixed `files` span ignores the
    * span options. */
  private def batchPartitions(): Seq[FeedInputPartition] = {
    val span = files.getOrElse {
      val table = LakeTable.load(root)
      val to = Option(options.get("toSnapshot")).map(_.toLong)
        .getOrElse(table.currentSnapshotId)
      fromTimestampMs.map(ms => table.snapshotAsOfTimestampMs(ms).toString)
        .orElse(Option(options.get("fromSnapshot"))).getOrElse("genesis") match {
        case "full" => FeedSource.spanFiles(table, to, to, full = true)
        case "latest" => throw new IllegalArgumentException(
          "fromSnapshot=latest is a streaming attach point; batch change " +
            "reads take 'genesis', 'full' or a snapshot id")
        case s =>
          val from = if (s == "genesis") 0L else try s.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"fromSnapshot must be 'genesis', 'full' or a snapshot id for batch reads; got '$s'")
          }
          require(to >= from, s"toSnapshot $to < fromSnapshot $from")
          FeedSource.spanFiles(table, from, to, full = false)
      }
    }
    FeedSource.planPartitions(root, span, pinnedVersion)(f =>
      FeedSource.fileAdmits(root, f, urlKeys) && FeedSource.fileAdmitsTime(f, tsLo, tsHi))
  }

  override def toBatch: Batch =
    new FeedBatch(batchPartitions().toArray, required, pushedFilters().toSeq)

  /** Manifest-exact statistics over the pruned span (see
    * [[GraftLakeScan.estimateStatistics]] for the rationale). Defensive:
    * this scan object also serves STREAMING relations, where the batch
    * span doesn't resolve (`fromSnapshot=latest`, guards may fire) — stats
    * must degrade to "unknown", never throw, or they'd kill a stream at
    * plan time. */
  // computed ONCE per Scan instance: a STREAMING relation re-requests stats
  // on every micro-batch's fresh plan while reusing this Scan, and the span
  // walk (manifest load + per-snapshot increments) must not become a
  // per-batch planning tax; an estimate going stale as the span grows is
  // harmless (stats are bounds for join planning, not correctness)
  private lazy val statsEstimate: Option[(Long, Long)] = try {
    val ps = batchPartitions()
    Some((ps.iterator.map(_.bytes).sum, ps.iterator.map(_.rows).sum))
  } catch { case _: Exception => None }
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        statsEstimate.fold(java.util.OptionalLong.empty())(e => java.util.OptionalLong.of(e._1))
      override def numRows(): java.util.OptionalLong =
        statsEstimate.fold(java.util.OptionalLong.empty())(e => java.util.OptionalLong.of(e._2))
    }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FeedMicroBatchStream(root, pinnedVersion,
      // fromTimestamp rides through as a marker and resolves LAZILY in
      // initialOffset — a fresh start only. A checkpointed restart never
      // resolves it, so an attach point expired since the first start
      // cannot wedge a stream that no longer needs it.
      fromSnapshot = fromTimestampMs.map(ms => s"timestamp:$ms")
        .orElse(Option(options.get("fromSnapshot"))).getOrElse("full"),
      maxSnapshotsPerBatch = Option(options.get("maxSnapshotsPerBatch")).map(_.toInt).getOrElse(0),
      pinEnabled = Option(options.get("pin")).forall(_.toBoolean),
      pinOwner = Option(options.get("pinOwner")),
      lineageToken = Option(options.get("lineageToken")),
      checkpointLocation = checkpointLocation,
      required = required,
      urlKeys = FeedSource.parseUrlKeys(Option(options.get("urlKeys"))))
}

/** Feed cursor: the last fully-emitted snapshot; `pendingFull = true` means
  * the snapshot's FULL state has not been emitted yet (initial batch). */
final case class FeedOffset(snapshotId: Long, pendingFull: Boolean = false) extends Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("snapshotId", snapshotId)
    root.put("full", pendingFull)
    m.writeValueAsString(root)
  }
}

object FeedOffset {
  def fromJson(s: String): FeedOffset = {
    val root = new ObjectMapper().readTree(s)
    FeedOffset(root.get("snapshotId").asLong(),
      Option(root.get("full")).exists(_.asBoolean()))
  }
}

final case class FeedInputPartition(
    path: String, // absolute
    bytes: Long,
    rows: Long,
    schemaVersion: Int,
    snapshotId: Long) extends InputPartition

/** One-shot batch plan over a pre-resolved snapshot span (see
  * [[FeedScan.toBatch]] — the span is resolved at planning time, so the
  * DataFrame is stable even while the table keeps committing). */
final class FeedBatch(partitions: Array[InputPartition],
    required: StructType,
    rowFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = partitions
  override def createReaderFactory(): PartitionReaderFactory =
    FeedSource.readerFactory(
      partitions.map(_.asInstanceOf[FeedInputPartition].schemaVersion).toSeq,
      required, rowFilters)
}

final class FeedMicroBatchStream(root: Path, pinnedVersion: Int,
    fromSnapshot: String, maxSnapshotsPerBatch: Int,
    pinEnabled: Boolean, pinOwner: Option[String],
    lineageToken: Option[String], checkpointLocation: String,
    required: StructType = null, urlKeys: Seq[String] = Nil)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // streaming plans are built before pruning in some paths — default to the
  // full pinned schema when no pruned schema was pushed
  private val outSchema: StructType =
    Option(required).getOrElse(FeedSource.schemaFor(pinnedVersion))

  private val table = LakeTable.load(root)

  // lease owner tag: stable across restarts of THIS query (checkpoint dir is
  // unique per query), md5-derived like the curated stream's — see
  // Curate.startCuratedStream for why hashCode tags are not enough, and
  // Ingest.checkpointKey for why the hash input must be the Hadoop-qualified
  // path (a CWD-resolved one re-tags a cluster-mode restart, stranding the
  // crashed predecessor's lease as an unreleasable orphan).
  private val owner = pinOwner.getOrElse("feed" +
    graft.cdc.Ingest.checkpointDigest(checkpointLocation)
      .take(8).map(b => f"$b%02x").mkString)

  private var pin: Option[SnapshotPin] = None

  // schema versions of the span planned last: a micro-batch's scan plans
  // its partitions before it asks for the reader factory, so the factory
  // builds readers for exactly the versions the batch reads
  @volatile private var plannedVersions: Seq[Int] = 1 to pinnedVersion

  /** First pin of the stream's life (fresh start OR restart): lease the
    * span base, then drop crashed predecessors' orphaned leases — they
    * covered the span through the downtime, the fresh lease covers it now. */
  private def ensurePinned(snapshotId: Long): Unit = if (pinEnabled) synchronized {
    if (pin.isEmpty) {
      pin = Some(table.pin(snapshotId, owner))
      table.releaseOwnedPins(owner, except = pin.map(_.file).toSet): Unit
    }
  }

  // Trigger.AvailableNow: freeze the target head at start (drain semantics).
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.currentSnapshotId)

  override def initialOffset(): Offset = {
    val off = fromSnapshot match {
      case "full" => FeedOffset(table.currentSnapshotId, pendingFull = true)
      case "latest" => FeedOffset(table.currentSnapshotId)
      case "genesis" => FeedOffset(0L)
      case ts if ts.startsWith("timestamp:") =>
        // the fromTimestamp marker (see toMicroBatchStream): resolved here,
        // on the FRESH start only, via the monotonic commit stamps
        FeedOffset(table.snapshotAsOfTimestampMs(ts.stripPrefix("timestamp:").toLong))
      case id =>
        val from = try id.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"fromSnapshot must be 'full', 'latest', 'genesis' or a snapshot id; got '$id'")
        }
        FeedOffset(from)
    }
    // lease the attach point EAGERLY (fresh start only — a restart inherits
    // the previous run's lease file): a latest/explicit-id attach may not
    // plan a batch until the source advances, and in that window an
    // unleased attach snapshot could be expired out from under the
    // checkpoint — permanently wedging the stream at its recorded offset
    ensurePinned(off.snapshotId)
    off
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[FeedOffset]
    // the initial-state batch emits alone: it is O(table), so folding the
    // first increments into it only delays the first committed cursor
    if (cur.pendingFull) return FeedOffset(cur.snapshotId)
    val head = {
      val h = table.currentSnapshotId
      availableNowTarget.fold(h)(math.min(h, _))
    }
    if (head <= cur.snapshotId) return cur
    val end =
      if (maxSnapshotsPerBatch <= 0) head
      else table.snapshotIds.filter(id => id > cur.snapshotId && id <= head)
        .take(maxSnapshotsPerBatch).lastOption.getOrElse(cur.snapshotId)
    FeedOffset(end)
  }

  override def deserializeOffset(json: String): Offset = FeedOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FeedOffset]
    val e = end.asInstanceOf[FeedOffset]
    ensurePinned(s.snapshotId)
    // url-key file pruning (the `urlKeys` option — a single-tenant mirror
    // skips every file whose bounds/bloom exclude its keys)
    val parts = FeedSource.planPartitions(root,
      FeedSource.spanFiles(table, s.snapshotId, e.snapshotId, full = s.pendingFull),
      pinnedVersion)(FeedSource.fileAdmits(root, _, urlKeys))
    // honest feed-domain lineage for a downstream mirror: this batch covers
    // snapshot ids (base, end] — base 0 when the initial state is included
    // (state(S) ≡ snapshots 1..S applied, and covering the empty genesis
    // id 0 is vacuously true). Recorded UNPRUNED: the batch still covers
    // its snapshots even when every file is skipped
    lineageToken.foreach { token =>
      val base = if (s.pendingFull) 0L else s.snapshotId
      graft.binlog.BinlogLineage.record(token,
        Map(FeedSource.LineagePartition -> (base, e.snapshotId)))
    }
    plannedVersions = parts.map(_.schemaVersion).distinct
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    FeedSource.readerFactory(plannedVersions, outSchema,
      // the urlKeys point predicate also skips row groups INSIDE admitted
      // files (the batch path gets this from pushed filters; streaming
      // scans receive no filter pushdown, so derive it from the option)
      if (urlKeys.isEmpty) Nil
      else Seq(org.apache.spark.sql.sources.In("url", urlKeys.toArray[Any])))

  /** Epoch durable: advance the owned lease to the committed cursor so
    * expiry keeps the feed's forward span readable. */
  override def commit(end: Offset): Unit = if (pinEnabled) synchronized {
    val id = end.asInstanceOf[FeedOffset].snapshotId
    val np = table.pin(id, owner)
    pin.foreach(_.release())
    pin = Some(np)
  }

  /** The lease stays in place on stop — retention for the consumer's
    * return, exactly the curated stream's contract. */
  override def stop(): Unit = ()
}

final class FeedReaderFactory(
    readers: Map[Int, graft.sql.GraftBucketReader.FileReader],
    required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FeedPartitionReader(partition.asInstanceOf[FeedInputPartition], readers, required)
}

/** Flat file reader: physical rows aligned to the PRUNED output schema by
  * the bucket scan's alignment (widen-cast present columns, null-fill added
  * ones), with `_feed_snapshot` synthesized when requested. No resolve —
  * the feed emits the raw multi-version rows and downstream LWW picks
  * winners by envelope, which is what makes COW re-emission and duplicate
  * replay harmless. */
final class FeedPartitionReader(p: FeedInputPartition,
    readers: Map[Int, graft.sql.GraftBucketReader.FileReader],
    required: StructType) extends PartitionReader[InternalRow] {

  private val proj: UnsafeProjection = graft.sql.GraftBucketReader.alignProj(
    required, p.schemaVersion, Map("_feed_snapshot" -> Literal(p.snapshotId, LongType)))

  private val it: Iterator[InternalRow] = readers(p.schemaVersion).open(p.path, p.bytes)

  private var cur: InternalRow = _
  override def next(): Boolean = {
    if (!it.hasNext) return false
    cur = proj(it.next())
    true
  }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
