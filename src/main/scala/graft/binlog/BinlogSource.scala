package graft.binlog

import java.nio.file.Paths
import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.MetaFiles
import graft.model.ChangeEvent

/** DataSource V2 binlog source: tails a directory of block-GZIP segment
  * files (the WAL), exposing them as a rate-limited micro-batch stream with
  * the reference's offset model — a per-partition `Map[Int, Long]` cursor,
  * exactly like `S3Offset`/Connect offset storage
  * (`/root/reference/source/src/main/java/com/spredfast/kafka/connect/s3/source/S3Offset.java:6-49`,
  * `S3SourceTask.java:108-120`).
  *
  * Planning is the reference's listing protocol re-expressed: list segment
  * indexes (cheap metadata), skip whole files below the cursor
  * (`S3FilesReader.java:176-184`), seek into the first file via the chunk
  * index (`:244-311`), and split large offset ranges into multiple
  * `InputPartition`s so one binlog partition can be read by many executor
  * cores.
  */
class BinlogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-binlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ChangeEvent.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BinlogTable(properties.get("path"))
}

final class BinlogTable(path: String) extends Table with SupportsRead {
  require(path != null, "binlog source requires option 'path'")
  override def name(): String = s"binlog($path)"
  override def schema(): StructType = ChangeEvent.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BinlogScan(path, options)
}

final class BinlogScan(rootPath: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan {
  override def build(): Scan = this
  override def readSchema(): StructType = ChangeEvent.schema
  override def description(): String = s"BinlogScan($path)"

  /** Topic selector (≙ the reference's per-topic key prefixes,
    * `S3SourceTask.java:137-143`): a topic is a SUBDIRECTORY of the binlog
    * root with its own partition/offset space. One streaming query per
    * topic (see `Ingest.startTopicSet`) mirrors the reference's
    * one-task-set-per-topic consumption. */
  private def path: String =
    Option(options.get("topic")).filter(_.nonEmpty)
      .map(t => Paths.get(rootPath).resolve(t).toString).getOrElse(rootPath)

  private def maxEventsPerBatch: Long =
    Option(options.get("maxEventsPerBatch")).map(_.toLong).getOrElse(1000000L)
  /** Decoded-byte admission budget per micro-batch (Kafka's
    * `maxBytesPerTrigger` role). Webtext rows span 100 B–1 MB, so an
    * event-count cap alone bounds executor memory poorly — a batch of max
    * events can be 10^4× heavier than the same count of small rows. The
    * budget is enforced at CHUNK granularity off the segments' own chunk
    * indexes (`byte_length_uncompressed` — no data reads at planning), with
    * at least one chunk admitted per backlogged partition so progress is
    * guaranteed: a batch can overshoot by at most one chunk per partition. */
  private def maxBytesPerBatch: Long =
    Option(options.get("maxBytesPerBatch")).map(_.toLong).getOrElse(Long.MaxValue)
  private def eventsPerTask: Long =
    Option(options.get("eventsPerTask")).map(_.toLong).getOrElse(8000L)
  /** Partition filter (≙ reference F1: `partitions` config applied at
    * listing time, `S3FilesReader.java:81-104`): only these stream
    * partitions are listed/planned. */
  private def partitionFilter: Option[Set[Int]] =
    Option(options.get("partitions")).map(_.split(",").map(_.trim.toInt).toSet)
  /** Key-exclude anti-filter (≙ reference F4: drop records whose key
    * contains any configured substring, `S3FilesReader.java:344-384`) —
    * applied in the reader after decode, before any shuffle. */
  private def excludeUrlContains: Seq[String] =
    Option(options.get("excludeUrlContains")).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  /** Registry key for planned-offset lineage (see [[BinlogLineage]]): set a
    * per-query token so concurrent queries over the SAME binlog directory
    * keep separate entries. Ingest.startStream sets this to its checkpoint
    * dir; queries that never read lineage may omit it (falls back to path). */
  private def lineageToken: Option[String] = Option(options.get("lineageToken"))
  /** Option-driven wire format (≙ reference `format` config + aliases,
    * `Configure.java:125-150`): framed|delimited (+ delimiter options). */
  private def codecSpec: CodecSpec = CodecSpec.fromOptions(k => Option(options.get(k)))

  // Batch reads honor fromOffset/untilOffset options so range replays skip
  // whole segments at planning time (≙ offset-skip file filter,
  // S3FilesReader.java:176-184) instead of scan-then-filter.
  private def fromOffset: Long =
    Option(options.get("fromOffset")).map(_.toLong).getOrElse(0L)
  private def untilOffset: Long =
    Option(options.get("untilOffset")).map(_.toLong).getOrElse(Long.MaxValue)

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val segs = Segment.listAll(Paths.get(path))
      val ends = BinlogOffsets.endOffsets(segs)
        .filter { case (p, _) => partitionFilter.forall(_.contains(p)) }
      val starts = BinlogOffsets.startOffsets(segs)
      val ranges = ends.map { case (p, e) =>
        p -> (math.max(fromOffset, starts.getOrElse(p, 0L)), math.min(e, untilOffset))
      }.filter { case (_, (f, u)) => u > f }
      BinlogOffsets.splitRanges(path, ranges, eventsPerTask)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new BinlogReaderFactory(excludeUrlContains, codecSpec, deadLetterDir)
  }

  // Kafka-Connect `errors.tolerance` semantics: "none" (default — a corrupt
  // record fails the task, the reference's behavior) or "all" (quarantine
  // the poisoned chunk's remainder to the REQUIRED dead-letter directory
  // and resync at the next chunk — a poison pill cannot wedge a 10¹⁰-event
  // ingest, and the skip is never silent).
  private def deadLetterDir: Option[String] = {
    val tol = Option(options.get("errorsTolerance")).getOrElse("none")
    val dlq = Option(options.get("deadLetterDir")).filter(_.nonEmpty)
    tol match {
      case "none" => None
      case "all" =>
        require(dlq.isDefined,
          "errorsTolerance=all requires deadLetterDir (skips must be observable)")
        dlq
      case other => throw new IllegalArgumentException(
        s"errorsTolerance must be none|all, got '$other'")
    }
  }

  // Streaming handoff anchor (Ingest.bootstrap): "p:offset,p:offset" — the
  // FIRST offset to read per partition when the checkpoint is empty. Only
  // initialOffset consults it; once a checkpoint exists it wins, exactly
  // like Kafka's startingOffsets.
  private def startOffsets: Map[Int, Long] =
    Option(options.get("startOffsets")).filter(_.nonEmpty).map { s =>
      try s.split(",").map { kv =>
        val Array(p, o) = kv.split(":")
        p.trim.toInt -> o.trim.toLong
      }.toMap
      catch { case scala.util.control.NonFatal(_) =>
        throw new IllegalArgumentException(
          s"malformed startOffsets '$s': expected 'partition:offset[,partition:offset…]'")
      }
    }.getOrElse(Map.empty)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BinlogMicroBatchStream(path, maxEventsPerBatch, eventsPerTask,
      partitionFilter, excludeUrlContains, lineageToken, codecSpec, startOffsets,
      deadLetterDir, maxBytesPerBatch)
}

/** Offset = per-partition next-offset-to-read map, JSON-serialized into the
  * checkpoint (≙ `KafkaSourceOffset`; ≙ the reference's per-partition offset
  * maps in Connect storage). */
final case class BinlogOffset(parts: Map[Int, Long]) extends Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    parts.toSeq.sortBy(_._1).foreach { case (p, o) => root.put(p.toString, o) }
    m.writeValueAsString(root)
  }
}

object BinlogOffset {
  def fromJson(s: String): BinlogOffset = {
    val root = new ObjectMapper().readTree(s)
    val b = Map.newBuilder[Int, Long]
    root.properties().asScala.foreach(e => b += (e.getKey.toInt -> e.getValue.asLong()))
    BinlogOffset(b.result())
  }
}

object BinlogOffsets {
  /** Committed end offset (exclusive) per partition from segment indexes. */
  def endOffsets(segs: Vector[SegmentFile]): Map[Int, Long] =
    segs.groupBy(_.partition).map { case (p, fs) => p -> fs.map(_.endOffset).max }

  /** First available offset per partition — segments need not start at 0
    * (epoch-anchored sink staging, GC-truncated archives). Planning from 0
    * against a segment anchored at a large offset would split the void
    * below it into millions of empty tasks. */
  def startOffsets(segs: Vector[SegmentFile]): Map[Int, Long] =
    segs.groupBy(_.partition).map { case (p, fs) => p -> fs.map(_.startOffset).min }

  /** Split per-partition ranges into ≤ eventsPerTask slices. */
  def splitRanges(path: String, ranges: Map[Int, (Long, Long)], eventsPerTask: Long): Array[InputPartition] = {
    val out = Array.newBuilder[InputPartition]
    ranges.toSeq.sortBy(_._1).foreach { case (p, (from, until)) =>
      var f = from
      while (f < until) {
        val u = math.min(f + eventsPerTask, until)
        out += BinlogInputPartition(path, p, f, u)
        f = u
      }
    }
    out.result()
  }
}

final class BinlogMicroBatchStream(path: String, maxEventsPerBatch: Long, eventsPerTask: Long,
    partitionFilter: Option[Set[Int]] = None, excludeUrlContains: Seq[String] = Nil,
    lineageToken: Option[String] = None, codecSpec: CodecSpec = CodecSpec(),
    startOffsets: Map[Int, Long] = Map.empty,
    deadLetterDir: Option[String] = None,
    maxBytesPerBatch: Long = Long.MaxValue)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def lineageKey: String = lineageToken.getOrElse(path)

  private def listEnds(): Map[Int, Long] =
    BinlogOffsets.endOffsets(Segment.listAll(Paths.get(path)))
      .filter { case (p, _) => partitionFilter.forall(_.contains(p)) }

  // Trigger.AvailableNow: freeze the target at start; microbatches advance
  // toward it under the rate limit, then the query stops (drain semantics).
  @volatile private var availableNowTarget: Option[Map[Int, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(listEnds())

  override def initialOffset(): Offset = {
    // earliest AVAILABLE offset per partition (not 0): an archive whose head
    // was GC'd, or segments anchored at a large base offset, must not plan
    // the void below their first record. A caller-provided handoff anchor
    // (`startOffsets` — Ingest.bootstrap's snapshot cut) raises the base
    // further: events below the cut are already in the table via the
    // bootstrap batch, so re-reading them is pure replay cost.
    val starts = listStarts()
    BinlogOffset(listEnds().map { case (p, _) => p -> starts.getOrElse(p, 0L) })
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxBytesPerBatch == Long.MaxValue) ReadLimit.maxRows(maxEventsPerBatch)
    else ReadLimit.compositeLimit(Array(
      ReadLimit.maxRows(maxEventsPerBatch), ReadLimit.maxBytes(maxBytesPerBatch)))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Rate-limited advance (≙ `max.poll.records`, `S3SourceTask.java:122,190`):
    * cap total new events per batch, budget spread across partitions
    * proportionally to their backlog. Also discovers NEW partitions mid-stream
    * (≙ partition-growth IT, `S3SinkConnectorIT.java:406-446`). */
  /** First available offset per (filtered) partition — the base for any
    * partition the checkpoint doesn't know yet. A partition DISCOVERED
    * MID-STREAM may be anchored far above 0 (epoch-anchored sink staging,
    * GC-truncated archive); without the clamp its backlog would count the
    * void below the first segment, the rate budget would be burned advancing
    * through thousands of empty batches, and the planned (0, …) ranges would
    * FABRICATE lineage coverage of offsets that never existed. */
  private def listStarts(): Map[Int, Long] =
    BinlogOffsets.startOffsets(Segment.listAll(Paths.get(path)))
      .filter { case (p, _) => partitionFilter.forall(_.contains(p)) }
      // the handoff anchor (`startOffsets`) raises the base HERE, not only in
      // initialOffset: a partition whose first segment lands after the stream
      // starts is discovered through this map, and without the anchor it
      // would replay its entire pre-cut history — the O(log) read the skip
      // variant exists to avoid
      .map { case (p, s) => p -> math.max(s, startOffsets.getOrElse(p, 0L)) }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[BinlogOffset].parts
    val ends = availableNowTarget.getOrElse(listEnds())
    val starts = listStarts()
    def base(p: Int): Long = cur.getOrElse(p, starts.getOrElse(p, 0L))
    val all = (cur.keySet ++ ends.keySet).toSeq.sorted
    val backlog = all.map(p => p -> math.max(0L, ends.getOrElse(p, 0L) - base(p)))
    val totalBacklog = backlog.map(_._2).sum
    // a composite limit carries both caps; each flavor defaults to ∞
    def caps(l: ReadLimit): (Long, Long) = l match {
      case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        (rl.maxRows(), Long.MaxValue)
      case bl: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
        (Long.MaxValue, bl.maxBytes())
      case cl: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        cl.getReadLimits.map(caps).foldLeft((Long.MaxValue, Long.MaxValue)) {
          case ((r1, b1), (r2, b2)) => (math.min(r1, r2), math.min(b1, b2))
        }
      case _ => (Long.MaxValue, Long.MaxValue)
    }
    val (cap, byteCap) = caps(limit)
    val next =
      if (totalBacklog <= cap) ends.keySet.union(cur.keySet)
        .map(p => p -> math.max(base(p), ends.getOrElse(p, 0L))).toMap
      else {
        // proportional budget, at least 1 for any nonempty backlog while budget lasts
        var remaining = cap
        val m = Map.newBuilder[Int, Long]
        backlog.foreach { case (p, b) =>
          val share = math.min(b, math.max(1L, cap * b / math.max(1L, totalBacklog)))
          val take = math.min(share, remaining)
          remaining -= take
          m += p -> (base(p) + take)
        }
        m.result()
      }
    BinlogOffset(
      if (byteCap == Long.MaxValue) next else clampByBytes(next, base, byteCap))
  }

  /** Clamp a row-capped offset proposal to a DECODED-byte budget, using the
    * segments' own chunk indexes (`byte_length_uncompressed`) — no data
    * reads at planning, and the index walk stops as soon as each
    * partition's share is spent (planning cost ∝ the admitted batch, not
    * the backlog). The budget is apportioned across partitions
    * proportionally to their record backlog (the byte backlog is unknown
    * without walking every index below the target), enforced at chunk
    * granularity, and ALWAYS admits the first chunk of a backlogged
    * partition (progress guarantee, the count path's at-least-1
    * discipline) — so a batch can overshoot the budget by at most one
    * chunk per partition. A resumed mid-chunk position charges the whole
    * chunk (conservative: the reader decompresses the full chunk to skip
    * into it). */
  private def clampByBytes(proposed: Map[Int, Long], base: Int => Long,
      byteCap: Long): Map[Int, Long] = {
    val active = proposed.toSeq.sortBy(_._1).filter { case (p, until) => until > base(p) }
    if (active.isEmpty) return proposed
    val segsByPart = Segment.listAll(Paths.get(path)).groupBy(_.partition)
    val totalBacklog = active.map { case (p, until) => until - base(p) }.sum
    val m = Map.newBuilder[Int, Long] ++= proposed
    active.foreach { case (p, until) =>
      val from = base(p)
      // double-precision apportioning: byteCap × backlog overflows Long for
      // GB-scale budgets over deep backlogs, and a budget share needs no
      // exactness (enforcement is chunk-granular anyway)
      val share = math.max(1L,
        (byteCap.toDouble * (until - from) / math.max(1L, totalBacklog)).toLong)
      val segs = segsByPart.getOrElse(p, Vector.empty) // offset-sorted by listAll
      // a segment spans [startOffset, nextSegment.startOffset) for overlap
      // tests — gaps only over-admit one index read, never skip data
      val segEnds = segs.drop(1).map(_.startOffset) :+ Long.MaxValue
      val chunks = segs.iterator.zip(segEnds.iterator)
        .filter { case (s, e) => e > from && s.startOffset < until }
        .flatMap(_._1.index.chunks.iterator) // lazy: indexes open only while budget lasts
        .filter(c => c.firstRecordOffset + c.numRecords > from && c.firstRecordOffset < until)
      var used = 0L
      var clamped = from
      var stop = false
      while (!stop && chunks.hasNext) {
        val c = chunks.next()
        used += c.byteLengthUncompressed
        clamped = math.min(c.firstRecordOffset + c.numRecords, until)
        stop = used >= share
      }
      // an empty chunk walk (listing raced a graced re-archive, or the
      // proposal points into the void of a gapped archive) keeps the
      // row-capped proposal — bytes unknown means never admit LESS than
      // one chunk's worth of progress
      if (clamped > from) m += p -> clamped
    }
    m.result()
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BinlogOffset].parts
    val e = end.asInstanceOf[BinlogOffset].parts
    // a partition absent from the START offset was discovered this batch:
    // its range begins at the first AVAILABLE offset, never 0 (see listStarts)
    lazy val starts = listStarts()
    val ranges = e.map { case (p, until) =>
      p -> (s.getOrElse(p, starts.getOrElse(p, 0L)), until)
    }.filter { case (_, (f, u)) => u > f }
    BinlogLineage.record(lineageKey, ranges)
    BinlogOffsets.splitRanges(path, ranges, eventsPerTask)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BinlogReaderFactory(excludeUrlContains, codecSpec, deadLetterDir)
  override def deserializeOffset(json: String): Offset = BinlogOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = BinlogLineage.clear(lineageKey)
}

final case class BinlogInputPartition(path: String, partition: Int, from: Long, until: Long)
    extends InputPartition

/** Driver-side registry of the most recently planned offset ranges, keyed by
  * QUERY IDENTITY (the source's `lineageToken` option — Ingest.startStream
  * passes its checkpoint dir — falling back to the binlog path when unset).
  * foreachBatch hands the sink an opaque `LogicalRDD`, so the ingest pipeline
  * cannot recover the batch's offset ranges from the plan; the source records
  * them here at planning time instead (exactly the reference's per-poll
  * offset bookkeeping, `S3SourceTask.java:214-224`). Token keying means two
  * concurrent queries tailing the SAME directory (e.g. ingest + Archive)
  * cannot overwrite each other's planned ranges; each query runs one batch
  * at a time — single producer per key. */
object BinlogLineage {
  private val last = new java.util.concurrent.ConcurrentHashMap[String, Map[Int, (Long, Long)]]()
  def record(key: String, ranges: Map[Int, (Long, Long)]): Unit = last.put(key, ranges)
  def lastPlanned(key: String): Option[Map[Int, (Long, Long)]] = Option(last.get(key))
  def clear(key: String): Unit = last.remove(key)
}

final class BinlogReaderFactory(excludeUrlContains: Seq[String] = Nil,
    codecSpec: CodecSpec = CodecSpec(), deadLetterDir: Option[String] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BinlogInputPartition]
    new BinlogPartitionReader(p, excludeUrlContains, codecSpec, deadLetterDir)
  }
}

/** Pull-based reader (≙ `RecordReader.readAll` iterator adaptor,
  * `common/.../RecordReader.java:21-61`), emitting InternalRow directly —
  * no Row → InternalRow conversion on the hot path. The key-exclude
  * anti-filter runs here, before any shuffle (≙ `S3FilesReader.java:344-384`). */
final class BinlogPartitionReader(p: BinlogInputPartition,
    excludeUrlContains: Seq[String] = Nil, codecSpec: CodecSpec = CodecSpec(),
    deadLetterDir: Option[String] = None)
    extends PartitionReader[InternalRow] {
  private val base = deadLetterDir match {
    case Some(dlq) => Segment.readRangeTolerant(Paths.get(p.path), p.partition,
      p.from, p.until, codecSpec.codec, DeadLetter.report(Paths.get(dlq), _))
    case None => Segment.readRange(Paths.get(p.path), p.partition, p.from, p.until, codecSpec.codec)
  }
  private val it =
    if (excludeUrlContains.isEmpty) base
    else base.filter(e => !excludeUrlContains.exists(e.url.contains))
  private var cur: ChangeEvent = _
  override def next(): Boolean = {
    if (it.hasNext) { cur = it.next(); true } else false
  }
  override def get(): InternalRow = {
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(7)
    r.setInt(0, cur.partition)
    r.setLong(1, cur.offset)
    r.update(2, UTF8String.fromString(cur.op))
    r.update(3, UTF8String.fromString(cur.url))
    r.setLong(4, cur.warc_ts.getTime * 1000L + (cur.warc_ts.getNanos / 1000) % 1000)
    r.update(5, cur.html)
    r.update(6, if (cur.lang == null) null else UTF8String.fromString(cur.lang))
    r
  }
  override def close(): Unit = ()
}

/** Dead-letter reports for `errorsTolerance=all`: one JSON file per
  * quarantined offset range, named by (segment, fromOffset) so task retries
  * and speculative twins replace the identical file — the report channel
  * is exactly-once by construction, like every other side artifact here. */
object DeadLetter {
  def report(dlqDir: java.nio.file.Path, cr: Segment.CorruptRange): Unit = {
    java.nio.file.Files.createDirectories(dlqDir)
    MetaFiles.publish(dlqDir.resolve(s"${cr.segment.getFileName}.${cr.fromOffset}.dlq.json"),
      MetaFiles.json(_.put("segment", cr.segment.getFileName.toString)
        .put("partition", cr.partition).put("fromOffset", cr.fromOffset)
        .put("untilOffset", cr.untilOffset).put("error", cr.error)),
      replace = true)
    System.err.println(s"[binlog] QUARANTINED ${cr.segment.getFileName} " +
      s"offsets [${cr.fromOffset}, ${cr.untilOffset}): ${cr.error}")
  }
}

/** Batch-read helpers over the binlog store. */
object BinlogRead {
  /** Distributed read of offsets [from, until) of every partition — the
    * range is pushed into planning (segment skip + chunk seek), not filtered
    * post-scan. */
  def range(spark: org.apache.spark.sql.SparkSession, dir: String,
      from: Long, until: Long): org.apache.spark.sql.DataFrame = {
    spark.read.format("graft.binlog.BinlogSourceProvider").option("path", dir)
      .option("fromOffset", from).option("untilOffset", until).load()
  }

  /** Full scan. */
  def all(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    spark.read.format("graft.binlog.BinlogSourceProvider").option("path", dir).load()
}
