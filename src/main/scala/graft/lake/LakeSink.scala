package graft.lake

import java.nio.file.{Path, Paths}
import java.sql.Timestamp
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.binlog.{BinlogRead, Layout, SegmentFile, SegmentWriter}
import graft.model.ChangeEvent

/** Native Structured Streaming SINK for the lake table — the fully
  * declarative pipeline:
  *
  * {{{
  *   spark.readStream.format("graft.binlog.BinlogSourceProvider").option("path", binlog).load()
  *     .writeStream.format("graft-lake")
  *     .option("path", tableRoot).option("nBuckets", 64).option("mode", "mor")
  *     .option("checkpointLocation", ckpt).start()
  * }}}
  *
  * replaces the `foreachBatch` closure: Spark's epoch id IS the engine's
  * exactly-once batch id, so a replayed epoch (crash between sink commit and
  * checkpoint write) is a no-op via the table's `(batchId, lineage)` marker.
  *
  * This file holds the engine's one staged write, shared by this sink,
  * `writeStream.toTable("graft.t")` and SQL `INSERT` ([[graft.sql.GraftBatchWrite]]):
  * each task stages its rows as binlog segments through
  * [[StagedSegmentWriter]], and the driver commit reads back exactly the
  * committed tasks' segments through [[Staged.commit]] and merges them as
  * one batch. Input schema here must be the CDC envelope
  * ([[ChangeEvent.schema]]), which is staged as given, so staged segment
  * metadata carries the true per-partition lineage (the reference's
  * gap-free chain) without an extra data pass.
  *
  * ONE sink query per table (the engine's single-writer contract): a second
  * concurrent writer would collide in the epoch staging area before the
  * commit CAS could reject it. */
class LakeSinkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ChangeEvent.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LakeSinkTable(properties.get("path"), properties)
}

final class LakeSinkTable(root: String, props: util.Map[String, String])
  extends Table with SupportsWrite {
  require(root != null, "graft-lake sink requires option 'path'")
  override def name(): String = s"graft-lake($root)"
  override def schema(): StructType = ChangeEvent.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.STREAMING_WRITE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val fields = info.schema().fieldNames.toSeq
    require(fields == ChangeEvent.schema.fieldNames.toSeq,
      s"graft-lake sink expects the CDC envelope ${ChangeEvent.schema.fieldNames.mkString("(", ",", ")")}, got $fields")
    val nBuckets = Option(props.get("nBuckets")).map(_.toInt).getOrElse(32)
    val mode = Option(props.get("mode")).map(_.toLowerCase).getOrElse("mor") match {
      case "cow" => graft.cdc.Cow
      case _ => graft.cdc.Mor
    }
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new LakeStreamingWrite(root, nBuckets, mode, info.schema())
      }
    }
  }
}

/** One streaming write: each epoch is staged, then merged as exactly-once
  * batch `epochId`. `rows` is the write's schema — the CDC envelope for the
  * `graft-lake` sink, the table's user schema for `writeStream.toTable`. */
final class LakeStreamingWrite(root: String, nBuckets: Int, mode: graft.cdc.MergeMode,
    rows: StructType)
  extends StreamingWrite {

  private def tableRoot = Paths.get(root)
  private def stagingDir(epochId: Long): Path =
    tableRoot.resolve("staging").resolve(s"epoch-$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StagedSegmentWriterFactory(tableRoot.resolve("staging").toString, new RowEvents(rows))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    Staged.commit(spark, stagingDir(epochId), messages) { staged =>
      val table = LakeTable.create(tableRoot, nBuckets)
      if (!table.currentSnapshot.committedBatchIds.contains(epochId)) // else a replayed epoch
        staged.foreach(s => graft.cdc.Merge(spark, table, s.events, epochId, s.lineage, mode): Unit)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    LakeTable.deleteRecursively(stagingDir(epochId))
}

/** Commit message: the attempt dir whose segments this writer staged and
  * closed. The commit ingests exactly these dirs. */
final case class SegmentsStaged(dir: String) extends WriterCommitMessage

/** Reads a written row as a change event, by column name from the write's
  * schema. An envelope row ([[ChangeEvent.schema]]) carries its own
  * `(partition, offset, op)`. A user row (a SQL table's user schema; a v1
  * table has no `lang`) is an upsert at the synthetic `(partition, offset)`
  * the writer hands in; its `text`/`content_len` are engine-derived, so they
  * are not read. */
final class RowEvents(schema: StructType) extends Serializable {
  private def col(name: String): Int = schema.fieldNames.indexOf(name)
  private val (partCol, offCol, opCol) = (col("partition"), col("offset"), col("op"))
  private val envelope = offCol >= 0
  private val (urlCol, tsCol, htmlCol, langCol) = (col("url"), col("warc_ts"), col("html"), col("lang"))
  require(urlCol >= 0 && tsCol >= 0, s"a staged write needs url and warc_ts, got ${schema.simpleString}")

  def apply(row: InternalRow, partition: Int, offset: Long): ChangeEvent = {
    val micros = row.getLong(tsCol)
    val ts = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    ChangeEvent(
      partition = if (envelope) row.getInt(partCol) else partition,
      offset = if (envelope) row.getLong(offCol) else offset,
      op = if (envelope) row.getUTF8String(opCol).toString else ChangeEvent.OpUpsert,
      url = row.getUTF8String(urlCol).toString,
      warc_ts = ts,
      html = if (htmlCol < 0 || row.isNullAt(htmlCol)) null else row.getBinary(htmlCol),
      lang = if (langCol < 0 || row.isNullAt(langCol)) null else row.getUTF8String(langCol).toString)
  }
}

/** Task side of every staged write. Batch writers stage under
  * `<staging>/task-<attempt>` with user-row offsets from 0; streaming
  * writers under `<staging>/epoch-<id>/task-<partition>-a<attempt>` with
  * offsets anchored at `epochId << 32`. The anchor makes the `(warc_ts,
  * offset, partition)` tie-break deterministic across epochs: two epochs
  * never repeat a `(partition, offset)` pair, so an equal-warc_ts upsert
  * from a later epoch strictly wins. The task id is unique per ATTEMPT, so
  * speculative or retried attempts never share a dir, and abort can remove
  * the whole attempt dir. */
final class StagedSegmentWriterFactory(stagingRoot: String, rows: RowEvents)
  extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new StagedSegmentWriter(Paths.get(stagingRoot, s"task-$taskId"), partitionId, 0L, rows)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new StagedSegmentWriter(Paths.get(stagingRoot, s"epoch-$epochId", s"task-$partitionId-a$taskId"),
      partitionId, epochId << 32, rows)
}

/** Streams rows into segments, rolling on source-partition change or offset
  * discontinuity so file names + chunk indexes carry the true
  * (partition, offset-range) coverage. User rows get the synthetic envelope
  * `(partitionId, base + n)` and so land in one segment. */
final class StagedSegmentWriter(dir: Path, partitionId: Int, base: Long, rows: RowEvents)
  extends DataWriter[InternalRow] {
  private var w: SegmentWriter = _
  private var curPart = -1
  private var nextOff = -1L
  private var n = 0L
  private val seenRanges = scala.collection.mutable.Set.empty[(Int, Long)]

  override def write(row: InternalRow): Unit = {
    val e = rows(row, partitionId, base + n)
    n += 1
    if (w == null || e.partition != curPart || e.offset != nextOff) {
      if (w != null) w.close()
      // a repeated (partition, startOffset) would silently overwrite the
      // earlier segment — refuse: the envelope must not repeat ranges
      require(seenRanges.add((e.partition, e.offset)),
        s"duplicate envelope range p${e.partition}@${e.offset} in one task — offsets must not repeat")
      curPart = e.partition
      w = new SegmentWriter(dir, e.partition, e.offset)
    }
    w.writeEvent(e)
    nextOff = e.offset + 1
  }

  override def commit(): WriterCommitMessage = {
    if (w != null) w.close()
    SegmentsStaged(dir.toString)
  }
  // the attempt dir is exclusively ours (unique taskId in the path): abort
  // removes it WHOLE, including segments already rolled and closed
  override def abort(): Unit = {
    if (w != null) w.delete()
    LakeTable.deleteRecursively(dir)
  }
  override def close(): Unit = ()
}

/** The committed rows of one staged write: their change events, and one
  * lineage entry per CONTIGUOUS offset run per partition, read from segment
  * metadata (no data pass). The envelope pipeline yields a single gap-free
  * run per partition; upstream filters that drop records surface as
  * several runs instead of a fabricated envelope. */
final case class Staged(events: DataFrame, lineage: Seq[PartLineage])

object Staged {
  /** Runs `body` over the segments staged by COMMITTED writers (`None` when
    * they staged none), then deletes `staging`, also when `body` fails.
    * Only the dirs named by commit messages are read: a task attempt that
    * closed segments and then died without abort() (executor crash, killed
    * speculative loser) leaves orphans beside the retry's copy, and reading
    * both would duplicate rows and lineage runs. The orphans die with the
    * staging dir. */
  def commit(spark: SparkSession, staging: Path, messages: Array[WriterCommitMessage])(
      body: Option[Staged] => Unit): Unit =
    try {
      val segs = messages.toSeq.collect { case SegmentsStaged(d) => Paths.get(d) }.distinct
        .flatMap(d => Layout.listUnder(d, Layout.Flat).map(_._2))
      body(if (segs.isEmpty) None else Some(Staged(
        segs.map(_.path.getParent.toString).distinct
          .map(BinlogRead.all(spark, _)).reduce(_.unionByName(_)),
        lineageRuns(segs))))
    } finally LakeTable.deleteRecursively(staging)

  private def lineageRuns(segs: Seq[SegmentFile]): Seq[PartLineage] =
    segs.groupBy(_.partition).toSeq.sortBy(_._1).flatMap { case (p, fs) =>
      fs.sortBy(_.startOffset).foldLeft(Vector.empty[(Long, Long)]) {
        case (runs :+ ((start, end)), f) if f.startOffset == end => runs :+ ((start, f.endOffset))
        case (runs, f) => runs :+ ((f.startOffset, f.endOffset))
      }.map { case (start, end) => PartLineage(p, start, end - start, end - start) }
    }
}
