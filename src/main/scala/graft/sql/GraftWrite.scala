package graft.sql

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.lake.{LakeTable, RowEvents, Staged, StagedSegmentWriterFactory}

/** DSv2 batch write: `INSERT INTO graft.t …` / `INSERT OVERWRITE` /
  * `df.writeTo("graft.t").append()`.
  *
  * Semantics on a url-keyed CDC table: an INSERT is an upsert MERGE batch —
  * duplicate urls (within the insert or against stored rows) resolve
  * last-writer-wins by `(warc_ts, offset, partition)` exactly like the
  * streaming path, and `text`/`content_len` are DERIVED from `html` by the
  * engine (user-supplied values for those columns are ignored).
  *
  * Mechanics: the engine's one staged write (see [[graft.lake.LakeSinkProvider]]).
  * Each task stages its rows, read by name from the table's user schema for
  * ITS version, as block-GZIP binlog segments (partition = task id, offsets
  * 0..n — the same wire format the source tails). The driver commit merges
  * the committed tasks' segments as ONE exactly-once batch, then deletes the
  * staging area. Abort deletes the staging area without committing. */
final class GraftBatchWrite(lake: LakeTable, schema: StructType,
    overwrite: Boolean = false) extends BatchWrite {

  private val staging: Path =
    Files.createDirectories(lake.root.resolve("staging")).resolve(
      s"ins-${java.util.UUID.randomUUID().toString.take(8)}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new StagedSegmentWriterFactory(staging.toString, new RowEvents(schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    Staged.commit(spark, staging, messages) {
      case Some(staged) =>
        val batchId = GraftRowLevel.nextSqlBatchId(lake)
        if (overwrite)
          // INSERT OVERWRITE: LWW winners of the insert become the ENTIRE
          // table state in ONE atomic commit (files + markers replaced) —
          // see Merge.overwrite. Always COW regardless of session merge
          // mode: an overwrite is a full rewrite by definition.
          graft.cdc.Merge.overwrite(spark, lake, staged.events, batchId): Unit
        else
          graft.cdc.Merge(spark, lake, staged.events, batchId, lineage = Nil,
            mode = GraftSql.mergeModeFor(spark)): Unit
      case None =>
        // INSERT OVERWRITE from an empty SELECT: the new state is empty —
        // truncate (one metadata commit clearing files AND markers)
        if (overwrite) lake.truncate(): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LakeTable.deleteRecursively(staging)
}
