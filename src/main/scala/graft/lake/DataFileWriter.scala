package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.collection.mutable

import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The table's one data-file writer (behind [[LakeTable.writeDataFilesTo]]).
  *
  * Each task writes its rows straight to final, uniquely named paths — one
  * parquet file per run of equal `bucket` values — and returns the complete
  * [[DataFile]]s: row count, url bounds, `warc_ts` bounds and byte size are
  * running aggregates of the write itself (the reference's chunk index kept
  * the same way: `BlockGZIPFileWriter.java:181-184,218-227`), so nothing
  * lists directories or reopens footers afterwards. There is no commit
  * protocol: the snapshot commit is the only publish point, and a file no
  * snapshot references is an orphan [[Maintain.removeOrphanFiles]] reaps.
  *
  * WRITER INVARIANT, asserted per row: urls are non-null and strictly
  * increasing (unsigned UTF-8 byte order) within a file — one version per
  * url, url-sorted — and a bucket appears in at most one run per task. A
  * violating task deletes what it wrote and fails the write.
  *
  * Parquet settings: Spark's own `OutputWriterFactory`, prepared on the
  * driver from a CLONE of the session conf with TIMESTAMP_MICROS timestamps
  * (INT96 carries no usable bounds) and dictionary encoding off for the
  * unique-heavy url/html/text columns (building and overflowing those
  * dictionaries costs ~12% of ingest wall; lang/op keep RLE-dict). Pages
  * hold at most [[PageRowLimit]] rows: rows are url-sorted, so the url
  * column index bounds a key to about one page, and a pushed url equality
  * (a point lookup, a runtime-filtered join) decodes that page instead of
  * the whole row group. Codec, page-size and row-group settings are the
  * session's; the session itself is never touched. The job's `file:`
  * scheme is [[ForklessLocalFileSystem]], so creating a file or a bucket
  * dir starts no `chmod` process. */
private[lake] object DataFileWriter {

  private val NoDictionary = Seq("url", "html", "text")

  /** Page row cap: small enough that a point lookup decodes ~one page,
    * large enough that page headers and column-index entries stay small
    * (+1.4–1.9% table bytes per event on the benchmark's workloads). */
  private val PageRowLimit = 128

  /** Write `df` (table columns + an int `bucket` column, url-sorted within
    * each bucket run) under `root/relDir/bucket=<n>/`. `blooms` also writes
    * each file's url bloom sidecar from the hashes the task already sees. */
  def write(df: DataFrame, root: Path, relDir: String, schemaVersion: Int,
      blooms: Boolean): Vector[DataFile] = {
    val session = df.sparkSession
    val conf = session.sessionState.conf.clone()
    conf.setConfString(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    NoDictionary.foreach(c => job.getConfiguration.set(s"parquet.enable.dictionary#$c", "false"))
    job.getConfiguration.setInt(ParquetOutputFormat.PAGE_ROW_COUNT_LIMIT, PageRowLimit)
    // uncached: the process-wide `file:` instance keeps the stock class
    job.getConfiguration.set("fs.file.impl", classOf[ForklessLocalFileSystem].getName)
    job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
    val schema = df.schema
    val dataSchema = StructType(schema.filterNot(_.name == "bucket"))
    val factory = ParquetUtils.prepareWrite(conf, job, dataSchema,
      new ParquetOptions(Map.empty[String, String], conf))
    val task = new WriteTask(factory, new SerializableConfiguration(job.getConfiguration),
      schema, dataSchema, root.resolve(relDir).toString, relDir, schemaVersion, blooms)
    // one SQL execution of the input's own plan: QueryExecutionListeners
    // (Observations, plan audits, tracers) see this write like any action
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("writeDataFiles")) {
      qe.toRdd.mapPartitions(task.run).collect()
    }.toVector.sortBy(f => (f.bucket, f.path))
  }

  private final class WriteTask(factory: OutputWriterFactory, hadoopConf: SerializableConfiguration,
      schema: StructType, dataSchema: StructType, absDir: String, relDir: String,
      schemaVersion: Int, blooms: Boolean)
      extends Serializable {

    def run(rows: Iterator[InternalRow]): Iterator[DataFile] = {
      val ctx = TaskContext.get()
      val attempt = new TaskAttemptContextImpl(hadoopConf.value, new TaskAttemptID(
        new TaskID(new JobID("graft", ctx.stageId()), TaskType.MAP, ctx.partitionId()),
        ctx.attemptNumber()))
      val ext = factory.getFileExtension(attempt)
      val bucketIdx = schema.fieldIndex("bucket")
      val urlIdx = schema.fieldIndex("url")
      val tsIdx = schema.fields.indexWhere(f => f.name == "warc_ts" && f.dataType == TimestampType)
      val dataRow = UnsafeProjection.create(schema.fields.indices.filter(_ != bucketIdx).map { i =>
        BoundReference(i, schema(i).dataType, schema(i).nullable): Expression
      })

      /** One open file: its writer and the running stats of what it holds. */
      final class Open(val bucket: Int) {
        private val name = f"part-${ctx.partitionId()}%05d-${java.util.UUID.randomUUID()}$ext"
        val rel = s"$relDir/bucket=$bucket/$name"
        val abs: Path = Paths.get(s"$absDir/bucket=$bucket/$name")
        private val out: OutputWriter = factory.newInstance(abs.toString, dataSchema, attempt)
        private var n = 0L
        private var first: UTF8String = _
        private var last: UTF8String = _
        private var tsMin = Long.MaxValue
        private var tsMax = Long.MinValue
        private var tsNull = tsIdx < 0
        private val hashes = if (blooms) mutable.ArrayBuilder.make[Long] else null

        def write(row: InternalRow): Unit = {
          if (row.isNullAt(urlIdx))
            throw new IllegalStateException(s"writer invariant: null url in bucket $bucket")
          val u = row.getUTF8String(urlIdx)
          if (last != null && u.compareTo(last) <= 0)
            throw new IllegalStateException(s"writer invariant: url '$u' does not " +
              s"follow '$last' strictly in bucket $bucket (unsorted input or a second version)")
          last = u.clone()
          if (first == null) first = last
          if (!tsNull) {
            if (row.isNullAt(tsIdx)) tsNull = true
            else {
              val ts = row.getLong(tsIdx)
              if (ts < tsMin) tsMin = ts
              if (ts > tsMax) tsMax = ts
            }
          }
          if (hashes != null) hashes += Bloom.hashOf(u)
          out.write(dataRow(row))
          n += 1
        }

        def close(): DataFile = {
          out.close()
          if (hashes != null) Bloom.writeSidecar(abs, n, hashes.result().iterator)
          DataFile(rel, bucket, n, first.toString, last.toString, schemaVersion,
            Files.size(abs),
            tsMinMicros = if (tsNull) DataFile.NoTsMin else tsMin,
            tsMaxMicros = if (tsNull) DataFile.NoTsMax else tsMax)
        }

        def abort(): Unit = try out.close() catch { case _: Exception => () }
      }

      val done = Vector.newBuilder[DataFile]
      val written = mutable.ArrayBuffer.empty[Path]
      val seen = mutable.Set.empty[Int]
      var cur: Open = null
      try {
        rows.foreach { row =>
          val b = row.getInt(bucketIdx)
          if (cur == null || cur.bucket != b) {
            if (cur != null) { done += cur.close(); cur = null }
            if (!seen.add(b)) throw new IllegalStateException(
              s"writer invariant: bucket $b appears in two runs of one task")
            cur = new Open(b)
            written += cur.abs
          }
          cur.write(row)
        }
        if (cur != null) done += cur.close()
        done.result().iterator
      } catch {
        case e: Throwable =>
          // nothing this attempt wrote is referenced yet: remove it now
          // rather than leave it to the orphan sweep (the Hadoop delete
          // takes the local checksum file along)
          if (cur != null) cur.abort()
          val fs = new HPath(absDir).getFileSystem(hadoopConf.value)
          written.foreach { p =>
            fs.delete(new HPath(p.toString), false)
            Files.deleteIfExists(Bloom.sidecar(p))
          }
          throw e
      }
    }
  }
}

/** Hadoop's checksummed local file system, setting permissions through
  * java.nio. Without Hadoop's native library, `RawLocalFileSystem` runs
  * `chmod` in a child process for every file it creates and every directory
  * `create` makes: for a 16-file write, 16 data files, their 16 checksum
  * files and 16 `bucket=<n>` dirs, so ~50 processes per table write, whose
  * cost swings with the machine's load. The modes set are the same. */
private[lake] final class ForklessLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: HPath, perm: FsPermission): Unit = // the rwx bits, as chmod sets them
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission((perm.toShort & 0x1ff).toShort).toString))
})
