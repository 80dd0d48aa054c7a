package graft.lake

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.binlog.{BinlogRead, ChangeEventGen, GenProfile}
import graft.cdc.{Ingest, Mor}

/** One read of stored change rows: `readIncrement` and `readRaw` are the
  * `graft-feed` batch read (minus `_feed_snapshot`) over a MOR table whose
  * delta files span two schema versions — the same rows, the same jobs
  * (no file listing), and the feed's column pruning reaching the parquet
  * reader. */
class RawReadSpec extends SparkSpec {

  // html is binary — project to md5 so Row.toString is value-comparable
  private def canon(df: DataFrame): Array[String] = df
    .select(col("url"), unix_micros(col("warc_ts")).as("ts"), md5(col("html")).as("h"),
      col("text"), col("content_len"), col("lang"),
      col("_seq_part"), col("_seq_offset"), col("_deleted"))
    .collect().map(_.toString).sorted

  private def feed(root: java.nio.file.Path, from: String, to: Long): DataFrame =
    spark.read.format("graft-feed").option("path", root.toString)
      .option("fromSnapshot", from).option("toSnapshot", to.toString).load()
      .drop("_feed_snapshot")

  /** Spark jobs submitted while `body` runs, from the listener bus. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("readIncrement and readRaw are the feed's batch read: same rows, same jobs, pruned columns") {
    val p = GenProfile.evolving().copy(partitions = 2, eventsPerPartition = 1200)
    val binlog = tmpDir("rrbl")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 600)
    val root = tmpDir("rrtbl")
    val table = LakeTable.create(root, nBuckets = 16, schemaVersion = 1)
    val from = table.currentSnapshotId
    // six MOR batches over 16 buckets, the schema evolving after the third:
    // every batch adds a delta file to each bucket, below the tier fold, so
    // each schema version holds more files than Spark lists serially (32)
    val step = p.eventsPerPartition / 6
    (0 until 6).foreach { b =>
      if (b == 3) table.evolveSchema(2)
      Ingest.applyBatch(spark, table, mode = Mor)(
        BinlogRead.range(spark, binlog.toString, b * step, (b + 1) * step), b.toLong)
    }
    val snap = table.currentSnapshot
    val to = snap.snapshotId
    val span = table.incrementFilesBySnapshot(from, to).flatMap(_._2)
    assert(span.groupBy(_.schemaVersion).map(_._2.size).toSeq.sorted.headOption.exists(_ > 32),
      s"need more than 32 delta files per version, got ${span.groupBy(_.schemaVersion).map(_._2.size)}")
    assert(span.map(_.schemaVersion).toSet == Set(1, 2))
    assert(snap.files.size == span.size, "no fold may have replaced a delta")

    // (1) readIncrement == the feed's change read of the same span
    val inc = table.readIncrement(spark, from, Some(to))
    assert(inc.schema.fieldNames.toSeq == TableSchemas.forVersion(2).fieldNames.toSeq)
    val incRows = canon(inc)
    assert(incRows.length == snap.batches.map(m => m.upserts + m.deletes).sum)
    assert(incRows.sameElements(canon(feed(root, from.toString, to))))

    // (2) readRaw == the feed's full-state read at the same snapshot
    val raw = table.readRaw(spark, Some(to))
    assert(canon(raw).sameElements(canon(feed(root, "full", to))))

    // (3) building each read and counting it submits the feed count's jobs
    // and no more: the manifest names every file, so no listing job runs
    // (a count under AQE is two jobs: the partial aggregate's shuffle map
    // stage, then the final stage)
    val feedJobs = jobsOf(feed(root, from.toString, to).count(): Unit)
    assert(feedJobs <= 2, s"a feed count submitted $feedJobs jobs")
    assert(jobsOf(table.readIncrement(spark, from, Some(to)).count(): Unit) == feedJobs)
    assert(jobsOf(table.readRaw(spark, Some(to)).count(): Unit) == feedJobs)

    // (4) a projection without html prunes it out of the feed scan
    val scans = inc.select("url", "_deleted").queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(scans.size == 1 && scans.head.isInstanceOf[FeedScan], scans.toString)
    val cols = scans.head.readSchema().fieldNames.toSeq
    assert(cols.contains("url") && !cols.contains("html"), cols.toString)
  }
}
