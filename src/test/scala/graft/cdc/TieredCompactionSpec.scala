package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Oracle, SparkSpec}
import graft.binlog.{ChangeEventGen, GenProfile}
import graft.lake.{DataFile, Resolve, TableSchemas}

/** LSM-style tiered compaction: per-batch MOR deltas fold into MID files
  * often (cost O(deltas)); mids fold into the base rarely — write
  * amplification drops from O(base/8) to O(base/(8·MidFilesPerBucket)) per
  * batch while LWW stays tier-blind (envelopes decide winners whatever the
  * file layout). */
class TieredCompactionSpec extends SparkSpec {

  test("long MOR replay: delta→mid→full folds happen; state equals oracle; counts bounded") {
    val p = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 4500)
    val binlog = tmpDir("tier-binlog")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 1000, chunkThreshold = 64 * 1024)
    val tblDir = tmpDir("tier-tbl").resolve("t")

    // 45 batches of 100 events/partition: deltas cross MaxFilesPerBucket(8)
    // every ~9 batches → a mid; after MidFilesPerBucket(4) mids the FULL
    // fold rewrites the base
    val table = Ingest.replayBatch(spark, binlog.toString, tblDir,
      eventsPerBatch = 100, nBuckets = 4, mode = Mor)

    // tier history: mids were created (delta folds ran) and a full fold
    // re-based at least once (some snapshot where a bucket is exactly one
    // tier-0 file + fresh deltas)
    val snaps = table.snapshotIds.map(table.snapshot)
    assert(snaps.exists(_.files.exists(_.tier == DataFile.TierMid)),
      "no mid-tier file ever existed — delta folds never ran")
    assert(snaps.exists { s =>
      s.files.nonEmpty && s.files.groupBy(_.bucket).exists { case (_, fs) =>
        fs.count(_.tier == DataFile.TierBase) == 1 && fs.count(_.tier == DataFile.TierMid) == 0
      }
    }, "no bucket was ever fully re-based")

    // bounded file counts: ≤ 1 base + MidFilesPerBucket mids + (MaxFiles+1) deltas
    val byBucket = table.currentSnapshot.files.groupBy(_.bucket)
    byBucket.foreach { case (b, fs) =>
      assert(fs.size <= 1 + Merge.MidFilesPerBucket + Merge.MaxFilesPerBucket + 1,
        s"bucket $b holds ${fs.size} files: ${fs.map(f => (f.tier, f.path)).mkString(", ")}")
      assert(fs.count(_.tier == DataFile.TierBase) <= 1, s"bucket $b has multiple bases")
    }

    // the CDC-out change feed is fold-transparent: increments across the
    // whole run are exactly the per-batch winners, never the rewritten
    // mid/base copies (fold commits carry no markers and are skipped)
    val incRows = table.readIncrement(spark, 0L).count()
    val markerRows = table.currentSnapshot.batches.map(b => b.upserts + b.deletes).sum
    assert(incRows == markerRows, s"increment=$incRows markers=$markerRows")

    // final state identical to the pure LWW oracle — byte-identical text
    val oracle = Oracle.finalState(p)
    val got = table.read(spark).collect().map { r =>
      r.getAs[String]("url") -> ((Oracle.micros(r.getAs[java.sql.Timestamp]("warc_ts")),
        r.getAs[String]("text")))
    }.toMap
    assert(got.size == oracle.size, s"engine=${got.size} oracle=${oracle.size}")
    oracle.foreach { case (url, (ts, text, _, _)) =>
      assert(got(url)._1 == ts, s"warc_ts mismatch at $url")
      assert(got(url)._2 == text, s"text not byte-identical at $url")
    }
  }

  test("delta fold: one write job without an Exchange; mids hold the deltas' LWW winners") {
    val p = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 1500)
    val binlog = tmpDir("dfold-binlog")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 500, chunkThreshold = 64 * 1024)
    // 5 batches: every bucket gathers deltas, below the count trigger
    val table = Ingest.replayBatch(spark, binlog.toString, tmpDir("dfold-tbl").resolve("t"),
      eventsPerBatch = 300, nBuckets = 4, mode = Mor)
    val snap = table.currentSnapshot
    val deltas = snap.files.filter(_.tier == DataFile.TierDelta)
    assert(deltas.groupBy(_.bucket).values.forall(_.size > 1), "every bucket needs several deltas")

    def rows(df: DataFrame): Seq[(String, Long, String, Int, Long, Boolean)] =
      df.select(col("url"), unix_micros(col("warc_ts")), col("text"),
          col("_seq_part"), col("_seq_offset"), col("_deleted"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getInt(3), r.getLong(4), r.getBoolean(5))).toSeq.sortBy(_._1)
    val dataCols = TableSchemas.forVersion(snap.schemaVersion)
      .fieldNames.toSeq.filterNot(TableSchemas.internalNames.contains)
    val want = rows(Resolve.lww(table.readFiles(spark, snap, deltas), dataCols))
    assert(want.exists(_._6), "the deltas must hold tombstone winners")

    val buckets = deltas.map(_.bucket).toSet
    // the table writer runs as one SQL execution of the fold's own plan
    val writes = captureQueries { Merge.compactDeltaTier(spark, table, buckets): Unit }
      .map(_.executedPlan.treeString).filter(_.contains("GraftLakeScan"))
    assert(writes.size == 1, s"expected ONE fold write job, got ${writes.size}")
    assert(writes.head.contains("GraftLakeScan"), writes.head)
    assert(!writes.head.contains("Exchange"), writes.head)

    val after = table.currentSnapshot
    assert(!after.files.exists(_.tier == DataFile.TierDelta))
    val mids = after.files.filter(_.tier == DataFile.TierMid)
    assert(mids.map(_.bucket).sorted == buckets.toSeq.sorted, "one mid per folded bucket")
    assert(rows(table.readFiles(spark, after, mids)) == want)
  }

  test("size-based triggers: delta BYTES fold a skewed bucket long before the count trigger") {
    val p = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 2000)
    val binlog = tmpDir("sz-binlog")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 1000, chunkThreshold = 64 * 1024)
    val tblDir = tmpDir("sz-tbl").resolve("t")
    // 1-byte threshold: every appended delta immediately exceeds it, so the
    // delta tier folds each batch — delta counts never approach the count
    // trigger (MaxFilesPerBucket=8) between folds
    val savedD = Merge.MaxDeltaBytesPerBucket
    Merge.MaxDeltaBytesPerBucket = 1L
    val table =
      try Ingest.replayBatch(spark, binlog.toString, tblDir,
        eventsPerBatch = 200, nBuckets = 4, mode = Mor)
      finally Merge.MaxDeltaBytesPerBucket = savedD

    val snaps = table.snapshotIds.map(table.snapshot)
    // folds fired on bytes: no snapshot ever holds more than ONE delta file
    // per bucket beyond the just-appended batch (count trigger alone would
    // let 8 accumulate)
    snaps.foreach { s =>
      s.files.groupBy(_.bucket).foreach { case (b, fs) =>
        assert(fs.count(_.tier == DataFile.TierDelta) <= 1,
          s"snapshot ${s.snapshotId} bucket $b kept ${fs.count(_.tier == DataFile.TierDelta)} deltas despite the byte trigger")
      }
    }
    assert(snaps.exists(_.files.exists(_.tier == DataFile.TierMid)),
      "byte-triggered delta folds never produced a mid")
    // state still equals the oracle
    val oracle = Oracle.finalState(p)
    val got = table.read(spark).collect().map { r =>
      r.getAs[String]("url") -> Oracle.micros(r.getAs[java.sql.Timestamp]("warc_ts"))
    }.toMap
    assert(got.size == oracle.size)
    oracle.foreach { case (url, (ts, _, _, _)) => assert(got(url) == ts) }
  }
}
