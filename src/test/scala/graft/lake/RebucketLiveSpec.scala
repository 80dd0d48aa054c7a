package graft.lake

import org.apache.spark.sql.functions._

import graft.{Oracle, SparkSpec}
import graft.binlog.{ChangeEventGen, GenProfile}

/** Live rebucketing: the staged cutover ([[Maintain.rebucket]]) doubles
  * the bucket count while a merge-on-read ingest stream keeps committing —
  * no stop-the-world. The cutover pins its base snapshot (expiry-safe),
  * chases the head via the fold-transparent change feed, swaps atomically
  * under the commit lock, and the layout guard makes any in-flight
  * old-layout batch recompute instead of corrupting the bucket invariant. */
class RebucketLiveSpec extends SparkSpec {

  test("bucket count doubles under a flowing MOR stream; state, invariant, lineage intact") {
    val p = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 4000)
    val binlog = tmpDir("rbl-binlog")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 1000, chunkThreshold = 64 * 1024)
    val tblDir = tmpDir("rbl-tbl").resolve("t")

    @volatile var swapId = -1L
    @volatile var batchesAtSwap = -1
    @volatile var rbErr: Throwable = null
    val rb = new Thread(() => {
      try {
        while (!LakeTable.exists(tblDir) ||
          LakeTable.load(tblDir).currentSnapshot.batches.size < 3) Thread.sleep(30)
        val t = LakeTable.load(tblDir)
        val swapped = Maintain.rebucket(spark, t, 16)
        swapId = swapped.snapshotId
        batchesAtSwap = swapped.batches.size
      } catch { case e: Throwable => rbErr = e }
    }, "rbl-rebucket")
    rb.start()
    val table =
      try graft.cdc.Ingest.replayBatch(spark, binlog.toString, tblDir,
        eventsPerBatch = 250, nBuckets = 8, mode = graft.cdc.Mor)
      finally rb.join(180000)
    assert(rbErr == null, s"rebucketLive failed: $rbErr")
    assert(swapId > 0, "rebucket never ran")
    val snap = table.currentSnapshot
    assert(snap.nBuckets == 16, s"nBuckets=${snap.nBuckets}")
    // the stream kept committing batches AFTER the cutover — the point of
    // "live" (32 batches total; the swap happens around batch 3+rewrite)
    assert(snap.batches.size > batchesAtSwap,
      s"no batch landed after the swap (at=$batchesAtSwap, final=${snap.batches.size})")

    // bucket invariant under the NEW function: every file's rows hash to
    // its manifest bucket — co-located reads/merges stay correct
    snap.files.groupBy(_.bucket).foreach { case (b, fs) =>
      val foreign = table.readFiles(spark, snap, fs)
        .filter(LakeTable.bucketOf(col("url"), 16) =!= b).count()
      assert(foreign == 0, s"bucket $b holds $foreign foreign rows")
    }

    // final state identical to the single-writer oracle — byte-identical text
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

    // exactly-once audit intact across the swap: markers preserved, lineage
    // gap-free, full coverage
    val lin = snap.batches.flatMap(_.lineage)
    (0 until p.partitions).foreach { part =>
      val runs = lin.filter(_.partition == part).sortBy(_.startOffset)
      runs.sliding(2).foreach {
        case Seq(x, y) => assert(y.startOffset == x.startOffset + x.count)
        case _ =>
      }
      assert(runs.map(_.count).sum == p.eventsPerPartition)
    }
  }

  test("layout guard: an old-layout append after the swap throws and recomputing lands cleanly") {
    val table = LakeTable.create(tmpDir("rbl-guard"), nBuckets = 4)
    val f = {
      val p = table.root.resolve("data/stale.parquet")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array[Byte](1))
      DataFile("data/stale.parquet", 0, 1L, "a", "a", TableSchemas.current, 1L)
    }
    // simulate a swap landing while the batch was in flight
    val s = table.currentSnapshot
    table.commit(s.copy(snapshotId = s.snapshotId + 1, parentId = s.snapshotId, nBuckets = 8))
    val e = intercept[BucketLayoutChanged] {
      table.commitAppend(Seq(f), Some(BatchMarker(1L, Nil, 1L, 0L)), expectedBuckets = Some(4))
    }
    assert(e.getMessage.contains("rebucketed"))
    assert(!java.nio.file.Files.exists(table.root.resolve("data/stale.parquet")),
      "guard must clean up the orphaned old-layout files")
    assert(!table.currentSnapshot.committedBatchIds.contains(1L),
      "the marker must NOT have committed — the recompute stays exactly-once")
    // the recompute under the new layout commits normally
    val f2 = {
      val p = table.root.resolve("data/fresh.parquet")
      java.nio.file.Files.write(p, Array[Byte](1))
      DataFile("data/fresh.parquet", 0, 1L, "a", "a", TableSchemas.current, 1L)
    }
    val next = table.commitAppend(Seq(f2), Some(BatchMarker(1L, Nil, 1L, 0L)),
      expectedBuckets = Some(8))
    assert(next.committedBatchIds.contains(1L))
  }
}
