package graft.lake

import org.apache.spark.sql.functions._

import graft.{Oracle, SparkSpec}
import graft.binlog.{ChangeEventGen, GenProfile}
import graft.cdc.Ingest

class MaintainSpec extends SparkSpec {

  private def build(): (LakeTable, Map[String, (Long, String, String, Long)], GenProfile) = {
    val p = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 1200)
    val binlog = tmpDir("mbl")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 600)
    val table = Ingest.replayBatch(spark, binlog.toString, tmpDir("mtbl"), eventsPerBatch = 400, nBuckets = 8)
    (table, Oracle.finalState(p), p)
  }

  test("compaction preserves live state; tombstone GC shrinks storage") {
    val (table, oracle, _) = build()
    val liveBefore = table.read(spark).count()
    val storedBefore = table.readRaw(spark).count()
    assert(storedBefore > liveBefore) // tombstones exist
    // pure compaction: everything preserved, one file per bucket
    Maintain.compact(spark, table)
    assert(table.readRaw(spark).count() == storedBefore)
    assert(table.currentSnapshot.files.groupBy(_.bucket).values.forall(_.size == 1))
    // GC all tombstones (watermark = +inf is safe here: the log is fully applied)
    Maintain.compact(spark, table, dropTombstonesOlderThanMicros = Long.MaxValue)
    assert(table.readRaw(spark).count() == liveBefore)
    // live rows unchanged and still equal to the oracle
    val got = table.read(spark).collect().map { r =>
      r.getAs[String]("url") -> Oracle.micros(r.getAs[java.sql.Timestamp]("warc_ts"))
    }.toMap
    assert(got.size == oracle.size)
    assert(got.forall { case (u, ts) => oracle(u)._1 == ts })
    // batch markers (exactly-once history) survive maintenance commits
    assert(table.currentSnapshot.batches.nonEmpty)
  }

  test("expireSnapshots removes orphaned files but retained snapshots stay readable") {
    val (table, _, _) = build()
    val allIds = table.snapshotIds
    assert(allIds.size >= 4)
    val curCount = table.read(spark).count()
    val dataFilesBefore = countDataFiles(table)
    val (expired, deleted) = Maintain.expireSnapshots(table, keepLast = 2)
    assert(expired > 0 && deleted > 0)
    assert(countDataFiles(table) < dataFilesBefore)
    // current snapshot unaffected
    assert(table.read(spark).count() == curCount)
    // retained older snapshot still time-travelable
    val retained = table.snapshotIds
    assert(retained.size <= 3)
    retained.foreach(id => table.read(spark, Some(id)).count())
    // expired metadata gone
    assert(!retained.contains(allIds.head) || allIds.head == table.currentSnapshotId)
  }

  test("pin retains its forward span through expiry; touch renews; release reclaims") {
    val (table, _, _) = build()
    val allIds = table.snapshotIds
    assert(allIds.size >= 4)
    val pinId = allIds(allIds.size / 2) // a MIDDLE snapshot: something older must expire
    val pinnedRows = table.read(spark, Some(pinId)).count()
    val incBefore = table.readIncrement(spark, pinId).count()
    val pin = table.pin(pinId)
    val (expired1, _) = Maintain.expireSnapshots(table, keepLast = 1)
    // snapshots strictly BEFORE the pin expired; the pin and its entire
    // forward span survived (an incremental consumer still has to read it)
    assert(expired1 >= 1, "expiry must reclaim the pre-pin snapshots")
    val retained = table.snapshotIds
    assert(allIds.filter(_ >= pinId).forall(retained.contains),
      s"forward span of pinned $pinId must survive: $retained")
    assert(table.read(spark, Some(pinId)).count() == pinnedRows)
    assert(table.readIncrement(spark, pinId).count() == incBefore,
      "the pinned consumer's change feed must be unchanged by expiry")
    // a crashed holder's stale lease ages out — but touch() renews a live one
    assert(table.pinnedSnapshotIds(ignoreOlderThanMs = 0L).isEmpty)
    val pinsDir = table.root.resolve("meta").resolve("pins")
    val lease = java.nio.file.Files.list(pinsDir).iterator().next()
    java.nio.file.Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(1000L)) // ancient
    assert(table.pinnedSnapshotIds(ignoreOlderThanMs = 3600000L).isEmpty)
    pin.touch()
    assert(table.pinnedSnapshotIds(ignoreOlderThanMs = 3600000L) == Set(pinId))
    pin.release()
    val (expired2, _) = Maintain.expireSnapshots(table, keepLast = 1)
    assert(expired2 >= 1 && !table.snapshotIds.contains(pinId),
      s"released $pinId must expire: ${table.snapshotIds}")
  }

  test("owned pins: positional matching — releaseOwnedPins can't touch others' leases") {
    val (table, _, _) = build()
    val id = table.currentSnapshotId
    // a NUMERIC owner tag must never match another lease's snapshot-id
    // field, and anonymous leases must never match any owner
    val anon = table.pin(id)
    val numericOwner = table.pin(id, owner = id.toString)
    val other = table.pin(id, owner = "readerB")
    val mine = table.pin(id, owner = "curA")
    val mine2 = table.pin(id, owner = "curA")
    assert(table.releaseOwnedPins(id.toString) == 1, "numeric owner deletes only its own lease")
    assert(table.releaseOwnedPins("curA", except = Set(mine2.file)) == 1,
      "owned cleanup honors the except set")
    assert(table.pinnedSnapshotIds().contains(id), "anon + readerB + kept curA still pinned")
    // dash would corrupt positional parsing — rejected, not rewritten
    intercept[IllegalArgumentException](table.pin(id, owner = "a-b"))
    intercept[IllegalArgumentException](table.releaseOwnedPins("a-b"))
    anon.release(); other.release(); mine.release(); mine2.release()
  }

  test("incremental read across an expired (GC'd) span fails loudly, not silently wrong") {
    val (table, _, _) = build()
    val ids = table.snapshotIds
    assert(ids.size >= 4)
    val from = ids.head
    // simulate a span lost to expiry under an aged-out lease: a middle
    // snapshot's metadata vanishes while `from` and the tip survive
    val gone = ids(ids.size / 2)
    java.nio.file.Files.delete(table.root.resolve("meta").resolve(s"snap-$gone.json"))
    val e = intercept[IllegalStateException] { table.readIncrement(spark, from) }
    assert(e.getMessage.contains("EXPIRED span"))
  }

  test("auto-expiry cadence in the streaming loop bounds snapshot count, state stays correct") {
    val p = graft.binlog.GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 1500)
    val binlog = tmpDir("aebl")
    graft.binlog.ChangeEventGen.writeSegments(p, binlog, segmentEvents = 500)
    val root = tmpDir("aetbl")
    val q = graft.cdc.Ingest.startStream(spark, binlog.toString, root,
      tmpDir("aeck").toString, maxEventsPerBatch = 400, nBuckets = 4,
      mode = graft.cdc.Mor, expireEveryBatches = 2, keepSnapshots = 3,
      bloomEveryBatches = 3, growBucketsTargetBytes = 40000L)
    q.awaitTermination()
    val table = LakeTable.load(root)
    // ≥8 batches ran; without expiry there would be ≥9 snapshots
    assert(table.currentSnapshot.batches.size >= 7)
    assert(table.snapshotIds.size <= 5, s"snapshots not expired: ${table.snapshotIds}")
    // auto bucket growth kicked in (tiny byte target) and layout stayed sane
    assert(table.currentSnapshot.nBuckets > 4, s"nBuckets=${table.currentSnapshot.nBuckets}")
    // the bloom cadence ran without disturbing ingest; files written AFTER
    // the last cadence tick are legitimately bloom-less (opportunistic) —
    // a top-up covers them and is then idempotent
    Maintain.buildBlooms(spark, table)
    assert(Maintain.buildBlooms(spark, table) == 0)
    assert(table.currentSnapshot.files.forall(f =>
      java.nio.file.Files.exists(Bloom.sidecar(table.root.resolve(f.path)))))
    val oracle = Oracle.finalState(p)
    val got = table.read(spark).collect()
      .map(r => r.getAs[String]("url") -> Oracle.micros(r.getAs[java.sql.Timestamp]("warc_ts"))).toMap
    assert(got.size == oracle.size)
    assert(oracle.forall { case (u, (ts, _, _, _)) => got(u) == ts })
  }

  test("removeOrphanFiles: crash debris deleted; referenced, fresh, and in-flight files survive") {
    import java.nio.file.{Files => F}
    import java.nio.file.attribute.FileTime
    val (table, oracle, _) = build()
    val now = System.currentTimeMillis()
    val old = FileTime.fromMillis(now - 2 * 3600 * 1000L)
    def plant(rel: String): java.nio.file.Path = {
      val p = table.root.resolve(rel)
      F.createDirectories(p.getParent)
      F.write(p, Array[Byte](1, 2, 3))
      F.setLastModifiedTime(p, old)
      p
    }
    // crashed merge: data dir with no committed snapshot (+ committer staging)
    val o1 = plant("data/s999/bucket=0/part-junk.parquet")
    val o2 = plant("data/s999/_temporary/0/t0/part-x.parquet")
    // concurrent-maintenance writer that died pre-commit
    val o3 = plant("data/s3cdead/bucket=1/part-junk.parquet")
    // abandoned stream's epoch staging
    val o4 = plant("staging/epoch-7/task-0-a0/seg-000.gz")
    // crashed commit's tmp file in meta
    val o5 = plant("meta/.snap-999.json.tmp")
    val orphans = Seq(o1, o2, o3, o4, o5)
    // a fresh orphan (an in-flight writer's uncommitted file) must survive
    val fresh = table.root.resolve("data/s998/bucket=0/part-fresh.parquet")
    F.createDirectories(fresh.getParent); F.write(fresh, Array[Byte](9))
    // a referenced file with an ancient mtime must survive (age alone never deletes)
    val refFile = table.root.resolve(table.currentSnapshot.files.head.path)
    F.setLastModifiedTime(refFile, old)
    val liveBefore = table.read(spark).count()
    val horizon = now - 3600 * 1000L
    // future horizons rejected: the mtime horizon is the writer protection
    intercept[IllegalArgumentException](
      Maintain.removeOrphanFiles(table, now + 3600 * 1000L))
    // dry run lists exactly the debris and deletes nothing
    val expect = orphans.map(p => table.root.relativize(p).toString).toSet
    val wouldGo = Maintain.removeOrphanFiles(table, horizon, dryRun = true)
    assert(wouldGo.toSet == expect, s"dryRun listed ${wouldGo.toSet}")
    orphans.foreach(p => assert(F.exists(p), s"dryRun must not delete $p"))
    // real run: debris gone, crash dirs pruned, everything else intact
    val gone = Maintain.removeOrphanFiles(table, horizon)
    assert(gone.toSet == expect)
    orphans.foreach(p => assert(!F.exists(p), s"$p must be deleted"))
    assert(!F.exists(table.root.resolve("data/s999")), "emptied crash dir pruned")
    assert(!F.exists(table.root.resolve("staging/epoch-7")), "emptied staging dir pruned")
    assert(F.exists(fresh), "younger-than-horizon orphan must survive")
    assert(F.exists(refFile), "referenced file survives however old")
    // state unchanged; second pass idempotent
    assert(table.read(spark).count() == liveBefore)
    assert(Maintain.removeOrphanFiles(table, horizon).isEmpty)
    val got = table.read(spark).collect()
      .map(r => r.getAs[String]("url") -> Oracle.micros(r.getAs[java.sql.Timestamp]("warc_ts"))).toMap
    assert(got.size == oracle.size)
    assert(oracle.forall { case (u, (ts, _, _, _)) => got(u) == ts })
  }

  test("removeOrphanFiles: aged staging files under every meta dir go, fresh ones stay") {
    import java.nio.file.{Files => F}
    val table = LakeTable.create(tmpDir("mtmp"), nBuckets = 2)
    table.createBranch("x")
    val now = System.currentTimeMillis()
    // a createBranch that died before its VERSION publish, and an in-flight
    // branch commit's staging file
    val aged = table.root.resolve("meta/refs/x/.VERSION.tmp")
    val fresh = table.root.resolve("meta/refs/x/.snap-1.json.0a1b2c3d.tmp")
    F.write(aged, Array[Byte](1))
    F.setLastModifiedTime(aged, java.nio.file.attribute.FileTime.fromMillis(now - 2 * 3600 * 1000L))
    F.write(fresh, Array[Byte](1))
    assert(Maintain.removeOrphanFiles(table, now - 3600 * 1000L) == Vector("meta/refs/x/.VERSION.tmp"))
    assert(!F.exists(aged) && F.exists(fresh))
    assert(table.branchExists("x") && table.branchTable("x").currentSnapshotId == 0L)
  }

  private def countDataFiles(table: LakeTable): Int = {
    val data = table.root.resolve("data")
    val out = new java.util.concurrent.atomic.AtomicInteger()
    java.nio.file.Files.walk(data).forEach(p =>
      if (p.toString.endsWith(".parquet")) out.incrementAndGet())
    out.get()
  }

  test("rebucket: table outgrows its creation-time bucket count, state intact, merges continue") {
    val (table, oracle, p) = build()
    val liveBefore = table.read(spark).count()
    // grow 8 -> 32 buckets
    Maintain.rebucket(spark, table, 32)
    val snap = table.currentSnapshot
    assert(snap.nBuckets == 32)
    assert(snap.files.map(_.bucket).distinct.size > 8)
    assert(table.read(spark).count() == liveBefore)
    // bucket==partition invariant under the NEW count: every file's manifest
    // bucket equals the recomputed hash bucket of its own url range
    val byFile = table.read(spark)
      .withColumn("b", LakeTable.bucketOf(col("url"), 32))
    assert(byFile.filter(col("b") >= 32 || col("b") < 0).count() == 0)
    // a further merge (different batch id space) lands in the new layout
    val binlog2 = tmpDir("mbl2")
    graft.binlog.ChangeEventGen.writeSegments(
      p.copy(seed = p.seed + 99), binlog2, segmentEvents = 600)
    graft.cdc.Ingest.replayBatch(spark, binlog2.toString, table.root,
      eventsPerBatch = 600, nBuckets = 32, firstBatchId = 1000L)
    assert(table.currentSnapshot.nBuckets == 32)
    assert(table.read(spark).count() >= liveBefore)
    // shrink also works (consolidation of a shrunken table)
    Maintain.rebucket(spark, table, 4)
    assert(table.currentSnapshot.nBuckets == 4)
    val after = table.read(spark).count()
    Maintain.compact(spark, table)
    assert(table.read(spark).count() == after)
  }

  test("compaction input plan has NO Exchange (co-located raw resolve)") {
    val (table, _, _) = build()
    val df = graft.sql.GraftRead.rawResolved(spark, table)
      .withColumn("bucket", LakeTable.bucketOf(col("url"), table.currentSnapshot.nBuckets))
      .sortWithinPartitions(col("url"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
    // and the raw resolve keeps tombstone winners (compaction must persist them)
    assert(df.filter(col("_deleted")).count() > 0)
  }

  test("compacting a table without bloom sidecars writes none") {
    val (table, _, _) = build()
    def sidecars(): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(table.root)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter(_.getFileName.toString.endsWith(".bloom")).toList
      finally s.close()
    }
    assert(sidecars().isEmpty)
    val before = table.currentSnapshotId
    Maintain.compact(spark, table)
    assert(table.currentSnapshotId > before, "compaction must commit new files")
    assert(sidecars().isEmpty, s"compaction wrote sidecars: ${sidecars()}")
  }

  test("maybeGrowBuckets doubles only past the byte target") {
    val (table, _, _) = build()
    val before = table.currentSnapshot.nBuckets
    Maintain.maybeGrowBuckets(spark, table, targetBytesPerBucket = Long.MaxValue)
    assert(table.currentSnapshot.nBuckets == before)
    Maintain.maybeGrowBuckets(spark, table, targetBytesPerBucket = 1L)
    assert(table.currentSnapshot.nBuckets == before * 2)
  }
}
