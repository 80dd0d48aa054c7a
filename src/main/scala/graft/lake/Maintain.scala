package graft.lake

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Table maintenance: compaction, tombstone GC, snapshot expiry.
  *
  * At 10^10-event scale a url-keyed COW table accumulates (a) many files per
  * bucket across snapshots, (b) delete tombstones, (c) orphaned data files
  * referenced only by expired snapshots. These are the background jobs an
  * Iceberg deployment runs (rewrite_data_files / expire_snapshots),
  * re-expressed over our in-repo format.
  */
object Maintain {

  /** Rewrite the table so each bucket holds one compacted file, optionally
    * dropping tombstones with `warc_ts` ≤ `dropTombstonesOlderThanMicros`.
    *
    * TOMBSTONE SAFETY: a tombstone may only be dropped once no replayable
    * part of the change log can still deliver an OLDER upsert for that url —
    * i.e. the caller passes a watermark ≤ (oldest event time that can still
    * arrive). Passing Long.MinValue keeps all tombstones (pure compaction).
    * The same watermark contract covers CONCURRENT ingest (compaction
    * rebases over concurrently appended deltas): events below the watermark
    * cannot arrive on any path, so a dropped tombstone can never be
    * out-resolved by a late concurrent upsert.
    *
    * Produces a maintenance snapshot: same batches/lineage, new files. */
  def compact(spark: SparkSession, table: LakeTable,
      dropTombstonesOlderThanMicros: Long = Long.MinValue): Snapshot =
    foldReplace(spark, table, DataFile.TierBase, "c", dropTombstonesOlderThanMicros)(_.files)

  /** The one fold-and-replace of stored files, behind [[compact]] and the
    * MOR tier folds ([[graft.cdc.Merge.compactDeltaTier]],
    * [[graft.cdc.Merge.compactBuckets]]); callers only choose the files.
    *
    * Pins the current snapshot (a concurrent aggressive expiry must not GC
    * the inputs mid-job), folds the files `select` picks with the raw
    * CO-LOCATED per-bucket k-way resolve (tombstone winners kept unless
    * older than the watermark, files aligned to the snapshot's schema
    * version — no shuffle, one task per bucket), writes one url-sorted
    * `outTier` file per bucket to a unique `s<id+1><dirTag><rand>` dir and
    * replaces exactly the files it read ([[LakeTable.commitReplace]]: deltas
    * a concurrent ingest appended since the pin survive the rebase; a
    * competing maintenance that already replaced the inputs turns this into
    * a clean no-op). When any replaced file had a bloom sidecar, the
    * writing tasks build the new files' sidecars too, so point lookups stay
    * pruned without waiting for the maintenance pass. */
  private[graft] def foldReplace(spark: SparkSession, table: LakeTable,
      outTier: Int, dirTag: String, dropTombstonesOlderThanMicros: Long = Long.MinValue)(
      select: Snapshot => Seq[DataFile]): Snapshot = {
    val (snap, pin) = table.pinCurrent()
    try {
      val sel = select(snap)
      if (sel.isEmpty) return snap
      val resolved = graft.sql.GraftRead.rawResolved(spark, table, Some(snap.snapshotId), Some(sel))
      val kept =
        if (dropTombstonesOlderThanMicros == Long.MinValue) resolved
        else resolved.filter(!col("_deleted") ||
          unix_micros(col("warc_ts")) > dropTombstonesOlderThanMicros)
      // rows arrive per bucket, url-sorted (the scan's reported partitioning
      // and ordering) — filter/withColumn preserve both, so no shuffle
      val out = kept
        .withColumn("bucket", LakeTable.bucketOf(col("url"), snap.nBuckets))
        .sortWithinPartitions(col("url"))
      val outDir = s"s${snap.snapshotId + 1}$dirTag${java.util.UUID.randomUUID().toString.take(8)}"
      val blooms = sel.exists(f => Files.exists(Bloom.sidecar(table.root.resolve(f.path))))
      val newFiles = table.writeDataFilesTo(out, outDir, snap.schemaVersion, blooms)
        .map(_.copy(tier = outTier))
      table.commitReplace(sel, newFiles)
    } finally pin.release()
  }

  /** Rewrite the table under a NEW bucket count (≙ rewriting under a new
    * Iceberg partition spec) WITHOUT pausing ingest. The bucket==partition
    * invariant (and with it the co-located merge/read/point-lookup paths)
    * holds again at the swap — subsequent merges shuffle into the new
    * layout.
    *
    * This is how a 10^10-row table outgrows its creation-time bucket count:
    * buckets size write parallelism AND per-task merge state, so they must
    * scale with the table. One full rewrite, run on the maintenance cadence
    * when `avg bucket bytes > target` (see [[maybeGrowBuckets]]), while the
    * table's change stream keeps flowing. With no concurrent writer it is a
    * single commit of the rewritten state.
    *
    * Protocol (all machinery reused from the concurrency/pin substrate):
    *  1. PIN the current snapshot `s0` — expiry retains the pin's forward
    *     span, so every intermediate snapshot and its (possibly
    *     folded-away) delta files stay readable for the whole cutover.
    *  2. REWRITE (long, no lock): LWW-resolve the table as of `s0` under
    *     the old layout (co-located, tombstones retained — replay safety
    *     unchanged), then shuffle the winners once into the NEW bucket
    *     function; write as the new base. Ingest keeps committing batches
    *     under the old layout meanwhile.
    *  3. CATCH UP (no lock): replay the batches committed during step 2 via
    *     [[LakeTable.readIncrement]] (fold-transparent: exactly the
    *     per-batch post-dedup winners incl. tombstones, envelopes kept) and
    *     re-shuffle them into new-layout DELTA files. Loop while ingest
    *     stays ahead, at most `maxCatchupRounds` times; each round shrinks
    *     the remaining tail.
    *  4. BARRIER (commit lock): write the final sliver the same way, then
    *     atomically swap — a snapshot carrying the new `nBuckets`, the new
    *     base + catch-up deltas, and the UNCHANGED batch markers/lineage
    *     (exactly-once replay audit unaffected). Ingest commits block only
    *     for the sliver write.
    *
    * Safety against in-flight batches: a batch shuffled under the OLD
    * function that commits AFTER the swap would silently break the bucket
    * invariant — [[LakeTable.commitAppend]]'s `expectedBuckets` guard makes
    * it throw instead, and [[graft.cdc.Merge]] recomputes that one batch
    * under the new layout. A concurrent tier fold targeting old-layout
    * files no-ops cleanly (vanished inputs, [[LakeTable.commitReplace]]).
    * COW streams keep their pre-existing fail-fast CAS contract: a
    * concurrent swap surfaces as [[CommitConflict]] rather than corruption
    * — rebucket under merge-on-read ingest (the mode a 10^10-scale
    * deployment runs anyway).
    *
    * Run ONE rebucket at a time; concurrent calls stay correct (each swap
    * is a complete state) but waste the loser's rewrite. */
  def rebucket(spark: SparkSession, table: LakeTable, newBuckets: Int,
      maxCatchupRounds: Int = 8): Snapshot = {
    val (s0, pin) = table.pinCurrent()
    try {
      require(newBuckets >= 1)
      if (newBuckets == s0.nBuckets || s0.files.isEmpty) return s0
      val tag = s"rb${java.util.UUID.randomUUID().toString.take(8)}"
      // step 2: resolve as of s0 under the old layout, one shuffle into the
      // new function
      val base = graft.sql.GraftRead.rawResolved(spark, table, Some(s0.snapshotId))
        .repartition(newBuckets, col("url"))
        .withColumn("bucket", LakeTable.bucketOf(col("url"), newBuckets))
        .sortWithinPartitions(col("url"))
      val baseFiles = table.writeDataFilesTo(base, s"$tag-base", s0.schemaVersion)

      // step 3: chase the ingest head without blocking it
      var lastSeen = s0.snapshotId
      val deltas = Vector.newBuilder[DataFile]
      var round = 0
      var tip = table.currentSnapshotId
      while (tip != lastSeen && round < maxCatchupRounds) {
        deltas ++= rebucketCatchup(spark, table, lastSeen, tip, newBuckets, s"$tag-d$round")
        lastSeen = tip
        round += 1
        tip = table.currentSnapshotId
      }

      // step 4: barrier — final sliver + atomic layout swap
      LakeTable.commitLock(table.root).synchronized {
        val cur = table.currentSnapshot
        if (cur.snapshotId != lastSeen)
          deltas ++= rebucketCatchup(spark, table, lastSeen, cur.snapshotId,
            newBuckets, s"$tag-dfin")
        val files = baseFiles ++ deltas.result()
        val next = cur.copy(snapshotId = cur.snapshotId + 1, parentId = cur.snapshotId,
          nBuckets = newBuckets, files = files,
          totalRows = files.map(_.rowCount).sum)
        table.commit(next, Some(cur.commitTsMs))
      }
    } finally pin.release()
  }

  /** Re-shuffle the change feed of `(from, to]` (per-batch winners incl.
    * tombstones, envelope columns kept) into `newBuckets`-layout delta
    * files. The multi-batch increment is LWW-RESOLVED before writing: a
    * url that changed in several chased batches must not write several
    * versions into ONE delta file — writers keep one version per url per
    * file (see [[LakeTable.writeDataFilesTo]]; resolving within the increment
    * is exact: any dropped row is beaten by a kept row of the same url, so
    * the global LWW winner next to the new base is unchanged; tombstone
    * winners are kept). The groupBy(url) rides the repartition's hash
    * partitioning — no extra exchange. */
  private def rebucketCatchup(spark: SparkSession, table: LakeTable,
      from: Long, to: Long, newBuckets: Int, dirName: String): Vector[DataFile] = {
    val version = table.snapshot(to).schemaVersion
    val dataCols = TableSchemas.forVersion(version)
      .fieldNames.toSeq.filterNot(TableSchemas.internalNames.contains)
    val out = Resolve.lww(
        table.readIncrement(spark, from, Some(to)).repartition(newBuckets, col("url")),
        dataCols)
      .withColumn("bucket", LakeTable.bucketOf(col("url"), newBuckets))
      .sortWithinPartitions(col("url"))
    table.writeDataFilesTo(out, dirName, version)
      .map(_.copy(tier = DataFile.TierDelta))
  }

  /** Double the bucket count whenever the average compacted bucket exceeds
    * `targetBytesPerBucket` — call on the maintenance cadence. Returns the
    * (possibly unchanged) snapshot. */
  def maybeGrowBuckets(spark: SparkSession, table: LakeTable,
      targetBytesPerBucket: Long): Snapshot = {
    val snap = table.currentSnapshot
    if (snap.files.isEmpty) return snap
    val avg = snap.files.map(_.bytes).sum / snap.nBuckets
    if (avg > targetBytesPerBucket) rebucket(spark, table, snap.nBuckets * 2) else snap
  }

  /** Build missing per-file url bloom sidecars for the current snapshot
    * (see [[Bloom]]) — run on the maintenance cadence; point lookups use
    * them opportunistically. Returns #built. */
  def buildBlooms(spark: SparkSession, table: LakeTable): Int = {
    val snap = table.currentSnapshot
    Bloom.build(spark,
      snap.files.map(f => (table.root.resolve(f.path), f.rowCount)))
  }

  /** Expire all snapshots except the newest `keepLast`, the current, any
    * snapshot named by a tag ([[LakeTable.createTag]]), and —
    * for any snapshot PINNED by a live reader lease ([[LakeTable.pin]]) —
    * the pin's ENTIRE FORWARD SPAN: an incremental consumer pinned at S
    * still has to read every snapshot in (S, current], so retaining S alone
    * would let GC delete the intermediate metadata and the folded-away
    * delta files its change feed needs. Leases from crashed holders age out
    * via `ignorePinsOlderThanMs` (live long-runners heartbeat via
    * [[SnapshotPin.touch]]). Deletes expired metadata and any data file no
    * retained snapshot references. Time travel remains valid for retained
    * snapshots. Runs under the table's commit lock so it cannot race a
    * concurrent [[LakeTable.pin]] in this JVM. */
  def expireSnapshots(table: LakeTable, keepLast: Int,
      ignorePinsOlderThanMs: Long = Long.MaxValue,
      olderThanMs: Long = Long.MaxValue): (Int, Int) =
      LakeTable.commitLock(table.root).synchronized {
    require(table.isMain, "snapshot expiry is MAIN-only: a branch shares " +
      "data files with main across its fork, so per-chain GC reasoning " +
      "would delete files the other chain still references")
    require(keepLast >= 1)
    val ids = table.snapshotIds
    val pinned = table.pinnedSnapshotIds(ignorePinsOlderThanMs).filter(ids.contains)
    val minPinned = if (pinned.isEmpty) Long.MaxValue else pinned.min
    // time-based retention (Iceberg expire_snapshots(older_than)): only
    // snapshots COMMITTED before `olderThanMs` are eligible — a recent span
    // stays time-travel/changefeed-readable however many commits land.
    // Unstamped legacy snapshots (commitTsMs −1) carry no age evidence, so
    // only the count/pin rules protect them.
    val newEnough =
      if (olderThanMs == Long.MaxValue) Set.empty[Long]
      else ids.filter(id => table.snapshot(id).commitTsMs >= olderThanMs).toSet
    // named tags retain their snapshot POINTWISE and never age out — a
    // tagged read is self-contained (the snapshot JSON holds its file
    // list), unlike a pinned incremental consumer's forward span
    val tagged: Set[Long] = table.tags.values.toSet[Long].filter(ids.contains)
    val retain = ids.takeRight(keepLast).toSet + table.currentSnapshotId ++
      ids.filter(_ >= minPinned) ++ newEnough ++ tagged
    val expire = ids.filterNot(retain.contains)
    if (expire.isEmpty) return (0, 0)
    val referenced: Set[String] =
      retain.flatMap(id => table.snapshot(id).files.map(_.path))
    val candidates: Set[String] =
      expire.flatMap(id => table.snapshot(id).files.map(_.path)).toSet
    val orphans = candidates -- referenced
    var deletedFiles = 0
    orphans.foreach { rel =>
      val p = table.root.resolve(rel)
      if (Files.deleteIfExists(p)) deletedFiles += 1
      Files.deleteIfExists(Bloom.sidecar(p)) // bloom sidecar rides along
      // prune empty bucket dirs opportunistically
      val dir = p.getParent
      try {
        if (Files.isDirectory(dir)) {
          val s = Files.list(dir)
          val empty = try !s.findFirst().isPresent finally s.close()
          if (empty) Files.delete(dir)
        }
      } catch { case _: Exception => }
    }
    expire.foreach(table.deleteSnapshot)
    (expire.size, deletedFiles)
  }

  /** Iceberg `remove_orphan_files`: delete files under the table's `data/`
    * and `staging/` trees that NO retained snapshot references and whose
    * last-modified time is before `olderThanMs` (absolute epoch cutoff) —
    * the debris [[expireSnapshots]] can never reach, because it only GCs
    * files referenced by EXPIRED snapshots. Orphans accumulate from every
    * crash between write and commit: a merge that wrote `data/s<id>/` and
    * died before the VERSION CAS, a lost [[LakeTable.commitAppend]] CAS
    * race interrupted before its self-cleanup, and the `staging/` attempt
    * dirs of an abandoned stream or INSERT. At webtext scale each such crash
    * strands full-size parquet — without this op the storage bill only
    * ever grows.
    *
    * SAFETY is the mtime horizon, exactly Iceberg's contract: the
    * referenced set is read under the commit lock (a stable snapshot
    * list), but an IN-FLIGHT writer's files are not referenced by any
    * snapshot yet — they are protected because they are always YOUNGER
    * than a sane horizon (hours-to-days; an epoch that stages files, then
    * pauses past the horizon before committing, re-runs its tasks on
    * restart and never reads the stale attempt dirs — [[Staged.commit]]
    * ingests only the dirs named by committed writer messages). Likewise a file
    * referenced by a commit that lands AFTER the referenced-set read was
    * necessarily written after this call started, so the horizon admits it.
    * Bloom sidecars of referenced files are referenced. Empty dirs are
    * pruned only when this call emptied them or when older than the
    * horizon (a writer's freshly created bucket dir must not vanish under
    * it; deleting a file bumps the parent's mtime, so "we emptied it"
    * cannot be inferred from age). The staging files of crashed metadata
    * publishes ([[MetaFiles.isStagedTmp]]: dot-prefixed `*.tmp`) age out
    * too, in every dir under `meta/` — commits, tags, and branch
    * `meta/refs/<b>/` files alike; orphan `snap-*.json` manifests are
    * deliberately KEPT — a crashed commit's manifest is overwritten by that
    * id's next committer, and deleting it here could race that rename
    * cross-process. So are `branch_<name>` fork leases whose branch does
    * not exist (a crashed [[LakeTable.createBranch]]).
    *
    * Returns the table-root-relative paths removed (or that WOULD be
    * removed, with `dryRun = true`). */
  def removeOrphanFiles(table: LakeTable, olderThanMs: Long,
      dryRun: Boolean = false): Vector[String] = {
    require(olderThanMs <= System.currentTimeMillis(),
      s"olderThanMs ($olderThanMs) is in the future — the mtime horizon is " +
        "the only thing protecting in-flight writers' uncommitted files")
    require(table.isMain, "orphan GC is MAIN-only (it computes the " +
      "referenced set across main AND every live branch)")
    val keep: Set[Path] = LakeTable.commitLock(table.root).synchronized {
      // main chain + every LIVE branch chain: a branch's data files are
      // referenced by no main snapshot until publish, but they are not
      // orphans — only a DROPPED/crashed branch's files age out here
      val chains = table +: table.branchEntries.map(b => table.branchTable(b._1))
      val ref = chains.flatMap(t => t.snapshotIds.flatMap(id =>
        t.snapshot(id).files.map(f => table.root.resolve(f.path).normalize)))
      (ref ++ ref.map(Bloom.sidecar)).toSet
    }
    val out = Vector.newBuilder[String]
    def ageOk(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < olderThanMs
      catch { case _: Exception => false } // vanished mid-walk → not ours
    // returns whether anything below p was deleted (gates dir pruning:
    // a dir we just emptied is safe to drop even though our own deletes
    // refreshed its mtime)
    def sweep(p: Path, isRoot: Boolean): Boolean = {
      if (Files.isDirectory(p)) {
        var deletedBelow = false
        val s = Files.list(p)
        try s.forEach(c => if (sweep(c, isRoot = false)) deletedBelow = true)
        finally s.close()
        if (!isRoot && !dryRun && (deletedBelow || ageOk(p))) {
          try {
            val s2 = Files.list(p)
            val empty = try !s2.findFirst().isPresent finally s2.close()
            if (empty) Files.deleteIfExists(p): Unit
          } catch { case _: Exception => } // concurrent writer repopulated it
        }
        deletedBelow
      } else if (!keep.contains(p.normalize) && ageOk(p)) {
        out += table.root.relativize(p).toString
        if (dryRun) false else { Files.deleteIfExists(p): Unit; true }
      } else false
    }
    Seq("data", "staging").map(table.root.resolve)
      .filter(Files.isDirectory(_)).foreach(sweep(_, isRoot = true): Unit)
    // crashed metadata publishes' staging files age out too — invisible to
    // readers, and referenced by nothing once their writer died
    table.stagedMetaFiles.filter(ageOk).foreach { p =>
      out += table.root.relativize(p).toString
      if (!dryRun) Files.deleteIfExists(p): Unit
    }
    // crashed-createBranch lease debris: a creation that died between
    // taking the `branch_<name>` fork lease and the branch VERSION move
    // leaves a lease no branch owns — and since expireSnapshots honors
    // leases forever by default, it would pin the fork's entire forward
    // span for the rest of the table's life unless the SAME name is ever
    // re-created. Released under the commit lock (createBranch holds it
    // across pin→VERSION, so an in-JVM create can't be mid-flight here)
    // and behind the mtime horizon (a cross-process create's fresh lease
    // is always younger).
    LakeTable.commitLock(table.root).synchronized {
      table.leases.filter(l => l.owner.startsWith(LakeTable.ForkLeasePrefix) &&
          !table.branchExists(l.owner.stripPrefix(LakeTable.ForkLeasePrefix)) &&
          ageOk(l.file)).foreach { l =>
        out += table.root.relativize(l.file).toString
        if (!dryRun) Files.deleteIfExists(l.file): Unit
      }
    }
    out.result()
  }
}
