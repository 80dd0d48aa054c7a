package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-built Iceberg-style table ("LakeTable"): Parquet data files + JSON
  * snapshot metadata + an atomically-swapped version pointer.
  *
  * This re-expresses the reference's durable-commit protocol as table
  * metadata: upload data, then index, then overwrite the cursor file
  * (`/root/reference/sink/src/main/java/com/spredfast/kafka/connect/s3/S3Writer.java:47-109`)
  * becomes: write data files → write snapshot JSON → atomic-rename the
  * `VERSION` pointer with a parent-version check (best-effort CAS — the
  * ingest pipeline is single-writer per table, like one sink task per
  * partition in the reference).
  *
  * Layout (this class is the only reader and writer of `meta/`; every
  * file in it is published through [[MetaFiles.publish]]):
  * {{{
  *   <root>/data/s<snapshotId>/bucket=<n>/part-<task>-<uuid>.parquet
  *   <root>/data/ref-<b>-f<fork>-s<id>/…  — branch `<b>`'s data files
  *   <root>/meta/snap-<snapshotId>.json
  *   <root>/meta/VERSION            — contains the current snapshotId
  *   <root>/meta/refs/<b>/          — branch `<b>`: its own snap-*.json and
  *                                    VERSION, plus FORK (the main snapshot
  *                                    it was forked at, JSON)
  *   <root>/meta/tags/<name>.json   — tag → snapshot id (JSON)
  *   <root>/meta/pins/pin-<id>[-<owner>]-<nonce>  — empty lease files
  * }}}
  *
  * Scale notes (100 TB): all per-file metadata ops here are O(#files touched
  * per commit), not O(table); reads prune by bucket + url bounds before any
  * Parquet footer is opened; old snapshots are retained for time travel and
  * GC'd separately.
  */
final class LakeTable(val root: Path, val ref: String = LakeTable.MainRef) {

  /** Whether this handle addresses the table's MAIN chain (vs a staging
    * branch — see [[createBranch]]). Table-wide maintenance (snapshot
    * expiry, orphan GC) is main-only: a branch shares data files with main
    * across the fork, so per-chain GC reasoning would delete live files. */
  def isMain: Boolean = ref == LakeTable.MainRef

  private def metaDir = LakeTable.metaDirOf(root)
  /** The chain's own metadata dir: `meta/` for main, `meta/refs/<name>/`
    * for a branch — branch snapshots are INVISIBLE to every main-chain
    * walk (the change feed's id-ordered parent-chain scan, `TIMESTAMP AS
    * OF`, expiry), which is what keeps the main chain's "id order == parent
    * order" invariant true with branches present. */
  private def refDir = if (isMain) metaDir else branchDir(ref)
  private def branchDir(name: String) = metaDir.resolve("refs").resolve(name)
  private def versionFile = refDir.resolve("VERSION")
  private def snapFile(id: Long) = refDir.resolve(s"snap-$id.json")
  private def tagsDir = metaDir.resolve("tags")
  private def pinsDir = metaDir.resolve("pins")
  /** Branch data dirs are prefixed so a branch's files stay apart from
    * main's `data/s<id>` dir for the same id — the two chains allocate ids
    * independently past the fork (file names are unique anyway, so no write
    * can clobber another's). The FORK id is part of the prefix so each
    * incarnation of a re-forked name has its own dirs: publish grafts
    * `ref-<name>-…` files into main's live file set, and a later re-fork of
    * the same name reuses snapshot ids ≤ the old head. */
  private lazy val dataDirPrefix =
    if (isMain) "" else s"ref-$ref-f${forkSnapshotId}-"

  /** The main snapshot this branch was forked at (FORK record, written
    * before the branch VERSION exists). Main handles have no fork. */
  def forkSnapshotId: Long = {
    require(!isMain, "main has no fork point")
    MetaFiles.readJson(refDir.resolve("FORK")).get("fork_snapshot_id").asLong()
  }

  def currentSnapshotId: Long =
    new String(Files.readAllBytes(versionFile), StandardCharsets.UTF_8).trim.toLong

  def snapshot(id: Long): Snapshot =
    Snapshot.fromJson(new String(Files.readAllBytes(snapFile(id)), StandardCharsets.UTF_8))

  def currentSnapshot: Snapshot = snapshot(currentSnapshotId)

  /** All snapshot ids, ascending (time travel surface). */
  def snapshotIds: Vector[Long] = MetaFiles.list(refDir) { p =>
    val n = p.getFileName.toString
    if (n.startsWith("snap-") && n.endsWith(".json"))
      Some(n.stripPrefix("snap-").stripSuffix(".json").toLong)
    else None
  }.sorted

  /** `TIMESTAMP AS OF` resolution: the LATEST retained snapshot whose commit
    * wall-clock stamp is ≤ `tsMs`. Commit stamps are strictly monotonic per
    * table ([[commit]]), so among stamped snapshots id-order and time-order
    * agree and the answer is unambiguous. Pre-stamp snapshots (legacy
    * manifests, commitTsMs = −1) are not timestamp-addressable and are
    * skipped; a `tsMs` older than every stamped retained snapshot fails
    * loudly (the span may have been expired — same contract as a
    * non-retained `VERSION AS OF`). */
  def snapshotAsOfTimestampMs(tsMs: Long): Long =
      LakeTable.commitLock(root).synchronized {
    // newest-first walk with early exit: stamps are monotonic, so the first
    // (highest-id) stamped snapshot at or below `tsMs` IS the answer —
    // O(snapshots newer than tsMs) manifest reads, typically one, instead of
    // parsing every retained manifest. Under the commit lock so a concurrent
    // same-JVM expiry cannot delete a manifest mid-walk (cross-process
    // writers are out of scope here, as in [[commit]]).
    var oldestStamped: Option[(Long, Long)] = None // (id, stamp)
    snapshotIds.reverseIterator.foreach { id =>
      val ts = snapshot(id).commitTsMs
      if (ts >= 0) {
        if (ts <= tsMs) return id
        oldestStamped = Some((id, ts))
      }
    }
    oldestStamped match {
      case Some((id, ts)) => throw new IllegalArgumentException(
        s"no retained snapshot as of ${java.time.Instant.ofEpochMilli(tsMs)} — " +
          s"oldest retained commit is ${java.time.Instant.ofEpochMilli(ts)} (snapshot $id)")
      case None => throw new IllegalArgumentException(
        s"table at $root has no commit-timestamped snapshots — use VERSION AS OF")
    }
  }

  /** Pin a snapshot against [[Maintain.expireSnapshots]]: a lease file a
    * long-running reader (time travel, incremental consumer) holds so GC
    * cannot delete the metadata/files under it — NOR of any LATER snapshot
    * (expiry retains the pin's entire forward span, so an incremental read
    * from the pin stays valid). Release when done; a crashed holder's stale
    * lease ages out via the expiry call's `ignorePinsOlderThanMs` — a LIVE
    * holder running longer than that window must [[SnapshotPin.touch]] the
    * lease periodically (heartbeat) or it is treated as crashed.
    *
    * Taken under the table's commit lock so a pin cannot be granted on a
    * snapshot a concurrent [[Maintain.expireSnapshots]] (same JVM) is
    * mid-way through deleting.
    *
    * `owner` (optional; must match `[A-Za-z0-9_]+` — the tag rides inside
    * the dash-delimited lease file name, so the charset is VALIDATED rather
    * than sanitized: silent rewriting could collapse two distinct owners
    * onto one tag and let one delete the other's live leases) tags the
    * lease so a RESTARTED holder can clean up its own crashed predecessors'
    * leases ([[releaseOwnedPins]]) — without a tag an orphaned lease can
    * only age out via the expiry call's horizon, because leases are
    * otherwise anonymous (another reader may legitimately pin the same
    * snapshot). */
  def pin(snapshotId: Long, owner: String = ""): SnapshotPin = {
    // the fork-lease owner prefix is RESERVED: removeOrphanFiles reaps aged
    // `branch_<name>` leases whose branch doesn't exist (crashed-create
    // debris) — a user lease named into that prefix would be reaped as soon
    // as it aged past the horizon, and the next expiry would GC its pinned
    // span out from under the consumer
    require(!owner.startsWith(LakeTable.ForkLeasePrefix),
      s"pin owner prefix '${LakeTable.ForkLeasePrefix}' is reserved for " +
        "branch fork leases (createBranch manages those)")
    pinUnchecked(snapshotId, owner)
  }

  /** [[pin]] without the reserved-prefix guard — the fork-lease path. */
  private[lake] def pinUnchecked(snapshotId: Long, owner: String): SnapshotPin =
      LakeTable.commitLock(root).synchronized {
    require(Files.exists(snapFile(snapshotId)), s"no snapshot $snapshotId")
    LakeTable.validateOwner(owner)
    Files.createDirectories(pinsDir)
    val f = pinsDir.resolve(LakeTable.Lease.fileName(snapshotId, owner))
    Files.write(f, Array.empty[Byte])
    new SnapshotPin(snapshotId, f)
  }

  /** Release every lease `owner` holds EXCEPT the given live ones — the
    * restart path of a long-lived pinning consumer (the curation loop):
    * after re-leasing, drop the crashed predecessor's orphans so they cannot
    * block expiry for the rest of the table's life. Under the commit lock
    * (expiry reads the pin set under the same lock).
    *
    * Ownership is matched POSITIONALLY ([[LakeTable.Lease]]), never by
    * substring. */
  def releaseOwnedPins(owner: String, except: Set[Path] = Set.empty): Int =
      LakeTable.commitLock(root).synchronized {
    LakeTable.validateOwner(owner)
    require(owner.nonEmpty, "owner tag required")
    leases.count(l => l.owner == owner && !except.contains(l.file) &&
      Files.deleteIfExists(l.file))
  }

  /** Every lease file in `meta/pins/`. */
  private[lake] def leases: Vector[LakeTable.Lease] =
    MetaFiles.list(pinsDir)(LakeTable.Lease.parse)

  /** Atomically resolve the current snapshot AND pin it: taken under the
    * commit lock, so a concurrent [[Maintain.expireSnapshots]] (which holds
    * the same lock, and always retains the current snapshot) can never GC
    * the returned snapshot before the lease exists. Every maintenance job
    * that reads table files for the duration of a Spark job (compaction,
    * tier folds, rebucket) MUST hold a pin — otherwise an aggressive
    * concurrent expiry can delete its input files mid-read. */
  def pinCurrent(owner: String = ""): (Snapshot, SnapshotPin) =
      LakeTable.commitLock(root).synchronized {
    val s = currentSnapshot
    (s, pin(s.snapshotId, owner))
  }

  /** Snapshot ids currently pinned (optionally ignoring leases older than
    * `ignoreOlderThanMs` — crashed holders). */
  def pinnedSnapshotIds(ignoreOlderThanMs: Long = Long.MaxValue): Set[Long] = {
    val now = System.currentTimeMillis()
    leases.filter(l => now - Files.getLastModifiedTime(l.file).toMillis < ignoreOlderThanMs)
      .map(_.snapshotId).toSet
  }

  /** Commit `next` whose parent must be the current version (CAS).
    *
    * The check-then-swap is made atomic WITHIN a JVM by a per-root lock
    * (one driver owns a table — matching one sink task per partition in the
    * reference; a losing thread gets [[CommitConflict]] and can rebase via
    * [[commitAppend]]/[[commitReplace]]). Cross-process writers would need
    * an external catalog lock, as in Iceberg — out of scope here. */
  def commit(next: Snapshot,
      parentCommitTsMs: Option[Long] = None): Snapshot =
      LakeTable.commitLock(root).synchronized {
    val cur = currentSnapshotId
    if (next.parentId != cur) throw new CommitConflict(
      s"concurrent commit detected: parent ${next.parentId} != current $cur")
    // wall-clock commit stamp, strictly monotonic per table (max(now,
    // parent+1)) — rollback included: a rollback is a NEW commit at now, so
    // `TIMESTAMP AS OF` history stays totally ordered. Caller-set values are
    // deliberately overwritten: the stamp is the commit's, not the builder's.
    // Callers that already hold the parsed parent snapshot pass its stamp in
    // (`parentCommitTsMs`) — the CAS above guarantees it IS the parent's —
    // sparing an O(manifest) re-read+parse under the lock on the write path.
    val stamped = next.copy(commitTsMs =
      math.max(System.currentTimeMillis(),
        parentCommitTsMs.getOrElse(snapshot(cur).commitTsMs) + 1))
    MetaFiles.publish(snapFile(next.snapshotId),
      stamped.toJson.getBytes(StandardCharsets.UTF_8), replace = true)
    MetaFiles.publish(versionFile,
      next.snapshotId.toString.getBytes(StandardCharsets.UTF_8), replace = true)
    // every branch commit heartbeats the fork lease: a multi-hour audit
    // must not look like a crashed holder to a pin-horizon expiry
    // (`ignorePinsOlderThanMs`) — main expiring the fork would delete files
    // the branch head still lists, and a later publish would graft that
    // dangling file list onto main.
    if (!isMain) touchOwnedPins(s"${LakeTable.ForkLeasePrefix}$ref")
    stamped
  }

  /** ADD-ONLY commit with rebase: append `added` files (and optionally a
    * batch marker) on top of WHATEVER the head is when we get the lock.
    * Sound for merge-on-read deltas — a delta's rows apply identically over
    * any concurrent compaction/ingest result because resolve-on-read keeps
    * per-row (warc_ts, offset, partition) envelopes, so LWW winner
    * resolution commutes with any interleaving. Returns the committed (or,
    * for an already-committed batchId, the current) snapshot.
    *
    * `expectedBuckets`: the bucket count the files were SHUFFLED under.
    * The rebase is only sound while the table's bucket function is
    * unchanged — if a concurrent [[Maintain.rebucket]] swapped the
    * layout, appending old-layout files would break the bucket invariant
    * (a file's urls would no longer all hash to its bucket id), silently
    * corrupting co-located reads. The commit then throws
    * [[BucketLayoutChanged]] (after deleting its orphaned files) and the
    * caller recomputes the batch under the new layout. */
  def commitAppend(added: Seq[DataFile], marker: Option[BatchMarker],
      expectedBuckets: Option[Int] = None): Snapshot =
    LakeTable.commitLock(root).synchronized {
      // the rebase reads the head under the SAME lock commit() uses, so an
      // in-JVM conflict is structurally impossible (no optimistic retry to
      // exhaust under contention); the lock window adds only the snapshot
      // construction — the expensive work (file writes) happened before
      val cur = currentSnapshot
      if (marker.exists(m => cur.committedBatchIds.contains(m.batchId))) {
        // exactly-once: a concurrent path already landed this batch — our
        // just-written files are referenced by no snapshot; delete them
        // (expireSnapshots only GCs files referenced by EXPIRED snapshots)
        discard(added)
        cur
      } else if (expectedBuckets.exists(_ != cur.nBuckets)) {
        discard(added)
        throw new BucketLayoutChanged(
          s"table rebucketed to ${cur.nBuckets} buckets while this batch was " +
            s"shuffled under ${expectedBuckets.get} — recompute under the new layout")
      } else {
        val next = cur.copy(snapshotId = cur.snapshotId + 1, parentId = cur.snapshotId,
          files = cur.files ++ added,
          batches = marker.fold(cur.batches)(cur.batches :+ _),
          totalRows = cur.totalRows + added.map(_.rowCount).sum)
        commit(next, Some(cur.commitTsMs))
      }
    }

  /** REPLACEMENT commit with rebase (maintenance: compaction): replace
    * `replaced` with `added`, rebasing over concurrent ADD commits — files
    * a concurrent ingest appended since our read survive untouched (their
    * deltas still resolve correctly over the compacted file, see
    * [[commitAppend]]). If any replaced file has VANISHED from the head (a
    * concurrent maintenance already rewrote it), our output would duplicate
    * its rows next to the competitor's — so delete `added`'s files and
    * return the head unchanged (graceful no-op). */
  def commitReplace(replaced: Seq[DataFile], added: Seq[DataFile]): Snapshot =
    LakeTable.commitLock(root).synchronized {
      // read-under-lock rebase, as in [[commitAppend]] — conflict-free
      val replacedPaths = replaced.map(_.path).toSet
      val cur = currentSnapshot
      val curPaths = cur.files.map(_.path).toSet // set lookups: replaced may be the WHOLE table
      if (!replacedPaths.forall(curPaths.contains)) {
        discard(added)
        cur
      } else {
        val keep = cur.files.filterNot(f => replacedPaths.contains(f.path))
        val next = cur.copy(snapshotId = cur.snapshotId + 1, parentId = cur.snapshotId,
          files = keep ++ added,
          totalRows = keep.map(_.rowCount).sum + added.map(_.rowCount).sum)
        commit(next, Some(cur.commitTsMs))
      }
    }

  /** ROLL BACK to a retained snapshot — the incident-recovery lever (a
    * poisoned SQL UPDATE, a bad upstream batch): commits a NEW snapshot
    * whose data files, schema version, bucket layout, AND exactly-once
    * batch markers are exactly the target's. A pure metadata commit: no
    * data file is touched, history is preserved (the rolled-back head and
    * every intermediate snapshot stay readable via time travel until
    * expiry), and the normal CAS serializes it against concurrent writers.
    *
    * MARKER SEMANTICS (the part that composes with streaming): state and
    * exactly-once bookkeeping move TOGETHER — batches committed after the
    * target are no longer marked applied. A running stream's checkpoint is
    * NOT rewound by this call: it continues from its own offsets, so
    * rolled-back events stay rolled back and only NEW binlog data lands.
    * To RE-INGEST the rolled-back span instead, also rewind/delete the
    * stream checkpoint — the replay then re-applies exactly the
    * post-target events (pre-target batches no-op on their carried
    * markers, the usual replay discipline). Binlog retention
    * ([[graft.binlog.Retention.appliedHorizon]]) folds the CURRENT
    * snapshot's lineage, so after a rollback the horizon recedes with the
    * markers and the to-be-replayed span is protected from truncation.
    *
    * Derived state: an incremental consumer whose cursor is PAST the
    * target (a curated stream, a `graft-feed` mirror) FAILS LOUDLY at its
    * next increment — [[incrementFilesBySnapshot]] refuses to walk across
    * a rollback snapshot, because state the consumer derived from the
    * rolled-back span is not undone by re-emitting the target's files.
    * Re-seed it: for the curation loop run [[graft.ops.Curate
    * .rebuildIndex]] (rebuilds index ≡ live corpus from scratch and
    * installs the cursor PAST the rollback, atomically); for a mirror,
    * restart with a fresh checkpoint (`fromSnapshot=full` against a fresh
    * destination, or the rollback snapshot id if the destination was
    * itself rolled back in step).
    *
    * Fails loudly when the target snapshot is expired (rollback cannot
    * resurrect GC'd files) or unknown. */
  def rollbackTo(snapshotId: Long): Snapshot =
    LakeTable.commitLock(root).synchronized {
      val cur = currentSnapshot
      require(snapshotId != cur.snapshotId,
        s"table is already at snapshot $snapshotId")
      val target =
        try snapshot(snapshotId)
        catch {
          case e: java.nio.file.NoSuchFileException =>
            throw new IllegalArgumentException(
              s"snapshot $snapshotId is not retained (expired or never " +
                s"existed) — have ${snapshotIds.mkString(", ")}", e)
        }
      val next = target.copy(snapshotId = cur.snapshotId + 1,
        parentId = cur.snapshotId)
      commit(next, Some(cur.commitTsMs))
    }

  /** TRUNCATE: rollback-to-EMPTY. A pure metadata commit — no data files
    * touched (expiry/orphan GC reclaims them later) — with `files`, batch
    * markers, and `totalRows` all cleared while schema version and bucket
    * count survive. Clearing the markers is deliberate and follows the
    * [[rollbackTo]] principle that state and exactly-once bookkeeping move
    * TOGETHER: the empty state has applied nothing, so a checkpoint rewind
    * re-ingests the full binlog (re-seed semantics), while a LIVE stream
    * keeps going from its own offsets and only new data lands. It also
    * makes the truncate LOUD for incremental consumers: the change feed's
    * rewrite guard ([[incrementFilesBySnapshot]]) keys on the parent's
    * marker ids surviving as a PREFIX (cleared markers trip it), so a
    * mirror or curated stream whose cursor predates
    * the truncate fails with re-seed guidance instead of silently keeping
    * rows the source no longer has (a metadata-only truncate emits no
    * tombstones for them). Truncating an already-empty table is a no-op
    * (no empty commit). */
  def truncate(): Snapshot = LakeTable.commitLock(root).synchronized {
    val cur = currentSnapshot
    if (cur.files.isEmpty && cur.batches.isEmpty) return cur
    val next = cur.copy(snapshotId = cur.snapshotId + 1, parentId = cur.snapshotId,
      files = Vector.empty, batches = Vector.empty, totalRows = 0L)
    commit(next, Some(cur.commitTsMs))
  }

  /** Named snapshot refs (Iceberg tags): durable audit points that
    * [[Maintain.expireSnapshots]] retains regardless of `keepLast`, and
    * that `VERSION AS OF '<name>'` resolves in SQL time travel. Unlike a
    * [[pin]] lease a tag never ages out — it holds the snapshot (and its
    * files) until [[dropTag]]. Tags retain the tagged snapshot POINTWISE,
    * not its forward span: a tagged read is self-contained (the snapshot
    * JSON carries its full file list), whereas incremental consumers need
    * a lease. Creation fails if the name is taken (re-point = drop +
    * create); the name is VALIDATED, never rewritten — lossy sanitization
    * could collapse two distinct tags onto one file (the validateOwner
    * lesson). */
  def createTag(name: String, snapshotId: Long): Unit =
      LakeTable.commitLock(root).synchronized {
    require(isMain, "tags name MAIN snapshots — a branch snapshot is gone " +
      "after publish/drop, so a tag on it would dangle")
    LakeTable.validateTagName(name)
    require(Files.exists(snapFile(snapshotId)),
      s"no retained snapshot $snapshotId to tag (have ${snapshotIds.mkString(", ")})")
    Files.createDirectories(tagsDir)
    // put-if-absent: create-new is the uniqueness check, atomic with the
    // content (an existence poll can never read a partial tag)
    try MetaFiles.publish(tagsDir.resolve(s"$name.json"), MetaFiles.json(
      _.put("snapshot_id", snapshotId).put("created_ms", System.currentTimeMillis())),
      replace = false)
    catch {
      case e: FileAlreadyExistsException => throw new IllegalArgumentException(
        s"tag '$name' already exists — dropTag first to re-point it", e)
    }
  }

  /** Drop a tag; returns whether it existed. The tagged snapshot becomes
    * expirable again at the next [[Maintain.expireSnapshots]]. */
  def dropTag(name: String): Boolean = LakeTable.commitLock(root).synchronized {
    LakeTable.validateTagName(name)
    Files.deleteIfExists(tagsDir.resolve(s"$name.json"))
  }

  /** All tags as (name, snapshotId, createdMs). Unparseable files are
    * skipped (a concurrent createTag's staged `.tmp` is dot-prefixed and
    * never matches). */
  def tagEntries: Seq[(String, Long, Long)] = MetaFiles.list(tagsDir) { p =>
    val n = p.getFileName.toString
    if (!n.endsWith(".json") || n.startsWith(".")) None
    else try {
      val node = MetaFiles.readJson(p)
      Some((n.stripSuffix(".json"), node.get("snapshot_id").asLong(),
        node.get("created_ms").asLong()))
    } catch { case _: Exception => None }
  }.sortBy(_._1)

  /** Tag name → snapshot id. */
  def tags: Map[String, Long] = tagEntries.map(t => t._1 -> t._2).toMap

  // ── Branch refs: write-audit-publish (Iceberg WAP) ─────────────────────
  //
  // A branch is a SHADOW CHAIN forked from the current main snapshot:
  // its VERSION pointer and snap-*.json manifests live under
  // `meta/refs/<name>/`, its data dirs under `data/ref-<name>-s<id>/`, so
  // nothing a branch does is visible to any main-chain surface (reads, the
  // change feed, time travel, expiry) until PUBLISH. Publish is a SQUASH
  // commit onto main — one new main snapshot whose files, schema version,
  // bucket layout, row count AND batch markers are exactly the branch
  // head's (the [[rollbackTo]] principle: state and exactly-once
  // bookkeeping move together) — so the main chain stays perfectly linear
  // (id order == parent order, the invariant the feed walk and `TIMESTAMP
  // AS OF` rely on) and a feed consumer sees the whole audit land as one
  // marker-carrying increment. Intermediate branch snapshots are NOT
  // grafted into main history (squash semantics — audit steps are not
  // main time-travel states).
  //
  // GC interplay: the fork snapshot is pinned with an owned lease
  // (`branch_<name>`) so main expiry cannot delete files the branch still
  // shares with the fork; the lease is released at publish/drop. A dropped
  // (or crashed) branch's own data files are referenced by no main
  // snapshot — [[Maintain.removeOrphanFiles]] walks every branch chain as
  // referenced, so LIVE branches survive orphan GC and dropped ones age
  // out via its mtime horizon.

  /** Fork a branch at the current main snapshot. The returned handle
    * commits against the branch's own VERSION pointer with the full
    * [[commit]]/[[commitAppend]]/[[commitReplace]] discipline (CAS, batch
    * markers, rebase), so the whole ingest/merge stack runs against a
    * branch unchanged. Name is VALIDATED, never rewritten; `main` and
    * all-digit names are reserved (`VERSION AS OF` resolves numerics as
    * snapshot ids first). Fails if the branch exists; crash debris from a
    * creation that died before the branch VERSION landed is wiped and
    * recreated. */
  def createBranch(name: String): LakeTable =
      LakeTable.commitLock(root).synchronized {
    require(isMain, s"cannot fork a branch from branch '$ref' — branches fork from main only")
    LakeTable.validateBranchName(name)
    val dir = branchDir(name)
    if (Files.exists(dir.resolve("VERSION")))
      throw new IllegalArgumentException(
        s"branch '$name' already exists — dropBranch first to re-fork it")
    if (Files.isDirectory(dir)) LakeTable.deleteRecursively(dir) // creation crash debris
    val cur = currentSnapshotId
    Files.createDirectories(dir)
    MetaFiles.publish(dir.resolve(s"snap-$cur.json"), Files.readAllBytes(snapFile(cur)),
      replace = false)
    MetaFiles.publish(dir.resolve("FORK"), MetaFiles.json(
      _.put("fork_snapshot_id", cur).put("created_ms", System.currentTimeMillis())),
      replace = false)
    // the fork lease: main expiry must keep the fork's files readable for
    // the branch's lifetime. Owned, so publish/drop (or a re-fork after a
    // crash) can clean it up deterministically.
    releaseOwnedPins(s"${LakeTable.ForkLeasePrefix}$name")
    pinUnchecked(cur, s"${LakeTable.ForkLeasePrefix}$name")
    // branch VERSION last, atomically with content (existence keys on it)
    MetaFiles.publish(dir.resolve("VERSION"), cur.toString.getBytes(StandardCharsets.UTF_8),
      replace = false)
    new LakeTable(root, name)
  }

  /** Handle on an existing branch chain. Loading one heartbeats the fork
    * lease (see [[createBranch]]) — a long-lived audit that only READS for
    * hours still refreshes its lease against a pin-horizon expiry. */
  def branchTable(name: String): LakeTable = {
    require(isMain, s"branches hang off main, not off branch '$ref'")
    require(branchExists(name), s"no branch '$name' for table at $root " +
      s"(have ${branchEntries.map(_._1).mkString(", ")})")
    touchOwnedPins(s"${LakeTable.ForkLeasePrefix}$name")
    new LakeTable(root, name)
  }

  /** Name is CHARSET-CHECKED before touching the filesystem: branch names
    * resolve to `meta/refs/<name>/` paths, and this predicate backs the SQL
    * surface's `VERSION AS OF '<name>'` and `wapBranch` resolution — an
    * unvalidated `'..'` would resolve `meta/refs/../VERSION` (= main's own
    * VERSION) and silently read main while reporting a branch read. */
  def branchExists(name: String): Boolean =
    LakeTable.isValidBranchName(name) && name != LakeTable.MainRef &&
      Files.exists(branchDir(name).resolve("VERSION"))

  /** Heartbeat every lease `owner` holds (bump mtime) so a pin-horizon
    * expiry (`ignorePinsOlderThanMs`) doesn't mistake a LIVE long-lived
    * holder for a crashed one. Missing-file races are benign (the lease was
    * just released). */
  private def touchOwnedPins(owner: String): Unit = {
    val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    leases.filter(_.owner == owner).foreach { l =>
      try { Files.setLastModifiedTime(l.file, now): Unit }
      catch { case _: java.nio.file.NoSuchFileException => () }
    }
  }

  /** All branches as (name, headSnapshotId, forkSnapshotId, createdMs).
    * Creation-crash debris (no VERSION yet) is skipped. */
  def branchEntries: Seq[(String, Long, Long, Long)] =
    MetaFiles.list(metaDir.resolve("refs")) { p =>
      if (!Files.exists(p.resolve("VERSION"))) None
      else try {
        val head = new String(Files.readAllBytes(p.resolve("VERSION")),
          StandardCharsets.UTF_8).trim.toLong
        val fork = MetaFiles.readJson(p.resolve("FORK"))
        Some((p.getFileName.toString, head, fork.get("fork_snapshot_id").asLong(),
          fork.get("created_ms").asLong()))
      } catch { case _: Exception => None }
    }.sortBy(_._1)

  /** PUBLISH a branch onto main (the WAP "fast-forward"): one squash
    * commit at `mainHead + 1` carrying the branch head's files, schema
    * version, bucket layout, row count and batch markers, then branch
    * cleanup (fork lease released, `meta/refs/<name>/` deleted — the data
    * files are now main's). Requires main's LOGICAL state to still be the
    * fork's: if main applied new batches, evolved its schema or changed its
    * bucket layout, the audit ran against a stale base and publishing would
    * silently drop that work, so it throws [[CommitConflict]] (re-fork and
    * re-run the audit, or drop the branch). MAINTENANCE-ONLY movement of
    * main is tolerated: commits since the fork that carry the fork's exact
    * batch markers, schema version and bucket count (compaction, bloom
    * builds, a rollback BACK to the fork state) only rearranged the same
    * logical rows, so the squash lands on the new head — superseding the
    * maintenance rewrite (its files age out with their snapshots; the fork
    * lease keeps the branch's forked inputs alive throughout). Without this
    * tolerance a routine compaction cadence would conflict every long
    * audit. Publishing an EMPTY branch (no commits since the fork) just
    * drops it. Crash-idempotent: a publish that died between the main
    * commit and the cleanup is detected on retry (the head carries exactly
    * the branch head's content — files, schema, layout, markers; branch
    * data paths are `ref-<name>-f<fork>-` prefixed, so no other writer's
    * commit can collide with that identity) and finishes the cleanup. */
  def publishBranch(name: String): Snapshot =
      LakeTable.commitLock(root).synchronized {
    require(isMain, s"publish runs on the main handle, not branch '$ref'")
    val bt = branchTable(name)
    val bHead = bt.currentSnapshot
    val fork = bt.forkSnapshotId
    val cur = currentSnapshot
    def cleanup(): Unit = {
      releaseOwnedPins(s"${LakeTable.ForkLeasePrefix}$name")
      LakeTable.deleteRecursively(branchDir(name))
    }
    if (bHead.snapshotId == fork) { cleanup(); return cur } // empty audit
    // read the fork manifest ONCE — both the marker-domain guard and the
    // maintenance-only comparison need it, and each parse holds the commit
    // lock against concurrent ingest for the manifest's full size
    val forkSnap = bt.snapshot(fork)
    // marker-domain guard at the boundary where it matters: markers the
    // BRANCH minted (not inherited from the fork) enter MAIN's exactly-once
    // space at publish, where the main stream's own checkpoint epochs are
    // small naturals — a raw small-natural branch marker would make the main
    // stream silently SKIP its colliding epoch as an "already-durable
    // replay". Every legitimate staging writer mints in a reserved high-bit
    // domain ([[graft.cdc.Ingest.branchBatchId]] bit 59, SQL commands bit
    // 62, bootstrap bit 61), so enforce that structurally instead of
    // trusting every call site of `applyBatch(branchHandle)`.
    locally {
      val forkMarkers = forkSnap.committedBatchIds
      val bad = bHead.batches.filter(m =>
        !forkMarkers.contains(m.batchId) && (m.batchId >>> 59) == 0L)
      require(bad.isEmpty,
        s"cannot publish branch '$name': it holds marker ids outside the " +
          s"reserved staging domains (${bad.map(_.batchId).take(3).mkString(", ")}" +
          s"${if (bad.length > 3) ", …" else ""}) — raw small-natural ids " +
          "would collide with the main stream's checkpoint epochs after " +
          "publish; mint branch markers via Ingest.branchBatchId")
    }
    // crashed-publish retry: the main head already IS this branch's squash.
    // Identity is the FULL squash content (files, schema version, bucket
    // layout, row count AND markers) — matching on markers alone would
    // false-positive on an unrelated marker-less main commit (its own
    // ALTER/compaction) landing after the fork, silently discarding the
    // audit where a CommitConflict is required. Content identity is safe
    // without anchoring the parent to the fork (so a squash that landed on
    // a maintenance-advanced head, below, is recognized too): any
    // data-carrying audit lists `ref-<name>-f<fork>-` paths no other
    // writer's commit can contain, and for a metadata-only audit a content
    // match means main's head ALREADY equals the audit's exact outcome —
    // finishing cleanup yields the same state a real publish would.
    val isOurSquash =
      cur.copy(snapshotId = 0L, parentId = 0L, commitTsMs = 0L) ==
        bHead.copy(snapshotId = 0L, parentId = 0L, commitTsMs = 0L)
    if (isOurSquash) { cleanup(); return cur }
    if (cur.snapshotId != fork) {
      // main moved past the fork. Tolerate MAINTENANCE-ONLY movement — the
      // head still holds the fork's exact logical state (same batch
      // markers, same schema version, same bucket count): compaction/bloom
      // rewrites or a rollback back to the fork state only rearranged the
      // rows the audit already read, so the squash supersedes them
      // soundly. Anything else (new data batches, ALTER, rebucket,
      // truncate, rollback past the fork) invalidated the audit base —
      // conflict, never a silent discard.
      val maintenanceOnly = cur.batches == forkSnap.batches &&
        cur.schemaVersion == forkSnap.schemaVersion &&
        cur.nBuckets == forkSnap.nBuckets
      if (!maintenanceOnly)
        throw new CommitConflict(
          s"cannot publish branch '$name': main advanced to ${cur.snapshotId} " +
            s"past the fork point $fork with new batches, schema or layout — " +
            "the audit ran against a stale base (re-fork and re-run it, or " +
            "dropBranch); maintenance-only movement (compaction) would have " +
            "been tolerated")
    }
    val next = bHead.copy(snapshotId = cur.snapshotId + 1, parentId = cur.snapshotId)
    val committed = commit(next, Some(cur.commitTsMs))
    cleanup()
    committed
  }

  /** Drop a branch without publishing: releases the fork lease and deletes
    * the branch's metadata. Its data files are referenced by no main
    * snapshot and age out via [[Maintain.removeOrphanFiles]]'s mtime
    * horizon. Returns whether the branch existed. */
  def dropBranch(name: String): Boolean =
      LakeTable.commitLock(root).synchronized {
    require(isMain, s"drop runs on the main handle, not branch '$ref'")
    LakeTable.validateBranchName(name)
    val existed = branchExists(name)
    releaseOwnedPins(s"${LakeTable.ForkLeasePrefix}$name")
    LakeTable.deleteRecursively(branchDir(name))
    existed
  }

  /** Evolve the table's logical schema (add column / widen type): a pure
    * metadata commit — no data files touched. Old files keep their physical
    * schema and are aligned at read time; subsequent MERGEs write the new
    * version. Replaying old batches after a widen yields identical logical
    * rows (north_rule schema-evolution requirement). */
  def evolveSchema(newVersion: Int): Snapshot = {
    val snap = currentSnapshot
    require(newVersion > snap.schemaVersion, s"cannot downgrade ${snap.schemaVersion} → $newVersion")
    TableSchemas.forVersion(newVersion) // validate
    val next = snap.copy(snapshotId = snap.snapshotId + 1, parentId = snap.snapshotId,
      schemaVersion = newVersion)
    commit(next, Some(snap.commitTsMs))
  }

  /** Read the table at a snapshot (default: current) as a DataFrame in
    * that snapshot's logical schema: the pinned SQL table's relation, so
    * every bucket goes through the same co-located LWW fold as `SELECT …
    * FROM graft.t` (streaming k-way merge over url-sorted files, no
    * shuffle, O(filesPerBucket) memory). Files written under older physical
    * schemas are cast (widening) and null-backfilled (added columns) —
    * Iceberg-style evolution without Iceberg. User-facing: versions are
    * LWW-resolved, tombstones filtered, internal columns dropped. */
  def read(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshotId.map(snapshot).getOrElse(currentSnapshot)
    org.apache.spark.sql.GraftBridge.readTable(spark, new graft.sql.GraftSqlTable(this,
      s"lake:${root.getFileName}", pinnedSnapshot = Some(snap.snapshotId)))
  }

  /** Incremental read (CDC-out): rows in data files ADDED between
    * `fromSnapshotId` (exclusive) and `toSnapshotId` (inclusive, default
    * current) — under merge-on-read each batch's delta files are exactly its
    * post-dedup winners (upserts + tombstones), so this is the table's
    * outgoing change feed (≙ Iceberg incremental scan / changelog read):
    * the `graft-feed` batch read of the span, without `_feed_snapshot`,
    * aligned to `toSnapshotId`'s schema. Rows carry the internal columns;
    * `_deleted = true` rows are the delete events. Maintenance snapshots
    * (no new batch markers, incl. tier folds) rewrite rows without changing
    * content and add nothing. A LONG-LIVED consumer should [[pin]] its
    * `from` snapshot — expiry then retains the pin's entire forward span,
    * so the increment stays readable; if the span WAS expired anyway (no
    * pin, or the lease aged out), the broken parent chain is detected here,
    * when the read is built, and the read fails loudly rather than
    * misreporting rewritten files as changes. */
  def readIncrement(spark: SparkSession, fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val to = toSnapshotId.getOrElse(currentSnapshotId)
    readSpan(spark, snapshot(to).schemaVersion,
      FeedSource.spanFiles(this, fromSnapshotId, to, full = false))
  }

  /** The snapshot-chain walk under [[readIncrement]] and the `graft-feed`
    * streaming source: files ADDED by each snapshot in `(fromSnapshotId,
    * to]`, in chain order, as `(snapshotId, files)` pairs. Maintenance
    * snapshots (no new batch markers — compaction, tier folds, blooms,
    * expiry) rewrite rows without changing content and are skipped
    * here. Fails loudly when the span crosses an EXPIRED gap (the
    * parent chain is broken) or a history REWRITE — any commit where the
    * parent's batch-marker ids do NOT survive as a prefix: ROLLBACK
    * (markers truncated), TRUNCATE (cleared), INSERT OVERWRITE (replaced,
    * possibly at EQUAL count — why the check is on ids, not length). A
    * rewrite replaces table state without tombstones, so its ancestor
    * files are not "changes" — an incremental consumer that crossed it
    * silently would keep vanished rows forever. Re-seed the consumer from
    * the rewrite snapshot instead (pass it as the new `from`). */
  def incrementFilesBySnapshot(fromSnapshotId: Long, to: Long): Seq[(Long, Vector[DataFile])] = {
    require(to >= fromSnapshotId, s"$to < $fromSnapshotId")
    val ids = snapshotIds.filter(id => id > fromSnapshotId && id <= to)
    var prev = snapshot(fromSnapshotId)
    // marker ids carried ACROSS the walk: each snapshot's vector is built
    // once, not once as `cur` and again as the next step's `prev` (the
    // manifest parse already materialized the markers, so the prefix
    // compare below only adds a constant factor to an O(markers) step)
    var prevIds = prev.batches.map(_.batchId)
    val added = Seq.newBuilder[(Long, Vector[DataFile])]
    ids.foreach { id =>
      val cur = snapshot(id)
      if (cur.parentId != prev.snapshotId) throw new IllegalStateException(
        s"incremental read $fromSnapshotId -> $to crosses an EXPIRED span: " +
          s"snapshot $id has parent ${cur.parentId} but the previous retained " +
          s"snapshot is ${prev.snapshotId} — the intermediate snapshots were " +
          "garbage-collected (pin the from-snapshot and heartbeat the lease " +
          "to keep the span readable)")
      // a normal commit only APPENDS markers, so the parent's marker ids
      // must survive as a prefix. Anything else — rollback (markers
      // truncated), TRUNCATE (cleared), INSERT OVERWRITE (replaced by the
      // overwrite's own marker, possibly at EQUAL count) — rewrote history
      // without tombstones: an incremental consumer that crossed it
      // silently would keep vanished rows forever. Count alone is NOT
      // enough: overwriting a 1-marker table keeps the count at 1 and
      // would masquerade as maintenance.
      val curIds = cur.batches.map(_.batchId)
      if (curIds.take(prevIds.size) != prevIds) {
        def tail(v: Vector[Long]): String =
          s"${v.size} markers" + (if (v.isEmpty) "" else s", last ${v.takeRight(3).mkString(",")}")
        throw new IllegalStateException(
          s"incremental read $fromSnapshotId -> $to crosses a history REWRITE " +
            s"at snapshot $id (ROLLBACK / TRUNCATE / INSERT OVERWRITE: batch " +
            s"markers [${tail(prevIds)}] -> [${tail(curIds)}]): downstream " +
            "state derived from the rewritten span must be re-seeded — " +
            s"restart the consumer from snapshot $id")
      }
      val isMaintenance = cur.batches.size == prev.batches.size
      if (!isMaintenance) {
        val prevPaths = prev.files.map(_.path).toSet
        added += id -> cur.files.filterNot(f => prevPaths.contains(f.path))
      }
      prev = cur
      prevIds = curIds
    }
    added.result()
  }

  /** Full physical read including tombstones, internal columns, and (under
    * merge-on-read) unresolved multi-version rows: [[readFiles]] over every
    * file of the snapshot (default current). */
  def readRaw(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshotId.map(snapshot).getOrElse(currentSnapshot)
    readFiles(spark, snap, snap.files)
  }

  /** The raw, unresolved rows of the given files of `snap`, aligned to its
    * schema version: the `graft-feed` batch scan over exactly these files
    * (no listing — the manifest holds each file's path and size), read by
    * the engine's one parquet reader. Column pruning reaches the reader, so
    * a projection without `html` never decodes payload pages. */
  def readFiles(spark: SparkSession, snap: Snapshot, files: Seq[DataFile]): DataFrame =
    readSpan(spark, snap.schemaVersion, files.map(snap.snapshotId -> _))

  /** The feed relation over a fixed span, pinned at `version`, minus the
    * `_feed_snapshot` column. */
  private def readSpan(spark: SparkSession, version: Int,
      files: Seq[(Long, DataFile)]): DataFrame =
    org.apache.spark.sql.GraftBridge.readTable(spark, new FeedTable(root, version, Some(files)))
      .drop("_feed_snapshot")

  /** Write `df` (current-schema columns + an int `bucket` column, each
    * partition holding url-sorted runs of whole buckets) as one parquet
    * file per bucket run under `data/<branch prefix><dirName>/bucket=<n>/`,
    * file names unique per task attempt, so concurrent writers may share a
    * `dirName` (ingest uses `s<newSnapshotId>`; maintenance adds a random
    * tag). One Spark job, one SQL execution of `df`'s plan: each task
    * returns its files' complete manifest entries — row count, url and
    * `warc_ts` bounds, bytes — computed while writing ([[DataFileWriter]]).
    * Nothing is published until the caller commits a snapshot listing the
    * files; unreferenced files are orphans for [[Maintain.removeOrphanFiles]].
    * `blooms` also writes each file's url bloom sidecar ([[Bloom]]).
    *
    * WRITER INVARIANT, asserted by the writer: urls are non-null and
    * strictly increasing within a file — every caller hands in AT MOST ONE
    * version per url (per-batch dedup, LWW-resolved fold/rebucket output,
    * resolved catch-up increments), url-sorted, so stored files stay as
    * small as the winners. A violating write fails and commits nothing. No
    * reader depends on it: every resolved read and every fold runs the
    * k-way LWW fold, which also folds several versions of a url inside one
    * file (a foreign writer's file). */
  def writeDataFilesTo(df: DataFrame, dirName: String, schemaVersion: Int,
      blooms: Boolean = false): Vector[DataFile] =
    DataFileWriter.write(df, root, s"data/$dataDirPrefix$dirName", schemaVersion, blooms)

  /** Delete snapshot `id`'s manifest ([[Maintain.expireSnapshots]], under
    * the commit lock). */
  private[lake] def deleteSnapshot(id: Long): Unit = Files.deleteIfExists(snapFile(id)): Unit

  /** Publish staging files anywhere under `meta/` ([[MetaFiles.isStagedTmp]]):
    * in-flight ones, and debris of writers that died mid-publish. */
  private[lake] def stagedMetaFiles: Vector[Path] = {
    def walk(dir: Path): Vector[Path] = MetaFiles.list(dir)(Some(_)).flatMap { p =>
      if (Files.isDirectory(p)) walk(p)
      else if (MetaFiles.isStagedTmp(p.getFileName.toString)) Vector(p)
      else Vector.empty
    }
    walk(metaDir)
  }

  /** Remove written-but-uncommitted files (and any bloom sidecars). */
  private def discard(files: Seq[DataFile]): Unit = files.foreach { f =>
    val p = root.resolve(f.path)
    Files.deleteIfExists(p)
    Files.deleteIfExists(Bloom.sidecar(p))
  }
}

/** A losing concurrent commit. Extends IllegalArgumentException so callers
  * of the original fail-fast contract are unaffected. */
final class CommitConflict(msg: String) extends IllegalArgumentException(msg)

/** The table's bucket function changed (live rebucket) between a batch's
  * shuffle and its commit — the batch must be recomputed under the new
  * layout ([[LakeTable.commitAppend]] `expectedBuckets`). */
final class BucketLayoutChanged(msg: String) extends IllegalStateException(msg)

/** A held snapshot lease; release when the read is done. A holder that may
  * outlive the expiry call's `ignorePinsOlderThanMs` staleness window must
  * call [[touch]] on a shorter cadence — freshness is the lease file's
  * mtime, so an un-touched lease is indistinguishable from a crashed one. */
final class SnapshotPin(val snapshotId: Long, private[graft] val file: Path)
    extends AutoCloseable {
  /** Heartbeat: refresh the lease so stale-lease aging doesn't GC a
    * snapshot a live long-running reader still holds. */
  def touch(): Unit =
    if (Files.exists(file))
      Files.setLastModifiedTime(file,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())): Unit
  def release(): Unit = { Files.deleteIfExists(file): Unit }
  override def close(): Unit = release()
}

object LakeTable {
  /** Per-root commit locks: every LakeTable instance over the same root in
    * this JVM serializes its check-then-swap through one monitor. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[lake] def commitLock(root: Path): Object =
    commitLocks.computeIfAbsent(root.toAbsolutePath.normalize.toString, _ => new Object)

  private def metaDirOf(root: Path): Path = root.resolve("meta")

  /** A snapshot lease file `meta/pins/pin-<snapshotId>[-<owner>]-<nonce>`
    * ([[LakeTable.pin]]). Owners match `[A-Za-z0-9_]*` ([[validateOwner]])
    * and nonces are 8 hex chars, so a name splits on `-` into 3 fields
    * (anonymous) or 4 (owned). Ownership is the third of 4 fields —
    * positional, never a substring — so a numeric owner can never match
    * another lease's snapshot-id field. */
  private[lake] final case class Lease(file: Path, snapshotId: Long, owner: String)

  private[lake] object Lease {
    def fileName(snapshotId: Long, owner: String): String = {
      val tag = if (owner.isEmpty) "" else s"$owner-"
      s"pin-$snapshotId-$tag${java.util.UUID.randomUUID().toString.take(8)}"
    }

    def parse(file: Path): Option[Lease] = {
      val parts = file.getFileName.toString.split("-")
      if (parts.length < 2 || parts(0) != "pin") None
      else parts(1).toLongOption.map(Lease(file, _, if (parts.length == 4) parts(2) else ""))
    }
  }

  /** Owner tags ride inside dash-delimited pin file names — enforce the
    * charset instead of rewriting it (a lossy sanitize could collapse two
    * distinct owners onto one tag). Empty = anonymous. */
  private[lake] def validateOwner(owner: String): Unit =
    require(owner.forall(c => c.isLetterOrDigit || c == '_'),
      s"pin owner tag must match [A-Za-z0-9_]*, got '$owner'")

  /** The main chain's ref name — the default for every handle. */
  val MainRef: String = "main"

  /** Owner-tag prefix of branch fork leases (`branch_<name>`): RESERVED —
    * the public [[LakeTable.pin]] rejects it, because
    * [[Maintain.removeOrphanFiles]] reaps aged leases in this prefix whose
    * branch doesn't exist (crashed-createBranch debris). */
  val ForkLeasePrefix: String = "branch_"

  /** Whether `name` is in the branch-name charset ([A-Za-z0-9_]+, ASCII).
    * Used by LOOKUPS ([[LakeTable.branchExists]]) as well as creation:
    * branch names resolve to `meta/refs/<name>/` paths, so an unvalidated
    * lookup of `'..'` (or any path-traversing string) would resolve MAIN's
    * own VERSION file and read main while claiming a branch read — the
    * silent-to-main hazard the WAP fail-loud guard exists to prevent. */
  private[lake] def isValidBranchName(name: String): Boolean =
    name.nonEmpty && name.forall(c => (c.isLetterOrDigit && c < 128) || c == '_')

  /** Branch names ride inside `meta/refs/<name>/` dirs, `data/ref-<name>-`
    * data-dir prefixes AND `branch_<name>` pin-owner tags — VALIDATED
    * (never rewritten: the validateOwner lesson) to the owner charset.
    * All-digit names are rejected (`VERSION AS OF` resolves numerics as
    * snapshot ids first, so such a branch would be unreadable by name) and
    * `main` is reserved. */
  private[lake] def validateBranchName(name: String): Unit = {
    require(isValidBranchName(name),
      s"invalid branch name '$name' — use [A-Za-z0-9_]+ (names are never rewritten)")
    require(name != MainRef, s"branch name '$name' is reserved")
    require(!name.forall(_.isDigit),
      s"branch name '$name' parses as a snapshot id — VERSION AS OF would " +
        "never resolve the branch by name")
  }

  /** The engine's one recursive delete: removes `dir` and everything under
    * it; an absent path is a no-op. Symlinks are removed, not followed. */
  private[graft] def deleteRecursively(dir: Path): Unit = {
    if (!Files.exists(dir, java.nio.file.LinkOption.NOFOLLOW_LINKS)) return
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => { Files.deleteIfExists(p): Unit })
    finally s.close()
  }

  /** Tag names become `meta/tags/<name>.json` — validated (never rewritten:
    * lossy sanitization could collapse two tags onto one file). ASCII
    * letters/digits plus `._-`; must not start with a dot (hidden-file
    * rule: staged `.tmp` files are dot-prefixed). */
  private[lake] def validateTagName(name: String): Unit = {
    require(name.nonEmpty && !name.startsWith("."),
      s"tag name must be non-empty and not start with '.', got '$name'")
    require(name.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '-'),
      s"tag name must match [A-Za-z0-9._-]+, got '$name'")
    // VERSION AS OF tries the numeric snapshot-id interpretation FIRST, so
    // an all-digit tag could be created but never resolved — reject it
    require(name.toLongOption.isEmpty,
      s"tag name '$name' parses as a snapshot id — VERSION AS OF would " +
        "never resolve it as a tag; include a non-digit character")
  }

  /** Create an empty table with an initial snapshot 0, or return the table
    * already at `root` untouched — its head, layout and schema win over the
    * arguments, so every ingest entry point just calls `create`.
    *
    * Both metadata files publish put-if-absent ([[MetaFiles.publish]]),
    * `snap-0.json` first and `VERSION` last, because [[exists]] keys on the
    * VERSION file: a concurrent poller doing `exists → load →
    * currentSnapshot` (the live-maintenance threads in RebucketLiveSpec /
    * TortureSpec, or any second pipeline watching for the table to appear)
    * never observes a created-but-empty VERSION. Racing creators all return
    * the one table whose files landed first, a create never moves an
    * existing pointer, and a create that died between the two publishes is
    * finished by the next one. */
  def create(root: Path, nBuckets: Int, schemaVersion: Int = TableSchemas.current): LakeTable = {
    val t = new LakeTable(root)
    if (exists(root)) return t
    Files.createDirectories(t.metaDir)
    Files.createDirectories(root.resolve("data"))
    val snap0 = Snapshot(0L, -1L, schemaVersion, nBuckets, Vector.empty, Vector.empty, 0L,
      commitTsMs = System.currentTimeMillis())
    def putIfAbsent(f: Path, bytes: Array[Byte]): Unit =
      try MetaFiles.publish(f, bytes, replace = false)
      catch { case _: FileAlreadyExistsException => () } // another creator's
    putIfAbsent(t.snapFile(0L), snap0.toJson.getBytes(StandardCharsets.UTF_8))
    putIfAbsent(t.versionFile, "0".getBytes(StandardCharsets.UTF_8))
    t
  }

  def load(root: Path): LakeTable = {
    require(exists(root), s"no table at $root")
    new LakeTable(root)
  }

  def exists(root: Path): Boolean = Files.exists(metaDirOf(root).resolve("VERSION"))

  /** Unbounded url bounds (manifests from writers that took them from
    * parquet footers with no stats; the table writer always records exact
    * bounds): "" is
    * genuinely minimal in byte order; `NoStatsMax` is a SENTINEL the prune
    * must treat as "unbounded high" (it is NOT byte-maximal — supplementary-
    * plane code points encode above EF BF BF). */
  val NoStatsMin = ""
  val NoStatsMax = "￿"

  /** A pushed timestamp literal (java.sql.Timestamp, or java.time.Instant
    * under spark.sql.datetime.java8API.enabled) → epoch micros; None for
    * value shapes the time-range prune doesn't handle. */
  def tsLiteralMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case _ => None
  }

  /** Unsigned byte-wise comparison of the UTF-8 encodings — the ordering
    * Spark's `min`/`max` over strings (UTF8String.binaryCompare) and parquet
    * binary stats both use. Java `String.compareTo` is UTF-16 code-unit
    * order, which DISAGREES for supplementary-plane characters; all bound
    * comparisons must go through here (ADVICE round 1). */
  def compareUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** The table's hash-bucket of a url column: `pmod(murmur3_hash(url), n)` —
    * deliberately IDENTICAL to Spark's `HashPartitioning.partitionIdExpression`
    * for a shuffle on `url` with n partitions. This makes the MERGE
    * aggregation's shuffle layout coincide with the table's bucket layout:
    * after `repartition(n, $"url")` + `groupBy(url)`, every task holds
    * exactly one bucket, so the per-bucket file write needs NO second
    * shuffle. Codegen'd, identical on executor and driver. */
  def bucketOf(urlCol: Column, nBuckets: Int): Column =
    pmod(hash(urlCol), lit(nBuckets)).cast("int")

  /** Driver/kernel-side evaluation of [[bucketOf]] for one key — the same
    * murmur3-seed-42 over UTF-8 bytes Spark's `hash()` computes; lets a
    * point lookup prune to its single possible bucket without a plan. */
  def bucketIdOf(url: String, nBuckets: Int): Int =
    bucketIdOf(org.apache.spark.unsafe.types.UTF8String.fromString(url), nBuckets)

  /** The ONE kernel every bucket-id consumer must share — the String
    * overload above and the catalog V2 function
    * ([[graft.sql.GraftBucketBound]]) both delegate here, so the
    * bit-for-bit agreement the storage-partitioned-join path depends on
    * cannot drift between call sites. */
  def bucketIdOf(url: org.apache.spark.unsafe.types.UTF8String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
      url, org.apache.spark.sql.types.StringType, 42L).toInt
    val m = h % nBuckets
    if (m < 0) m + nBuckets else m
  }
}
