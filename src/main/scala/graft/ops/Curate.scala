package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{Ingest, MergeMode, Mor}
import graft.lake.{LakeTable, MetaFiles, SnapshotPin}

/** The CDC → curation loop: the composition a training-data pipeline runs
  * on top of this engine. As change batches MERGE into the url-keyed
  * LakeTable, each curation increment
  *
  *  1. reads the table's CHANGE FEED for a snapshot span
  *     ([[LakeTable.readIncrement]] — under merge-on-read exactly the span's
  *     post-dedup winners: upserts + tombstones, no table rescan),
  *  2. keeps live upserts and scores them (language ID + quality heuristics,
  *     [[TextOps]] — codegen'd column expressions),
  *  3. probes the quality-passing docs against the PERSISTED near-dup index
  *     and appends them to it ([[LshIndex.probeAndAppend]] — partition-pruned
  *     probe, O(increment) index growth),
  *
  * so curation cost per increment is O(changed docs), never O(table) — the
  * property that matters at 10^10 rows. Deletes need no PER-INCREMENT index
  * maintenance: a tombstoned url's stale index entries can only surface as
  * near-dup evidence against OLD content, and downstream joins back to the
  * live table drop them; [[rebuildIndex]] is the periodic GC that actually
  * removes them (and updated urls' previous-content signatures).
  *
  * A long-lived curator should [[LakeTable.pin]] its `from` snapshot so
  * expiry retains the span (see readIncrement's pin contract).
  */
object Curate {

  /** Scored live docs of the span `(fromSnapshotId, toSnapshotId]`:
    * url, text, lang_guess, quality, token count. */
  def scoredIncrement(spark: SparkSession, table: LakeTable,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val feed = table.readIncrement(spark, fromSnapshotId, toSnapshotId)
    feed.filter(!col("_deleted") && col("text").isNotNull)
      .select(col("url"), col("text"), col("warc_ts"),
        TextOps.langId(col("text")).as("lang_guess"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.tokenCount(col("text")).as("tokens"))
  }

  /** Result of one curation increment: the quality-passing docs of the span,
    * their near-dup hits against everything curated BEFORE the span, and the
    * (doc, band) index rows the span appended (the GC-cadence growth signal). */
  final case class Increment(kept: DataFrame, nearDups: DataFrame,
      appendedRows: Long)

  /** Run one increment end to end: score the span's winners, keep docs
    * passing the quality/length gate, probe-then-append the LSH index.
    * `nearDups` columns: (new_id = url, old_id = previously indexed url,
    * match_frac).
    *
    * EXACTLY-ONCE REPLAY: the index append is keyed by the resolved span
    * `(fromSnapshotId, to]`, so re-running the same increment after a crash
    * (between the index append and the caller's own downstream commit)
    * OVERWRITES the span's rows instead of duplicating them — duplicate
    * index rows would inflate the bucket-cap counts and silently drop a
    * genuinely-hot bucket from candidate generation. The open-ended `to` is
    * pinned to the CURRENT head here so the replayed span is identical. */
  def curateIncrement(spark: SparkSession, table: LakeTable, lshDir: Path,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None,
      minQuality: Double = 0.0, minTokens: Int = 3,
      minMatchFrac: Double = 0.5): Increment = {
    val (inc, release) = curateIncrementCached(spark, table, lshDir,
      fromSnapshotId, toSnapshotId, minQuality, minTokens, minMatchFrac)
    release()
    inc
  }

  /** [[curateIncrement]] with `kept` still PERSISTED when it returns — the
    * caller runs its own actions over the increment (a downstream
    * `onIncrement` sink) and then calls `release`. Cache the increment
    * because probe + append drive several actions over it (shard-list
    * collect, candidate checkpoint, span write), and each would otherwise
    * re-read the change span and re-run extraction + scoring — measured as
    * the bulk of the curated stream's fixed per-batch cost. O(increment)
    * rows by definition. */
  private def curateIncrementCached(spark: SparkSession, table: LakeTable,
      lshDir: Path, fromSnapshotId: Long, toSnapshotId: Option[Long],
      minQuality: Double, minTokens: Int,
      minMatchFrac: Double): (Increment, () => Unit) = {
    val to = toSnapshotId.getOrElse(table.currentSnapshotId)
    val scored = scoredIncrement(spark, table, fromSnapshotId, Some(to))
    val kept = scored.filter(col("quality") >= minQuality && col("tokens") >= minTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (dups, n) = LshIndex.probeAndAppendCounted(spark, kept, "text", "url", lshDir,
        minMatchFrac = minMatchFrac, span = Some(s"$fromSnapshotId-$to"))
      (Increment(kept, dups, n), () => { kept.unpersist(): Unit })
    } catch {
      case t: Throwable => kept.unpersist(); throw t
    }
  }

  /** An increment plus the snapshot span it covered — the replay key for
    * downstream consumers (see [[curateToHead]]'s exactly-once contract). */
  final case class SpanIncrement(fromSnapshotId: Long, toSnapshotId: Long,
      increment: Increment)

  /** The curation CURSOR: the highest table snapshot id whose changes are
    * already in the index. Persisted inside the index directory (the cursor
    * and the spans it tracks live or die together — copying the index copies
    * its progress). */
  def curatedHead(lshDir: Path): Option[Long] =
    readCursor(lshDir).map(_.curatedSnapshotId)

  /** Cursor sidecar state: progress plus the GC growth counters —
    * `rowsAtRebuild` = (doc, band) rows the index held after the last
    * rebuild (the staleness baseline), `rowsSinceRebuild` = rows appended by
    * increments since. A legacy cursor predating the counters reads as
    * (0, 0): increments keep working, [[maybeRebuildIndex]] declines to
    * judge until one explicit [[rebuildIndex]] seeds the baseline — the
    * [[Similarity.readTrainMeta]] pre-meta contract. */
  private final case class CursorMeta(curatedSnapshotId: Long,
      rowsSinceRebuild: Long, rowsAtRebuild: Long)

  private def cursorFile(lshDir: Path) = lshDir.resolve("_curated_head.json")

  private def readCursor(lshDir: Path): Option[CursorMeta] = {
    val f = cursorFile(lshDir)
    if (!Files.exists(f)) return None
    val j = MetaFiles.readJson(f)
    Option(j.get("curatedSnapshotId")).map(id =>
      CursorMeta(id.asLong(), j.path("rowsSinceRebuild").asLong(0L),
        j.path("rowsAtRebuild").asLong(0L)))
  }

  private def writeCursor(lshDir: Path, m: CursorMeta): Unit =
    MetaFiles.publish(cursorFile(lshDir), MetaFiles.json(
      _.put("curatedSnapshotId", m.curatedSnapshotId)
        .put("rowsSinceRebuild", m.rowsSinceRebuild)
        .put("rowsAtRebuild", m.rowsAtRebuild)), replace = true)

  /** Curate everything between the persisted cursor and the table's CURRENT
    * head, then advance the cursor; `None` when the cursor is already at
    * head. The one-call building block [[startCuratedStream]] loops.
    *
    * EXACTLY-ONCE: the order is index-append (span-keyed overwrite,
    * [[LshIndex.append]]) → `onIncrement` → cursor bump (atomic rename). A
    * crash anywhere in between replays the SAME span on restart — the head
    * cannot move before the replayed batch is re-applied, and a replayed
    * merge is a marker-gated no-op — so the append overwrites its own rows
    * and `onIncrement` re-fires with an identical SpanIncrement. Downstream
    * effects in `onIncrement` must therefore be idempotent PER SPAN (write
    * under a `span=<from>-<to>` key, as the index itself does); pure
    * observers need nothing.
    *
    * A fresh cursor starts at `initialFromSnapshotId` (default 0 = curate
    * the table's whole retained history in the first increment). Attaching
    * a NEW index to an old table whose early snapshots were already expired?
    * Pass the oldest retained snapshot id and bootstrap the index from a
    * full-table read instead — an increment read cannot see folded-away
    * history.
    *
    * `prePin` fires with the resolved `to` AFTER the span's effects
    * (append + `onIncrement`) and BEFORE the cursor bump — the safe publish
    * order for a caller holding snapshot leases: acquire the NEW lease on
    * `to` inside `prePin`, release the old one after this returns, and the
    * advanced cursor is never on disk without a lease covering its snapshot
    * (a crash in the old acquire-after-bump order left the cursor snapshot
    * unprotected: an aggressive expiry during the downtime could GC it, and
    * the restart's `pin(curatedHead)` would then fail on every retry —
    * wedging the stream permanently). */
  def curateToHead(spark: SparkSession, table: LakeTable, lshDir: Path,
      minQuality: Double = 0.0, minTokens: Int = 3, minMatchFrac: Double = 0.5,
      initialFromSnapshotId: Long = 0L,
      onIncrement: SpanIncrement => Unit = _ => (),
      prePin: Long => Unit = _ => ()): Option[SpanIncrement] = {
    val prev = readCursor(lshDir)
    val from = prev.map(_.curatedSnapshotId).getOrElse(initialFromSnapshotId)
    val to = table.currentSnapshotId
    if (to <= from) return None
    // the cached variant keeps `kept` persisted THROUGH onIncrement — the
    // documented downstream consumer runs its own actions over the increment
    val (inc, release) = curateIncrementCached(spark, table, lshDir, from,
      Some(to), minQuality, minTokens, minMatchFrac)
    try {
      val si = SpanIncrement(from, to, inc)
      onIncrement(si)
      // lease-before-cursor: if prePin throws, the cursor is not advanced and
      // the span replays — span-keyed effects above are replay-idempotent
      prePin(to)
      // growth accounting is replay-idempotent with the span: a crashed span
      // never bumped the cursor, so its re-run re-reads the same `prev`
      writeCursor(lshDir, prev match {
        case Some(m) => m.copy(curatedSnapshotId = to,
          rowsSinceRebuild = m.rowsSinceRebuild + inc.appendedRows)
        case None => CursorMeta(to, 0L, inc.appendedRows) // first increment seeds the GC baseline
      })
      Some(si)
    } finally release()
  }

  /** GC/REBUILD the curation index from the LIVE table — the periodic
    * maintenance op backing the delete contract above: incremental appends
    * never remove rows, so tombstoned urls' bands and updated urls'
    * previous-content signatures accumulate until a rebuild drops them.
    * Pins the current snapshot (concurrent expiry cannot GC the inputs),
    * re-scores the live rows with the SAME quality/length gate the
    * increments used (pass the same thresholds), and rebuilds the index via
    * [[LshIndex.rebuild]] — the curation CURSOR is installed INSIDE the
    * fresh tree before the atomic swap, so index contents and progress
    * marker publish together: after the swap the cursor reads the pinned
    * snapshot id and the next [[curateToHead]] resumes from exactly the
    * state the rebuild captured (a crash before the swap leaves the old
    * index + old cursor fully intact). Returns the snapshot id the rebuilt
    * index represents. Run with the curator paused (or accept one loud
    * span-replay on its restart — see [[LshIndex.rebuild]]); cost is
    * O(live table) by design. */
  def rebuildIndex(spark: SparkSession, table: LakeTable, lshDir: Path,
      minQuality: Double = 0.0, minTokens: Int = 3,
      pinOwner: String = ""): Long = {
    val (snap, pin) = table.pinCurrent(pinOwner)
    try {
      val s = snap.snapshotId
      val live = table.read(spark, Some(s)).filter(col("text").isNotNull)
        .select(col("url"), col("text"),
          TextOps.qualityScore(col("text")).as("quality"),
          TextOps.tokenCount(col("text")).as("tokens"))
        .filter(col("quality") >= minQuality && col("tokens") >= minTokens)
        .select(col("url"), col("text"))
      LshIndex.rebuild(spark, live, "text", "url", lshDir, span = s"gc-$s",
        beforeSwap = (fresh, n) => writeCursor(fresh, CursorMeta(s, 0L, n)))
      s
    } finally pin.release()
  }

  /** Automated GC cadence (the [[Similarity.maybeRebuildIvfIndex]] of the
    * near-dup side): rebuild once the (doc, band) rows appended since the
    * last rebuild exceed `staleFactor` × the rows the index held right after
    * it — the growth proxy for stale-row accumulation in an append-only
    * index (every update re-indexes its url; every delete strands rows).
    * Cheap no-op under threshold (one cursor-file read); a legacy cursor
    * without counters (or none) declines to judge — rebuild once explicitly
    * and tracking starts. Pass the SAME quality gate the increments use.
    * Call on any maintenance cadence; [[startCuratedStream]] runs it inside
    * the batch loop when `gcStaleFactor` > 0 (single-writer for free).
    * Returns the rebuilt snapshot id when GC ran. */
  def maybeRebuildIndex(spark: SparkSession, table: LakeTable, lshDir: Path,
      staleFactor: Double = 1.0, minQuality: Double = 0.0,
      minTokens: Int = 3, pinOwner: String = ""): Option[Long] = {
    require(staleFactor > 0, "staleFactor must be positive")
    readCursor(lshDir) match {
      case Some(m) if m.rowsAtRebuild > 0 &&
          m.rowsSinceRebuild >= staleFactor * m.rowsAtRebuild =>
        Some(rebuildIndex(spark, table, lshDir, minQuality, minTokens, pinOwner))
      case _ => None
    }
  }

  /** SPAN-COUNT cadence (the LSM fold for the index's append-only span
    * log): every increment adds one `span=<tag>` directory and every probe
    * re-lists all of them, so an INSERT-heavy curator — where the
    * staleness-driven [[maybeRebuildIndex]] rarely fires — would grow probe
    * listing cost without bound. Once the index holds more than `maxSpans`
    * span dirs, fold the SMALLEST ones (by on-disk bytes) down to
    * `maxSpans/2` dirs ([[LshIndex.compactSpans]] — a parquet-only copy, no
    * re-shingling, no table read). Smallest-first is the size-tiered
    * discipline that keeps write amplification logarithmic: a folded span
    * is only re-folded once it's again among the smallest half, so tiers
    * form geometrically and each row is rewritten O(log corpus) times over
    * the index's life — folding EVERYTHING each time would rewrite the
    * whole corpus every maxSpans increments (quadratic total writes, and a
    * multi-TB stall inside the batch loop at the 10¹⁰ target). Safe only
    * for spans the cursor covers, so it declines without a cursor; in
    * [[startCuratedStream]] it runs right after the cursor bump, where
    * every span is covered. The output tag `cmp-<cursor>-<g>` picks the
    * first free generation `g`: deterministic for a replayed fold, never
    * self-reading, and a crashed fold's leftovers (a staged-only output
    * dir, or duplicates from half-deleted inputs) are folded away by the
    * next run. Returns the folded (doc, band) row count when compaction
    * ran. */
  def maybeCompactSpans(spark: SparkSession, lshDir: Path,
      maxSpans: Int = 64): Option[Long] = {
    require(maxSpans >= 2, "maxSpans must be at least 2")
    val sizes = LshIndex.spanSizes(lshDir)
    if (sizes.size <= maxSpans) return None
    curatedHead(lshDir).map { head =>
      val tags = sizes.map(_._1)
      val fold = sizes.sortBy(_._2).take(sizes.size - maxSpans / 2).map(_._1)
      val out = Iterator.from(0).map(g => s"cmp-$head-$g")
        .find(t => !tags.contains(t)).get
      LshIndex.compactSpans(spark, lshDir, fold, out)
    }
  }

  /** The whole CDC→curation loop as ONE streaming query: binlog tail →
    * exactly-once LWW MERGE into the LakeTable ([[Ingest.startStream]]) →
    * per-batch [[curateToHead]] increment (change feed → score → LSH
    * probe-then-append), all inside the same micro-batch so the curation
    * cursor can never lag the table by more than the in-flight batch.
    *
    * The cursor snapshot is PINNED for the life of the query (lease swapped
    * forward as the cursor advances, heartbeat on idle batches), so the
    * auto-expiry knobs (`expireEveryBatches`) can run at full cadence
    * without GC-ing a span the curator still has to read —
    * [[LakeTable.readIncrement]]'s documented pin contract. Leases are
    * OWNED by the query (tag derived from the checkpoint dir): a crashed
    * run's orphaned lease keeps protecting the cursor span during the
    * downtime, and the restart — after re-leasing the persisted cursor —
    * deletes every other lease under the same owner tag
    * ([[LakeTable.releaseOwnedPins]]), so orphans cannot block expiry
    * forever. A curator that never restarts leaves its lease in place by
    * design (don't GC what an absent curator hasn't curated);
    * `expirePinHorizonMs` (default: honor leases forever) opts the in-loop
    * expiry into treating leases older than the horizon as crashed — pair
    * it with a heartbeat interval (idle batches touch the lease) well under
    * the horizon.
    *
    * `gcStaleFactor` > 0 additionally runs [[maybeRebuildIndex]] after each
    * increment — index GC rides the batch loop, serialized with ingest and
    * curation (the rebuild's single-maintenance requirement, for free) —
    * and `maxSpans` > 0 (the default) folds the index's span directories
    * whenever they exceed the threshold ([[maybeCompactSpans]]), bounding
    * probe listing cost on insert-heavy streams the staleness cadence
    * never triggers on. */
  def startCuratedStream(spark: SparkSession, binlogDir: String,
      tableRoot: Path, checkpointDir: String, lshDir: Path,
      maxEventsPerBatch: Long = 1000000L,
      trigger: Trigger = Trigger.AvailableNow(), nBuckets: Int = 32,
      mode: MergeMode = Mor, expireEveryBatches: Long = 0L,
      keepSnapshots: Int = 10,
      minQuality: Double = 0.0, minTokens: Int = 3, minMatchFrac: Double = 0.5,
      gcStaleFactor: Double = 0.0, expirePinHorizonMs: Long = Long.MaxValue,
      maxSpans: Int = 64,
      onIncrement: SpanIncrement => Unit = _ => ()): StreamingQuery = {
    // fail fast: maybeCompactSpans would reject this on the FIRST non-idle
    // batch, killing the query after it already merged and indexed the batch
    require(maxSpans == 0 || maxSpans >= 2,
      "maxSpans must be 0 (off) or at least 2")
    // lease owner tag: stable across restarts of THIS query (checkpoint dir
    // is unique per query), so a restart can GC its crashed predecessors'
    // leases without touching other readers' pins on the same snapshots.
    // md5-derived (a 32-bit hashCode can collide across two curators on one
    // table — a restart of one would then delete the OTHER's live lease)
    val owner = "cur" + graft.cdc.Ingest.checkpointDigest(checkpointDir)
      .take(8).map(b => f"$b%02x").mkString
    var pin: Option[SnapshotPin] = None
    def swapPinTo(table: LakeTable, snapshotId: Long): Unit = {
      val np = table.pin(snapshotId, owner)
      pin.foreach(_.release())
      pin = Some(np)
    }
    Ingest.startStream(spark, binlogDir, tableRoot, checkpointDir,
      maxEventsPerBatch = maxEventsPerBatch, trigger = trigger,
      nBuckets = nBuckets, mode = mode,
      expireEveryBatches = expireEveryBatches, keepSnapshots = keepSnapshots,
      expirePinHorizonMs = expirePinHorizonMs,
      afterBatch = (table, _) => {
        // restart: re-lease the persisted cursor before the first increment,
        // then drop the crashed predecessor's orphaned leases — they covered
        // the cursor span through the downtime, the fresh lease covers it
        // now, and left in place they would block expiry forever
        if (pin.isEmpty) {
          curatedHead(lshDir).foreach(h => pin = Some(table.pin(h, owner)))
          table.releaseOwnedPins(owner, except = pin.map(_.file).toSet): Unit
        }
        // lease-before-cursor publish order (see curateToHead's prePin doc):
        // the new lease on `to` exists BEFORE the advanced cursor does, so
        // no crash point leaves the cursor snapshot unprotected — the old
        // lease (still held through prePin) covers the span's replay, the
        // new one covers the bumped cursor, and the overlap is released here
        var prevLease: Option[SnapshotPin] = None
        curateToHead(spark, table, lshDir, minQuality = minQuality,
          minTokens = minTokens, minMatchFrac = minMatchFrac,
          onIncrement = onIncrement,
          prePin = to => {
            val np = table.pin(to, owner)
            prevLease = pin
            pin = Some(np)
          }) match {
          case Some(_) =>
            prevLease.foreach(_.release())
            // in-loop GC: inside afterBatch the rebuild is serialized with
            // ingest and curation — the single-maintenance discipline
            // LshIndex.rebuild requires, for free. At staleFactor f the
            // cadence is "rebuild when the index grew f×", so total rebuild
            // cost is amortized O(rows/f) — the LSM bound.
            if (gcStaleFactor > 0)
              maybeRebuildIndex(spark, table, lshDir, gcStaleFactor,
                minQuality, minTokens, pinOwner = owner)
                .foreach(swapPinTo(table, _))
            // span-count fold after the cursor bump (every span covered) —
            // and after a possible rebuild, which already left one span
            if (maxSpans > 0)
              maybeCompactSpans(spark, lshDir, maxSpans): Unit
          case None => pin.foreach(_.touch()) // idle: heartbeat the lease
        }
      })
  }
}
