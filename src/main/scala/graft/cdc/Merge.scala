package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake._
import graft.functions.NativeFns

/** Merge strategy: copy-on-write (rewrite touched buckets each batch — reads
  * amplify writes, zero read overhead) vs merge-on-read (append per-bucket
  * delta files of batch winners — O(batch) writes regardless of table size,
  * LWW resolved at read, bounded by incremental compaction). MOR is the
  * 10^10-scale path: COW's per-batch cost grows with the table, MOR's does
  * not (≙ Iceberg v1 overwrite vs v2 row-level deltas). */
sealed trait MergeMode
case object Cow extends MergeMode
case object Mor extends MergeMode

/** Per-call merge strategy options — the only way to choose a merge's
  * strategy: each call (and each pipeline passing its own options) gets
  * exactly the mode it asked for, whatever other merges in the JVM run.
  * `lateMaterialize` selects the late-materialized dedup (default off; see
  * the LATE MATERIALIZATION notes in [[Merge]]). */
final case class MergeOptions(
    lateMaterialize: Boolean = false,
    audit: Option[MergeAudit] = None)

/** Per-call audit sink for merge internals: written only by the merge that
  * received it, so CONCURRENT pipelines in one JVM each read their own
  * values. */
final class MergeAudit {
  @volatile private[cdc] var bitmapBytes: Long = 0L

  /** Bytes of the late-mat admission bitmap this merge broadcast
    * (−1 = key-set fallback; 0 = late materialization never ran). */
  def admitBitmapBytes: Long = bitmapBytes
}

/** MERGE INTO for the url-keyed LakeTable: one winner pass, then a
  * per-mode tail.
  *
  * The reference has no joins; its analog of this operator is the
  * cursor→index→data dereference plus idempotent overwrite-on-replay
  * (the reference's `sink/src/main/java/com/spredfast/kafka/connect/s3/S3Writer.java:47-109`,
  * proven idempotent by the rewind IT,
  * `sink/src/test/.../S3SinkConnectorIT.java:474-612`). Last-writer-wins
  * MERGE resolves by url under the `S3Offset`-style total order
  * `(warc_ts, offset, partition)` (`S3Offset.java:46-49`).
  *
  * The winner pass ([[winners]]) aligns the batch to the snapshot's logical
  * schema and resolves each url's winner with [[graft.lake.Resolve.lww]]
  * over ONE `repartition(nBuckets, url)`, the batch's only shuffle: its
  * partition i is bucket i ([[LakeTable.bucketOf]]), so the winners arrive
  * bucket-aligned whatever the table's size. A winning delete is kept as a
  * TOMBSTONE (`_deleted = true`): the final state must be independent of
  * how the log is split into batches, and only a durable tombstone beats a
  * late upsert replayed after it (SURVEY.md §2.9 T7). Text extraction runs
  * on the winners only, O(surviving rows), never O(events). One
  * Observation counts winners and tombstones: the batch marker's
  * upserts/deletes in both modes.
  *
  * The tails:
  *  - MOR appends the winners as per-bucket DELTA files (`commitAppend`,
  *    rebased over concurrent commits), then folds the tiers of crowded
  *    buckets; per-batch cost is O(batch), independent of table size.
  *  - COW folds the winners into their buckets' stored files with the
  *    table's own k-way fold ([[graft.plans.BucketMergeExec]], no shuffle
  *    of table rows), writes each touched bucket as one base file and
  *    commits with one CAS on the snapshot it read, replacing every
  *    stored file of the rewritten buckets; untouched buckets are carried
  *    forward.
  *
  * Scale: shuffle bounded by batch rows; `nBuckets` sizes rewrite
  * granularity, write parallelism AND per-task fold state (grow via
  * [[graft.lake.Maintain.rebucket]]).
  */
object Merge {

  /** MOR: fold a bucket's DELTA tier once it accumulates this many delta
    * files. With tiering the worst-case resolve width is ~(1 base +
    * MidFilesPerBucket mids + MaxFilesPerBucket+1 deltas) ≈ 14 files, not
    * MaxFilesPerBucket — tiering trades bounded extra read fan-out for a
    * 1/MidFilesPerBucket-rarer base rewrite (A/B in BENCH_LOCAL.md). The
    * delta-count default comes from the read-latency sweep in
    * BENCH_LOCAL.md (resolve cost vs file count). */
  final val MaxFilesPerBucket = 8

  /** LATE MATERIALIZATION for the dedup shuffle (network-cluster mode,
    * default off): resolve LWW winners over the batch's META projection
    * (html elided — at web scale the payload dominates event bytes and a
    * url's losing duplicates never need theirs), then fetch ONLY the winning
    * payloads with a second pass over the same batch plan, admitted by a
    * broadcast semi-join on the winners' exact (partition, offset) envelope,
    * and shuffled once to the same url-hash partitioning (co-partitioned
    * sort-merge attach — no extra Exchange). Total shuffle becomes
    * `meta(all) + payload(winners)` instead of `payload(all)`: the win grows
    * with the duplicate factor and the payload size (hot-key CDC over
    * Common-Crawl-size html), at the cost of re-reading the batch's binlog
    * range (sequential, partition-aligned — object-store bandwidth, not
    * network shuffle). Off by default because local[32] shuffles through
    * tmpfs at memory speed, where re-decode ≈ the bytes saved (A/B in
    * BENCH_LOCAL.md); on a real cluster shuffle crosses the network and
    * the trade is decisive. Enabled per call via
    * [[MergeOptions]]`(lateMaterialize = true)`.
    *
    * Winner-payload ADMISSION has two forms:
    *  - `lineage` present (the binlog ingest path): a dense PER-RUN OFFSET
    *    BITMAP over the batch's planned offset runs — winner offsets are
    *    positions inside those runs, so the whole admission state is
    *    `events/8` BYTES regardless of winner count (a 10⁸-event mega-batch
    *    broadcasts 12.5 MB where the exact-key set would be ~1.6 GB). Phase
    *    A runs ONCE (localCheckpoint, which preserves the url-hash
    *    partitioning declaration) and feeds both the bitmap build and the
    *    attach join.
    *  - `lineage` empty (ad-hoc callers, SQL merges): broadcast semi-join on
    *    the winners' exact (partition, offset) keys — bounded by batch
    *    admission control (maxEventsPerBatch × 16 B). */
  private def lateResolved(batch: DataFrame, wMeta: DataFrame,
      nBuckets: Int, dataCols: Seq[String], lineage: Seq[PartLineage],
      audit: Option[MergeAudit]): DataFrame = {
    if (lineage.nonEmpty)
      return lateResolvedBitmap(batch, wMeta, nBuckets, dataCols, lineage, audit)
    audit.foreach(_.bitmapBytes = -1L)
    // phase A (`wMeta`): winners over the meta projection — projection
    // collapse drops html BEFORE the exchange, so the dedup shuffle never
    // carries payloads. NOT persisted: the two consumers below are the SAME
    // subtree, so the meta exchange is written once and reused
    // (ReusedExchange); a persist would wrap the plan in an InMemoryRelation
    // whose AQE-finalized partitioning is opaque to the outer planner,
    // forcing the attach join to re-shuffle BOTH sides (measured: worse than
    // the full-payload path).
    // phase B: second pass over the SAME batch plan; only rows whose exact
    // (partition, offset) won phase A survive the broadcast semi-join, so
    // the payload shuffle is O(winners). Tombstone winners fetch nothing.
    val keys = wMeta.where(!col("_deleted"))
      .select(col("_seq_part").as("partition"), col("_seq_offset").as("offset"))
    // the per-url aggregate AFTER the repartition collapses exact-duplicate
    // redeliveries of the winning envelope (at-least-once delivery may carry
    // the same (partition, offset) row twice; the semi-join admits every
    // copy) — without it the url-only attach join would fan out and emit
    // duplicate winner rows. The required clustering is already satisfied by
    // the repartition, so the aggregate adds NO new Exchange and the output
    // keeps HashPartitioning(_pl_url, nBuckets) for the co-partitioned attach.
    val payload = batch
      .join(broadcast(keys), Seq("partition", "offset"), "left_semi")
      .select(col("url").as("_pl_url"), col("html").as("_pl_html"))
      .repartition(nBuckets, col("_pl_url"))
      .groupBy(col("_pl_url"))
      .agg(max(col("_pl_html")).as("_pl_html"))
    // attach on url ALONE — exact by construction: wMeta is grouped by url,
    // and the payload aggregate above leaves one row per winner url (the
    // semi-join admits one envelope per url, possibly redelivered copies of
    // it), so both sides are url-unique. Joining on the envelope too
    // would be redundant AND ruinous: EnsureRequirements then clusters both
    // sides on (url, part, offset), discarding the existing url partitioning
    // and re-shuffling the payload (measured: worse than the full path).
    // With url-only keys both sides are already HashPartitioning(url,
    // nBuckets) — a co-partitioned sort-merge attach, zero new Exchange.
    attachPayload(wMeta, payload, dataCols)
  }

  /** Co-partitioned url-only attach of winner payloads to meta winners —
    * both sides are url-unique and HashPartitioning(url, nBuckets), so this
    * is a zero-Exchange sort-merge join (see the key-joining trap note in
    * [[lateResolved]]). */
  private def attachPayload(wMeta: DataFrame, payload: DataFrame,
      dataCols: Seq[String]): DataFrame =
    wMeta.join(payload, wMeta("url") === col("_pl_url"), "left")
      .select((dataCols ++ graft.lake.TableSchemas.internalNames).map {
        case "html" => col("_pl_html").as("html")
        case c => wMeta(c)
      }: _*)

  /** Bitmap-admitted late materialization (see [[lateResolved]]): the
    * batch's planned lineage runs define a dense global coordinate space
    * (run i covers positions [baseᵢ, baseᵢ+countᵢ)); non-deleted winners set
    * their envelope's bit; phase B admits a payload row iff its bit is set.
    * Admission state = events/8 bytes, independent of the winner count. A
    * winner outside every run fails LOUDLY — lineage claims exactly the
    * batch's offset coverage, and silently dropping a winner's payload
    * would corrupt the table. */
  private def lateResolvedBitmap(batch: DataFrame, metaWinners: DataFrame,
      nBuckets: Int, dataCols: Seq[String], lineage: Seq[PartLineage],
      audit: Option[MergeAudit]): DataFrame = {
    val spark = batch.sparkSession
    val runs = lineage.sortBy(l => (l.partition, l.startOffset))
    val bases = runs.scanLeft(0L)((acc, r) => acc + r.count)
    val totalBits = bases.last
    // part -> sorted (start, end, base); runs per partition are few (one per
    // planned contiguous range), so executor-side lookup is a linear scan
    val runTable: Map[Int, Array[(Long, Long, Long)]] =
      runs.zip(bases).groupBy(_._1.partition).map { case (p, rs) =>
        p -> rs.map { case (r, b) => (r.startOffset, r.startOffset + r.count, b) }
          .sortBy(_._1).toArray
      }
    val runB = spark.sparkContext.broadcast(runTable)
    def posOf(part: Int, off: Long): Long = {
      val rs = runB.value.getOrElse(part, Array.empty[(Long, Long, Long)])
      var i = 0
      while (i < rs.length) {
        val (s, e, b) = rs(i)
        if (off >= s && off < e) return b + (off - s)
        i += 1
      }
      -1L
    }
    // phase A exactly once: the checkpoint truncates lineage (the bitmap job
    // and the attach join reuse the materialized winners instead of
    // re-running the meta dedup) and DECLARES the HashPartitioning(url,
    // nBuckets) the repartition guarantees — plain localCheckpoint loses it
    // under AQE and the attach join would re-shuffle the winners.
    val wMeta = org.apache.spark.sql.GraftBridge.localCheckpointHashPartitioned(
      metaWinners, Seq("url"), nBuckets)
    val posU = udf((p: Int, o: Long) => {
      val pos = posOf(p, o)
      if (pos < 0) throw new IllegalStateException(
        s"late-mat admission: winner envelope ($p, $o) outside the batch's planned lineage runs")
      pos
    })
    // EXECUTOR-SIDE bitmap aggregation: each task folds its winners into a
    // lazily-allocated word array, treeAggregate ORs the partials — the
    // driver receives O(log parts) pre-ORed arrays of events/8 bytes each,
    // never per-winner rows (a 10⁸-event mega-batch would otherwise collect
    // ~1.6M (word, bits) Rows of driver overhead). The zero value is EMPTY
    // so the task closure ships bytes, not the full array; partials allocate
    // on first bit.
    val nWords = ((totalBits + 63) / 64).toInt
    def alloc(a: Array[Long]): Array[Long] = if (a.length == nWords) a else new Array[Long](nWords)
    val bitmap = wMeta.where(!col("_deleted"))
      .select(posU(col("_seq_part"), col("_seq_offset")).as("pos"))
      .select(col("pos")).rdd.map(_.getLong(0))
      .treeAggregate(Array.emptyLongArray)(
        (acc, pos) => { val a = alloc(acc); a((pos >> 6).toInt) |= 1L << (pos & 63L).toInt; a },
        (x, y) =>
          if (x.isEmpty) y
          else if (y.isEmpty) x
          else { var i = 0; while (i < nWords) { x(i) |= y(i); i += 1 }; x })
    val bitmapFull = alloc(bitmap) // all-empty batch (every winner deleted)
    audit.foreach(_.bitmapBytes = bitmapFull.length * 8L)
    val bmB = spark.sparkContext.broadcast(bitmapFull)
    val admit = udf((p: Int, o: Long) => {
      val pos = posOf(p, o)
      pos >= 0 && (bmB.value((pos >> 6).toInt) & (1L << (pos & 63L).toInt)) != 0L
    })
    // phase B: re-read the batch, keep exactly the marked winner envelopes
    // (duplicate redeliveries of a winner are all admitted and collapsed by
    // the per-url aggregate, as in the fallback path)
    val payload = batch
      .where(admit(col("partition"), col("offset")))
      .select(col("url").as("_pl_url"), col("html").as("_pl_html"))
      .repartition(nBuckets, col("_pl_url"))
      .groupBy(col("_pl_url"))
      .agg(max(col("_pl_html")).as("_pl_html"))
    attachPayload(wMeta, payload, dataCols)
  }

  /** Apply one RAW batch of change events (columns: partition, offset, op,
    * url, warc_ts, html, lang — duplicates allowed). Returns the committed
    * snapshot. */
  def apply(spark: SparkSession, table: LakeTable, batch: DataFrame,
      batchId: Long, lineage: Seq[PartLineage], mode: MergeMode = Cow,
      opts: MergeOptions = MergeOptions()): Snapshot =
    mode match {
      case Cow => applyCow(table, batch, batchId, lineage, opts)
      case Mor => applyMor(spark, table, batch, batchId, lineage, opts)
    }

  /** `INSERT OVERWRITE`: resolve the batch's LWW winners against an EMPTY
    * base and commit them as the table's ENTIRE new state — ONE atomic
    * commit replacing files AND batch markers (the truncate/rollback
    * principle: state and exactly-once bookkeeping move together; the
    * overwrite's own marker is the only one left). Incremental consumers
    * (feed/mirror/curation) see a loud history-rewrite at this snapshot
    * ([[graft.lake.LakeTable.incrementFilesBySnapshot]]'s marker-prefix
    * guard — count alone would let a 1-marker overwrite masquerade as
    * maintenance) and must re-seed. Always COW: an overwrite IS a full
    * rewrite, so merge-on-read deltas have nothing to defer. */
  def overwrite(spark: SparkSession, table: LakeTable, batch: DataFrame,
      batchId: Long): Snapshot = {
    val committed = applyCow(table, batch, batchId, lineage = Nil,
      MergeOptions(), emptyBase = true)
    // an EMPTY batch commits nothing in applyCow — but the overwrite
    // contract is "the batch IS the new state", so empty means TRUNCATE
    // (one metadata commit clearing files and markers), never a silent
    // keep-everything. Detected by the unchanged head rather than a
    // pre-count so the non-empty path stays single-pass.
    if (committed.committedBatchIds.contains(batchId)) committed
    else table.truncate()
  }

  /** MERGE-ON-READ apply: the winner pass (the table is never read), the
    * winners appended as per-bucket DELTA files, then an incremental fold
    * of any bucket that exceeded MaxFilesPerBucket. Per-batch cost is
    * O(batch), independent of table size.
    *
    * If a CONCURRENT [[graft.lake.Maintain.rebucket]] swaps the bucket
    * layout between this batch's shuffle and its commit, the layout-guarded
    * append throws and the whole batch is recomputed under the new layout
    * (rare — once per table growth step; the batch plan is re-executable and
    * the marker was never committed, so the retry is exactly-once-safe). */
  private def applyMor(spark: SparkSession, table: LakeTable, batch: DataFrame,
      batchId: Long, lineage: Seq[PartLineage], opts: MergeOptions): Snapshot =
    try applyMorOnce(spark, table, batch, batchId, lineage, opts)
    catch {
      case e: graft.lake.BucketLayoutChanged =>
        System.err.println(s"[merge] batch $batchId: ${e.getMessage}; retrying")
        applyMorOnce(spark, table, batch, batchId, lineage, opts)
    }

  private def applyMorOnce(spark: SparkSession, table: LakeTable, batch: DataFrame,
      batchId: Long, lineage: Seq[PartLineage], opts: MergeOptions): Snapshot = {
    val snap = table.currentSnapshot
    if (snap.committedBatchIds.contains(batchId)) return snap
    val (merged, obs) = winners(batch, snap, lineage, opts)
    val newFiles = table.writeDataFilesTo(merged, s"s${snap.snapshotId + 1}", snap.schemaVersion)
    // ADD-ONLY commit with rebase: a concurrent maintenance commit (blooms
    // excepted — no commit — but compaction commits) between our read and
    // here just moves the head; the delta applies identically on top.
    val next = table.commitAppend(newFiles.map(_.copy(tier = DataFile.TierDelta)),
      Some(marker(batchId, lineage, obs)), expectedBuckets = Some(snap.nBuckets))

    // TIERED incremental compaction (LSM-style size tiering): when a
    // bucket's DELTA count crosses MaxFilesPerBucket, fold just the deltas
    // into one MID file — cost O(deltas), no base rewrite; only when
    // MidFilesPerBucket mids have accumulated does the FULL fold rewrite
    // the base — so the expensive base rewrite runs 1/MidFilesPerBucket as
    // often (write amplification O(base/(8·Mids)) per batch instead of
    // O(base/8)). A legacy/untier-stamped bucket falls back to the full
    // fold once its total file count crosses the combined bound. Every due
    // bucket folds in this batch: one batched pass per kind is cheaper than
    // spreading (measured: capping the folds per batch traded the spike for
    // +20% sustained wall via per-call overhead).
    val byBucket = next.files.groupBy(_.bucket)
    def deltaDue(fs: Seq[DataFile]): Boolean = {
      val ds = fs.filter(_.tier == DataFile.TierDelta)
      ds.size > MaxFilesPerBucket ||
        (MaxDeltaBytesPerBucket > 0 && ds.map(_.bytes).sum > MaxDeltaBytesPerBucket)
    }
    def midsFull(fs: Seq[DataFile]): Boolean = {
      val ms = fs.filter(_.tier == DataFile.TierMid)
      ms.size >= MidFilesPerBucket ||
        (MaxMidBytesPerBucket > 0 && ms.map(_.bytes).sum > MaxMidBytesPerBucket)
    }
    val fullFold = byBucket.filter { case (_, fs) =>
      // legacy (pre-tier) manifests parse every file as tier 0, so >1 base
      // file identifies them precisely — a TIERED bucket must NOT escalate
      // to the full fold on its base count alone (only the cheap delta fold
      // is due until its mids fill up)
      (deltaDue(fs) && midsFull(fs)) || fs.count(_.tier == DataFile.TierBase) > 1
    }.keySet
    val deltaFold = byBucket.filter { case (b, fs) =>
      !fullFold(b) && deltaDue(fs)
    }.keySet
    val afterFull = if (fullFold.nonEmpty) compactBuckets(spark, table, fullFold) else next
    if (deltaFold.nonEmpty) compactDeltaTier(spark, table, deltaFold) else afterFull
  }

  /** The winner pass both modes share (see the object doc): the batch
    * aligned to `snap`'s logical schema, one LWW winner per url over one
    * `repartition(nBuckets, url)` (or the late-materialized dedup), text
    * and `content_len` computed, `bucket` added, url-sorted within each
    * bucket's partition. The Observation counts the winners (`n`) and the
    * tombstones among them (`dels`) once the rows are written. */
  private def winners(batch: DataFrame, snap: Snapshot, lineage: Seq[PartLineage],
      opts: MergeOptions): (DataFrame, Observation) = {
    val nBuckets = snap.nBuckets
    val logical = TableSchemas.forVersion(snap.schemaVersion)
    val typeOf = logical.fields.map(f => f.name -> f.dataType).toMap
    val dataCols = logical.fieldNames.toSeq.filterNot(TableSchemas.internalNames.contains)

    val srcAligned = batch
      .withColumn("text", lit(null).cast("string"))
      .withColumn("content_len", lit(null).cast(typeOf("content_len")))
      .withColumn("_seq_part", col("partition"))
      .withColumn("_seq_offset", col("offset"))
      .withColumn("_deleted", col("op") === "delete")
      .select((dataCols ++ TableSchemas.internalNames).map(c => col(c).cast(typeOf(c)).as(c)): _*)

    // late materialization dedups the html-free META projection and
    // fetches the winners' payloads afterwards (see lateResolved)
    val late = opts.lateMaterialize && batch.columns.contains("offset") && batch.columns.contains("partition")
    val lww = graft.lake.Resolve.lww(
      (if (late) srcAligned.drop("html") else srcAligned).repartition(nBuckets, col("url")),
      if (late) dataCols.filterNot(_ == "html") else dataCols)
    val won = if (late) lateResolved(batch, lww, nBuckets, dataCols, lineage, opts.audit) else lww
    val obs = Observation()
    val merged = won
      .withColumn("text", when(!col("_deleted"), NativeFns.extractText(col("html"))).otherwise(lit(null)))
      .withColumn("content_len",
        when(col("html").isNull, lit(null)).otherwise(length(col("html"))).cast(typeOf("content_len")))
      .withColumn("bucket", LakeTable.bucketOf(col("url"), nBuckets))
      .sortWithinPartitions(col("url"))
      .observe(obs, count(lit(1)).as("n"),
        sum(when(col("_deleted"), 1L).otherwise(0L)).as("dels"))
    (merged, obs)
  }

  /** The batch's marker once its winner pass has run: upserts are the live
    * winners, deletes the tombstone winners (lineage carries the raw
    * coverage). */
  private def marker(batchId: Long, lineage: Seq[PartLineage], obs: Observation): BatchMarker = {
    val row = obs.get
    val n = row("n").asInstanceOf[Long]
    val dels = row("dels").asInstanceOf[Long]
    BatchMarker(batchId, lineage, n - dels, dels)
  }

  /** Mid files per bucket before the full fold runs (the tiering fan-out). */
  final val MidFilesPerBucket = 4

  /** SIZE-based fold triggers, complementing the count triggers: a SKEWED
    * hot bucket can accumulate few-but-huge delta files (count trigger
    * never fires while read cost balloons), so the delta fold also fires
    * once a bucket's delta BYTES cross this; the full fold likewise fires
    * once its mid bytes cross `MaxMidBytesPerBucket` even below the mid
    * count quota. Sized to stay inert at test scale and to bound a bucket's
    * unfolded tail at cluster scale; `0` disables. The delta threshold is
    * settable only by specs, which cannot reach it at these sizes. */
  @volatile private[graft] var MaxDeltaBytesPerBucket: Long = 512L * 1024 * 1024
  final val MaxMidBytesPerBucket: Long = 2048L * 1024 * 1024

  /** Fold ONLY the delta-tier files of the given buckets into one MID file
    * per bucket (tombstones retained, envelopes kept — LWW-sound next to
    * the untouched base): the co-located fold of [[Maintain.foldReplace]]
    * over the tier's files, one task per bucket. */
  def compactDeltaTier(spark: SparkSession, table: LakeTable, buckets: Set[Int]): Snapshot =
    Maintain.foldReplace(spark, table, DataFile.TierMid, "d")(
      _.files.filter(f => buckets.contains(f.bucket) && f.tier == DataFile.TierDelta))

  /** Fold all files of the given buckets into one resolved BASE file per
    * bucket (tombstones retained — GC is Maintain.compact's explicit call).
    * Runs on the MOR HOT PATH (every MaxFilesPerBucket batches per crowded
    * bucket) through the same co-located fold — no shuffle. */
  def compactBuckets(spark: SparkSession, table: LakeTable, buckets: Set[Int]): Snapshot =
    Maintain.foldReplace(spark, table, DataFile.TierBase, "c")(
      _.files.filter(f => buckets.contains(f.bucket)))

  /** COPY-ON-WRITE apply: see the object doc. An empty batch commits
    * nothing (the head is returned). */
  private def applyCow(table: LakeTable, batch: DataFrame,
      batchId: Long, lineage: Seq[PartLineage], opts: MergeOptions,
      emptyBase: Boolean = false): Snapshot = {
    val head = table.currentSnapshot
    if (head.committedBatchIds.contains(batchId)) return head // exactly-once replay skip
    // emptyBase (INSERT OVERWRITE): merge against a VIRTUAL empty state at
    // the real head's identity — no stored file is folded or kept and the
    // marker list restarts at the overwrite's own, so the one commit below
    // atomically replaces the whole table; its CAS still guards against
    // concurrent writers (parentId = the head we read)
    val snap = if (emptyBase)
      head.copy(files = Vector.empty, batches = Vector.empty, totalRows = 0L)
    else head
    val nBuckets = snap.nBuckets

    val (won, obs) = winners(batch, snap, lineage, opts)
    val bucketFiles = snap.files.groupBy(_.bucket).map { case (b, fs) =>
      b -> fs.map(f => (table.root.resolve(f.path).toString, f.bytes, f.schemaVersion))
    }
    val merged = graft.plans.BucketMergeStrategy.mergedRows(won.drop("bucket"),
      bucketFiles, nBuckets, TableSchemas.forVersion(snap.schemaVersion))
      .withColumn("bucket", LakeTable.bucketOf(col("url"), nBuckets))
    // the rewrite keeps bloom sidecars when the table has any, as every
    // fold of stored files does (Maintain.foldReplace)
    val blooms = head.files.exists(f => Files.exists(Bloom.sidecar(table.root.resolve(f.path))))
    val nextId = snap.snapshotId + 1
    val newFiles = table.writeDataFilesTo(merged, s"s$nextId", snap.schemaVersion, blooms)
    val m = marker(batchId, lineage, obs)
    if (m.upserts + m.deletes == 0) return head // empty batch: no rows, no files

    // every bucket with batch winners wrote one file holding its whole fold
    val rewritten = newFiles.map(_.bucket).toSet
    val kept = snap.files.filterNot(f => rewritten.contains(f.bucket))
    val next = snap.copy(
      snapshotId = nextId,
      parentId = snap.snapshotId,
      files = kept ++ newFiles,
      batches = snap.batches :+ m,
      totalRows = kept.map(_.rowCount).sum + newFiles.map(_.rowCount).sum)
    table.commit(next, Some(snap.commitTsMs))
  }
}
