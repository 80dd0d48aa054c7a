package graft.cdc

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.lake.{LakeTable, PartLineage}

/** The streaming CDC apply pipeline: binlog tail → dedup → MERGE, with
  * exactly-once batch markers.
  *
  * Equivalent of the reference's sink task loop
  * (`/root/reference/sink/src/main/java/com/spredfast/kafka/connect/s3/sink/S3SinkTask.java:152-183`)
  * with commit-after-durable-write semantics
  * (`S3SinkTask.java:368-395`): Spark's checkpoint replays offsets after a
  * crash; the `(batchId → lineage)` marker in the snapshot summary makes the
  * replayed MERGE a no-op, so the pair gives end-to-end exactly-once.
  */
object Ingest {

  /** Lineage from the source's own planned offset ranges: when every leaf
    * scan of the batch is our binlog source, the `(partition, from, until)`
    * input partitions ARE the offset bookkeeping (≙ the reference's chunk
    * metadata, `BlockMetadata.java:5-21`) — no data pass needed. */
  private def lineageFromPlan(df: DataFrame): Option[Seq[PartLineage]] = {
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, StreamingDataSourceV2ScanRelation}
    import graft.binlog.{BinlogMicroBatchStream, BinlogScan}
    // match on the LOGICAL plan: independent of AQE wrapping, no physical
    // planning forced just to read offsets
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val parts: Seq[org.apache.spark.sql.connector.read.InputPartition] = leaves.flatMap {
      case s: StreamingDataSourceV2ScanRelation
          if s.stream.isInstanceOf[BinlogMicroBatchStream] && s.startOffset.isDefined && s.endOffset.isDefined =>
        s.stream.asInstanceOf[BinlogMicroBatchStream]
          .planInputPartitions(s.startOffset.get, s.endOffset.get).toSeq
      case b: DataSourceV2ScanRelation if b.scan.isInstanceOf[BinlogScan] =>
        b.scan.asInstanceOf[BinlogScan].toBatch.planInputPartitions().toSeq
      case _ => return None // a non-binlog leaf: fall back to data-pass lineage
    }
    val bl = parts.collect { case p: graft.binlog.BinlogInputPartition => p }
    if (bl.size != parts.size || bl.isEmpty) return None
    Some(bl.groupBy(_.partition).toSeq.sortBy(_._1).map { case (p, ps) =>
      val start = ps.map(_.from).min
      val cnt = ps.map(r => r.until - r.from).sum
      PartLineage(p, start, cnt, cnt)
    })
  }

  /** Apply one microbatch (callable from foreachBatch or batch replay).
    * `knownLineage`: offset ranges recovered out-of-band (streaming registry).
    * Within-batch dedup happens INSIDE the merge aggregation (same max_by),
    * so the raw batch flows straight through — one pass, one shuffle. */
  def applyBatch(spark: SparkSession, table: LakeTable,
      knownLineage: Option[Seq[PartLineage]] = None,
      mode: MergeMode = Cow,
      opts: MergeOptions = MergeOptions())(df: DataFrame, batchId: Long): Unit = {
    val snap = table.currentSnapshot
    if (snap.committedBatchIds.contains(batchId)) return // replayed batch: already durable
    // Fast path: lineage from the registry or the scan's planned offset
    // ranges — no extra data pass. Fallback (non-binlog input): aggregate
    // it, caching the batch since it is then read twice.
    knownLineage.filter(_.nonEmpty).orElse(lineageFromPlan(df)) match {
      case Some(lineage) =>
        if (lineage.isEmpty) return
        Merge(spark, table, df, batchId, lineage, mode, opts)
      case None =>
        val events = df.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // per-partition lineage as CONTIGUOUS (startOffset, count) runs:
          // the gap-free chain of the reference's chunk index
          // (BlockGZIPFileWriter.java:174-176). A (min, count) envelope
          // would FABRICATE coverage when the incoming frame has offset
          // gaps (an upstream filter): the audit would pass on a range the
          // batch never carried. Runs are found distributed — one window
          // sort over (partition, offset), run heads where the previous
          // offset is not offset−1, then one small aggregate per run.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("partition")).orderBy(col("offset"))
          val lineage = events.select(col("partition"), col("offset")).distinct()
            .withColumn("_prev", lag(col("offset"), 1).over(w))
            .withColumn("_head", when(col("_prev").isNull || col("offset") =!= col("_prev") + 1L, 1L).otherwise(0L))
            .withColumn("_run", sum(col("_head")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("partition"))
                .orderBy(col("offset")).rowsBetween(Long.MinValue, 0)))
            .groupBy(col("partition"), col("_run"))
            .agg(min(col("offset")).as("start"), count(lit(1)).as("cnt"))
            .collect()
            .map(r => PartLineage(r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(3)))
            .toSeq.sortBy(l => (l.partition, l.startOffset))
          if (lineage.isEmpty) return
          Merge(spark, table, events, batchId, lineage, mode, opts)
        } finally events.unpersist()
    }
  }

  /** RESERVED batch id for [[bootstrap]]'s initial-load batch: disjoint from
    * streaming checkpoint epochs (small naturals) and from the SQL command
    * domain (bit 62, [[graft.sql.GraftRowLevel.SqlBatchIdBit]]), so the
    * bootstrap marker can never collide with either writer's exactly-once
    * key — and re-running bootstrap is an idempotent no-op. */
  val BootstrapBatchId: Long = 1L << 61

  /** Batch-id domain for BRANCH ingest streams (write-audit-publish): a
    * published branch's markers enter MAIN's exactly-once marker space,
    * where the main stream's own checkpoint epochs (small naturals) live —
    * raw epoch ids from the audit stream's checkpoint would collide with
    * them and make the main stream silently skip its next batches as
    * "already-durable replays" (the mixed-writer data-loss class: every
    * writer sharing a marker space needs its own id domain — SQL commands
    * bit 62, bootstrap bit 61, mirrors bit 60, branches bit 59). Bits
    * 32–58: 27-bit per-audit salt from the checkpoint dir (stable across
    * restarts of one audit, distinct across audits — two published audits
    * must not collide either; the mask stops at bit 58 so the salt can
    * never alias the domain bit); bits 0–31: the epoch. */
  val BranchBatchIdBit: Long = 1L << 59

  /** `BranchBatchIdBit | salt<<32 | epochId` — see [[BranchBatchIdBit]]. */
  def branchBatchId(checkpointDir: String, epochId: Long): Long = {
    require((epochId >> 32) == 0L,
      s"epoch id $epochId overflows the 32-bit branch epoch field")
    val salt = checkpointDigest(checkpointDir)
      .take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)) & 0x7ffffffL
    BranchBatchIdBit | (salt << 32) | epochId
  }

  /** MD5 of [[checkpointKey]] — the ONE identity digest every
    * checkpoint-derived salt and lease-owner tag is cut from
    * ([[branchBatchId]], [[Mirror.batchId]], the feed and curator owner
    * tags). Single-sourced so an identity fix lands everywhere at once: a
    * site deriving its own digest from a different key form would silently
    * re-salt one writer against the others. */
  private[graft] def checkpointDigest(checkpointDir: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointKey(checkpointDir)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Canonical identity string for a checkpoint location, used wherever a
    * salt/owner tag must be "stable across restarts of one query": the
    * Hadoop-QUALIFIED path, so `/ckpt`, `file:/ckpt` and `file:///ckpt` —
    * and a restart from a different working directory naming the same
    * absolute location — all derive the SAME key. Salt stability is thereby
    * congruent with checkpoint identity: when a restart resolves to the
    * same checkpoint Spark resumes from, the salt matches; when it resolves
    * elsewhere, Spark itself starts a fresh stream (fresh epochs), so a
    * fresh salt is correct. CWD-resolved `Paths.get(...).toAbsolutePath`
    * is NOT a substitute: cluster-mode restarts land in a fresh container
    * dir, and a replayed epoch hashed under a different salt would miss its
    * own exactly-once marker.
    *
    * FAILS LOUDLY when the scheme's filesystem can't resolve (bad URI, no
    * FileSystem impl, transient NN outage at init): a silent fallback to
    * some other normalization would make the key NONDETERMINISTIC across
    * restarts — one run salting under the qualified form and a retry under
    * the fallback form is exactly the instability this key exists to
    * prevent. The stream can't run against an unreachable checkpoint
    * anyway, so failing here loses nothing.
    *
    * UPGRADE NOTE: checkpoints whose salts were minted from the legacy
    * CWD-resolved key (`/ckpt` vs the qualified `file:/ckpt`) hash
    * differently — drain and republish (or restart from a fresh
    * checkpoint) branch audits, mirrors and curated streams when crossing
    * that change; a resumed legacy checkpoint would re-apply its last
    * epoch under the new salt. */
  private[graft] def checkpointKey(checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    p.getFileSystem(conf).makeQualified(p).toString
  }

  /** INITIAL-SNAPSHOT BOOTSTRAP — the "snapshot, then stream" handoff the
    * reference leaves to the operator (kafka-connect-s3 only tails the
    * topic; loading pre-existing data is out of its scope): load an existing
    * corpus dump as ONE exactly-once merge batch, then tail the binlog with
    * [[startStream]].
    *
    * `snapshot` must carry `url`, `warc_ts`, `html` (and optionally `lang`);
    * `text`/`content_len` are re-derived from `html` by the merge itself, so
    * the byte-identical-extraction invariant holds for bootstrapped rows
    * exactly as for streamed ones. Urls MUST be unique — a dump IS a
    * resolved table state — and this is ENFORCED (one cheap aggregation over
    * a once-ever input): duplicates would share the one reserved envelope,
    * and identical envelopes break every winner-resolution path that keys on
    * them (the late-materialized admission join would attach one duplicate's
    * payload to another's metadata).
    *
    * HANDOFF CONTRACT — bootstrap rows get the reserved envelope
    * `(partition, offset) = (−1, −1)`, BELOW every envelope a binlog reader
    * (byte offsets ≥ 0), streaming sink epoch (`epochId<<32`) or SQL command
    * (bit 62) can assign. So at an equal `warc_ts` any replayed change event
    * beats the snapshot copy of itself, which gives exact convergence:
    *
    *  - FULL OVERLAP (binlog retained from before the dump's cut): replaying
    *    everything yields a final table state identical to a from-scratch
    *    replay — bit for bit, ties included — because every dump row's source
    *    event is present and strictly beats it.
    *  - SKIP (pass the dump's per-partition cut offsets as `startOffsets` to
    *    [[startStream]]): only post-cut events are read — O(delta), not
    *    O(log), the 10¹⁰-scale path. Convergence is exact except for an
    *    EXACT `warc_ts` tie between a pre-cut winner and a post-cut event in
    *    a DIFFERENT partition (the dump dropped the pre-cut envelope that
    *    would have won the tie) — the operator chooses cut consistency
    *    exactly as with Kafka `startingOffsets`.
    *
    * Requires a fresh table (no committed batches beyond a prior bootstrap):
    * bootstrapping over live history would silently lose to every stored
    * row and is almost certainly operator error. */
  def bootstrap(spark: SparkSession, tableRoot: Path, snapshot: DataFrame,
      nBuckets: Int = 32, mode: MergeMode = Cow,
      opts: MergeOptions = MergeOptions()): LakeTable = {
    val table = LakeTable.create(tableRoot, nBuckets)
    val prior = table.currentSnapshot.batches.map(_.batchId).filterNot(_ == BootstrapBatchId)
    require(prior.isEmpty,
      s"bootstrap requires a fresh table; found committed batches $prior")
    val cols = snapshot.columns.toSet
    require(Set("url", "warc_ts", "html").subsetOf(cols),
      s"bootstrap snapshot needs url, warc_ts, html; got ${snapshot.columns.mkString(",")}")
    val dup = snapshot.groupBy(col("url")).count()
      .filter(col("count") > 1).select(col("url")).limit(1).collect()
    require(dup.isEmpty,
      s"bootstrap snapshot has duplicate urls (e.g. '${dup.headOption.map(_.getString(0)).getOrElse("")}'): " +
        "a dump must be a resolved state with one row per url")
    val changelog = snapshot.select(
      lit(-1).cast("int").as("partition"),
      lit(-1L).cast("long").as("offset"),
      lit("upsert").as("op"),
      col("url"),
      col("warc_ts").cast("timestamp").as("warc_ts"),
      col("html").cast("binary").as("html"),
      (if (cols.contains("lang")) col("lang") else lit(null)).cast("string").as("lang"))
    Merge(spark, table, changelog, BootstrapBatchId, lineage = Nil, mode, opts): Unit
    table
  }

  /** Start the streaming ingest from a binlog directory.
    *
    * `expireEveryBatches` > 0 runs snapshot expiry (keeping the newest
    * `keepSnapshots`) after every Nth batch — bounds metadata growth and
    * GCs data files that only expired snapshots reference, without
    * interrupting ingest (maintenance commits are cheap metadata +
    * unlink operations; MOR's incremental bucket compaction is separate
    * and automatic). `expirePinHorizonMs` is that expiry's stale-lease
    * horizon ([[graft.lake.Maintain.expireSnapshots]]): leases older than
    * it are treated as crashed holders; the default honors every lease
    * forever (conservative — a pin from an absent consumer keeps its span
    * retained until the consumer returns or cleans up).
    *
    * `branch` targets the whole ingest at a STAGING BRANCH of the table
    * (write-audit-publish — [[graft.lake.LakeTable.createBranch]]): the
    * branch is forked from the current main head if it doesn't exist yet
    * (a restart of the same audit stream reuses it; its checkpoint resumes
    * the binlog offsets), every batch commits to the branch chain only, and
    * nothing is visible on main until `table.publishBranch(name)`. Batch
    * markers enter the branch in the salted branch id domain
    * ([[branchBatchId]]) so a published audit's markers can never collide
    * with the main stream's own checkpoint epochs. Table-wide maintenance
    * cadences are main-only by construction, so they must stay off here
    * (enforced) — in particular binlog RETENTION, which truncates the
    * shared source below an applied horizon: a branch's applies are
    * provisional until publish, so a dropped branch must leave the binlog
    * intact for the re-fork to re-read. */
  def startStream(spark: SparkSession, binlogDir: String, tableRoot: Path,
      checkpointDir: String, maxEventsPerBatch: Long = 1000000L,
      trigger: Trigger = Trigger.AvailableNow(), nBuckets: Int = 32,
      mode: MergeMode = Cow, expireEveryBatches: Long = 0L,
      keepSnapshots: Int = 10, bloomEveryBatches: Long = 0L,
      growBucketsTargetBytes: Long = 0L,
      expirePinHorizonMs: Long = Long.MaxValue,
      afterBatch: (LakeTable, Long) => Unit = (_, _) => (),
      opts: MergeOptions = MergeOptions(),
      startOffsets: Map[Int, Long] = Map.empty,
      deadLetterDir: Option[String] = None,
      retainBinlogEveryBatches: Long = 0L,
      maxBytesPerBatch: Long = Long.MaxValue,
      branch: Option[String] = None): StreamingQuery = {
    val mainTable = LakeTable.create(tableRoot, nBuckets)
    require(branch.isEmpty || (expireEveryBatches == 0 &&
        retainBinlogEveryBatches == 0),
      "branch ingest cannot run table-wide maintenance: snapshot expiry is " +
        "main-only and binlog retention would truncate the shared source " +
        "below a PROVISIONAL horizon (data loss if the branch is dropped)")
    val table = branch.fold(mainTable) { name =>
      if (mainTable.branchExists(name)) mainTable.branchTable(name)
      else {
        // fresh fork ONLY with a fresh checkpoint: if the checkpoint has
        // committed offsets but the branch is gone, the branch was DROPPED
        // after this stream ran — re-forking here while the checkpoint
        // skips the already-read span would silently stage a hole-filled
        // table (the dropped incarnation's applies are gone) and publish
        // it without error. Fail loudly: re-audit from a fresh checkpoint.
        // Probed through the HADOOP filesystem (same resolution Spark's
        // checkpoint manager uses) — a java.nio probe of a URI-form or
        // non-local checkpointDir would silently report "no progress" and
        // disable the guard.
        val off = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
        val fs = off.getFileSystem(spark.sessionState.newHadoopConf())
        val hasProgress = fs.exists(off) && fs.listStatus(off).nonEmpty
        require(!hasProgress,
          s"branch '$name' does not exist but checkpoint $checkpointDir " +
            "already has committed offsets — the branch was dropped after " +
            "this stream ran, and re-forking would silently miss the " +
            "pre-checkpoint span; restart the audit with a FRESH checkpoint dir")
        mainTable.createBranch(name)
      }
    }
    // lineage registry key = this query's checkpoint dir: unique per query
    // (Spark forbids checkpoint sharing), stable across restarts — other
    // queries tailing the same directory cannot clobber our planned ranges.
    val lineageToken = s"ingest:$checkpointDir"
    val reader = spark.readStream
      .format("graft.binlog.BinlogSourceProvider")
      .option("path", binlogDir)
      .option("maxEventsPerBatch", maxEventsPerBatch)
      .option("lineageToken", lineageToken)
    // decoded-byte admission cap (see BinlogSource.maxBytesPerBatch):
    // bounds per-batch executor memory when row widths vary 10^4×
    if (maxBytesPerBatch != Long.MaxValue)
      reader.option("maxBytesPerBatch", maxBytesPerBatch): Unit
    // handoff anchor after a [[bootstrap]]: first offsets to read when the
    // checkpoint is empty (once a checkpoint exists, it wins)
    if (startOffsets.nonEmpty) reader.option("startOffsets",
      startOffsets.toSeq.sortBy(_._1).map { case (p, o) => s"$p:$o" }.mkString(",")): Unit
    // poison-pill tolerance (Kafka-Connect errors.tolerance=all): quarantine
    // corrupt chunks to this dir instead of failing the stream
    deadLetterDir.foreach(d =>
      reader.option("errorsTolerance", "all").option("deadLetterDir", d): Unit)
    val stream = reader.load()
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val lineage = plannedLineage(lineageToken)
        // branch streams mark batches in their own salted id domain — raw
        // epochs would collide with the main stream's after publish
        val markerId = if (branch.isEmpty) id else branchBatchId(checkpointDir, id)
        applyBatch(spark, table, lineage, mode, opts)(df, markerId)
        // auto-maintenance cadence: metadata expiry, point-lookup blooms,
        // bucket growth — all single-writer-safe inside the batch loop
        if (expireEveryBatches > 0 && id > 0 && id % expireEveryBatches == 0)
          graft.lake.Maintain.expireSnapshots(table, keepSnapshots,
            ignorePinsOlderThanMs = expirePinHorizonMs): Unit
        if (bloomEveryBatches > 0 && id > 0 && id % bloomEveryBatches == 0)
          graft.lake.Maintain.buildBlooms(spark, table): Unit
        if (growBucketsTargetBytes > 0)
          graft.lake.Maintain.maybeGrowBuckets(spark, table, growBucketsTargetBytes): Unit
        // binlog retention on the same cadence family: truncate the SOURCE
        // below this table's applied horizon. Safe inside the batch loop —
        // the horizon covers only batches whose commit is durable, and this
        // hook runs after the current batch's reads finished. ONLY enable
        // when this stream is the directory's sole consumer; shared
        // directories need Retention.minHorizon across all their consumers.
        if (retainBinlogEveryBatches > 0 && id > 0 && id % retainBinlogEveryBatches == 0)
          graft.binlog.Retention.expireApplied(table, Paths.get(binlogDir)): Unit
        // post-commit hook (runs AFTER the batch is durable and after
        // maintenance): derived-state consumers — the CDC→curation loop
        // tails the table's change feed here, inside the exactly-once
        // batch loop, so a crash replays the hook with the same head
        afterBatch(table, id)
      }
      .start()
  }

  /** The offset ranges the source registered under `token` when it planned
    * the current micro-batch, as per-partition lineage in partition order.
    * `foreachBatch` wraps a batch as an opaque LogicalRDD, so a streaming
    * apply recovers the batch's span from the source's planning registry
    * ([[graft.binlog.BinlogLineage]]) — one pass saved per batch vs
    * aggregating it from the data. */
  private[cdc] def plannedLineage(token: String): Option[Seq[PartLineage]] =
    graft.binlog.BinlogLineage.lastPlanned(token).map(_.toSeq.sortBy(_._1)
      .map { case (p, (from, until)) => PartLineage(p, from, until - from, until - from) })

  /** Tail a TOPIC SET: one [[startStream]] per topic subdirectory of
    * `binlogRoot`, each with its own checkpoint `checkpointRootDir/<table>`,
    * lineage token and target table (≙ the reference consuming a topic set
    * with per-topic tasks and per-topic remap,
    * `S3SourceTask.java:137-143,236-238`). `remap` renames a topic to its
    * target table (identity by default). Queries are independent —
    * per-topic backpressure, rate limits and failure isolation, exactly
    * like connector task sets; the token-keyed lineage registry keeps their
    * exactly-once metadata separate. */
  def startTopicSet(spark: SparkSession, binlogRoot: String, topics: Seq[String],
      tableRootFor: String => Path, checkpointRootDir: String,
      remap: String => String = identity,
      maxEventsPerBatch: Long = 1000000L,
      trigger: Trigger = Trigger.AvailableNow(), nBuckets: Int = 32,
      mode: MergeMode = Cow,
      opts: MergeOptions = MergeOptions()): Map[String, StreamingQuery] = {
    // one writer per table: the engine's commit protocol is single-writer
    // (best-effort CAS), so a remap may rename but never MERGE topic streams
    val targets = topics.map(remap)
    require(targets.distinct.size == targets.size,
      s"remap must be injective — one writer per table (got ${targets.mkString(", ")})")
    topics.map { topic =>
      val target = remap(topic)
      topic -> startStream(spark, s"$binlogRoot/$topic", tableRootFor(target),
        s"$checkpointRootDir/$target", maxEventsPerBatch, trigger, nBuckets, mode,
        opts = opts)
    }.toMap
  }

  /** Batch (non-streaming) replay of a binlog directory in fixed-size batches
    * — used by tests and the bench (same code path as streaming apply). */
  def replayBatch(spark: SparkSession, binlogDir: String, tableRoot: Path,
      eventsPerBatch: Long, nBuckets: Int = 32, firstBatchId: Long = 0L,
      mode: MergeMode = Cow, opts: MergeOptions = MergeOptions()): LakeTable = {
    val table = LakeTable.create(tableRoot, nBuckets)
    val segs = graft.binlog.Segment.listAll(Paths.get(binlogDir))
    if (segs.isEmpty) return table
    val maxEnd = segs.map(_.endOffset).max
    var batchId = firstBatchId
    var from = 0L
    while (from < maxEnd) {
      val until = math.min(from + eventsPerBatch, maxEnd)
      val df = graft.binlog.BinlogRead.range(spark, binlogDir, from, until)
      applyBatch(spark, table, mode = mode, opts = opts)(df, batchId)
      batchId += 1
      from = until
    }
    table
  }
}
