package graft.cdc

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lake.{FeedSource, LakeTable}

/** Chained CDC pipelines: tail one graft table's change feed
  * ([[graft.lake.FeedSourceProvider]]) and apply it into another graft
  * table through the SAME exactly-once merge the binlog ingest uses — the
  * downstream half of "table A feeds table B feeds table C".
  *
  * The feed emits each committed batch's winner rows WITH their original
  * envelopes (`_seq_part`, `_seq_offset`), so the mirror replays them as
  * change events in the source's own envelope domain: the LWW total order
  * `(warc_ts, offset, partition)` is preserved end to end, a re-delivered
  * span re-resolves to the same winners, and a chain of mirrors converges
  * to the head table's state bit for bit (text is re-derived from `html`
  * by the merge itself, so the byte-identical-extraction invariant holds
  * per hop). Do NOT mix mirrors of two different source tables into one
  * destination unless their envelope domains are disjoint.
  *
  * Exactly-once: destination batch ids live in the reserved mirror domain
  * (bit 60, salted per attachment — see [[Mirror.batchId]]) so they can
  * never collide with the destination's own streaming epochs, bootstrap
  * (bit 61), SQL commands (bit 62), or another mirror attachment's (a
  * disjoint-domain second source, or a rollback re-seed under a fresh
  * checkpoint — up to the 28-bit salt, ~4e-9 per pair); batch markers carry
  * feed-domain lineage (partition [[FeedSource.LineagePartition]], offsets
  * = source snapshot ids) recovered from the feed's planning registry — an
  * honest, gap-free "which source snapshots are applied" chain, stamped
  * without an extra data pass. */
object Mirror {

  /** Reserved batch-id domain for mirror applies (see
    * [[graft.sql.GraftRowLevel.SqlBatchIdBit]] and
    * [[Ingest.BootstrapBatchId]] for the discipline: every writer that
    * shares a table's exactly-once marker space needs its own id domain).
    * Within the domain, bits 32–59 carry a PER-ATTACHMENT salt derived from
    * the checkpoint location (stable across restarts of one query, distinct
    * across attachments) and bits 0–31 the epoch id — epoch ids restart at
    * 0 for every new checkpoint, so without the salt a SECOND attachment to
    * the same destination (a disjoint-domain second source, or the
    * documented rollback re-seed with a fresh checkpoint) would collide
    * with the first's markers and be silently skipped as a replay. */
  val FeedBatchIdBit: Long = 1L << 60

  /** `FeedBatchIdBit | salt<<32 | epochId` — see [[FeedBatchIdBit]]. */
  def batchId(checkpointDir: String, epochId: Long): Long = {
    require((epochId >> 32) == 0L, s"epoch id $epochId overflows the 32-bit mirror epoch field")
    val salt = Ingest.checkpointDigest(checkpointDir)
      .take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)) & 0xfffffffL
    FeedBatchIdBit | (salt << 32) | epochId
  }

  /** Validate a selective-mirror predicate and apply it to the feed.
    *
    * The predicate may reference ONLY the stable key column `url`: whether a
    * row belongs to the mirror must be a pure function of its key, or the
    * destination diverges — a row whose MUTABLE columns (warc_ts, html,
    * lang, …) stop matching would never be deleted downstream (the filter
    * drops the very event that should retract it), and tombstones carry
    * null payloads so a payload predicate cannot even evaluate consistently
    * on them. A url-only predicate keeps the contract exact: the
    * destination IS the source state restricted to `pred(url)`, deletes
    * included (tombstones carry their url). Nondeterministic predicates and
    * subqueries are rejected for the same reason (replayed spans must
    * re-select identical rows). */
  private def applyWhere(feed: DataFrame, pred: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val filtered = feed.filter(expr(pred))
    val cond = filtered.queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"mirror filter '$pred' did not analyze to a Filter"))
    require(cond.deterministic,
      s"mirror filter must be deterministic (replayed spans must re-select " +
        s"identical rows): '$pred'")
    require(!cond.exists(_.isInstanceOf[SubqueryExpression]),
      s"mirror filter must not contain subqueries (their result can change " +
        s"between replays): '$pred'")
    val refs = cond.references.map(_.name).toSet
    val mutable = refs - "url"
    require(mutable.isEmpty,
      s"mirror filter may reference only the stable key column 'url' — a " +
        s"predicate over mutable columns (${mutable.mkString(", ")}) would " +
        s"strand destination rows when they stop matching and cannot " +
        s"evaluate on tombstones: '$pred'")
    filtered
  }

  /** Exact url keys of a point predicate (`url = 'x'` / `url IN (…)`), for
    * feed-side FILE PRUNING — a single-tenant mirror skips every file whose
    * manifest bounds/bloom exclude its keys. Other predicate shapes return
    * Nil: no pruning, still correct (the filter applies above the scan). */
  private[cdc] def urlKeysOf(spark: SparkSession, pred: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def urlAttr(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = e match {
      case a: AttributeReference => a.name == "url"
      case a: UnresolvedAttribute => a.nameParts == Seq("url")
      case _ => false
    }
    def str(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = e match {
      case Literal(v: UTF8String, StringType) => Some(v.toString)
      case _ => None
    }
    spark.sessionState.sqlParser.parseExpression(pred) match {
      case EqualTo(a, l) if urlAttr(a) => str(l).toSeq
      case EqualTo(l, a) if urlAttr(a) => str(l).toSeq
      case In(a, list) if urlAttr(a) && list.nonEmpty && list.forall(str(_).isDefined) =>
        list.flatMap(str)
      case _ => Nil
    }
  }

  /** Feed rows → the raw change-event shape [[Merge]] consumes. Tombstones
    * become `delete` ops; `text`/`content_len` are dropped and re-derived
    * by the destination merge (bit-identical, same extractor). */
  def feedEvents(df: DataFrame): DataFrame = df.select(
    col("_seq_part").as("partition"),
    col("_seq_offset").as("offset"),
    when(col("_deleted"), lit("delete")).otherwise(lit("upsert")).as("op"),
    col("url"),
    col("warc_ts"),
    col("html"),
    (if (df.columns.contains("lang")) col("lang")
     else lit(null).cast("string")).as("lang"))

  /** Start the mirror stream `srcRoot` → `dstRoot`. With the default
    * `fromSnapshot = "full"`, batch 0 seeds the destination with the
    * source's current state and increments follow — so a mirror can be
    * attached to a table at ANY point in its life. The feed holds an owned
    * lease on its cursor snapshot (advanced per epoch), so source-side
    * snapshot expiry never GCs the unconsumed span.
    *
    * Late-materialized merge is rejected: its winner-admission bitmap is
    * keyed by planned binlog offset ranges, and feed batches carry sparse
    * envelopes from a different domain (including bootstrap's shared
    * (−1,−1)). The co-located COW/MOR paths are envelope-agnostic.
    *
    * `where` makes the mirror SELECTIVE: the destination converges to the
    * source state restricted to the predicate — a url-keyed subset
    * replica (per-tenant/per-domain fan-out, the Debezium filter-SMT role).
    * The predicate is validated to reference only the stable key column
    * `url` (see [[applyWhere]] for why mutable-column predicates cannot be
    * exact); it prunes each microbatch BEFORE the shuffle+merge, so a
    * selective mirror's per-batch cost scales with the selected subset,
    * not the source's change volume. */
  def startMirror(spark: SparkSession, srcRoot: Path, dstRoot: Path,
      checkpointDir: String, fromSnapshot: String = "full",
      maxSnapshotsPerBatch: Int = 0,
      trigger: Trigger = Trigger.AvailableNow(), nBuckets: Int = 32,
      mode: MergeMode = Mor, opts: MergeOptions = MergeOptions(),
      expireEveryBatches: Long = 0L, keepSnapshots: Int = 10,
      where: Option[String] = None,
      afterBatch: (LakeTable, Long) => Unit = (_, _) => ()): StreamingQuery = {
    require(!opts.lateMaterialize,
      "mirror batches carry sparse non-binlog envelopes; use Cow or Mor " +
        "without lateMaterialize")
    val dst = LakeTable.create(dstRoot, nBuckets)
    val token = s"mirror:$checkpointDir"
    val reader = spark.readStream.format("graft-feed")
      .option("path", srcRoot.toString)
      .option("fromSnapshot", fromSnapshot)
      .option("maxSnapshotsPerBatch", maxSnapshotsPerBatch.toString)
      .option("lineageToken", token)
    // point predicates additionally prune feed FILES by manifest bounds +
    // bloom (a single-tenant mirror never opens other tenants' files)
    val keys = where.map(urlKeysOf(spark, _)).getOrElse(Nil)
    val raw = (if (keys.isEmpty) reader
               else reader.option("urlKeys", graft.lake.FeedSource.encodeUrlKeys(keys)))
      .load()
    // the filter sits ABOVE the feed scan, so the lineage registry still
    // records every planned span — a batch whose rows all filter away still
    // marks its source snapshots applied (gap-free chain preserved)
    val feed = where.map(applyWhere(raw, _)).getOrElse(raw)
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        // feed-domain lineage from the source's planning registry (see
        // Ingest.plannedLineage). Covers maintenance-only spans too — an
        // empty batch still marks its snapshot span applied.
        val lineage = Ingest.plannedLineage(token).map(_.filter(_.count > 0))
        Ingest.applyBatch(spark, dst, lineage, mode, opts)(
          feedEvents(df), batchId(checkpointDir, id))
        if (expireEveryBatches > 0 && id > 0 && id % expireEveryBatches == 0)
          graft.lake.Maintain.expireSnapshots(dst, keepSnapshots): Unit
        afterBatch(dst, id)
      }
      .start()
  }
}
