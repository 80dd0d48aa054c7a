package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** One tracked Parquet data file with pruning stats (≙ an Iceberg manifest
  * entry; plays the role of the reference's per-file `ChunksIndex` —
  * `/root/reference/common/src/main/java/com/spredfast/kafka/connect/s3/json/ChunksIndex.java:7-37`).
  *
  * `bucket` is the table's hash-partition of `url` — `pmod(hash(url), n)`,
  * murmur3 seed 42, with [[LakeTable.bucketOf]] as the single source of
  * truth (it MUST equal Spark's `HashPartitioning` expression; do not
  * "upgrade" it to xxhash64 — that silently breaks the bucket==partition
  * invariant the single-shuffle write depends on). MERGE only rewrites
  * files whose bucket intersects the incoming batch — the skip-scan the
  * reference gets from its chunk index.
  */
final case class DataFile(
    path: String, // relative to table root
    bucket: Int,
    rowCount: Long,
    urlMin: String,
    urlMax: String,
    schemaVersion: Int,
    bytes: Long,
    /** Compaction tier: 0 = base (full fold / COW rewrite), 1 = mid (folded
      * deltas), 2 = delta (per-batch MOR append). Tiers bound WRITE
      * amplification: deltas fold into a mid often (cost O(deltas)), mids
      * fold into the base rarely (cost O(base) but 1/MidFilesPerBucket as
      * frequent) — LSM-style size tiering. LWW correctness is tier-blind:
      * every row keeps its (warc_ts, offset, partition) envelope, so the
      * k-way resolve-on-read picks the same winner whatever the layout.
      * Absent in pre-tier manifests → 0 (one full fold re-stamps). */
    tier: Int = 0,
    /** Event-time bounds of the file's `warc_ts` column in epoch MICROS,
      * computed by the writing task ([[LakeTable.writeDataFilesTo]]).
      * Sentinels ([[DataFile.NoTsMin]] / [[DataFile.NoTsMax]]) mean
      * "unbounded" — pre-stats manifests, legacy files whose footers carried
      * no usable stats (INT96 encoding), or a null in the column. Pruning
      * must ADMIT unbounded files. Used by the time-range prune: on the
      * LWW-resolved read only LOWER-bound predicates may skip files (see
      * GraftLakeScan — dropping a file of NEWER rows could un-shadow an
      * older version); the raw change feed may prune on both bounds. */
    tsMinMicros: Long = DataFile.NoTsMin,
    tsMaxMicros: Long = DataFile.NoTsMax)

object DataFile {
  val TierBase = 0
  val TierMid = 1
  val TierDelta = 2

  /** "Unbounded" event-time sentinels: a prune must treat them as admitting
    * every predicate (they are NOT real bounds). */
  val NoTsMin: Long = Long.MinValue
  val NoTsMax: Long = Long.MaxValue
}

/** Lineage of one binlog partition within one committed batch
  * (≙ the gap-free chain `next.first = prev.first + prev.num_records`,
  * `sink/.../BlockGZIPFileWriter.java:174-176`, `S3Writer.java:92-96`).
  *
  * `count` and `rows` are the PLANNED OFFSET ENVELOPE (until − from) when
  * lineage comes from the source's planned ranges — i.e. events covered by
  * the batch, not events that survived reader-side filters
  * (`excludeUrlContains`) or dedup. Gap-free coverage is exactly what the
  * exactly-once audit needs; merged-row counts live in the BatchMarker's
  * upserts/deletes: the batch's LWW winners, live and tombstone, in both
  * merge modes. */
final case class PartLineage(partition: Int, startOffset: Long, count: Long, rows: Long)

/** One committed microbatch's marker: the exactly-once key `(batchId,
  * partitions…)` stored in the snapshot summary (per north_star). */
final case class BatchMarker(batchId: Long, lineage: Seq[PartLineage], upserts: Long, deletes: Long)

/** A table snapshot (≙ Iceberg snapshot + metadata file; also ≙ the
  * reference's cursor file + index chain, `sink/.../S3Writer.java:102-109`). */
final case class Snapshot(
    snapshotId: Long,
    parentId: Long, // -1 for first
    schemaVersion: Int,
    nBuckets: Int,
    files: Vector[DataFile],
    batches: Vector[BatchMarker],
    totalRows: Long,
    /** Wall-clock commit time in epoch MILLIS, stamped by [[LakeTable.commit]]
      * strictly monotonically per table (max(now, parent+1)) so `TIMESTAMP AS
      * OF` resolves unambiguously even when commits land within one
      * millisecond. −1 = unknown (pre-stamp manifests) — such snapshots are
      * not timestamp-resolvable, only `VERSION AS OF`-addressable. */
    commitTsMs: Long = -1L) {

  def committedBatchIds: Set[Long] = batches.map(_.batchId).toSet

  def toJson: String = {
    val m = Snapshot.mapper
    val root = m.createObjectNode()
    root.put("snapshot_id", snapshotId)
    root.put("parent_id", parentId)
    root.put("schema_version", schemaVersion)
    root.put("n_buckets", nBuckets)
    root.put("total_rows", totalRows)
    // only when stamped — pre-stamp manifests round-trip unchanged
    if (commitTsMs >= 0) root.put("commit_ts_ms", commitTsMs)
    val fa = root.putArray("files")
    files.foreach { f =>
      val o = fa.addObject()
      o.put("path", f.path); o.put("bucket", f.bucket); o.put("row_count", f.rowCount)
      o.put("url_min", f.urlMin); o.put("url_max", f.urlMax)
      o.put("schema_version", f.schemaVersion); o.put("bytes", f.bytes)
      o.put("tier", f.tier)
      // ts bounds only when real — unbounded sentinels stay implicit, so
      // pre-stats manifests and stat-less files round-trip unchanged
      if (f.tsMinMicros != DataFile.NoTsMin) o.put("ts_min", f.tsMinMicros)
      if (f.tsMaxMicros != DataFile.NoTsMax) o.put("ts_max", f.tsMaxMicros)
    }
    val ba = root.putArray("batches")
    batches.foreach { b =>
      val o = ba.addObject()
      o.put("batch_id", b.batchId); o.put("upserts", b.upserts); o.put("deletes", b.deletes)
      val la = o.putArray("lineage")
      b.lineage.foreach { l =>
        val lo = la.addObject()
        lo.put("partition", l.partition); lo.put("start_offset", l.startOffset)
        lo.put("count", l.count); lo.put("rows", l.rows)
      }
    }
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}

object Snapshot {
  private val mapper = new ObjectMapper()

  def fromJson(json: String): Snapshot = {
    val root = mapper.readTree(json)
    def arr(n: JsonNode, f: String): Iterator[JsonNode] = {
      val a = n.get(f).asInstanceOf[ArrayNode]
      val it = a.elements(); Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
    }
    val files = arr(root, "files").map { o =>
      DataFile(o.get("path").asText(), o.get("bucket").asInt(), o.get("row_count").asLong(),
        o.get("url_min").asText(), o.get("url_max").asText(),
        o.get("schema_version").asInt(), o.get("bytes").asLong(),
        tier = if (o.has("tier")) o.get("tier").asInt() else 0,
        tsMinMicros = if (o.has("ts_min")) o.get("ts_min").asLong() else DataFile.NoTsMin,
        tsMaxMicros = if (o.has("ts_max")) o.get("ts_max").asLong() else DataFile.NoTsMax)
    }.toVector
    val batches = arr(root, "batches").map { o =>
      BatchMarker(o.get("batch_id").asLong(),
        arr(o, "lineage").map(l => PartLineage(l.get("partition").asInt(),
          l.get("start_offset").asLong(), l.get("count").asLong(), l.get("rows").asLong())).toVector,
        o.get("upserts").asLong(), o.get("deletes").asLong())
    }.toVector
    Snapshot(root.get("snapshot_id").asLong(), root.get("parent_id").asLong(),
      root.get("schema_version").asInt(), root.get("n_buckets").asInt(),
      files, batches, root.get("total_rows").asLong(),
      commitTsMs = if (root.has("commit_ts_ms")) root.get("commit_ts_ms").asLong() else -1L)
  }
}
