package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, HashPartitioning, Partitioning, StatefulOpClusteredDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.Resolve
import graft.sql.{GraftBucketPartition, GraftBucketReader, GraftBucketReaderFactory}

/** Co-located COW merge: the round-1 engine's one hazard at steady state was
  * that every batch re-SHUFFLED the touched TABLE rows through the
  * union+`max_by` aggregation, even though table files are already
  * bucket-partitioned (bucket == Spark's `HashPartitioning(url, n)` id by
  * construction, [[graft.lake.LakeTable.bucketOf]]) and url-sorted.
  *
  * This is the custom-operator fix (LogicalPlan → Strategy → SparkPlan):
  *
  *  - [[BucketTableScanExec]] — a leaf that reads each bucket's parquet
  *    files in the task OWNING that bucket, and (truthfully) declares
  *    `outputPartitioning = HashPartitioning(url, nBuckets)` and
  *    `outputOrdering = url ASC`. Because the declarations match the
  *    physical layout, EnsureRequirements inserts NO exchange and NO sort
  *    above it. Every bucket streams through the raw-mode
  *    [[graft.sql.GraftBucketReader]] — the same fold every SQL read and
  *    compaction uses — so its files (MOR delta history crossed into a COW
  *    apply, pruning carry-overs, several versions of a url in one file,
  *    files of older schema versions) come out LWW-folded and aligned to
  *    the table's logical schema: one winner row per url, tombstone
  *    winners kept, urls unique and sorted whatever the file count.
  *  - [[BucketMergeExec]] — a binary node requiring both sides hash-
  *    clustered by url into exactly nBuckets partitions
  *    (`StatefulOpClusteredDistribution`, which pins the EXACT
  *    partitioning function — a range-partitioned batch can NOT sneak
  *    through and misroute rows) and url-sorted. The table side satisfies
  *    both for free; the BATCH side gets one Exchange (O(batch) bytes,
  *    independent of table size) plus a spillable SortExec on
  *    `(url ASC, warc_ts DESC, _seq_offset DESC, _seq_part DESC)`, so the
  *    first batch row of each url run is its LWW winner. The merge itself
  *    is then a streaming sorted full-outer resolve with O(1) state — no
  *    per-bucket hash map, no memory ceiling, no admission bound: last-
  *    writer-wins by the `S3Offset` total order `(warc_ts, _seq_offset,
  *    _seq_part)`, ties kept on the table side (a tie is the same event
  *    replayed; keeping the stored row skips re-extraction and is
  *    byte-identical by determinism of the extractor).
  *
  * The reference's analog is its cursor→chunk-index dereference that
  * rewrites only affected chunks
  * (`/root/reference/sink/src/main/java/com/spredfast/kafka/connect/s3/S3Writer.java:47-109`).
  *
  * Scale: shuffle bytes per batch drop from O(touched table rows + batch)
  * to O(batch); per-task memory is one head row per file in the bucket
  * plus the sorter's own spillable pages. Output is url-sorted per bucket,
  * so the writer's `sortWithinPartitions(url)` above this plan is elided
  * as redundant.
  */
final case class BucketMergeLogical(
    batch: LogicalPlan, // aligned batch: table columns ++ `_xt = true`
    bucketFiles: Map[Int, Seq[(String, Long, Int)]], // bucket -> (absolute path, bytes, schemaVersion)
    nBuckets: Int,
    tableSchema: StructType) // logical schema of the table snapshot (no _xt)
  extends UnaryNode {
  override def child: LogicalPlan = batch
  /** Batch layout, with nullability WIDENED by the table schema: the merge
    * emits TABLE rows too (e.g. a stored tombstone's null html winning over
    * a stale batch whose html expression is non-null), so a column is
    * nullable when EITHER side can produce null — inheriting the batch's
    * non-null verbatim lets downstream projections skip null checks and NPE
    * on the first table-side null. */
  override def output: Seq[Attribute] =
    BucketMergeStrategy.widenNullability(batch.output, tableSchema)
  /** Every child column is load-bearing (the merge layout must equal the
    * table schema + _xt positionally) — declaring full references stops
    * ColumnPruning from dropping columns the plan ABOVE doesn't read
    * (it pruned a constant-null `content_len` through this node otherwise,
    * silently misaligning the two sides). */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(batch.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): BucketMergeLogical =
    copy(batch = newChild)
}

object BucketMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case bm: BucketMergeLogical =>
      val scanOutput: Seq[Attribute] =
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(bm.tableSchema)
      val scan = BucketTableScanExec(scanOutput, bm.bucketFiles, bm.nBuckets, bm.tableSchema)
      BucketMergeExec(scan, planLater(bm.batch), bm.nBuckets) :: Nil
    case _ => Nil
  }

  /** A column of the merged output is nullable when either side can emit
    * null there: batch nullability ∨ table-schema nullability (batch-only
    * columns, i.e. `_xt`, keep the batch's). Same exprIds — only the
    * nullability flag widens. */
  def widenNullability(batchOut: Seq[Attribute], tableSchema: StructType): Seq[Attribute] = {
    val tbl = tableSchema.fields.map(f => f.name -> f.nullable).toMap
    batchOut.map(a =>
      if (!a.nullable && tbl.getOrElse(a.name, false)) a.withNullability(true) else a)
  }

  /** Idempotently register the strategy on a session. */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(BucketMergeStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ BucketMergeStrategy

  /** Build the merged-winners DataFrame over a batch already aligned to
    * (table columns ++ _xt). */
  def mergedRows(spark: SparkSession, batchAligned: DataFrame,
      bucketFiles: Map[Int, Seq[(String, Long, Int)]], nBuckets: Int,
      tableSchema: StructType): DataFrame = {
    ensureRegistered(spark)
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      BucketMergeLogical(batchAligned.queryExecution.analyzed, bucketFiles, nBuckets, tableSchema))
  }
}

/** Reads the given parquet files with one task per BUCKET, emitting LWW-
  * folded rows (unique urls, url-sorted, tombstone winners kept) in the
  * table's logical schema. The partitioning declaration is the load-bearing
  * invariant: file bucket ids were assigned by `bucketOf(url) ==
  * HashPartitioning(url, n).partitionIdExpression`, so "partition i holds
  * exactly the rows whose url hashes to i" is TRUE and Catalyst may elide
  * the exchange; likewise files are written url-sorted, so the k-way fold
  * emits in url order and the ordering declaration is truthful. */
final case class BucketTableScanExec(
    output: Seq[Attribute],
    bucketFiles: Map[Int, Seq[(String, Long, Int)]],
    nBuckets: Int,
    tableSchema: StructType)
  extends LeafExecNode {

  private def urlAttr: Attribute = output.find(_.name == "url").getOrElse(
    throw new IllegalStateException("bucket table scan needs a url column"))

  override def outputPartitioning: Partitioning =
    HashPartitioning(Seq(urlAttr), nBuckets)

  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(urlAttr, Ascending))

  /** Partition i folds bucket i's files through a raw-mode
    * [[GraftBucketReader]]; a bucket with no files is empty. */
  override protected def doExecute(): RDD[InternalRow] = {
    val parts = Seq.tabulate(nBuckets)(b =>
      Seq(GraftBucketPartition(b, bucketFiles.getOrElse(b, Nil), raw = true)))
    val readers = GraftBucketReader.parquetReaders(SparkSession.active, tableSchema,
      bucketFiles.values.flatten.map(_._3).toSeq, filters = Nil)
    new DataSourceRDD(sparkContext, parts,
      new GraftBucketReaderFactory(readers, tableSchema, tableSchema),
      columnarReads = false, customMetrics = Map.empty)
  }
}

/** Per-bucket streaming sorted LWW merge of (table rows, batch rows) — see
  * file doc. Output layout == batch child layout (table columns ++ _xt);
  * output is url-sorted per partition (declared, so downstream local sorts
  * on url are removed). */
final case class BucketMergeExec(tableScan: SparkPlan, batch: SparkPlan, nBuckets: Int)
  extends BinaryExecNode {

  override def left: SparkPlan = tableScan
  override def right: SparkPlan = batch
  /** See [[BucketMergeLogical.output]]: table-side rows can carry nulls the
    * batch side's expressions never produce — widen per the scan's schema. */
  override def output: Seq[Attribute] = {
    val tbl = tableScan.output.map(a => a.name -> a.nullable).toMap
    batch.output.map(a =>
      if (!a.nullable && tbl.getOrElse(a.name, false)) a.withNullability(true) else a)
  }

  private def urlOf(p: SparkPlan): Attribute = p.output.find(_.name == "url").get
  private def battr(n: String): Attribute = batch.output.find(_.name == n).getOrElse(
    throw new IllegalStateException(s"bucket merge batch side needs a $n column"))

  /** StatefulOpClusteredDistribution pins the exact partitioning function:
    * only `HashPartitioning(url, nBuckets)` satisfies it, so a batch that
    * happens to be RANGE-partitioned on url into nBuckets partitions still
    * gets the exchange instead of silently misrouting rows to buckets that
    * do not match `bucketOf`. */
  override def requiredChildDistribution: Seq[Distribution] = Seq(
    StatefulOpClusteredDistribution(Seq(urlOf(tableScan)), nBuckets),
    StatefulOpClusteredDistribution(Seq(urlOf(batch)), nBuckets))

  /** Batch side sorted by url then seq DESC: the first row of each url run
    * is the batch-side LWW winner, and the sort is Spark's own spillable
    * SortExec — the merge needs no hash map and has no per-bucket memory
    * ceiling. The table side's requirement is satisfied by the scan's
    * declared ordering (no sort inserted). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(urlOf(tableScan), Ascending)),
    SortOrder(urlOf(batch), Ascending) +:
      Resolve.OrderCols.map(c => SortOrder(battr(c), Descending)))

  override def outputPartitioning: Partitioning =
    HashPartitioning(Seq(urlOf(batch)), nBuckets)

  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(urlOf(batch), Ascending))

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): BucketMergeExec =
    copy(tableScan = newLeft, batch = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val layout = output // url, ..., warc_ts, ..., _seq_part, _seq_offset, _deleted, _xt
    def idx(n: String): Int = layout.indexWhere(_.name == n)
    val urlIdx = idx("url")
    val tsIdx = idx("warc_ts")
    val offIdx = idx("_seq_offset")
    val partIdx = idx("_seq_part")
    // positional-layout invariant: batch == table columns ++ _xt. A mismatch
    // here would silently read misaligned columns — fail fast instead.
    val tShape = tableScan.output.map(a => (a.name, a.dataType))
    val bShape = batch.output.dropRight(1).map(a => (a.name, a.dataType))
    require(tShape == bShape,
      s"bucket merge layout mismatch: table=$tShape batch=$bShape")
    val lRdd = tableScan.execute()
    val rRdd = batch.execute()
    require(lRdd.getNumPartitions == nBuckets && rRdd.getNumPartitions == nBuckets,
      s"bucket merge needs $nBuckets==${lRdd.getNumPartitions}(table)==${rRdd.getNumPartitions}(batch)")

    lRdd.zipPartitions(rRdd) { (tableIt, batchIt) =>
      // Both inputs arrive url-sorted: table side has unique urls (k-way
      // folded), batch side has runs of equal url whose FIRST row is the
      // run's LWW winner (sorted url ASC, seq DESC). Streaming full-outer
      // resolve, O(1) state. All head advances are DEFERRED to the start of
      // the following call so an emitted row stays valid until the caller's
      // next next() (reader/sorter rows reuse buffers).
      new Iterator[InternalRow] {
        private val falseRow = new GenericInternalRow(Array[Any](false))
        private val joined = new JoinedRow
        private var tb: InternalRow = if (tableIt.hasNext) tableIt.next() else null
        private var bb: InternalRow = if (batchIt.hasNext) batchIt.next() else null
        private var tbConsumed = false
        private var skipUrl: UTF8String = null // emitted batch url — skip its run

        private def refresh(): Unit = {
          if (tbConsumed) {
            tb = if (tableIt.hasNext) tableIt.next() else null
            tbConsumed = false
          }
          if (skipUrl != null) {
            while (bb != null && bb.getUTF8String(urlIdx).compareTo(skipUrl) == 0)
              bb = if (batchIt.hasNext) batchIt.next() else null
            skipUrl = null
          }
        }

        override def hasNext: Boolean = {
          // refresh mutates head buffers — allowed: the previously returned
          // row's validity window ends at the caller's next next(), and
          // Spark's consumers process a row before polling hasNext again
          refresh()
          tb != null || bb != null
        }

        override def next(): InternalRow = {
          refresh()
          if (tb == null && bb == null) throw new NoSuchElementException
          if (bb == null) { tbConsumed = true; return joined(tb, falseRow) }
          if (tb == null) {
            skipUrl = bb.getUTF8String(urlIdx).clone()
            return bb
          }
          val cmp = tb.getUTF8String(urlIdx).compareTo(bb.getUTF8String(urlIdx))
          if (cmp < 0) { tbConsumed = true; joined(tb, falseRow) }
          else if (cmp > 0) {
            skipUrl = bb.getUTF8String(urlIdx).clone()
            bb
          } else {
            // same url: batch winner is bb; ties keep the stored row
            skipUrl = bb.getUTF8String(urlIdx).clone()
            tbConsumed = true
            if (Resolve.newerRow(bb, tb, tsIdx, offIdx, partIdx)) bb else joined(tb, falseRow)
          }
        }
      }
    }
  }
}
