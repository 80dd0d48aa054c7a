package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, HashPartitioning, Partitioning, StatefulOpClusteredDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.StructType

import graft.lake.LakeTable
import graft.sql.{GraftBucketPartition, GraftBucketReader}

/** Co-located COW merge: a batch's LWW winners folded into their buckets'
  * stored files by the table's own k-way fold, with no shuffle of table
  * rows. Table files are bucket-partitioned (bucket == Spark's
  * `HashPartitioning(url, n)` id by construction,
  * [[graft.lake.LakeTable.bucketOf]]) and url-sorted, and the batch's
  * winner pass already shuffles its rows to exactly that layout, so task i
  * holds bucket i's winners in url order.
  *
  * [[BucketMergeExec]] is a unary node over the winners. A task with batch
  * rows opens its bucket's stored files through the raw-mode
  * [[graft.sql.GraftBucketReader]] (tombstone winners kept, files of older
  * schema versions aligned, several versions of a url in one file folded)
  * with the batch rows as one more sorted input, listed after the stored
  * files: last-writer-wins by the `S3Offset` total order `(warc_ts,
  * _seq_offset, _seq_part)`, a tie keeps the stored row (a tie is the same
  * event replayed). A task with no batch rows emits nothing and opens no
  * file: its bucket is carried forward by the commit.
  *
  * The reference's analog is its cursor→chunk-index dereference that
  * rewrites only affected chunks
  * (`/root/reference/sink/src/main/java/com/spredfast/kafka/connect/s3/S3Writer.java:47-109`).
  *
  * Scale: shuffle bytes per batch are O(batch); per-task memory is one head
  * row per file in the bucket.
  */
final case class BucketMergeLogical(
    child: LogicalPlan, // batch winners in the table's logical layout
    bucketFiles: Map[Int, Seq[(String, Long, Int)]], // bucket -> (absolute path, bytes, schemaVersion)
    nBuckets: Int,
    tableSchema: StructType) // logical schema of the table snapshot
  extends UnaryNode {
  /** Winner layout, with nullability WIDENED by the table schema: the fold
    * emits TABLE rows too (e.g. a stored tombstone's null html winning over
    * a stale batch whose html expression is non-null), so a column is
    * nullable when EITHER side can produce null — inheriting the batch's
    * non-null verbatim lets downstream projections skip null checks and NPE
    * on the first table-side null. */
  override def output: Seq[Attribute] =
    BucketMergeStrategy.widenNullability(child.output, tableSchema)
  /** Every child column is load-bearing (the layout must equal the table
    * schema positionally) — declaring full references stops ColumnPruning
    * from dropping columns the plan ABOVE doesn't read. */
  override def references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): BucketMergeLogical =
    copy(child = newChild)
}

object BucketMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case bm: BucketMergeLogical =>
      BucketMergeExec(planLater(bm.child), bm.bucketFiles, bm.nBuckets, bm.tableSchema) :: Nil
    case _ => Nil
  }

  /** A column of the folded output is nullable when either side can emit
    * null there: batch nullability ∨ table-schema nullability. Same
    * exprIds — only the nullability flag widens. */
  def widenNullability(batchOut: Seq[Attribute], tableSchema: StructType): Seq[Attribute] = {
    val tbl = tableSchema.fields.map(f => f.name -> f.nullable).toMap
    batchOut.map(a =>
      if (!a.nullable && tbl.getOrElse(a.name, false)) a.withNullability(true) else a)
  }

  /** The winners folded into their buckets' stored files: `winners` in the
    * table's logical layout, hash-partitioned by url into `nBuckets` and
    * url-sorted within each partition (the winner pass's own layout).
    * Planned in the winners' own session — a streaming micro-batch's
    * clone — where their Observation waits for the query's end. */
  def mergedRows(winners: DataFrame,
      bucketFiles: Map[Int, Seq[(String, Long, Int)]], nBuckets: Int,
      tableSchema: StructType): DataFrame = {
    val spark = winners.sparkSession
    if (!spark.experimental.extraStrategies.contains(BucketMergeStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ BucketMergeStrategy
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      BucketMergeLogical(winners.queryExecution.analyzed, bucketFiles, nBuckets, tableSchema))
  }
}

/** The per-bucket fold of batch winners into stored files — see file doc.
  * Output layout == child layout; url-sorted per bucket partition
  * (declared, so the writer adds no sort). */
final case class BucketMergeExec(
    child: SparkPlan,
    bucketFiles: Map[Int, Seq[(String, Long, Int)]],
    nBuckets: Int,
    tableSchema: StructType)
  extends UnaryExecNode {

  override def output: Seq[Attribute] =
    BucketMergeStrategy.widenNullability(child.output, tableSchema)

  private def url: Attribute = child.output.find(_.name == "url").getOrElse(
    throw new IllegalStateException("bucket merge needs a url column"))

  /** StatefulOpClusteredDistribution pins the exact partitioning function:
    * only `HashPartitioning(url, nBuckets)` satisfies it, so a batch that
    * happens to be RANGE-partitioned on url into nBuckets partitions still
    * gets an exchange instead of silently misrouting rows to buckets that
    * do not match `bucketOf`. The winner pass meets it, so none is added. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(StatefulOpClusteredDistribution(Seq(url), nBuckets))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(SortOrder(url, Ascending)))

  override def outputPartitioning: Partitioning = HashPartitioning(Seq(url), nBuckets)

  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(url, Ascending))

  override protected def stringArgs: Iterator[Any] =
    Iterator(s"stored files: ${bucketFiles.values.map(_.size).sum} in ${bucketFiles.size} buckets")

  override protected def withNewChildInternal(newChild: SparkPlan): BucketMergeExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    // positional-layout invariant: batch rows are one more input of a fold
    // over the table schema — a mismatch would read misaligned columns
    val shape = child.output.map(a => (a.name, a.dataType))
    require(shape == tableSchema.fields.toSeq.map(f => (f.name, f.dataType)),
      s"bucket merge layout mismatch: table=$tableSchema batch=$shape")
    val readers = GraftBucketReader.parquetReaders(SparkSession.active, tableSchema,
      bucketFiles.values.flatten.map(_._3).toSeq, filters = Nil)
    val (files, n, schema) = (bucketFiles, nBuckets, tableSchema)
    val urlIdx = child.output.indexWhere(_.name == "url")
    val batch = child.execute()
    require(batch.getNumPartitions == n,
      s"bucket merge needs $n batch partitions, got ${batch.getNumPartitions}")
    batch.mapPartitionsWithIndex { (b, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        // the fold reads bucket b's files only: every batch row must hash
        // to b, or a stored version of its url would be missed
        val checked = rows.map { r =>
          val u = r.getUTF8String(urlIdx)
          val ub = LakeTable.bucketIdOf(u, n)
          if (ub != b) throw new IllegalStateException(
            s"batch url $u hashes to bucket $ub but arrived in partition $b")
          r
        }
        val reader = new GraftBucketReader(
          GraftBucketPartition(b, files.getOrElse(b, Nil), raw = true),
          readers, schema, schema, batch = Some(checked))
        Iterator.continually(reader.next()).takeWhile(identity).map(_ => reader.get())
      }
    }
  }
}
