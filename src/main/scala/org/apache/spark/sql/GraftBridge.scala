package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversion for
  * graft's native Catalyst expressions (Spark 4 moved `Column` onto
  * ColumnNode; classic conversions live in `classic.ExpressionUtils`), and
  * into `Dataset.ofRows` for wrapping graft's custom logical plans. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** A batch read of a DSv2 `table`, without options. */
  def readTable(spark: SparkSession, table: connector.catalog.Table): DataFrame =
    ofRows(spark, execution.datasources.v2.DataSourceV2Relation.create(
      table, None, None, util.CaseInsensitiveStringMap.empty()))
  /** Drop cached catalog instances so a changed `spark.sql.catalog.*` conf
    * (e.g. a new graft warehouse) takes effect on next reference. */
  def resetCatalogs(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager.reset()

  /** Eagerly materialize `df` as a locally-checkpointed DataFrame that
    * DECLARES `HashPartitioning(keyCols, numPartitions)`. `Dataset
    * .localCheckpoint` copies the physical plan's `outputPartitioning` into
    * the LogicalRDD, but under AQE the plan is an AdaptiveSparkPlanExec
    * which reports UnknownPartitioning at checkpoint-creation time — the
    * declaration is lost and every downstream co-partitioned join re-
    * shuffles the checkpointed side. Callers must only pass a partitioning
    * that is TRUE of the plan (e.g. directly above `repartition(n, key)`,
    * which AQE never coalesces). */
  def localCheckpointHashPartitioned(df: DataFrame, keyCols: Seq[String],
      numPartitions: Int): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val rdd = qe.toRdd.map(_.copy()) // UnsafeRows are reused per partition — copy before persisting
    rdd.localCheckpoint()
    rdd.count(): Unit // eager: checkpoint now, downstream jobs read blocks
    val output = qe.analyzed.output
    val keys = keyCols.map(k => output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"localCheckpointHashPartitioned: no column `$k`")))
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(keys, numPartitions)
    classic.Dataset.ofRows(session, org.apache.spark.sql.execution.LogicalRDD(
      output, rdd, part, Nil, isStreaming = false)(session))
  }

  /** Block until the async listener bus has delivered all queued events (or
    * the timeout passes) — deterministic metric collection for specs/benches
    * that read `SparkListener` task metrics after an action (a fixed sleep
    * can under- or over-wait on a loaded host). */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMs: Long = 30000L): Unit =
    spark.asInstanceOf[classic.SparkSession].sparkContext.listenerBus
      .waitUntilEmpty(timeoutMs)
}
