package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._

import graft.cdc.{Merge, MergeMode}

/** Plans `MERGE INTO graft.<table> … ` onto the engine's Merge operator.
  *
  * Supported shape — the canonical CDC upsert (documented restriction):
  * {{{
  *   MERGE INTO graft.pages t USING <source> s
  *   ON t.url = s.url
  *   [WHEN MATCHED AND <delete-predicate> THEN DELETE]
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  * Source rows satisfying the delete predicate become tombstones; everything
  * else is a last-writer-wins upsert ordered by `(warc_ts, offset,
  * partition)` (source columns `partition`/`offset` are used when present,
  * else 0 — duplicate urls within one merge then tie-break arbitrarily on
  * equal warc_ts, as documented). Each MERGE commits as one exactly-once
  * batch with an empty lineage (SQL merges carry no binlog offsets); ids are
  * allocated in the reserved SQL domain ([[GraftRowLevel.SqlBatchIdBit]]) so
  * they can never collide with a stream's checkpoint-epoch ids.
  *
  * Registered on a session by [[GraftSql.enable]] (idempotent).
  */
object GraftSqlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: MergeIntoTable =>
      graftTarget(m.targetTable) match {
        case Some(t) =>
          GraftMergeExec(t, m.sourceTable, validateShape(m, t)) :: Nil
        case None => Nil
      }
    // DELETE FROM graft.<t> WHERE … — planned as a tombstone MERGE batch:
    // matched live rows become delete events whose envelope is the stored
    // row's bumped by one offset, so the tombstone strictly wins the LWW
    // order against the row it deletes while any LATER CDC event (greater
    // warc_ts) still beats the tombstone — SQL deletes and the change
    // stream compose under one conflict rule.
    case d: DeleteFromTable =>
      graftTarget(d.table) match {
        case Some(t) =>
          rejectSubquery(d.condition, "DELETE")
          GraftDeleteExec(t, d.condition) :: Nil
        case None => Nil
      }
    // UPDATE graft.<t> SET … WHERE … — an upsert MERGE batch from the
    // matched rows with the assigned columns replaced (same bumped-envelope
    // rule). Assignable columns are the CHANGELOG-carried ones (warc_ts,
    // html, lang): url is the merge key, text/content_len are derived from
    // html by the merge itself.
    case u: UpdateTable =>
      graftTarget(u.table) match {
        case Some(t) =>
          u.condition.foreach(rejectSubquery(_, "UPDATE"))
          // assignment VALUES too: a subquery in `SET col = (SELECT …)`
          // would otherwise slip past the guard and fail unresolvably deep
          // inside the merge (byName re-anchors only top-level attributes)
          u.assignments.foreach(a =>
            rejectSubquery(a.value, "UPDATE", "assignment values"))
          GraftUpdateExec(t, u.assignments, u.condition) :: Nil
        case None => Nil
      }
    case _ => Nil
  }

  /** Find the graft table under a (possibly pushed-down) target plan:
    * before optimization a DataSourceV2Relation; after, a ScanRelation. */
  private def graftTarget(plan: LogicalPlan): Option[GraftSqlTable] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
        r.table.asInstanceOf[GraftSqlTable]
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if s.relation.table.isInstanceOf[GraftSqlTable] =>
        s.relation.table.asInstanceOf[GraftSqlTable]
    }

  private def rejectSubquery(e: Expression, what: String,
      position: String = "the WHERE clause"): Unit =
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" ->
          s"graft $what: subqueries in $position are not supported"))

  /** The engine executes exactly ONE merge semantics — the canonical CDC
    * upsert in the object doc. Anything else (no NOT MATCHED clause,
    * partial UPDATE SET, conditions on UPDATE/INSERT, UPDATE before the
    * DELETE, NOT MATCHED BY SOURCE) would silently run AS that semantics
    * and return wrong results — reject it at planning instead. Returns the
    * optional delete condition. */
  private def validateShape(m: MergeIntoTable, t: GraftSqlTable): Option[Expression] = {
    def fail(what: String): Nothing = throw new AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" ->
        (s"graft MERGE: $what. Supported shape: MERGE INTO graft.<t> t USING <src> s ON t.url = s.url " +
          "[WHEN MATCHED AND <cond> THEN DELETE] WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")))

    def rootAttr(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: Cast => rootAttr(c.child)
      case a: Alias => rootAttr(a.child)
      // alignment wraps a nullable source column assigned to a non-null
      // target key (url) — still the plain `k = s.k` star shape
      case n: org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull => rootAttr(n.child)
      case k: org.apache.spark.sql.catalyst.expressions.KnownNotNull => rootAttr(k.child)
      case _ => None
    }
    def rootName(e: Expression): Option[String] = rootAttr(e).map(_.name.toLowerCase)
    val sourceOut = m.sourceTable.outputSet

    // the engine's merge key IS url — any other ON clause would be ignored
    m.mergeCondition match {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r)
        if rootName(l).contains("url") && rootName(r).contains("url") &&
          (rootAttr(l) ++ rootAttr(r)).count(sourceOut.contains) == 1 => ()
      case other => fail(s"ON must be t.url = s.url (got ${other.sql})")
    }

    // every target user column assigned from the same-named source column
    // (what SET * / INSERT * resolve to, modulo alignment casts)
    def requireStar(assignments: Seq[Assignment], clause: String): Unit = {
      val assigned = assignments.flatMap { a =>
        (rootName(a.key), rootAttr(a.value)) match {
          // the value must be the SAME-NAMED column of the SOURCE plan —
          // an analyzer-autofilled `t.col = t.col` carry-over (a partial
          // SET in disguise) has the right name but the target's exprId
          case (Some(k), Some(v)) if k == v.name.toLowerCase && sourceOut.contains(v) => Some(k)
          case (Some(k), _) => fail(s"$clause assigns `$k` from an expression; only `$k = s.$k` (the SET */INSERT * shape) is supported")
          case _ => fail(s"$clause has an unresolvable assignment ${a.sql}")
        }
      }.toSet
      // completeness against the TARGET TABLE's schema version — SET * on a
      // v1 (pre-evolution) table resolves to its 5 columns, which IS the
      // star shape for that table; checking the compile-time-current schema
      // would reject every canonical MERGE into a not-yet-ALTERed table
      val targetCols = GraftSqlTable.userSchemaFor(t.lake.currentSnapshot.schemaVersion)
        .fieldNames.map(_.toLowerCase).toSet
      val missing = targetCols -- assigned
      if (missing.nonEmpty)
        fail(s"$clause is partial — missing ${missing.toSeq.sorted.mkString(", ")}; only SET */INSERT * is supported")
    }

    if (m.notMatchedBySourceActions.nonEmpty)
      fail("WHEN NOT MATCHED BY SOURCE is not supported")

    val deleteCond = m.matchedActions match {
      case Seq(UpdateAction(None, as, _)) =>
        requireStar(as, "WHEN MATCHED UPDATE"); None
      case Seq(DeleteAction(Some(c)), UpdateAction(None, as, _)) =>
        requireStar(as, "WHEN MATCHED UPDATE"); Some(c)
      case Seq(DeleteAction(None)) =>
        fail("unconditional WHEN MATCHED THEN DELETE is not supported (the engine is an LWW upsert; use a conditional DELETE)")
      case Seq(UpdateAction(Some(_), _, _), _*) | Seq(_, UpdateAction(Some(_), _, _), _*) =>
        fail("conditional WHEN MATCHED UPDATE is not supported")
      case other =>
        fail(s"unsupported WHEN MATCHED actions: ${other.map(_.getClass.getSimpleName).mkString(", ")} (expect [conditional DELETE,] unconditional UPDATE SET *)")
    }
    m.notMatchedActions match {
      case Seq(InsertAction(None, as)) => requireStar(as, "WHEN NOT MATCHED INSERT")
      case Seq(InsertAction(Some(_), _)) => fail("conditional WHEN NOT MATCHED INSERT is not supported")
      case other =>
        fail(s"exactly one unconditional WHEN NOT MATCHED THEN INSERT * is required (got ${other.size} actions)")
    }
    deleteCond
  }
}

/** Executes the merge eagerly (MergeIntoTable is a Command, so Spark runs
  * this plan at `spark.sql(...)` time). */
final case class GraftMergeExec(
    @transient table: GraftSqlTable,
    @transient source: LogicalPlan,
    @transient deleteCond: Option[Expression])
  extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val src = org.apache.spark.sql.GraftBridge.ofRows(spark, source)
    val cols = src.columns.toSet
    val delete = deleteCond
      .map(e => org.apache.spark.sql.GraftBridge.column(e))
      .getOrElse(lit(false))
    val changelog = src.select(
      (if (cols.contains("partition")) col("partition") else lit(0)).cast("int").as("partition"),
      (if (cols.contains("offset")) col("offset") else lit(0L)).cast("long").as("offset"),
      when(delete, "delete").otherwise("upsert").as("op"),
      col("url"),
      col("warc_ts").cast("timestamp").as("warc_ts"),
      (if (cols.contains("html")) col("html") else lit(null)).cast("binary").as("html"),
      (if (cols.contains("lang")) col("lang") else lit(null)).cast("string").as("lang"))
    val lake = table.writeLake
    val batchId = GraftRowLevel.nextSqlBatchId(lake)
    Merge(spark, lake, changelog, batchId, lineage = Nil, mode = GraftSql.mergeModeFor(spark)): Unit
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }

  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD
  }
}

/** Shared machinery for the row-level SQL commands (DELETE/UPDATE). */
private[sql] object GraftRowLevel {

  /** Re-anchor an analyzed condition onto a fresh DataFrame: attribute
    * references carry the ORIGINAL relation's exprIds, which cannot resolve
    * against the re-read table — rewrite them to name-based lookups and let
    * analysis re-resolve (user columns only; conditions never see internal
    * columns). */
  def byName(e: Expression): Column =
    org.apache.spark.sql.GraftBridge.column(e.transform {
      case a: Attribute =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    })

  /** The table's LWW-resolved rows WITH internal envelope columns
    * (`_seq_part`, `_seq_offset`, `_deleted`), in the current snapshot's
    * logical schema: the co-located raw scan. */
  def resolvedWithEnvelope(spark: SparkSession, lake: graft.lake.LakeTable): DataFrame =
    GraftRead.rawResolved(spark, lake, Some(lake.currentSnapshotId))

  /** RESERVED batch-id domain for SQL-committed batches. Batch ids are the
    * table's exactly-once replay key (`Snapshot.committedBatchIds`), and the
    * two streaming writers allocate theirs from Spark's per-checkpoint epoch
    * counter (0, 1, 2, …). A SQL command that allocated `max(existing) + 1`
    * would claim EXACTLY the id an ingest stream's next epoch will use — the
    * stream would then treat its own next batch as an already-durable replay
    * and silently drop it (data loss in mixed SQL + streaming usage). Same
    * discipline as [[SqlEnvelopeOffsetBit]]: SQL ids live above bit 62,
    * epoch-derived ids never reach it. */
  val SqlBatchIdBit: Long = 1L << 62

  /** Next batch id in the reserved SQL domain: max over previously committed
    * SQL batches + 1 (still monotonic for chained SQL commands), disjoint
    * from every possible streaming epoch. */
  def nextSqlBatchId(lake: graft.lake.LakeTable): Long =
    lake.currentSnapshot.batches.map(_.batchId)
      .filter(id => (id & SqlBatchIdBit) != 0L)
      .maxOption.getOrElse(SqlBatchIdBit - 1L) + 1L

  /** RESERVED envelope domain for SQL-synthesized events: row-level commands
    * re-emit the stored winner's envelope advanced by one offset, and setting
    * this high offset bit keeps the synthesized envelope OUTSIDE the space
    * binlog readers (file byte offsets) and streaming epochs (`epochId<<32`,
    * [[graft.lake.LakeSink]]) can ever assign — without it, a future CDC
    * event for the same url could legitimately arrive at the exact bumped
    * (partition, offset) with an EQUAL warc_ts, an exact total-order tie
    * whose max_by winner is arbitrary. Deterministic consequence (documented
    * rule): at an EQUAL warc_ts a SQL row-level command beats any binlog
    * event; a strictly later warc_ts still beats the command — the one LWW
    * rule is unchanged. Chaining stays monotonic: a second command over a
    * first's output keeps the bit and advances the offset. */
  val SqlEnvelopeOffsetBit: Long = 1L << 62

  /** The synthesized offset: stored `_seq_offset` + 1, lifted into the
    * reserved domain. */
  def syntheticOffset: Column =
    (col("_seq_offset") + lit(1L)).bitwiseOR(lit(SqlEnvelopeOffsetBit)).cast("long")

  /** Commit a changelog derived from the matched rows as one exactly-once
    * merge batch (the GraftMergeExec tail). */
  def commitChangelog(spark: SparkSession, lake: graft.lake.LakeTable,
      changelog: DataFrame): Unit = {
    val batchId = GraftRowLevel.nextSqlBatchId(lake)
    Merge(spark, lake, changelog, batchId, lineage = Nil, mode = GraftSql.mergeModeFor(spark)): Unit
  }
}

/** `DELETE FROM graft.<t> WHERE <cond>`: matched live rows → tombstone
  * events at the stored envelope bumped by one offset (strictly later in
  * the `(warc_ts, offset, partition)` order than the row deleted; earlier
  * than any later-timestamped CDC event — T7's durable-tombstone rule
  * applies unchanged). The table read pins one snapshot for both the
  * stats pass and the merge, and the commit is marker-gated exactly-once
  * like every other merge batch. */
final case class GraftDeleteExec(
    @transient table: GraftSqlTable,
    @transient cond: Expression)
  extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val lake = table.writeLake
    val rows = GraftRowLevel.resolvedWithEnvelope(spark, lake)
    val matched = rows.filter(!col("_deleted")).filter(GraftRowLevel.byName(cond))
    val hasLang = matched.columns.contains("lang")
    val changelog = matched.select(
      col("_seq_part").cast("int").as("partition"),
      GraftRowLevel.syntheticOffset.as("offset"),
      lit("delete").as("op"),
      col("url"),
      col("warc_ts").cast("timestamp").as("warc_ts"),
      lit(null).cast("binary").as("html"),
      (if (hasLang) col("lang") else lit(null)).cast("string").as("lang"))
    GraftRowLevel.commitChangelog(spark, lake, changelog)
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = { done; sparkContext.emptyRDD }
}

/** `UPDATE graft.<t> SET … WHERE <cond>`: matched live rows → upsert events
  * with the assigned columns replaced, at the stored envelope bumped by one
  * offset. Assignable columns: `warc_ts`, `html`, `lang` (the changelog-
  * carried ones) — `url` is the merge key and `text`/`content_len` are
  * DERIVED from html by the merge (assigning them is rejected, not silently
  * recomputed over). Assigning warc_ts BACKWARD makes the update lose LWW
  * to the stored row (documented: the engine is last-writer-wins). */
final case class GraftUpdateExec(
    @transient table: GraftSqlTable,
    @transient assignments: Seq[Assignment],
    @transient cond: Option[Expression])
  extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private def fail(what: String): Nothing = throw new AnalysisException(
    errorClass = "USER_RAISED_EXCEPTION",
    messageParameters = Map("errorMessage" ->
      (s"graft UPDATE: $what. Assignable columns: warc_ts, html, lang " +
        "(url is the merge key; text/content_len are derived from html)")))

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val lake = table.writeLake
    // assignment map by target-column name; identity carry-overs the
    // analyzer may add (t.col = t.col) are "unchanged", not overrides
    val overrides: Map[String, Column] = assignments.flatMap { a =>
      val key = a.key match {
        case at: Attribute => at.name.toLowerCase
        case other => fail(s"cannot resolve assignment target ${other.sql}")
      }
      val identity = a.value match {
        case at: Attribute => at.name.equalsIgnoreCase(key)
        case _ => false
      }
      if (identity) None
      else key match {
        case "warc_ts" | "html" | "lang" => Some(key -> GraftRowLevel.byName(a.value))
        case "url" => fail("url (the merge key) cannot be assigned")
        case "text" | "content_len" => fail(s"$key is derived from html and cannot be assigned")
        case other => fail(s"column `$other` is not changelog-carried and cannot be assigned")
      }
    }.toMap
    val rows = GraftRowLevel.resolvedWithEnvelope(spark, lake)
    val live = rows.filter(!col("_deleted"))
    val matched = cond.map(c => live.filter(GraftRowLevel.byName(c))).getOrElse(live)
    def valueOf(name: String, default: Column): Column = overrides.getOrElse(name, default)
    val hasLang = matched.columns.contains("lang")
    val changelog = matched.select(
      col("_seq_part").cast("int").as("partition"),
      GraftRowLevel.syntheticOffset.as("offset"),
      lit("upsert").as("op"),
      col("url"),
      valueOf("warc_ts", col("warc_ts")).cast("timestamp").as("warc_ts"),
      valueOf("html", col("html")).cast("binary").as("html"),
      valueOf("lang", if (hasLang) col("lang") else lit(null)).cast("string").as("lang"))
    GraftRowLevel.commitChangelog(spark, lake, changelog)
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = { done; sparkContext.emptyRDD }
}

/** Runtime enablement: everything here is registerable on an EXISTING
  * session (no extensions required) — catalog conf + planner strategies. */
object GraftSql {
  /** Session conf key selecting the merge mode of SQL MERGE/INSERT/DELETE/
    * UPDATE (`cow` | `mor`), resolved per statement ([[mergeModeFor]]), so
    * concurrent sessions in one JVM each pin their own mode. */
  val MergeModeConf = "spark.graft.sql.mergeMode"

  /** Session conf binding the WHOLE SQL surface to a staging branch —
    * Iceberg's `spark.wap.branch` role for write-audit-publish: while set,
    * every `graft.t` resolution (reads AND MERGE/INSERT/DELETE/UPDATE/
    * TRUNCATE) binds to `t`'s branch of that name, so an audit session
    * stages its whole body of work invisibly and validates it with the
    * same statements production runs, then unsets the conf and
    * `CALL graft.system.publish_branch`. The branch must EXIST
    * ([[GraftProcedures]] `create_branch`) — a typo'd name failing loudly
    * beats silently writing the audit to main. Explicit time travel
    * (`VERSION/TIMESTAMP AS OF`) and the metadata/feed tables
    * (`$snapshots`, `$changes`, …) stay MAIN-bound: branches are invisible
    * to the change feed by design, and `VERSION AS OF '<branch>'` is
    * already the explicit branch read. */
  val WapBranchConf = "spark.graft.sql.wapBranch"

  /** The staging branch THIS session's SQL surface is bound to, if any. */
  def wapBranchFor(spark: SparkSession): Option[String] =
    spark.conf.getOption(WapBranchConf).map(_.trim).filter(_.nonEmpty)

  /** The merge mode for THIS session: the conf when set, else COW (SQL
    * merges are interactive, read-optimized). */
  def mergeModeFor(spark: SparkSession): MergeMode =
    spark.conf.getOption(MergeModeConf).map(_.trim.toLowerCase) match {
      case Some("mor") => graft.cdc.Mor
      case Some("cow") => graft.cdc.Cow
      case Some(other) => throw new IllegalArgumentException(
        s"$MergeModeConf must be cow|mor, got '$other'")
      case None => graft.cdc.Cow
    }

  def enable(spark: SparkSession, warehouse: String): Unit = {
    // catalog instances are cached per session by CatalogManager — if the
    // warehouse changes, drop the cache so the new location takes effect
    val changed = spark.conf.getOption("spark.sql.catalog.graft.warehouse")
      .exists(_ != warehouse)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    if (changed) org.apache.spark.sql.GraftBridge.resetCatalogs(spark)
    if (!spark.experimental.extraStrategies.contains(GraftSqlStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftSqlStrategy
  }
}
