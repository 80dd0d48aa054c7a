package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, LshIndex, Multimodal, Similarity, TextOps}

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 inventory + the training-data pipeline ops), with
  * column-identical DuckDB oracle SQL in `oracleSql` where the operator is
  * SQL-expressible. Timestamps are surfaced as epoch micros (BIGINT) and
  * fractional aggregates as decimal-summed doubles so Spark and DuckDB
  * results hash identically.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Testdata parquet timestamps read as TIMESTAMP_NTZ under Spark 4; with a
    * UTC session the instant cast is the identity wall-clock mapping, and
    * matches DuckDB's naive `epoch_us`. */
  private def usOf(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("cdc_merge_final_state")(spark, "/root/testdata/sf0.001")

  // ---- CDC engine E2E: events → changelog → dedup → MERGE → final state --
  /** Runs the REAL pipeline (Dedup + Merge + LakeTable) over a changelog
    * derived from the events table, split into 3 microbatches to exercise
    * cross-batch LWW + tombstones, then reads the final table back. */
  /** The canonical events→changelog mapping shared by the merge queries. */
  private def eventsChangelog(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      pmod(col("user_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"),
      when(col("event_type") === "error", "delete").otherwise("upsert").as("op"),
      concat(lit("u"), col("user_id").cast("string")).as("url"),
      col("ts").as("warc_ts"),
      when(col("event_type") === "error", lit(null).cast("binary"))
        .otherwise(to_binary(col("props"), lit("utf-8"))).as("html"),
      lit("en").as("lang"))

  /** A 3-batch MOR ingest of the events changelog into a fresh table —
    * the change-feed queries' shared source (each snapshot's delta files
    * are exactly that batch's post-dedup winners). */
  private def morEventsTable(s: SparkSession, dir: String): java.nio.file.Path = {
    // one derivation scan for all three batch slices (the slices re-read it)
    val changelog = eventsChangelog(s, dir).persist()
    val aRoot = Files.createTempDirectory("graft-q-feed-a")
    val a = graft.lake.LakeTable.create(aRoot, nBuckets = 8)
    try {
      val bounds = t(s, dir, "events").agg(min("event_id"), max("event_id")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val step = math.max(1L, (hi - lo + 1) / 3 + 1)
      var (b, from) = (0L, lo)
      while (from <= hi) {
        graft.cdc.Ingest.applyBatch(s, a, mode = graft.cdc.Mor)(
          changelog.filter(col("offset") >= from && col("offset") < from + step), b)
        b += 1; from += step
      }
    } finally changelog.unpersist()
    aRoot
  }

  private def cdcMergeFinalState(s: SparkSession, dir: String,
      mode: graft.cdc.MergeMode = graft.cdc.Cow,
      opts: graft.cdc.MergeOptions = graft.cdc.MergeOptions()): DataFrame = {
    val ev = t(s, dir, "events")
    val changelog = eventsChangelog(s, dir)
    val root = Files.createTempDirectory("graft-q-lake")
    val table = graft.lake.LakeTable.create(root, nBuckets = 8)
    // one derivation scan for all three batch slices (the slices re-read it)
    val cached = changelog.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bounds = ev.agg(min("event_id"), max("event_id")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val step = math.max(1L, (hi - lo + 1) / 3 + 1)
      var b = 0L
      var from = lo
      while (from <= hi) {
        val until = from + step
        graft.cdc.Ingest.applyBatch(s, table, mode = mode, opts = opts)(
          cached.filter(col("offset") >= from && col("offset") < until), b)
        b += 1
        from = until
      }
    } finally cached.unpersist()
    table.read(s).select(
      col("url"),
      unix_micros(col("warc_ts")).as("warc_us"),
      col("text"),
      col("content_len"))
  }

  // ------------------------------- queries --------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "cdc_merge_final_state" -> ((s, dir) => cdcMergeFinalState(s, dir)),

    // same end-to-end pipeline under MERGE-ON-READ (delta files +
    // resolve-on-read + incremental compaction) — identical oracle
    "cdc_merge_final_state_mor" -> ((s, dir) => cdcMergeFinalState(s, dir, graft.cdc.Mor)),

    // same pipeline with LATE-MATERIALIZED dedup (meta-only shuffle +
    // broadcast-admitted winner payload fetch) — identical oracle proves
    // the mode changes shuffle bytes, never results; the mode rides a
    // per-call MergeOptions, not the process-global toggle
    "cdc_merge_latemat" -> ((s, dir) => cdcMergeFinalState(s, dir,
      opts = graft.cdc.MergeOptions(lateMaterialize = true))),

    // INITIAL-SNAPSHOT BOOTSTRAP → full-overlap handoff: the prefix's LWW
    // live state loads as the reserved (−1,−1)-envelope batch, then the FULL
    // changelog replays over it — the identical oracle to a from-scratch
    // replay PROVES the handoff convergence contract (every dump row's
    // source event is present and strictly beats its snapshot copy)
    "cdc_bootstrap_handoff" -> ((s, dir) => {
      val changelog = eventsChangelog(s, dir)
      val bounds = t(s, dir, "events").agg(min("event_id"), max("event_id")).head()
      val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val pre = changelog.filter(col("offset") < cut)
      val seq = struct(col("warc_ts"), col("offset"), col("partition"))
      val dump = pre.groupBy(col("url"))
        .agg(max_by(struct(col("warc_ts"), col("html"), col("lang"), col("op")), seq).as("w"))
        .filter(col("w.op") =!= "delete")
        .select(col("url"), col("w.warc_ts").as("warc_ts"),
          col("w.html").as("html"), col("w.lang").as("lang"))
      val root = Files.createTempDirectory("graft-q-bootstrap")
      val table = graft.cdc.Ingest.bootstrap(s, root, dump, nBuckets = 8)
      graft.cdc.Ingest.applyBatch(s, table)(changelog.filter(col("offset") < cut), 0L)
      graft.cdc.Ingest.applyBatch(s, table)(changelog.filter(col("offset") >= cut), 1L)
      table.read(s).select(
        col("url"),
        unix_micros(col("warc_ts")).as("warc_us"),
        col("text"),
        col("content_len"))
    }),

    // WRITE-AUDIT-PUBLISH: main ingests the changelog prefix, a staging
    // BRANCH ingests the tail (batch ids in the salted branch domain —
    // raw audit epochs would collide with main's own after publish), and
    // publishBranch squashes the audit onto main as ONE commit carrying
    // the branch head's files AND markers. The plain-replay oracle proves
    // the staged half lands losslessly (tombstones and ties included)
    "cdc_branch_wap" -> ((s, dir) => {
      val changelog = eventsChangelog(s, dir)
      val bounds = t(s, dir, "events").agg(min("event_id"), max("event_id")).head()
      val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val root = Files.createTempDirectory("graft-q-wap")
      val main = graft.lake.LakeTable.create(root, nBuckets = 8)
      graft.cdc.Ingest.applyBatch(s, main)(changelog.filter(col("offset") < cut), 0L)
      val branch = main.createBranch("audit")
      graft.cdc.Ingest.applyBatch(s, branch)(changelog.filter(col("offset") >= cut),
        graft.cdc.Ingest.branchBatchId("q-wap-audit", 0L))
      main.publishBranch("audit")
      main.read(s).select(
        col("url"),
        unix_micros(col("warc_ts")).as("warc_us"),
        col("text"),
        col("content_len"))
    }),

    // WAP × CONCURRENT MAINTENANCE: same split as cdc_branch_wap, but main
    // COMPACTS while the audit is staged — maintenance-only movement of
    // main (same markers/schema/layout, files rearranged) must not
    // conflict the publish, and the squash supersedes the compacted files
    // losslessly. The oracle is the plain-replay final state again.
    "cdc_wap_maint_publish" -> ((s, dir) => {
      val changelog = eventsChangelog(s, dir)
      val bounds = t(s, dir, "events").agg(min("event_id"), max("event_id")).head()
      val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val root = Files.createTempDirectory("graft-q-wapm")
      val main = graft.lake.LakeTable.create(root, nBuckets = 8)
      graft.cdc.Ingest.applyBatch(s, main)(changelog.filter(col("offset") < cut), 0L)
      val branch = main.createBranch("audit")
      graft.cdc.Ingest.applyBatch(s, branch)(changelog.filter(col("offset") >= cut),
        graft.cdc.Ingest.branchBatchId("q-wapm-audit", 0L))
      graft.lake.Maintain.compact(s, main) // maintenance moves main past the fork
      main.publishBranch("audit")
      main.read(s).select(
        col("url"),
        unix_micros(col("warc_ts")).as("warc_us"),
        col("text"),
        col("content_len"))
    }),

    // WAP SQL SESSION BINDING: the cdc_sql_merge statement body runs
    // UNCHANGED while `spark.graft.sql.wapBranch` binds the session to a
    // staging branch — the MERGE lands on the branch, main stays empty
    // until `CALL graft.system.publish_branch` squashes it. Oracle equals
    // cdc_sql_merge's: staging + publish must be invisible to the result.
    "cdc_wap_sql" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wapwh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_wap_src")
      s.sql("DROP TABLE IF EXISTS graft.wappages")
      s.sql("""CREATE TABLE graft.wappages (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      s.sql("CALL graft.system.create_branch('wappages', 'audit')").collect()
      s.conf.set(graft.sql.GraftSql.WapBranchConf, "audit")
      try {
        s.sql("""MERGE INTO graft.wappages t USING (
                |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
                |    CAST(ts AS TIMESTAMP) AS warc_ts,
                |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
                |         ELSE to_binary(props, 'utf-8') END AS html,
                |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                |    'en' AS lang,
                |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
                |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
                |  FROM graft_ev_wap_src) s
                |ON t.url = s.url
                |WHEN MATCHED AND s.op = 'delete' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      } finally s.conf.unset(graft.sql.GraftSql.WapBranchConf)
      s.sql("CALL graft.system.publish_branch('wappages', 'audit')").collect()
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len
              |FROM graft.wappages""".stripMargin)
    }),

    // CHAINED CDC PIPELINES: table A ingests the changelog, then table B
    // tails A's change feed via the `graft-feed` streaming source (offsets
    // = A's snapshot ids; batch 0 = A's full state, increments follow) and
    // applies it through the same exactly-once merge. The oracle equals
    // cdc_merge_final_state's — the mirror hop must be lossless, tombstones
    // and ties included, with text re-derived bit-for-bit at the second hop
    "cdc_changefeed_mirror" -> ((s, dir) => {
      val aRoot = morEventsTable(s, dir)
      val bRoot = Files.createTempDirectory("graft-q-feed-b")
      graft.cdc.Mirror.startMirror(s, aRoot, bRoot, Files.createTempDirectory("graft-q-feed-ck").toString)
        .awaitTermination()
      graft.lake.LakeTable.load(bRoot).read(s).select(
        col("url"),
        unix_micros(col("warc_ts")).as("warc_us"),
        col("text"),
        col("content_len"))
    }),

    // SELECTIVE MIRROR: same hop, restricted to a url predicate — the
    // destination converges to the source state filtered by pred(url)
    // (tombstones included; the predicate is validated stable-key-only)
    "cdc_mirror_filtered" -> ((s, dir) => {
      val aRoot = morEventsTable(s, dir)
      val bRoot = Files.createTempDirectory("graft-q-feed-fb")
      graft.cdc.Mirror.startMirror(s, aRoot, bRoot,
          Files.createTempDirectory("graft-q-feed-fck").toString,
          where = Some("url LIKE 'u1%'"))
        .awaitTermination()
      graft.lake.LakeTable.load(bRoot).read(s).select(
        col("url"),
        unix_micros(col("warc_ts")).as("warc_us"),
        col("text"),
        col("content_len"))
    }),

    // BATCH CHANGE READ (the Delta `table_changes` shape): one DataFrame of
    // every retained snapshot's winner rows WITH their envelopes +
    // `_feed_snapshot`, no checkpoint. LWW-resolving the emitted changes
    // client-side (the engine's own Resolve.lww total order) reproduces the
    // table's final state exactly — the oracle equals
    // cdc_merge_final_state's, proving the batch feed loses nothing
    // (tombstones, ties, multi-batch rewrites included)
    "cdc_table_changes" -> ((s, dir) => {
      val aRoot = morEventsTable(s, dir)
      val changes = s.read.format("graft-feed")
        .option("path", aRoot.toString).load() // fromSnapshot defaults to genesis
      graft.lake.Resolve.lww(changes,
          changes.columns.toSeq.filterNot(_.startsWith("_")))
        .filter(!col("_deleted"))
        .select(
          col("url"),
          unix_micros(col("warc_ts")).as("warc_us"),
          col("text"),
          col("content_len"))
    }),

    // EVENT-TIME PRUNED READ: a lower-bound warc_ts predicate on the
    // LWW-resolved read pushes into the scan — manifest [tsMin,tsMax] file
    // prune + parquet row-group skip (TimeFilterSpec plan-asserts both the
    // pruning and why ONLY a lower bound is sound under winner resolution).
    // Result must equal filter-above-full-read: the plain LWW oracle
    // restricted to warc_us >= cut, with the cut (midpoint of the FINAL
    // STATE's warc_ts range — winners cluster at the tail of the raw events
    // range, so an events-range cut would exclude nothing) derived
    // identically on both sides.
    "cdc_time_filter" -> ((s, dir) => {
      val aRoot = morEventsTable(s, dir)
      val table = graft.lake.LakeTable.load(aRoot)
      val bounds = table.read(s)
        .agg(min(unix_micros(col("warc_ts"))), max(unix_micros(col("warc_ts")))).head()
      val cutMicros = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val cut = new java.sql.Timestamp(cutMicros / 1000)
      cut.setNanos(((cutMicros % 1000000L) * 1000L).toInt)
      table.read(s)
        .filter(col("warc_ts") >= lit(cut))
        .select(
          col("url"),
          unix_micros(col("warc_ts")).as("warc_us"),
          col("text"),
          col("content_len"))
    }),

    // the SQL surface end-to-end: CREATE TABLE … USING graft, MERGE INTO
    // driving the engine's Merge operator, SELECT via the catalog's
    // co-located resolve-on-read scan — identical oracle to the library path
    "cdc_sql_merge" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_src")
      s.sql("DROP TABLE IF EXISTS graft.sqlpages")
      s.sql("""CREATE TABLE graft.sqlpages (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      s.sql("""MERGE INTO graft.sqlpages t USING (
              |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
              |    CAST(ts AS TIMESTAMP) AS warc_ts,
              |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
              |         ELSE to_binary(props, 'utf-8') END AS html,
              |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
              |    'en' AS lang,
              |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
              |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
              |  FROM graft_ev_src) s
              |ON t.url = s.url
              |WHEN MATCHED AND s.op = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len
              |FROM graft.sqlpages""".stripMargin)
    }),

    // INSERT INTO path: DSv2 SupportsWrite staging + one exactly-once
    // upsert batch. No deletes are expressible via INSERT, so the final
    // state is latest-per-url over ALL events (errors carry a null html →
    // null text/content_len)
    "cdc_sql_insert" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_src2")
      s.sql("DROP TABLE IF EXISTS graft.sqlins")
      s.sql("""CREATE TABLE graft.sqlins (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      s.sql("""INSERT INTO graft.sqlins
              |SELECT concat('u', CAST(user_id AS STRING)) AS url,
              |  CAST(ts AS TIMESTAMP) AS warc_ts,
              |  CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
              |       ELSE to_binary(props, 'utf-8') END AS html,
              |  CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
              |  'en' AS lang
              |FROM graft_ev_src2""".stripMargin)
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len
              |FROM graft.sqlins""".stripMargin)
    }),

    // INSERT OVERWRITE: poison the table with a PARTIAL ingest (odd events
    // only, so stale winners AND missing urls both exist), then one
    // INSERT OVERWRITE from the full changelog — the atomic
    // files-and-markers replacement must land exactly the latest-per-url
    // state over ALL events, with none of the partial state surviving
    "cdc_sql_overwrite" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_ovr")
      s.sql("DROP TABLE IF EXISTS graft.sqlovr")
      s.sql("""CREATE TABLE graft.sqlovr (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      def insert(overwrite: Boolean, where: String): Unit = s.sql(
        s"""INSERT ${if (overwrite) "OVERWRITE" else "INTO"} graft.sqlovr
           |SELECT concat('u', CAST(user_id AS STRING)) AS url,
           |  CAST(ts AS TIMESTAMP) AS warc_ts,
           |  CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
           |       ELSE to_binary(props, 'utf-8') END AS html,
           |  CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
           |  'en' AS lang
           |FROM graft_ev_ovr $where""".stripMargin): Unit
      insert(overwrite = false, "WHERE event_id % 2 = 1")
      insert(overwrite = true, "")
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len
              |FROM graft.sqlovr""".stripMargin)
    }),

    // row-level SQL DELETE: build the merged table, DELETE a url slice,
    // read the final state — deletes plan onto the tombstone MERGE path
    // (stored envelope bumped by one offset), so the oracle is the merged
    // final state minus the deleted slice
    "cdc_sql_delete" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_src3")
      s.sql("DROP TABLE IF EXISTS graft.sqldel")
      s.sql("""CREATE TABLE graft.sqldel (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      s.sql("""MERGE INTO graft.sqldel t USING (
              |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
              |    CAST(ts AS TIMESTAMP) AS warc_ts,
              |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
              |         ELSE to_binary(props, 'utf-8') END AS html,
              |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
              |    'en' AS lang,
              |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
              |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
              |  FROM graft_ev_src3) s
              |ON t.url = s.url
              |WHEN MATCHED AND s.op = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("DELETE FROM graft.sqldel WHERE url LIKE 'u1%' OR content_len < 9")
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len
              |FROM graft.sqldel""".stripMargin)
    }),

    // row-level SQL UPDATE: assigned changelog columns (html, lang) replace
    // the stored ones via an upsert MERGE batch; text/content_len are then
    // re-derived from the new html by the merge itself
    "cdc_sql_update" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_src4")
      s.sql("DROP TABLE IF EXISTS graft.sqlupd")
      s.sql("""CREATE TABLE graft.sqlupd (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      s.sql("""MERGE INTO graft.sqlupd t USING (
              |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
              |    CAST(ts AS TIMESTAMP) AS warc_ts,
              |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
              |         ELSE to_binary(props, 'utf-8') END AS html,
              |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
              |    'en' AS lang,
              |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
              |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
              |  FROM graft_ev_src4) s
              |ON t.url = s.url
              |WHEN MATCHED AND s.op = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("""UPDATE graft.sqlupd
              |SET html = to_binary('redacted body', 'utf-8'), lang = 'xx'
              |WHERE content_len >= 9""".stripMargin)
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len, lang
              |FROM graft.sqlupd""".stripMargin)
    }),

    // snapshot ROLLBACK via the CALL procedure surface: merge the changelog,
    // poison the table with a whole-table UPDATE, then
    // `CALL graft.system.rollback_to_snapshot` back to the pre-incident
    // snapshot — convergence to the never-poisoned final state IS the grade
    // (the cdc_bootstrap_handoff discipline applied to incident recovery)
    "cdc_sql_rollback" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_src6")
      s.sql("DROP TABLE IF EXISTS graft.sqlrb")
      s.sql("""CREATE TABLE graft.sqlrb (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      s.sql("""MERGE INTO graft.sqlrb t USING (
              |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
              |    CAST(ts AS TIMESTAMP) AS warc_ts,
              |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
              |         ELSE to_binary(props, 'utf-8') END AS html,
              |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
              |    'en' AS lang,
              |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
              |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
              |  FROM graft_ev_src6) s
              |ON t.url = s.url
              |WHEN MATCHED AND s.op = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val good = graft.lake.LakeTable.load(wh.resolve("sqlrb")).currentSnapshotId
      s.sql("""UPDATE graft.sqlrb
              |SET html = to_binary('oops wrong table', 'utf-8'), lang = 'xx'""".stripMargin)
      s.sql(s"CALL graft.system.rollback_to_snapshot('sqlrb', $good)").collect()
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len, lang
              |FROM graft.sqlrb""".stripMargin)
    }),

    // POINT row-level delete: the matched-row read goes through the same
    // url-key pushdown as SELECT point lookups (hash-bucket prune + bounds +
    // bloom sidecars), so a selective DELETE reads the keys' buckets only —
    // plan-asserted in GraftSqlSpec; the oracle grades the final state
    "cdc_sql_point_delete" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_src5")
      s.sql("DROP TABLE IF EXISTS graft.sqlpdel")
      s.sql("""CREATE TABLE graft.sqlpdel (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      s.sql("""MERGE INTO graft.sqlpdel t USING (
              |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
              |    CAST(ts AS TIMESTAMP) AS warc_ts,
              |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
              |         ELSE to_binary(props, 'utf-8') END AS html,
              |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
              |    'en' AS lang,
              |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
              |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
              |  FROM graft_ev_src5) s
              |ON t.url = s.url
              |WHEN MATCHED AND s.op = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("DELETE FROM graft.sqlpdel WHERE url IN ('u3', 'u7', 'u1200', 'u999999')")
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len
              |FROM graft.sqlpdel""".stripMargin)
    }),

    // point lookups through the catalog scan's pushdown (one hash bucket +
    // bounds-admitted files read; results graded against the oracle)
    "cdc_sql_point_lookup" -> ((s, dir) => {
      // reuses the table MERGEd by cdc_sql_merge when it ran in this
      // session; otherwise builds it the same way
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      if (s.sql("SHOW TABLES IN graft").collect().forall(_.getString(1) != "sqlpages"))
        queries("cdc_sql_merge")(s, dir).count(): Unit
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, content_len
              |FROM graft.sqlpages WHERE url IN ('u3', 'u7', 'u1200', 'u999999')""".stripMargin)
    }),

    // dimension join through the catalog scan: the manifest-exact scan
    // statistics plan a BroadcastHashJoin against the tiny dim (no static
    // url predicate exists on the fact side), and SupportsRuntimeFiltering
    // prunes the fact scan to the dim keys' buckets/files at execution
    // time — grades the stats + runtime-prune read path for VALUES, not
    // just plan shape (GraftSqlSpec asserts the plan)
    "cdc_dim_join" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      if (s.sql("SHOW TABLES IN graft").collect().forall(_.getString(1) != "sqlpages"))
        queries("cdc_sql_merge")(s, dir).count(): Unit
      s.sql("""SELECT t.url, unix_micros(t.warc_ts) AS warc_us, t.content_len, d.seg
              |FROM graft.sqlpages t
              |JOIN (VALUES ('u3','alpha'), ('u7','beta'), ('u12','alpha'),
              |             ('u1200','gamma'), ('u999999','ghost')) AS d(url, seg)
              |ON t.url = d.url""".stripMargin)
    }),

    // storage-partitioned join: two independently-ingested graft tables
    // (full replay vs a stable user_id subset) joined on url. The scans
    // report KeyGroupedPartitioning(bucket(n, url)) + ascending-url
    // ordering, the catalog resolves the `bucket` transform
    // (GraftBucketFunction), and Spark plans the join with ZERO Exchange
    // and ZERO Sort on either side — the graft⋈graft plan at 100 TB
    // (source vs mirror audits, table vs branch diffs). Values are
    // oracle-graded; the in-query assert grades the PLAN too, since a
    // silent fallback to a shuffled join would still pass the value check.
    "cdc_spj_join" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_spj")
      for ((tbl, where) <- Seq(("spja", ""), ("spjb", "WHERE user_id % 3 <> 0"))) {
        s.sql(s"DROP TABLE IF EXISTS graft.$tbl")
        s.sql(s"""CREATE TABLE graft.$tbl (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
        s.sql(s"""MERGE INTO graft.$tbl t USING (
                |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
                |    CAST(ts AS TIMESTAMP) AS warc_ts,
                |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
                |         ELSE to_binary(props, 'utf-8') END AS html,
                |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                |    'en' AS lang,
                |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
                |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
                |  FROM graft_ev_spj $where) s
                |ON t.url = s.url
                |WHEN MATCHED AND s.op = 'delete' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      val spjConfs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        // manifest-exact stats would otherwise broadcast the small side
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      // restore what was EXPLICITLY set: getOption would return a built-in
      // default for an unset key, and restoring it would pin that default
      // as an explicit session value
      val explicit = s.conf.getAll
      val prev = spjConfs.map { case (k, _) => k -> explicit.get(k) }
      spjConfs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val df = s.sql(
          """SELECT a.url AS url, unix_micros(a.warc_ts) AS a_warc_us,
            |  a.content_len AS a_len, unix_micros(b.warc_ts) AS b_warc_us,
            |  b.content_len AS b_len
            |FROM graft.spja a JOIN graft.spjb b ON a.url = b.url""".stripMargin)
        // inspect the INITIAL physical plan without executing: the SPJ
        // decision is made by EnsureRequirements at planning (AQE never
        // re-introduces an exchange EnsureRequirements omitted), and an
        // extra execution here would just double the bench cost
        def flatten(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
          case other => other +: other.children.flatMap(flatten)
        }
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            flatten(a.executedPlan)
          case p => flatten(p)
        }
        require(!plan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
          s"cdc_spj_join must plan a storage-partitioned join (zero Exchange); got:\n${plan.head}")
        // the driver re-executes the returned frame when dumping it; with
        // confs restored below it may re-plan the join freely — values are
        // identical under any strategy, and the SPJ plan is asserted above
        df
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // TRUNCATE TABLE then full re-ingest: truncate is rollback-to-empty
    // (one metadata commit clearing files AND batch markers), so replaying
    // the complete changelog afterwards must land exactly the plain-replay
    // final state — the oracle IS cdc_merge_final_state's
    "cdc_sql_truncate" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_src_tr")
      s.sql("DROP TABLE IF EXISTS graft.sqltr")
      s.sql("""CREATE TABLE graft.sqltr (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      def merge(where: String): Unit = s.sql(
        s"""MERGE INTO graft.sqltr t USING (
           |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
           |    CAST(ts AS TIMESTAMP) AS warc_ts,
           |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
           |         ELSE to_binary(props, 'utf-8') END AS html,
           |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
           |    'en' AS lang,
           |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
           |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
           |  FROM graft_ev_src_tr $where) s
           |ON t.url = s.url
           |WHEN MATCHED AND s.op = 'delete' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
      merge("WHERE pmod(event_id, 2) = 0") // an arbitrary first ingest
      s.sql("TRUNCATE TABLE graft.sqltr")
      merge("") // clean full re-ingest onto the empty state
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len
              |FROM graft.sqltr""".stripMargin)
    }),

    // snapshot tag + VERSION AS OF '<tag>' + expiry retention at oracle
    // scale: tag after ingesting the first half of the changelog, ingest
    // the rest, expire everything untagged, then read the tag — must equal
    // the LWW final state over the first half alone
    "cdc_sql_tag_travel" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft-sql-wh")
      graft.sql.GraftSql.enable(s, wh.toString)
      t(s, dir, "events").createOrReplaceTempView("graft_ev_src_tag")
      s.sql("DROP TABLE IF EXISTS graft.sqltag")
      s.sql("""CREATE TABLE graft.sqltag (url STRING, warc_ts TIMESTAMP,
              |  html BINARY, text STRING, content_len BIGINT, lang STRING)
              |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
      def merge(where: String): Unit = s.sql(
        s"""MERGE INTO graft.sqltag t USING (
           |  SELECT concat('u', CAST(user_id AS STRING)) AS url,
           |    CAST(ts AS TIMESTAMP) AS warc_ts,
           |    CASE WHEN event_type = 'error' THEN CAST(NULL AS BINARY)
           |         ELSE to_binary(props, 'utf-8') END AS html,
           |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
           |    'en' AS lang,
           |    CAST(pmod(user_id, 4) AS INT) AS partition, event_id AS offset,
           |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
           |  FROM graft_ev_src_tag $where) s
           |ON t.url = s.url
           |WHEN MATCHED AND s.op = 'delete' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
      val cutWhere = "WHERE event_id <= (SELECT CAST(floor(max(event_id) / 2) " +
        "AS BIGINT) FROM graft_ev_src_tag)"
      merge(cutWhere)
      s.sql("CALL graft.system.create_tag('sqltag', 'halfway')")
      merge(cutWhere.replace("<=", ">"))
      s.sql("CALL graft.system.expire_snapshots('sqltag', 1)")
      s.sql("""SELECT url, unix_micros(warc_ts) AS warc_us, text, content_len
              |FROM graft.sqltag VERSION AS OF 'halfway'""".stripMargin)
    }),

    // salted two-phase dedup (explicit skew defense) — identical oracle to
    // cdc_dedup_maxby by associativity of max
    "cdc_dedup_salted" -> ((s, dir) => {
      val changelog = t(s, dir, "events").select(
        pmod(col("user_id"), lit(4)).cast("int").as("partition"),
        col("event_id").as("offset"),
        when(col("event_type") === "error", "delete").otherwise("upsert").as("op"),
        concat(lit("u"), col("user_id").cast("string")).as("url"),
        col("ts").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("event_type").as("lang"))
      graft.cdc.SkewOps.saltedLatestPerUrl(changelog, salts = 16)
        .select(col("url"), unix_micros(col("warc_ts")).as("ts_us"), col("op"), col("offset"))
    }),

    // per-key latest-event dedup (A3): the max(warc_ts) window over key
    "cdc_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), usOf(col("ts")).as("ts_us"),
          col("event_type"), col("value"), col("event_id"))
    }),

    // latest-per-key with delete fold (upsert/delete semantics)
    "cdc_upsert_fold" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), usOf(col("ts")).as("ts_us"), col("event_type"))
    }),

    // per-group offset bookkeeping (A4/A5 lineage bounds)
    "cdc_lineage_bounds" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type")).agg(
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        count(lit(1)).as("cnt"))),

    // gap-free chain check (T3), shuffle-free formulation
    "cdc_gap_scan" -> ((s, dir) =>
      t(s, dir, "events").agg(
        (max(col("event_id")) - min(col("event_id")) + 1 -
          count_distinct(col("event_id"))).as("n_missing"),
        count(lit(1)).as("n_events"))),

    // event-time tumbling flush window (W1)
    "cdc_window_tumbling" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(usOf(date_trunc("hour", col("ts"))).as("wstart_us"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))),

    // message-key exclude anti-filter (F4)
    "cdc_exclude_filter" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(!col("props").contains("\"k\": 1") && !col("props").contains("\"k\": 2"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))),

    // topic remap projection (F8)
    "cdc_remap_topic" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("topic",
          when(col("event_type").isin("click", "view"), "interaction")
            .when(col("event_type") === "purchase", "conversion")
            .otherwise(col("event_type")))
        .groupBy(col("topic")).agg(count(lit(1)).as("cnt"))),

    // wall-clock flush buckets (W2/W5 cadence analog)
    "cdc_flush_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy((floor(usOf(col("ts")) / lit(21600000000L))).as("bucket"))
        .agg(count(lit(1)).as("cnt"), count_distinct(col("user_id")).as("users"))),

    // converter projection (C8/F6 analog): parse the JSON payload
    "cdc_props_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("cnt"))),

    // partition filter (F1): restrict to a subset of stream partitions
    "cdc_partition_filter" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("partition", pmod(col("user_id"), lit(4)))
        .filter(col("partition").isin(0, 2))
        .groupBy(col("partition")).agg(count(lit(1)).as("cnt"),
          count_distinct(col("user_id")).as("users"))),

    // the ENGINE's dedup operator (cdc.Dedup.latestPerUrl) on an
    // events-derived changelog — graded against the SQL window oracle
    "cdc_dedup_maxby" -> ((s, dir) => {
      val changelog = t(s, dir, "events").select(
        pmod(col("user_id"), lit(4)).cast("int").as("partition"),
        col("event_id").as("offset"),
        when(col("event_type") === "error", "delete").otherwise("upsert").as("op"),
        concat(lit("u"), col("user_id").cast("string")).as("url"),
        col("ts").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("event_type").as("lang"))
      graft.cdc.Dedup.latestPerUrl(changelog)
        .select(col("url"), unix_micros(col("warc_ts")).as("ts_us"), col("op"), col("offset"))
    }),

    // scan + filter + hash aggregate (pricing summary)
    "q1_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").as("sum_disc"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))),

    // 3-way join + agg + top-k (broadcast dims, shuffle fact)
    "q3_shipping" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      l.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), usOf(col("o_orderdate")).as("odate_us"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    }),

    // semi join (EXISTS)
    "q_semi_join" -> ((s, dir) => {
      val big = t(s, dir, "lineitem").filter(col("l_quantity") > 49).select(col("l_orderkey"))
      t(s, dir, "orders").join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
    }),

    // anti join (NOT EXISTS)
    "q_anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000).select(col("o_custkey"))
      t(s, dir, "customer").join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
    }),

    // set operation (EXCEPT): (user, day) pairs with purchases but no errors
    "q_setops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def pairs(et: String) = ev.filter(col("event_type") === et)
        .select(col("user_id"), usOf(date_trunc("day", col("ts"))).as("day_us")).distinct()
      pairs("purchase").except(pairs("error"))
    }),

    // analytic window: deterministic running sum
    "w_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem").filter(col("l_suppkey") < 5)
        .withColumn("run_qty", sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("run_qty"))
    }),

    // ranking window: top-n per group
    "w_topn_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))
      t(s, dir, "part").withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rn"))
    }),

    // hierarchical aggregate (ROLLUP) — subtotal + grand-total rows
    "agg_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))),

    // set operation (INTERSECT)
    "q_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def pairs(et: String) = ev.filter(col("event_type") === et)
        .select(col("user_id"), usOf(date_trunc("day", col("ts"))).as("day_us")).distinct()
      pairs("purchase").intersect(pairs("signup"))
    }),

    // as-of join: each purchase paired with the user's latest prior view
    // (composed union+window form, no fan-out; oracle = DuckDB ASOF JOIN)
    "ev_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), usOf(col("ts")).as("ts_us"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), usOf(col("ts")).as("ts_us"), col("event_id").as("view_id"))
      graft.ops.AsOfJoin.asOf(purchases, views, key = "user_id", ts = "ts_us")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("right_ts_us").as("view_ts_us"), col("right_view_id").as("view_id"))
    }),

    // deep multi-join (Q5 shape): region→nation→customer→orders→lineitem→supplier
    // with the supplier-nation colocation predicate; dims broadcast
    "q5_local_supplier" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1994-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      l.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"), count(lit(1)).as("cnt"))
    }),

    // join + multi-aggregate
    "agg_nation_stats" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      t(s, dir, "customer").join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"),
          min(col("c_name")).as("min_name"), max(col("c_name")).as("max_name"))
    }),

    // ---------------- training-data pipeline operators ----------------

    // exact dedup by normalized-text fingerprint
    "doc_exact_dedup" -> ((s, dir) =>
      DedupOps.exactGroups(t(s, dir, "documents"))),

    // token counting
    "doc_token_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
        .withColumn("chars_per_token",
          round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 4))),

    // quality scoring
    "doc_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.stopwordCount(col("text")).as("n_stop"),
        TextOps.punctCount(col("text")).as("n_punct"),
        TextOps.qualityScore(col("text")).as("quality"))),

    // language identification (n-gram/stopword heuristic)
    "doc_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang").as("meta_lang"),
        TextOps.langId(col("text")).as("lang_guess"))),

    // minhash signatures (4 permutations over distinct 3-gram shingles)
    "doc_minhash_sig" -> ((s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextOps.shingles(col("text"), 3))).as("s"))
      sh.groupBy(col("doc_id")).agg(
        min(md5(concat(lit("0|"), col("s")))).as("mh0"),
        min(md5(concat(lit("1|"), col("s")))).as("mh1"),
        min(md5(concat(lit("2|"), col("s")))).as("mh2"),
        min(md5(concat(lit("3|"), col("s")))).as("mh3"))
    }),

    // exact n-gram Jaccard near-dup pairs (inverted-index join)
    "doc_ngram_neardup" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.6)),

    // the TUNED scale variant: the df ceiling is derived from a corpus
    // sample (tuneMaxDf) with the prune observable. On a corpus without a
    // viral-boilerplate population the derived ceiling clears every real
    // shingle (the cap separates pathology from the normal population —
    // OpsSpec proves it engages when boilerplate exists), so the exact
    // oracle grades the tuned path end to end
    "doc_ngram_tuned" -> ((s, dir) => {
      val (pairs, _, _) = DedupOps.ngramJaccardPairsTuned(
        t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.6)
      pairs
    }),

    // MinHash-LSH near-dup pairs (band join + exact verify) — the scale path
    "doc_minhash_neardup" -> ((s, dir) =>
      DedupOps.minhashNearDups(t(s, dir, "documents"), "text", "doc_id",
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.6)),

    // INCREMENTAL near-dup via the persisted LSH band index: index 80% of
    // the corpus (doc_id % 5 != 0), then probe the remaining 20% as a new
    // batch — partition-pruned index read, broadcast probes, signature-
    // similarity verify (see graft.ops.LshIndex)
    "doc_minhash_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxDir = Files.createTempDirectory("graft-lshidx")
      LshIndex.create(idxDir, LshIndex.Params(n = 3, bands = 4, rowsPerBand = 2, shards = 16))
      LshIndex.append(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text", "doc_id", idxDir)
      LshIndex.nearDupsOf(s, docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        "text", "doc_id", idxDir, minMatchFrac = 0.5)
    }),

    // SimHash near-dup pairs (Hamming ≤ 3 via 16-bit block banding);
    // md5 hash domain so the DuckDB oracle grades the whole pipeline
    // bit-for-bit (the XXH64 domain stays the scale default in DedupOps)
    "doc_simhash_neardup" -> ((s, dir) =>
      DedupOps.simhashNearDups(t(s, dir, "documents"), "text", "doc_id", maxDist = 3,
        sigFn = DedupOps.simhash64Md5)),

    // rolling-hash document fingerprint
    "doc_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5"),
        TextOps.rollingHash(col("text")).as("fp_roll"))),

    // embedding norms per label
    "emb_norm_stats" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), round(Similarity.norm(col("embedding")), 4).as("n"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("cnt"), min(col("n")).as("min_norm"), max(col("n")).as("max_norm"))),

    // brute-force cosine top-k (ANN baseline)
    "emb_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 3)),

    // LSH-bucketed near pairs (ANN scale path; recall vs brute force in specs)
    // md5-derived hyperplanes so the DuckDB oracle reproduces bucket signs
    // bit-for-bit (SplitMix64 planes stay the scale default in Similarity)
    "emb_lsh_pairs" -> ((s, dir) =>
      Similarity.lshNearPairs(t(s, dir, "embeddings"), threshold = 0.5, nBits = 8, tables = 8,
        md5Planes = true)),

    // IVF top-k (ANN scale path); md5 seed ranking so the SQL oracle
    // reproduces the whole pipeline (seed → assign → Lloyd → probe → top-k)
    "emb_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 3, nLists = 16, nprobe = 4, md5Seeding = true)),

    // SQ8-quantized inverted file + EXACT re-rank: same codebook and final
    // top-k as emb_ivf_topk (the approximate SQ8 cosine only SELECTS the
    // re-rank pool; exact cosine over raw vectors scores the answer), so the
    // same SQL oracle grades the whole quantized path end to end
    "emb_ivf_sq8_topk" -> ((s, dir) => {
      val embsT = t(s, dir, "embeddings")
      val idx = Files.createTempDirectory("graft-ivfsq8").resolve("index").toString
      Similarity.writeIvfIndexSq8(embsT, idx, nLists = 16, md5Seeding = true)
      Similarity.ivfTopKIndexedSq8(s, idx, embsT,
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 3, nprobe = 4)
    }),

    // INCREMENTAL ANN: train the coarse codebook on half the corpus, persist
    // the inverted file, append the other half with the FROZEN codebook
    // (FAISS discipline), then probe external query vectors — partition-
    // pruned index read, broadcast queries (see Similarity.appendToIvfIndex)
    "emb_ivf_incremental" -> ((s, dir) => {
      val embsT = t(s, dir, "embeddings")
      val idx = Files.createTempDirectory("graft-ivfinc").resolve("index").toString
      Similarity.writeIvfIndex(embsT.filter(col("vec_id") % 2 === 0), idx,
        nLists = 16, md5Seeding = true)
      Similarity.appendToIvfIndex(embsT.filter(col("vec_id") % 2 === 1), idx)
      Similarity.ivfTopKForVectors(s, idx,
        embsT.filter(col("vec_id").isin(1L, 3L, 5L)), k = 3, nprobe = 4)
    }),

    // multimodal: binary payload + metadata → partition-batched features
    "mm_features" -> ((s, dir) => {
      val media = Multimodal.synthMedia(t(s, dir, "documents"))
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("doc_id"), col("kind"), col("n_bytes"), col("frames"))
    })
  )

  // ------------------------------ oracles ---------------------------------
  /** Latest-per-url over ALL events, errors kept as null-payload rows —
    * the INSERT-shaped final state (no deletes expressible). Shared by
    * `cdc_sql_insert` and `cdc_sql_overwrite` so a future tie-break or
    * NULL-handling fix cannot drift between the two checks. */
  private val latestPerUrlAllEventsOracle: String =
    """WITH ranked AS (
      |  SELECT user_id, ts, event_id, event_type, props,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
      |       CASE WHEN event_type = 'error' THEN NULL ELSE props END AS text,
      |       CASE WHEN event_type = 'error' THEN NULL
      |            ELSE CAST(strlen(props) AS BIGINT) END AS content_len
      |FROM ranked WHERE rn = 1""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "cdc_merge_final_state" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // the feed-mirrored table converges to the source's state exactly —
    // the oracle IS cdc_merge_final_state's
    "cdc_changefeed_mirror" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // selective mirror == the plain-replay final state restricted to the
    // same url predicate
    "cdc_mirror_filtered" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |  AND ('u' || CAST(user_id AS VARCHAR)) LIKE 'u1%'""".stripMargin,

    // client-side LWW resolution of the batch change feed reproduces the
    // table's final state exactly — the oracle IS cdc_merge_final_state's
    "cdc_table_changes" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // the LWW final state restricted to warc_us >= cut, cut = midpoint of
    // the FINAL STATE's warc_ts range — the pruned read must equal
    // filter-above-read (103 of 120 winners survive at sf0.01)
    "cdc_time_filter" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |finals AS (SELECT * FROM ranked WHERE rn = 1 AND event_type <> 'error'),
        |cut AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS c FROM finals)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM finals, cut WHERE epoch_us(ts) >= c""".stripMargin,

    // bootstrap + full-overlap replay converges to the plain-replay state
    // exactly — the oracle IS cdc_merge_final_state's
    "cdc_bootstrap_handoff" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // write-audit-publish converges to the plain-replay state exactly —
    // the oracle IS cdc_merge_final_state's
    "cdc_branch_wap" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "cdc_wap_maint_publish" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "cdc_wap_sql" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "cdc_merge_final_state_mor" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "cdc_merge_latemat" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "cdc_sql_insert" -> latestPerUrlAllEventsOracle,

    // INSERT OVERWRITE from the full changelog == latest-per-url over ALL
    // events (the prior partial state must not survive)
    "cdc_sql_overwrite" -> latestPerUrlAllEventsOracle,

    "cdc_sql_delete" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |  AND NOT ('u' || CAST(user_id AS VARCHAR) LIKE 'u1%' OR strlen(props) < 9)""".stripMargin,

    "cdc_sql_update" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       CASE WHEN strlen(props) >= 9 THEN 'redacted body' ELSE props END AS text,
        |       CAST(CASE WHEN strlen(props) >= 9 THEN 13 ELSE strlen(props) END AS BIGINT) AS content_len,
        |       CASE WHEN strlen(props) >= 9 THEN 'xx' ELSE 'en' END AS lang
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "cdc_sql_rollback" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len,
        |       'en' AS lang
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "cdc_sql_point_delete" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |  AND 'u' || CAST(user_id AS VARCHAR) NOT IN ('u3', 'u7', 'u1200', 'u999999')""".stripMargin,

    "cdc_sql_point_lookup" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       CAST(strlen((SELECT props FROM events e2
        |                    WHERE e2.event_id = ranked.event_id)) AS BIGINT) AS content_len
        |FROM ranked
        |WHERE rn = 1 AND event_type <> 'error'
        |  AND 'u' || CAST(user_id AS VARCHAR) IN ('u3', 'u7', 'u1200', 'u999999')""".stripMargin,

    // truncate + full re-ingest converges to the plain-replay final state
    "cdc_sql_truncate" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // the tagged snapshot = the LWW final state over the first half of the
    // changelog (event_id <= max/2), surviving expire_snapshots(keep=1)
    "cdc_sql_tag_travel" ->
      """WITH c AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS cut FROM events),
        |sub AS (SELECT e.* FROM events e, c WHERE e.event_id <= c.cut),
        |ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM sub)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // the broadcast + runtime-filtered dim join over the merged table:
    // final state (latest per url, deletes folded) joined to the same
    // inline dim; unmatched dim keys ('ghost') drop via inner-join
    "cdc_dim_join" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |finals AS (
        |  SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |         CAST(strlen(props) AS BIGINT) AS content_len
        |  FROM ranked WHERE rn = 1 AND event_type <> 'error')
        |SELECT f.url, f.warc_us, f.content_len, d.seg
        |FROM finals f
        |JOIN (VALUES ('u3','alpha'), ('u7','beta'), ('u12','alpha'),
        |             ('u1200','gamma'), ('u999999','ghost')) AS d(url, seg)
        |  ON f.url = d.url""".stripMargin,

    "cdc_sql_merge" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |       props AS text, CAST(strlen(props) AS BIGINT) AS content_len
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // storage-partitioned join: LWW final state over ALL events inner-joined
    // on url with the LWW final state over the user_id % 3 <> 0 subset
    "cdc_spj_join" ->
      """WITH ranked_a AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |finals_a AS (
        |  SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |         CAST(strlen(props) AS BIGINT) AS content_len
        |  FROM ranked_a WHERE rn = 1 AND event_type <> 'error'),
        |ranked_b AS (
        |  SELECT user_id, ts, event_id, event_type, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id % 3 <> 0),
        |finals_b AS (
        |  SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS warc_us,
        |         CAST(strlen(props) AS BIGINT) AS content_len
        |  FROM ranked_b WHERE rn = 1 AND event_type <> 'error')
        |SELECT a.url AS url, a.warc_us AS a_warc_us, a.content_len AS a_len,
        |       b.warc_us AS b_warc_us, b.content_len AS b_len
        |FROM finals_a a JOIN finals_b b ON a.url = b.url""".stripMargin,

    "cdc_dedup_salted" ->
      """SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS ts_us,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |  event_id AS "offset"
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_intersect" ->
      """SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS day_us
        |FROM events WHERE event_type = 'purchase'
        |INTERSECT SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS day_us
        |FROM events WHERE event_type = 'signup'""".stripMargin,

    "cdc_latest_per_key" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_type, value, event_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "cdc_upsert_fold" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "cdc_lineage_bounds" ->
      "SELECT event_type, min(event_id) AS min_id, max(event_id) AS max_id, count(*) AS cnt FROM events GROUP BY 1",

    "cdc_gap_scan" ->
      "SELECT max(event_id) - min(event_id) + 1 - count(DISTINCT event_id) AS n_missing, count(*) AS n_events FROM events",

    "cdc_window_tumbling" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS wstart_us, event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "cdc_exclude_filter" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE props NOT LIKE '%"k": 1%' AND props NOT LIKE '%"k": 2%' GROUP BY 1""".stripMargin,

    "cdc_remap_topic" ->
      """SELECT CASE WHEN event_type IN ('click','view') THEN 'interaction'
        |            WHEN event_type = 'purchase' THEN 'conversion'
        |            ELSE event_type END AS topic, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,

    "cdc_flush_windows" ->
      """SELECT CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS bucket,
        |  count(*) AS cnt, count(DISTINCT user_id) AS users FROM events GROUP BY 1""".stripMargin,

    "cdc_props_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS cnt FROM events GROUP BY 1""".stripMargin,

    "cdc_partition_filter" ->
      """SELECT user_id % 4 AS partition, count(*) AS cnt, count(DISTINCT user_id) AS users
        |FROM events WHERE user_id % 4 IN (0, 2) GROUP BY 1""".stripMargin,

    "cdc_dedup_maxby" ->
      """SELECT 'u' || CAST(user_id AS VARCHAR) AS url, epoch_us(ts) AS ts_us,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |  event_id AS "offset"
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "q3_shipping" ->
      """SELECT o_orderkey, epoch_us(o_orderdate) AS odate_us,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        |GROUP BY 1""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY 1""".stripMargin,

    "q_setops" ->
      """SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS day_us
        |FROM events WHERE event_type = 'purchase'
        |EXCEPT SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS day_us
        |FROM events WHERE event_type = 'error'""".stripMargin,

    "w_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
        |FROM lineitem WHERE l_suppkey < 5""".stripMargin,

    "w_topn_per_group" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) rn
        |  FROM part) WHERE rn <= 3""".stripMargin,

    "ev_asof_join" ->
      """SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us,
        |  epoch_us(v.ts) AS view_ts_us, v.event_id AS view_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS cnt
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey AND s_nationkey = n_nationkey
        |  AND c_nationkey = s_nationkey AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "agg_nation_stats" ->
      """SELECT n_name, count(*) AS cnt,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  min(c_name) AS min_name, max(c_name) AS max_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin,

    "doc_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '[ \t\n\r]+', ' ', 'g')) AS fp,
        |  count(*) AS n_dups, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1""".stripMargin,

    "doc_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  round(CAST(length(text) AS DOUBLE) / CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS DOUBLE), 4) AS chars_per_token
        |FROM documents""".stripMargin,

    "doc_quality" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|it)\b')) AS BIGINT) AS n_stop,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
        |  round(CASE WHEN len(regexp_extract_all(text, '[^ \t\n\r]+')) = 0 THEN 0.0 ELSE
        |    0.4 * least(CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE)
        |          / CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS DOUBLE) * 8.0, 1.0)
        |  + 0.3 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |  + 0.3 * (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) + len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |          / CAST(greatest(length(text), 1) AS DOUBLE) * 10.0, 1.0)) END, 4) AS quality
        |FROM documents""".stripMargin,

    "doc_langid" ->
      """WITH sc AS (SELECT doc_id, lang AS meta_lang,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS BIGINT) en,
        |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS BIGINT) de,
        |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|et|les|est)\b')) AS BIGINT) fr,
        |  CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) AS BIGINT) es
        |  FROM documents)
        |SELECT doc_id, meta_lang,
        |  CASE WHEN en > 0 AND en = greatest(en,de,fr,es) THEN 'en'
        |       WHEN de > 0 AND de = greatest(en,de,fr,es) THEN 'de'
        |       WHEN fr > 0 AND fr = greatest(en,de,fr,es) THEN 'fr'
        |       WHEN es > 0 AND es = greatest(en,de,fr,es) THEN 'es'
        |       ELSE 'unknown' END AS lang_guess
        |FROM sc""".stripMargin,

    "doc_minhash_sig" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '[^ \t\n\r]+') ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |         i -> array_to_string(ws[i:i+2], ' ')))) s
        |       FROM w WHERE len(ws) >= 3)
        |SELECT doc_id, min(md5('0|' || s)) AS mh0, min(md5('1|' || s)) AS mh1,
        |       min(md5('2|' || s)) AS mh2, min(md5('3|' || s)) AS mh3
        |FROM sh GROUP BY 1""".stripMargin,

    // mirrors minhashNearDups exactly: 8 md5-min signatures, 4 banded
    // md5(mh|mh) bucket keys, distinct candidate pairs, exact-jaccard verify
    // (docs with <3 tokens have NULL minhashes in Spark and no sig row here;
    // their empty-bucket candidates are killed by the verify either way)
    "doc_minhash_neardup" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '[^ \t\n\r]+') ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |         i -> array_to_string(ws[i:i+2], ' ')))) s
        |       FROM w WHERE len(ws) >= 3),
        |sig AS (SELECT doc_id,
        |         min(md5('0|' || s)) mh0, min(md5('1|' || s)) mh1,
        |         min(md5('2|' || s)) mh2, min(md5('3|' || s)) mh3,
        |         min(md5('4|' || s)) mh4, min(md5('5|' || s)) mh5,
        |         min(md5('6|' || s)) mh6, min(md5('7|' || s)) mh7
        |        FROM sh GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) bucket FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id id1, b.doc_id id2
        |         FROM bands a JOIN bands b
        |         ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT c.id1, c.id2, count(*) i
        |          FROM cand c JOIN sh x ON x.doc_id = c.id1
        |          JOIN sh y ON y.doc_id = c.id2 AND x.s = y.s GROUP BY 1, 2)
        |SELECT c.id1, c.id2,
        |  round(CAST(coalesce(i.i, 0) AS DOUBLE) /
        |        CAST(sx.n + sy.n - coalesce(i.i, 0) AS DOUBLE), 4) AS jaccard
        |FROM cand c
        |LEFT JOIN inter i ON c.id1 = i.id1 AND c.id2 = i.id2
        |JOIN sz sx ON c.id1 = sx.doc_id JOIN sz sy ON c.id2 = sy.doc_id
        |WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) /
        |      CAST(sx.n + sy.n - coalesce(i.i, 0) AS DOUBLE), 4) >= 0.6""".stripMargin,

    // mirrors LshIndex.nearDupsOf exactly: signatures over the WHOLE corpus,
    // band-bucket candidates restricted to (new = doc_id%5=0) × (indexed =
    // doc_id%5<>0), verified by signature-match fraction over the 8 minhash
    // positions (the index embeds signatures; no exact-jaccard pass). The
    // index stores LOW-64 TRUNCATED signatures (array<long>), so position
    // equality is compared in the same domain here: substr(md5, 17, 16)
    "doc_minhash_incremental" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '[^ \t\n\r]+') ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |         i -> array_to_string(ws[i:i+2], ' ')))) s
        |       FROM w WHERE len(ws) >= 3),
        |sig AS (SELECT doc_id,
        |         min(md5('0|' || s)) mh0, min(md5('1|' || s)) mh1,
        |         min(md5('2|' || s)) mh2, min(md5('3|' || s)) mh3,
        |         min(md5('4|' || s)) mh4, min(md5('5|' || s)) mh5,
        |         min(md5('6|' || s)) mh6, min(md5('7|' || s)) mh7
        |        FROM sh GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) bucket FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sig),
        |cand AS (SELECT DISTINCT n.doc_id new_id, o.doc_id old_id
        |         FROM bands n JOIN bands o
        |         ON n.band = o.band AND n.bucket = o.bucket
        |         WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0)
        |SELECT c.new_id, c.old_id,
        |  round(((CASE WHEN substr(a.mh0,17,16) = substr(b.mh0,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh1,17,16) = substr(b.mh1,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh2,17,16) = substr(b.mh2,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh3,17,16) = substr(b.mh3,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh4,17,16) = substr(b.mh4,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh5,17,16) = substr(b.mh5,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh6,17,16) = substr(b.mh6,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh7,17,16) = substr(b.mh7,17,16) THEN 1 ELSE 0 END)) / 8.0, 4) AS match_frac
        |FROM cand c
        |JOIN sig a ON a.doc_id = c.new_id
        |JOIN sig b ON b.doc_id = c.old_id
        |WHERE round(((CASE WHEN substr(a.mh0,17,16) = substr(b.mh0,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh1,17,16) = substr(b.mh1,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh2,17,16) = substr(b.mh2,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh3,17,16) = substr(b.mh3,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh4,17,16) = substr(b.mh4,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh5,17,16) = substr(b.mh5,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh6,17,16) = substr(b.mh6,17,16) THEN 1 ELSE 0 END) +
        |         (CASE WHEN substr(a.mh7,17,16) = substr(b.mh7,17,16) THEN 1 ELSE 0 END)) / 8.0, 4) >= 0.5""".stripMargin,

    // md5-domain simhash: token hash = md5 low 64 bits; per-bit ±1 votes;
    // 4×16-bit block banding; Hamming ≤ 3 — all-integer pipeline, so the
    // oracle reproduces the kernel exactly (no float hazards)
    "doc_simhash_neardup" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '[^ \t\n\r]+') ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) t FROM w),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 17, 16))::UBIGINT hv FROM tok),
        |bits AS (SELECT doc_id, i, sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) v
        |         FROM h CROSS JOIN (SELECT unnest(range(64)) i) b GROUP BY 1, 2),
        |sig0 AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0
        |           THEN (1::UBIGINT << CAST(i AS INTEGER)) ELSE 0::UBIGINT END) AS UBIGINT) s
        |         FROM bits GROUP BY 1),
        |allsig AS (SELECT w.doc_id, coalesce(sig0.s, 0::UBIGINT) s
        |           FROM w LEFT JOIN sig0 USING (doc_id)),
        |blk AS (SELECT doc_id, s, CAST(b.blk AS INTEGER) blk,
        |               (s >> (CAST(b.blk AS INTEGER) * 16)) & 65535 bkey
        |        FROM allsig CROSS JOIN (SELECT unnest(range(4)) blk) b),
        |pairs AS (SELECT DISTINCT a.doc_id id1, b.doc_id id2,
        |                 CAST(bit_count(xor(a.s, b.s)) AS INTEGER) dist
        |          FROM blk a JOIN blk b
        |            ON a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        |SELECT id1, id2, dist FROM pairs WHERE dist <= 3""".stripMargin,

    // fp_md5 = whitespace-normalized md5; fp_roll = Rabin-Karp fold over
    // md5-derived term ints (kernel ≡ this list_reduce, verified byte-equal)
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '[ \t\n\r]+', ' ', 'g')) AS fp_md5,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(trim(text), '[^ \t\n\r]+'),
        |        w -> ('0x' || substr(md5(w), 1, 8))::BIGINT % 1000000007)),
        |    (acc, x) -> (acc * 257 + x) % 1000000007) AS fp_roll
        |FROM documents""".stripMargin,

    "doc_ngram_neardup" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '[^ \t\n\r]+') ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |         i -> array_to_string(ws[i:i+2], ' ')))) s
        |       FROM w WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id id1, b.doc_id id2, count(*) inter
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id1, id2,
        |  round(CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE), 4) AS jaccard
        |FROM p JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE) >= 0.6""".stripMargin,

    // the tuned variant's derived ceiling clears every shingle on this
    // corpus (no viral-boilerplate population), so its result is the exact
    // pair set — same oracle as the uncapped baseline
    "doc_ngram_tuned" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(trim(text), '[^ \t\n\r]+') ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |         i -> array_to_string(ws[i:i+2], ' ')))) s
        |       FROM w WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id id1, b.doc_id id2, count(*) inter
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id1, id2,
        |  round(CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE), 4) AS jaccard
        |FROM p JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE) >= 0.6""".stripMargin,

    "emb_norm_stats" ->
      """SELECT label, count(*) AS cnt,
        |  min(round(sqrt(list_dot_product(embedding, embedding)), 4)) AS min_norm,
        |  max(round(sqrt(list_dot_product(embedding, embedding)), 4)) AS max_norm
        |FROM embeddings GROUP BY 1""".stripMargin,

    "emb_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        |c AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |        round(list_dot_product(q.qv, e.embedding) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.embedding, e.embedding))), 4) AS cos
        |      FROM q, embeddings e WHERE e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |  FROM c) WHERE rank <= 3""".stripMargin,

    // full IVF pipeline in SQL: md5-ranked seeds → assign (argmax dot, ties
    // → larger list) → one Lloyd mean pass (empty lists keep seeds) →
    // re-assign → nprobe=4 probes per query → top-3 by (cos desc, id).
    // Dots fold float→double in index order, matching the kernels.
    "emb_ivf_topk" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |rk AS (SELECT vec_id, md5('s|' || vec_id) r FROM v),
        |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY r, vec_id) - 1 AS INTEGER) list
        |          FROM rk QUALIFY row_number() OVER (ORDER BY r, vec_id) <= 16),
        |cents0 AS (SELECT s.list, v.embedding::DOUBLE[] c FROM seeds s JOIN v USING (vec_id)),
        |dots0 AS (SELECT v.vec_id, c0.list, list_dot_product(v.embedding::DOUBLE[], c0.c) d
        |          FROM v CROSS JOIN cents0 c0),
        |assign0 AS (SELECT vec_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots0) WHERE rn = 1),
        |pos AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) p),
        |sums AS (SELECT a.list, p.p, sum(v.embedding[p.p]::DOUBLE) s, count(*) c
        |         FROM assign0 a JOIN v USING (vec_id) CROSS JOIN pos p GROUP BY 1, 2),
        |refined AS (SELECT c0.list, list(coalesce(s.s / s.c, c0.c[p.p]) ORDER BY p.p) c
        |            FROM cents0 c0 CROSS JOIN pos p
        |            LEFT JOIN sums s ON s.list = c0.list AND s.p = p.p
        |            GROUP BY c0.list),
        |dots1 AS (SELECT v.vec_id, r.list, list_dot_product(v.embedding::DOUBLE[], r.c) d
        |          FROM v CROSS JOIN refined r),
        |assign1 AS (SELECT vec_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots1) WHERE rn = 1),
        |probes AS (SELECT vec_id query_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots1 WHERE vec_id IN (0,1,2,3,4)) WHERE rn <= 4),
        |cand AS (SELECT p.query_id, a.vec_id neighbor_id
        |         FROM probes p JOIN assign1 a ON a.list = p.list AND a.vec_id <> p.query_id),
        |cosv AS (SELECT c.query_id, c.neighbor_id,
        |  round(list_dot_product(vq.embedding, vn.embedding) /
        |    (sqrt(list_dot_product(vq.embedding, vq.embedding)) *
        |     sqrt(list_dot_product(vn.embedding, vn.embedding))), 4) cos
        |  FROM cand c JOIN v vq ON vq.vec_id = c.query_id JOIN v vn ON vn.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rnk
        |  FROM cosv) WHERE rnk <= 3""".stripMargin,

    // the SQ8 path re-ranks its pool with EXACT cosine, so its final top-k
    // equals the raw IVF pipeline's — identical oracle to emb_ivf_topk
    "emb_ivf_sq8_topk" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |rk AS (SELECT vec_id, md5('s|' || vec_id) r FROM v),
        |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY r, vec_id) - 1 AS INTEGER) list
        |          FROM rk QUALIFY row_number() OVER (ORDER BY r, vec_id) <= 16),
        |cents0 AS (SELECT s.list, v.embedding::DOUBLE[] c FROM seeds s JOIN v USING (vec_id)),
        |dots0 AS (SELECT v.vec_id, c0.list, list_dot_product(v.embedding::DOUBLE[], c0.c) d
        |          FROM v CROSS JOIN cents0 c0),
        |assign0 AS (SELECT vec_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots0) WHERE rn = 1),
        |pos AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) p),
        |sums AS (SELECT a.list, p.p, sum(v.embedding[p.p]::DOUBLE) s, count(*) c
        |         FROM assign0 a JOIN v USING (vec_id) CROSS JOIN pos p GROUP BY 1, 2),
        |refined AS (SELECT c0.list, list(coalesce(s.s / s.c, c0.c[p.p]) ORDER BY p.p) c
        |            FROM cents0 c0 CROSS JOIN pos p
        |            LEFT JOIN sums s ON s.list = c0.list AND s.p = p.p
        |            GROUP BY c0.list),
        |dots1 AS (SELECT v.vec_id, r.list, list_dot_product(v.embedding::DOUBLE[], r.c) d
        |          FROM v CROSS JOIN refined r),
        |assign1 AS (SELECT vec_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots1) WHERE rn = 1),
        |probes AS (SELECT vec_id query_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots1 WHERE vec_id IN (0,1,2,3,4)) WHERE rn <= 4),
        |cand AS (SELECT p.query_id, a.vec_id neighbor_id
        |         FROM probes p JOIN assign1 a ON a.list = p.list AND a.vec_id <> p.query_id),
        |cosv AS (SELECT c.query_id, c.neighbor_id,
        |  round(list_dot_product(vq.embedding, vn.embedding) /
        |    (sqrt(list_dot_product(vq.embedding, vq.embedding)) *
        |     sqrt(list_dot_product(vn.embedding, vn.embedding))), 4) cos
        |  FROM cand c JOIN v vq ON vq.vec_id = c.query_id JOIN v vn ON vn.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rnk
        |  FROM cosv) WHERE rnk <= 3""".stripMargin,

    // mirrors emb_ivf_incremental: codebook (md5 seeds + one Lloyd pass)
    // trained ONLY on the even half, frozen-codebook assignment over ALL
    // vectors (the appended odd half included), probes for external query
    // vectors 1,3,5
    "emb_ivf_incremental" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |tv AS (SELECT vec_id, embedding FROM v WHERE vec_id % 2 = 0),
        |rk AS (SELECT vec_id, md5('s|' || vec_id) r FROM tv),
        |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY r, vec_id) - 1 AS INTEGER) list
        |          FROM rk QUALIFY row_number() OVER (ORDER BY r, vec_id) <= 16),
        |cents0 AS (SELECT s.list, tv.embedding::DOUBLE[] c FROM seeds s JOIN tv USING (vec_id)),
        |dots0 AS (SELECT tv.vec_id, c0.list, list_dot_product(tv.embedding::DOUBLE[], c0.c) d
        |          FROM tv CROSS JOIN cents0 c0),
        |assign0 AS (SELECT vec_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots0) WHERE rn = 1),
        |pos AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) p),
        |sums AS (SELECT a.list, p.p, sum(tv.embedding[p.p]::DOUBLE) s, count(*) c
        |         FROM assign0 a JOIN tv USING (vec_id) CROSS JOIN pos p GROUP BY 1, 2),
        |refined AS (SELECT c0.list, list(coalesce(s.s / s.c, c0.c[p.p]) ORDER BY p.p) c
        |            FROM cents0 c0 CROSS JOIN pos p
        |            LEFT JOIN sums s ON s.list = c0.list AND s.p = p.p
        |            GROUP BY c0.list),
        |dots1 AS (SELECT v.vec_id, r.list, list_dot_product(v.embedding::DOUBLE[], r.c) d
        |          FROM v CROSS JOIN refined r),
        |assign1 AS (SELECT vec_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots1) WHERE rn = 1),
        |probes AS (SELECT vec_id query_id, list FROM (
        |  SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, list DESC) rn
        |  FROM dots1 WHERE vec_id IN (1,3,5)) WHERE rn <= 4),
        |cand AS (SELECT p.query_id, a.vec_id neighbor_id
        |         FROM probes p JOIN assign1 a ON a.list = p.list AND a.vec_id <> p.query_id),
        |cosv AS (SELECT c.query_id, c.neighbor_id,
        |  round(list_dot_product(vq.embedding, vn.embedding) /
        |    (sqrt(list_dot_product(vq.embedding, vq.embedding)) *
        |     sqrt(list_dot_product(vn.embedding, vn.embedding))), 4) cos
        |  FROM cand c JOIN v vq ON vq.vec_id = c.query_id JOIN v vn ON vn.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rnk
        |  FROM cosv) WHERE rnk <= 3""".stripMargin,

    // md5-plane LSH: plane(t,b,d) = (md5low64("t|b|d") >> 11)·2^-52 − 1 (a
    // 53-bit-exact double), bucket = packed dot-sign bits, candidates from
    // per-table bucket equality, one cosine per deduped pair — the same
    // pipeline the Spark kernel runs, float→double folds in index order
    "emb_lsh_pairs" ->
      """WITH idx AS (SELECT t, b, dd FROM unnest(range(8)) tt(t), unnest(range(8)) bb(b),
        |                               unnest(range(64)) d2(dd)),
        |planes AS (SELECT t, b,
        |             list(((('0x' || substr(md5(t || '|' || b || '|' || dd), 17, 16))::UBIGINT >> 11)::DOUBLE
        |                   * power(2.0, -52) - 1.0) ORDER BY dd) plane
        |           FROM idx GROUP BY t, b),
        |sig AS (SELECT e.vec_id id, p.t,
        |          CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) > 0.0
        |                        THEN (1::UBIGINT << CAST(p.b AS INTEGER)) ELSE 0::UBIGINT END) AS UBIGINT) bkt
        |        FROM embeddings e CROSS JOIN planes p GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.id id1, b.id id2
        |         FROM sig a JOIN sig b ON a.t = b.t AND a.bkt = b.bkt AND a.id < b.id),
        |v AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT c.id1, c.id2,
        |  round(list_dot_product(v1.embedding, v2.embedding) /
        |    (sqrt(list_dot_product(v1.embedding, v1.embedding)) *
        |     sqrt(list_dot_product(v2.embedding, v2.embedding))), 4) cos
        |FROM cand c JOIN v v1 ON c.id1 = v1.vec_id JOIN v v2 ON c.id2 = v2.vec_id
        |WHERE cos >= 0.5""".stripMargin,

    "mm_features" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN greatest(1, strlen(text) // 512) ELSE 1 END AS INT) AS frames
        |FROM documents""".stripMargin
  )
}
