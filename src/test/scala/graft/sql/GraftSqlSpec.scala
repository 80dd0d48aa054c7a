package graft.sql

import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL surface: CREATE TABLE … USING graft, MERGE INTO, SELECT — all on a
  * plain session (runtime enablement, no extensions needed). */
class GraftSqlSpec extends SparkSpec {

  private lazy val wh = tmpDir("graft-wh").toString

  private def enable(): Unit = GraftSql.enable(spark, wh)

  /** Every graft BatchScan under `p`. AQE query stages, adaptive plans,
    * cached relations and command results are LEAF nodes wrapping their
    * subtree — a plain collect never descends into them. */
  private def graftScans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
    case q: QueryStageExec => graftScans(q.plan)
    case a: AdaptiveSparkPlanExec => graftScans(a.executedPlan)
    case m: InMemoryTableScanExec => graftScans(m.relation.cachedPlan)
    case c: CommandResultExec => graftScans(c.commandPhysicalPlan)
    case b: BatchScanExec if b.scan.isInstanceOf[GraftLakeScan] => Seq(b)
  }.flatten

  test("CALL graft.system procedures: rollback_to_snapshot, compact, expire_snapshots") {
    enable()
    spark.sql("CREATE TABLE graft.prc (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    spark.range(50).createOrReplaceTempView("prc_seed")
    spark.sql(
      """MERGE INTO graft.prc t USING (
        |  SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
        |    cast(concat('<p>', id, '</p>') AS BINARY) AS html,
        |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
        |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
        |    'upsert' AS op FROM prc_seed) s
        |ON t.url = s.url
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh).resolve("prc"))
    val good = lake.currentSnapshotId
    def state() = spark.sql("SELECT url, lang FROM graft.prc ORDER BY url")
      .collect().map(_.toString).toSeq
    val cleanState = state()

    // the incident: a whole-table UPDATE poisons lang
    spark.sql("UPDATE graft.prc SET lang = 'xx'")
    val poisoned = lake.currentSnapshotId
    assert(state() != cleanState && poisoned > good)

    // CALL rollback: one result row (previous, current); state restored;
    // the poisoned head stays time-travel readable
    val r = spark.sql(s"CALL graft.system.rollback_to_snapshot('prc', $good)").collect()
    assert(r.length == 1 && r.head.getLong(0) == poisoned &&
      r.head.getLong(1) == poisoned + 1, s"got ${r.toSeq}")
    assert(state() == cleanState, "rollback must restore the pre-incident state")
    assert(spark.sql(s"SELECT lang FROM graft.prc VERSION AS OF $poisoned")
      .collect().forall(_.getString(0) == "xx"))

    // CALL compact: maintenance commit, state unchanged
    val c = spark.sql("CALL graft.system.compact('prc')").collect()
    assert(c.length == 1 && c.head.getLong(0) == lake.currentSnapshotId)
    assert(state() == cleanState)

    // CALL rebucket: layout swap under a new bucket count, state unchanged
    val rb = spark.sql("CALL graft.system.rebucket('prc', 8)").collect()
    assert(rb.length == 1 && rb.head.getLong(1) == 8L)
    assert(state() == cleanState)
    // CALL build_blooms: point-lookup sidecars for the rewritten files
    val bl = spark.sql("CALL graft.system.build_blooms('prc')").collect()
    assert(bl.length == 1 && bl.head.getLong(0) >= 1L)

    // CALL expire_snapshots: history trimmed; rollback to an expired
    // snapshot now fails loudly
    val e = spark.sql("CALL graft.system.expire_snapshots('prc', 1)").collect()
    assert(e.length == 1 && e.head.getLong(0) >= 1)
    val err = intercept[Exception](
      spark.sql(s"CALL graft.system.rollback_to_snapshot('prc', $good)").collect())
    assert(err.getMessage.contains("not retained"))
    // unknown table and unknown procedure fail loudly
    intercept[Exception](
      spark.sql("CALL graft.system.rollback_to_snapshot('nope', 1)").collect())
    intercept[Exception](
      spark.sql("CALL graft.system.frobnicate('prc')").collect())

    // CALL remove_orphan_files: crash debris (a data dir no snapshot
    // references) is counted by dry_run, deleted for real with an explicit
    // horizon, invisible to the default 3-day horizon while fresh
    val junk = lake.root.resolve("data/s999/bucket=0/part-junk.parquet")
    java.nio.file.Files.createDirectories(junk.getParent)
    java.nio.file.Files.write(junk, Array[Byte](1, 2, 3))
    val defaulted = spark.sql(
      "CALL graft.system.remove_orphan_files('prc')").collect()
    assert(defaulted.head.getLong(0) == 0, "fresh debris is inside the default horizon")
    assert(java.nio.file.Files.exists(junk))
    val horizon = java.sql.Timestamp.from(java.time.Instant.now())
    // (counts are ≥: job _SUCCESS markers are legitimately orphan too)
    val dry = spark.sql(
      s"CALL graft.system.remove_orphan_files('prc', TIMESTAMP'$horizon', true)").collect()
    assert(dry.head.getLong(0) >= 1 && java.nio.file.Files.exists(junk),
      "dry_run counts but keeps")
    val real = spark.sql(
      s"CALL graft.system.remove_orphan_files('prc', TIMESTAMP'$horizon')").collect()
    assert(real.head.getLong(0) >= 1 && !java.nio.file.Files.exists(junk))
    assert(state() == cleanState, "table state untouched by orphan cleanup")
  }

  test("CREATE TABLE / SELECT empty / DROP round-trip") {
    enable()
    spark.sql("CREATE TABLE graft.t0 (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    assert(spark.sql("SELECT * FROM graft.t0").count() == 0)
    assert(spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1)).contains("t0"))
    spark.sql("DROP TABLE graft.t0")
    intercept[Exception](spark.sql("SELECT * FROM graft.t0").collect())
  }

  test("MERGE INTO drives the engine: upserts, LWW, deletes, exactly-once batches") {
    enable()
    spark.sql("CREATE TABLE graft.pages (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")

    spark.range(100).createOrReplaceTempView("seed")
    def src(tsBase: Long, deleteMod: Int): String =
      s"""SELECT concat('u', id % 40) AS url,
         |  timestamp_micros(${tsBase} + id) AS warc_ts,
         |  cast(concat('<p>doc ', id, '</p>') AS BINARY) AS html,
         |  CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
         |  'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
         |  CASE WHEN id % $deleteMod = 3 THEN 'delete' ELSE 'upsert' END AS op
         |FROM seed""".stripMargin

    spark.sql(
      s"""MERGE INTO graft.pages t USING (${src(1700000000000000L, 10)}) s
         |ON t.url = s.url
         |WHEN MATCHED AND s.op = 'delete' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val after1 = spark.sql("SELECT * FROM graft.pages").collect()
    // 40 urls from ids 0..99: url k gets ids {k, k+40} plus {k+80} when k<20.
    // The WINNER (max warc_ts ≡ max id) decides; a winning delete tombstones.
    def winner(k: Int): Int = if (k < 20) k + 80 else k + 40
    val deleted1 = (0 until 40).count(k => winner(k) % 10 == 3)
    assert(after1.length == 40 - deleted1)

    // second merge: later timestamps win; different delete pattern
    spark.sql(
      s"""MERGE INTO graft.pages t USING (${src(1800000000000000L, 7)}) s
         |ON t.url = s.url
         |WHEN MATCHED AND s.op = 'delete' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val after2 = spark.sql("SELECT url, text FROM graft.pages").collect()
    val deleted2 = (0 until 40).count(k => winner(k) % 7 == 3)
    assert(after2.length == 40 - deleted2)
    // text extraction ran engine-side on the html payload (u1's winner is
    // id 81, which neither delete pattern hits)
    val t = after2.find(_.getString(0) == "u1").map(_.getString(1))
    assert(t.contains("doc 81"))

    // exactly-once markers: two SQL merges → two batches, ids in the
    // reserved SQL domain (disjoint from streaming checkpoint epochs)
    val lake = new GraftCatalog {
      initialize("graft", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    }.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "pages"))
      .asInstanceOf[GraftSqlTable].lake
    assert(lake.currentSnapshot.batches.map(_.batchId) ==
      Seq(GraftRowLevel.SqlBatchIdBit, GraftRowLevel.SqlBatchIdBit + 1L))
  }

  test("MERGE shape validation: non-canonical merges are rejected, not mis-executed") {
    enable()
    spark.sql("CREATE TABLE graft.val (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='2')")
    spark.range(5).createOrReplaceTempView("vseed")
    val srcSql =
      """SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
        |  cast('<p>x</p>' AS BINARY) AS html, CAST(NULL AS STRING) AS text,
        |  CAST(NULL AS BIGINT) AS content_len, 'en' AS lang, 'upsert' AS op FROM vseed""".stripMargin
    def m(body: String) =
      spark.sql(s"MERGE INTO graft.val t USING ($srcSql) s ON t.url = s.url\n$body")

    // MERGE without WHEN NOT MATCHED previously still inserted unmatched rows
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      m("WHEN MATCHED THEN UPDATE SET *"))
    assert(e1.getMessage.contains("INSERT"))
    // partial UPDATE SET was silently treated as SET *
    intercept[org.apache.spark.sql.AnalysisException](
      m("WHEN MATCHED THEN UPDATE SET lang = s.lang WHEN NOT MATCHED THEN INSERT *"))
    // conditions on UPDATE were silently dropped
    intercept[org.apache.spark.sql.AnalysisException](
      m("WHEN MATCHED AND s.op = 'upsert' THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    // conditions on INSERT were silently dropped
    intercept[org.apache.spark.sql.AnalysisException](
      m("WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED AND s.op = 'upsert' THEN INSERT *"))
    // a non-url ON clause was silently merged on url anyway
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql(s"""MERGE INTO graft.val t USING ($srcSql) s ON t.lang = s.lang
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    // nothing committed by any rejected statement
    assert(spark.sql("SELECT * FROM graft.val").count() == 0)

    // the canonical shape (with and without the conditional DELETE) works
    m("WHEN MATCHED AND s.op = 'delete' THEN DELETE WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    m("WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql("SELECT * FROM graft.val").count() == 5)
  }

  test("SELECT equals the library read() path, including MOR delta resolve") {
    enable()
    spark.sql("CREATE TABLE graft.morpages (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    spark.conf.set(GraftSql.MergeModeConf, "mor")
    try {
      spark.range(60).createOrReplaceTempView("seed2")
      (0 until 3).foreach { round =>
        spark.sql(
          s"""MERGE INTO graft.morpages t USING (
             |  SELECT concat('u', id % 25) AS url,
             |    timestamp_micros(${1700000000000000L + round * 1000000L} + id) AS warc_ts,
             |    cast(concat('<b>r$round-', id, '</b>') AS BINARY) AS html,
             |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
             |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
             |    CASE WHEN id % 11 = 5 THEN 'delete' ELSE 'upsert' END AS op
             |  FROM seed2) s
             |ON t.url = s.url
             |WHEN MATCHED AND s.op = 'delete' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
    } finally spark.conf.unset(GraftSql.MergeModeConf)

    val viaSql = spark.sql("SELECT url, text, content_len FROM graft.morpages")
      .collect().map(_.toString).sorted
    val lakeRoot = java.nio.file.Paths.get(wh, "morpages")
    val viaLib = graft.lake.LakeTable.load(lakeRoot).read(spark)
      .select(col("url"), col("text"), col("content_len"))
      .collect().map(_.toString).sorted
    assert(viaSql.nonEmpty)
    assert(viaSql.sameElements(viaLib),
      s"only-sql=${viaSql.diff(viaLib).take(5).mkString(";")} only-lib=${viaLib.diff(viaSql).take(5).mkString(";")}")
  }

  test("url point-lookup pushdown prunes to one bucket; results identical") {
    enable()
    // reuse morpages (4 buckets, multiple delta files per bucket)
    val full = spark.sql("SELECT * FROM graft.morpages WHERE url = 'u7'").collect()
    assert(full.length == 1)
    // plan shows the pushed key and reads strictly fewer partitions
    val df = spark.sql("SELECT * FROM graft.morpages WHERE url = 'u7'")
    val scans = df.queryExecution.executedPlan.collectLeaves()
    val desc = scans.map(_.toString).mkString("\n")
    assert(desc.contains("urlKeys=u7"), desc.take(500))
    val allParts = spark.sql("SELECT * FROM graft.morpages").queryExecution
      .executedPlan.collectLeaves().head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.size
    val pointParts = df.queryExecution
      .executedPlan.collectLeaves().head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .inputPartitions.size
    assert(pointParts == 1 && allParts == 4, s"point=$pointParts all=$allParts")
    // IN-list across several urls: at most one bucket per key
    val in3 = spark.sql("SELECT url FROM graft.morpages WHERE url IN ('u1','u2','u7')")
    assert(in3.collect().map(_.getString(0)).sorted.sameElements(Array("u1", "u2", "u7")))
    // a key that hashes to an existing bucket but matches no row: pruned read, empty result
    assert(spark.sql("SELECT * FROM graft.morpages WHERE url = 'nope'").count() == 0)
  }

  test("column pruning: the merge scan never requests unprojected payload columns") {
    enable()
    // morpages has MOR deltas, so SELECTs go through the k-way merge scan
    val slim = spark.sql("SELECT url, content_len FROM graft.morpages")
    val scan = slim.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec"))
    assert(scan.output.map(_.name) == Seq("url", "content_len"),
      s"scan not pruned: ${scan.output.map(_.name)}")
    assert(scan.scan.description().contains("columns=[url,content_len]"),
      s"description: ${scan.scan.description()}")
    // values identical to the unpruned read (LWW resolution still exact —
    // the merge internals are read regardless of the projection)
    val unpruned = spark.sql("SELECT * FROM graft.morpages")
      .select("url", "content_len").collect().map(_.toString).sorted.toSeq
    assert(slim.collect().map(_.toString).sorted.toSeq == unpruned)
    // projection WITHOUT url (the group key lives only inside the merge):
    // aggregates remain exact, tombstones still excluded
    val n = spark.sql("SELECT count(*) AS n FROM graft.morpages").head().getLong(0)
    assert(n == unpruned.size.toLong)
  }

  test("MERGE INTO a v1 (pre-evolution) table: SET */INSERT * validate against v1 columns") {
    enable()
    spark.sql("DROP TABLE IF EXISTS graft.mv1")
    spark.sql("CREATE TABLE graft.mv1 (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len INT) USING graft TBLPROPERTIES('buckets'='2')")
    spark.sql(
      """INSERT INTO graft.mv1
        |SELECT concat('m', id), timestamp_micros(1700000000000000 + id),
        |  cast(concat('<p>old-', id, '</p>') AS BINARY), CAST(NULL AS STRING), CAST(NULL AS INT)
        |FROM range(5)""".stripMargin)
    // the canonical MERGE shape with a v1-shaped source resolves SET */
    // INSERT * to the TABLE's 5 columns — validation must accept that as
    // star-complete (checking the compile-time-current v2 schema would
    // reject every MERGE into a not-yet-ALTERed table)
    spark.sql(
      """MERGE INTO graft.mv1 t USING (
        |  SELECT concat('m', id) AS url,
        |         timestamp_micros(1800000000000000 + id) AS warc_ts,
        |         cast(concat('<p>new-', id, '</p>') AS BINARY) AS html,
        |         CAST(NULL AS STRING) AS text, CAST(NULL AS INT) AS content_len
        |  FROM range(3)) s
        |ON t.url = s.url
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.mv1").head().getLong(0) == 5)
    assert(spark.sql("SELECT text FROM graft.mv1 WHERE url = 'm1'").head().getString(0) == "new-1")
    spark.sql("DROP TABLE graft.mv1")
  }

  test("ALTER TABLE evolves schema: v1 create → insert → ADD COLUMN → merge → mixed read, all SQL") {
    enable()
    // v1 schema: content_len INT, no lang
    spark.sql("CREATE TABLE graft.ev (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len INT) USING graft TBLPROPERTIES('buckets'='2')")
    val s1 = spark.table("graft.ev").schema
    assert(!s1.fieldNames.contains("lang"))
    assert(s1("content_len").dataType == org.apache.spark.sql.types.IntegerType)

    spark.sql(
      """INSERT INTO graft.ev
        |SELECT concat('e', id), timestamp_micros(1700000000000000 + id),
        |  cast(concat('<p>v1-', id, '</p>') AS BINARY), CAST(NULL AS STRING), CAST(NULL AS INT)
        |FROM range(20)""".stripMargin)
    assert(spark.sql("SELECT * FROM graft.ev").count() == 20)

    // evolution outside the versioned delta is rejected
    intercept[Exception](spark.sql("ALTER TABLE graft.ev ADD COLUMN bogus DOUBLE"))
    intercept[Exception](spark.sql("ALTER TABLE graft.ev DROP COLUMN text"))

    // the real evolution: ADD COLUMN lang (carries the content_len widen of
    // the same version step, as documented)
    spark.sql("ALTER TABLE graft.ev ADD COLUMN lang STRING")
    val s2 = spark.table("graft.ev").schema
    assert(s2.fieldNames.contains("lang"))
    assert(s2("content_len").dataType == org.apache.spark.sql.types.LongType)

    // MERGE against the ALTERed table (v2 source with lang), LWW over v1
    // rows — in MOR mode so v1 base files and v2 delta files COEXIST and the
    // SQL read exercises the mixed-version k-way resolve
    spark.conf.set(GraftSql.MergeModeConf, "mor")
    try {
      spark.range(10).createOrReplaceTempView("evseed")
      spark.sql(
        """MERGE INTO graft.ev t USING (
          |  SELECT concat('e', id) AS url, timestamp_micros(1900000000000000 + id) AS warc_ts,
          |    cast(concat('<p>v2-', id, '</p>') AS BINARY) AS html, CAST(NULL AS STRING) AS text,
          |    CAST(NULL AS BIGINT) AS content_len, 'fr' AS lang FROM evseed) s
          |ON t.url = s.url
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    } finally spark.conf.unset(GraftSql.MergeModeConf)
    val rows = spark.sql("SELECT url, lang, text FROM graft.ev").collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)), r.getString(2))).toMap
    assert(rows.size == 20)
    // v2-era winners carry lang; v1-era rows read as null lang
    assert(rows("e3") == (Some("fr"), "v2-3"))
    assert(rows("e15") == (None, "v1-15"))
    // physical files span both versions under one table
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "ev"))
    assert(lake.currentSnapshot.files.map(_.schemaVersion).toSet == Set(1, 2))

    // the widen-only route works too
    spark.sql("CREATE TABLE graft.ev2 (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len INT) USING graft TBLPROPERTIES('buckets'='2')")
    spark.sql("ALTER TABLE graft.ev2 ALTER COLUMN content_len TYPE BIGINT")
    assert(spark.table("graft.ev2").schema.fieldNames.contains("lang"))
    // idempotent: altering an already-current table with an in-delta change fails cleanly
    intercept[Exception](spark.sql("ALTER TABLE graft.ev2 ADD COLUMN lang STRING"))
  }

  test("time travel: SELECT ... VERSION AS OF reads an earlier snapshot") {
    enable()
    spark.sql("DROP TABLE IF EXISTS graft.tt2")
    spark.sql("CREATE TABLE graft.tt2 (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='2')")
    spark.sql(
      """INSERT INTO graft.tt2
        |SELECT concat('v', id), timestamp_micros(1700000000000000 + id),
        |  cast('<p>a</p>' AS BINARY), CAST(NULL AS STRING), CAST(NULL AS BIGINT), 'en'
        |FROM range(10)""".stripMargin)
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "tt2"))
    val v1 = lake.currentSnapshotId
    spark.sql(
      """INSERT INTO graft.tt2
        |SELECT concat('v', id + 100), timestamp_micros(1800000000000000 + id),
        |  cast('<p>b</p>' AS BINARY), CAST(NULL AS STRING), CAST(NULL AS BIGINT), 'en'
        |FROM range(5)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.tt2").head().getLong(0) == 15)
    assert(spark.sql(s"SELECT count(*) FROM graft.tt2 VERSION AS OF $v1").head().getLong(0) == 10)
    intercept[Exception](
      spark.sql("SELECT * FROM graft.tt2 VERSION AS OF 99999").collect())
  }

  test("time travel: TIMESTAMP AS OF resolves by strictly monotonic commit stamps") {
    enable()
    spark.sql("DROP TABLE IF EXISTS graft.tt3")
    spark.sql("CREATE TABLE graft.tt3 (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='2')")
    def insert(base: Long, n: Int): Unit = spark.sql(
      s"""INSERT INTO graft.tt3
         |SELECT concat('w', id + $base), timestamp_micros(1700000000000000 + $base + id),
         |  cast('<p>x</p>' AS BINARY), CAST(NULL AS STRING), CAST(NULL AS BIGINT), 'en'
         |FROM range($n)""".stripMargin)
    insert(0, 10)
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "tt3"))
    val v1 = lake.currentSnapshotId
    insert(100, 5)

    // stamps exist and strictly increase across ALL snapshots (two commits
    // inside one millisecond must still be totally ordered)
    val stamps = lake.snapshotIds.map(lake.snapshot(_).commitTsMs)
    assert(stamps.forall(_ >= 0))
    assert(stamps.zip(stamps.tail).forall { case (a, b) => a < b }, stamps)

    def fmt(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    def countAsOf(ms: Long): Long =
      spark.sql(s"SELECT count(*) FROM graft.tt3 TIMESTAMP AS OF '${fmt(ms)}'")
        .head().getLong(0)

    // every retained snapshot is addressable at exactly its commit stamp,
    // and 1ms earlier resolves to its parent
    for (id <- lake.snapshotIds) {
      val s = lake.snapshot(id)
      val atVersion = spark.sql(s"SELECT count(*) FROM graft.tt3 VERSION AS OF $id")
        .head().getLong(0)
      assert(countAsOf(s.commitTsMs) == atVersion, s"as-of stamp of snapshot $id")
      if (s.parentId >= 0)
        assert(countAsOf(s.commitTsMs - 1) ==
          spark.sql(s"SELECT count(*) FROM graft.tt3 VERSION AS OF ${s.parentId}")
            .head().getLong(0), s"as-of stamp-1ms of snapshot $id")
    }
    // before genesis → loud error; far future → current state
    val oldest = lake.snapshot(lake.snapshotIds.head).commitTsMs
    val e = intercept[Exception](countAsOf(oldest - 1))
    assert(e.getMessage != null)
    assert(countAsOf(System.currentTimeMillis() + 3600000L) == 15)

    // DataFrame read option equivalence (library surface, no SQL parser)
    val viaOption = spark.read
      .option("asOfTimestampMs", lake.snapshot(v1).commitTsMs.toString)
      .table("graft.tt3").count()
    assert(viaOption == 10)

    // $snapshots surfaces the stamps (null would mean a pre-stamp manifest)
    val metaStamps = spark.sql(
      "SELECT snapshot_id, commit_ts_ms FROM graft.`tt3$snapshots` ORDER BY snapshot_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(metaStamps.map(_._2).toSeq == stamps)

    // a rollback is a NEW commit at now: stamps stay monotonic and the
    // rollback snapshot is what TIMESTAMP AS OF now resolves to
    spark.sql(s"CALL graft.system.rollback_to_snapshot('tt3', $v1)").collect()
    val after = lake.snapshotIds.map(lake.snapshot(_).commitTsMs)
    assert(after.zip(after.tail).forall { case (a, b) => a < b }, after)
    assert(countAsOf(System.currentTimeMillis() + 3600000L) == 10)

    // legacy manifests (no commit_ts_ms) read back as unstamped and are
    // refused timestamp resolution rather than silently mis-resolved
    val legacy = graft.lake.Snapshot.fromJson(
      lake.currentSnapshot.copy(commitTsMs = -1L).toJson)
    assert(legacy.commitTsMs == -1L)
  }

  test("expire_snapshots(older_than): time-based retention off commit stamps") {
    enable()
    spark.sql("DROP TABLE IF EXISTS graft.tt4")
    spark.sql("CREATE TABLE graft.tt4 (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='2')")
    for (i <- 0 until 3) spark.sql(
      s"""INSERT INTO graft.tt4
         |SELECT concat('e', id + ${i * 100}), timestamp_micros(1700000000000000 + $i),
         |  cast('<p>x</p>' AS BINARY), CAST(NULL AS STRING), CAST(NULL AS BIGINT), 'en'
         |FROM range(3)""".stripMargin)
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "tt4"))
    val ids = lake.snapshotIds
    assert(ids.size == 4, ids) // create + 3 inserts
    // cutoff at the second insert's stamp: snapshots 0 and 1 are older,
    // snapshot 2 is retained by its stamp even though keep_last is 1
    val cut = lake.snapshot(ids(2)).commitTsMs
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(cut))
    val r = spark.sql(
      s"CALL graft.system.expire_snapshots('tt4', 1, TIMESTAMP '$fmt')").collect()
    assert(r.head.getLong(0) == 2, s"expired ${r.head.getLong(0)} snapshots")
    assert(lake.snapshotIds == ids.drop(2), lake.snapshotIds)
    // retained span still readable; final state untouched
    assert(spark.sql(s"SELECT count(*) FROM graft.tt4 VERSION AS OF ${ids(2)}")
      .head().getLong(0) == 6)
    assert(spark.sql("SELECT count(*) FROM graft.tt4").head().getLong(0) == 9)
    // omitted older_than (NULL default) = pure count-based expiry, as before
    val r2 = spark.sql("CALL graft.system.expire_snapshots('tt4', 1)").collect()
    assert(r2.head.getLong(0) == 1)
    assert(lake.snapshotIds == ids.takeRight(1), lake.snapshotIds)
  }

  test("DELETE FROM plans onto the tombstone merge: durable, exactly-once, LWW-composed") {
    enable()
    spark.sql("CREATE TABLE graft.del (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    spark.range(20).createOrReplaceTempView("dseed")
    def merge(tsBase: Long, where: String = "TRUE"): Unit = spark.sql(
      s"""MERGE INTO graft.del t USING (
         |  SELECT concat('u', id) AS url, timestamp_micros($tsBase + id) AS warc_ts,
         |    cast(concat('<p>v$tsBase ', id, '</p>') AS BINARY) AS html,
         |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
         |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
         |    'upsert' AS op
         |  FROM dseed WHERE $where) s
         |ON t.url = s.url
         |WHEN MATCHED AND s.op = 'delete' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
    merge(2000000000000000L)
    assert(spark.sql("SELECT * FROM graft.del").count() == 20)

    spark.sql("DELETE FROM graft.del WHERE url IN ('u3', 'u7') OR url = 'u11'")
    val after = spark.sql("SELECT url FROM graft.del").collect().map(_.getString(0)).toSet
    assert(after.size == 17 && !after("u3") && !after("u7") && !after("u11"))

    // a LATER CDC event (greater warc_ts) beats the tombstone — u3 returns
    merge(3000000000000000L, where = "id = 3")
    assert(spark.sql("SELECT url FROM graft.del WHERE url = 'u3'").count() == 1)
    // an EARLIER (stale/replayed) event does NOT resurrect u7 (T7)
    merge(1000000000000000L, where = "id = 7")
    assert(spark.sql("SELECT url FROM graft.del WHERE url = 'u7'").count() == 0)

    // DELETE with no matches is a clean no-op
    spark.sql("DELETE FROM graft.del WHERE url = 'u999'")
    assert(spark.sql("SELECT * FROM graft.del").count() == 18)
    // subqueries are rejected loudly, not mis-planned
    intercept[Exception](spark.sql(
      "DELETE FROM graft.del WHERE url IN (SELECT concat('u', id) FROM dseed)"))
  }

  test("point DELETE/UPDATE prune the matched-row read to the keys' buckets") {
    enable()
    spark.sql("CREATE TABLE graft.pdel (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    spark.range(40).createOrReplaceTempView("pdseed")
    spark.sql(
      """MERGE INTO graft.pdel t USING (
        |  SELECT concat('u', id) AS url, timestamp_micros(2000000000000000 + id) AS warc_ts,
        |    cast(concat('<p>v ', id, '</p>') AS BINARY) AS html,
        |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
        |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
        |    'upsert' AS op
        |  FROM pdseed) s
        |ON t.url = s.url
        |WHEN MATCHED AND s.op = 'delete' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    // the statement's matched-row reads: every graft BatchScan in the
    // queries it ran (read from Spark's listener channel), with its pushdown
    // description and planned input partitions
    def matchedScans(stmt: String): Seq[(String, Int)] = {
      val scans = captureQueries(spark.sql(stmt): Unit)
        .flatMap(qe => graftScans(qe.executedPlan))
      assert(scans.nonEmpty, s"no graft BatchScan ran for: $stmt")
      scans.map(b => (b.toString, b.inputPartitions.size))
    }

    // point DELETE: the matched-row read must push the key and scan at most
    // the key's single hash bucket, not all 4
    matchedScans("DELETE FROM graft.pdel WHERE url = 'u5'").foreach { case (dDesc, dParts) =>
      assert(dDesc.contains("urlKeys=u5"), dDesc.take(800))
      assert(dParts <= 1, s"point DELETE read $dParts partitions, want <=1")
    }
    assert(spark.sql("SELECT * FROM graft.pdel WHERE url = 'u5'").count() == 0)
    assert(spark.sql("SELECT * FROM graft.pdel").count() == 39)

    // IN-list UPDATE: at most one bucket per key
    matchedScans("UPDATE graft.pdel SET lang = 'de' WHERE url IN ('u1', 'u2', 'u7')")
      .foreach { case (uDesc, uParts) =>
        assert(uDesc.contains("urlKeys="), uDesc.take(800))
        assert(uParts <= 3, s"3-key UPDATE read $uParts partitions, want <=3")
      }
    assert(spark.sql("SELECT * FROM graft.pdel WHERE lang = 'de'").count() == 3)

    // non-key predicates still work (full scan is the correct plan there)
    matchedScans("DELETE FROM graft.pdel WHERE content_len >= 8").foreach { case (nDesc, _) =>
      assert(!nDesc.contains("urlKeys="), "non-url predicate must not fake a key prune")
    }
  }

  test("SQL row-level envelopes live in a reserved offset domain: no binlog tie possible") {
    enable()
    spark.sql("CREATE TABLE graft.env (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    def merge(ts: Long, offset: Long, body: String): Unit = spark.sql(
      s"""MERGE INTO graft.env t USING (
         |  SELECT 'u1' AS url, timestamp_micros($ts) AS warc_ts,
         |    cast('<p>$body</p>' AS BINARY) AS html,
         |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
         |    'en' AS lang, CAST($offset AS LONG) AS offset, CAST(0 AS INT) AS partition,
         |    'upsert' AS op) s
         |ON t.url = s.url
         |WHEN MATCHED AND s.op = 'delete' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
    val T = 2000000000000000L
    merge(T, 5L, "orig")
    spark.sql("DELETE FROM graft.env WHERE url = 'u1'")

    // the synthesized tombstone's offset carries the reserved high bit —
    // outside anything a binlog reader (file byte offsets) or streaming
    // epoch (epochId<<32) can assign
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh).resolve("env"))
    val tomb = GraftRead.rawResolved(spark, lake)
      .filter(col("url") === "u1").select(col("_seq_offset"), col("_deleted")).head()
    assert(tomb.getBoolean(1), "u1 must be tombstoned")
    assert((tomb.getLong(0) & GraftRowLevel.SqlEnvelopeOffsetBit) != 0L,
      s"synthesized offset ${tomb.getLong(0)} must carry the reserved bit")
    assert((tomb.getLong(0) & ~GraftRowLevel.SqlEnvelopeOffsetBit) == 6L,
      "and still advance the stored offset by one within the domain")

    // the collision the domain exists to prevent: a binlog event at the
    // EXACT (warc_ts, offset=stored+1, partition) the pre-fix code
    // synthesized — an exact total-order tie with an arbitrary winner then;
    // now the tombstone's reserved-domain offset deterministically wins
    merge(T, 6L, "tie-attacker")
    assert(spark.sql("SELECT * FROM graft.env WHERE url = 'u1'").count() == 0,
      "an equal-warc_ts binlog event must lose to the SQL tombstone")
    // the one LWW rule is unchanged: a strictly later event still wins
    merge(T + 1L, 0L, "later")
    assert(spark.sql("SELECT text FROM graft.env WHERE url = 'u1'").head().getString(0) == "later")

    // chaining stays monotonic inside the domain: UPDATE over a previous
    // command's output keeps the bit and advances the offset
    spark.sql("UPDATE graft.env SET lang = 'de' WHERE url = 'u1'")
    spark.sql("UPDATE graft.env SET lang = 'fr' WHERE url = 'u1'")
    val r = GraftRead.rawResolved(spark, lake)
      .filter(col("url") === "u1").select(col("_seq_offset"), col("lang")).head()
    assert(r.getString(1) == "fr")
    assert((r.getLong(0) & GraftRowLevel.SqlEnvelopeOffsetBit) != 0L)
    assert((r.getLong(0) & ~GraftRowLevel.SqlEnvelopeOffsetBit) == 2L,
      "two chained commands advance twice from offset 0")
  }

  test("UPDATE assigns changelog columns; derived columns re-derive; bad SETs rejected") {
    enable()
    spark.sql("CREATE TABLE graft.upd (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    spark.range(10).createOrReplaceTempView("useed")
    spark.sql(
      """MERGE INTO graft.upd t USING (
        |  SELECT concat('u', id) AS url, timestamp_micros(2000000000000000 + id) AS warc_ts,
        |    cast(concat('<p>orig ', id, '</p>') AS BINARY) AS html,
        |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
        |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
        |    'upsert' AS op
        |  FROM useed) s
        |ON t.url = s.url
        |WHEN MATCHED AND s.op = 'delete' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    spark.sql("""UPDATE graft.upd SET html = cast('<p>patched</p>' AS BINARY), lang = 'de'
                |WHERE url IN ('u2', 'u5')""".stripMargin)
    val rows = spark.sql("SELECT url, text, content_len, lang, unix_micros(warc_ts) FROM graft.upd")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(rows("u2")._1 == "patched" && rows("u2")._3 == "de", s"got ${rows("u2")}")
    assert(rows("u2")._2 == "<p>patched</p>".length.toLong)
    assert(rows("u2")._4 == 2000000000000002L, "warc_ts must be preserved when not assigned")
    assert(rows("u5")._1 == "patched" && rows("u7")._1 == "orig 7" && rows("u7")._3 == "en")

    // UPDATE with no WHERE touches every live row
    spark.sql("UPDATE graft.upd SET lang = 'fr'")
    assert(spark.sql("SELECT * FROM graft.upd WHERE lang = 'fr'").count() == 10)

    // key / derived-column assignments are rejected, not silently wrong
    intercept[Exception](spark.sql("UPDATE graft.upd SET url = 'u99' WHERE url = 'u1'"))
    intercept[Exception](spark.sql("UPDATE graft.upd SET text = 'x' WHERE url = 'u1'"))
    intercept[Exception](spark.sql("UPDATE graft.upd SET content_len = 5 WHERE url = 'u1'"))
    // subqueries are rejected loudly in BOTH positions — the WHERE clause
    // and the assignment value (byName re-anchors only top-level attributes,
    // so an unrejected SET-subquery would fail unresolvably mid-merge)
    spark.range(3).createOrReplaceTempView("usub")
    intercept[Exception](spark.sql(
      "UPDATE graft.upd SET lang = 'de' WHERE url IN (SELECT concat('u', id) FROM usub)"))
    intercept[Exception](spark.sql(
      "UPDATE graft.upd SET lang = (SELECT first(cast(id AS STRING)) FROM usub) WHERE url = 'u1'"))
  }

  test("INSERT INTO appends as an upsert MERGE batch (LWW against stored rows)") {
    enable()
    spark.sql("CREATE TABLE graft.ins (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    spark.sql(
      """INSERT INTO graft.ins
        |SELECT concat('w', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
        |  cast(concat('<i>v1-', id, '</i>') AS BINARY) AS html,
        |  CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len, 'en' AS lang
        |FROM range(30)""".stripMargin)
    assert(spark.sql("SELECT * FROM graft.ins").count() == 30)
    // second insert with LATER timestamps for half the urls → LWW replace
    spark.sql(
      """INSERT INTO graft.ins
        |SELECT concat('w', id) AS url, timestamp_micros(1800000000000000 + id) AS warc_ts,
        |  cast(concat('<i>v2-', id, '</i>') AS BINARY) AS html,
        |  CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len, 'en' AS lang
        |FROM range(15)""".stripMargin)
    val rows = spark.sql("SELECT url, text FROM graft.ins").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.size == 30)
    assert(rows("w3") == "v2-3" && rows("w20") == "v1-20")
    // text/content_len are engine-derived from html (extraction ran)
    val cl = spark.sql("SELECT content_len FROM graft.ins WHERE url = 'w3'").head().getLong(0)
    assert(cl == "<i>v2-3</i>".length)
    // each INSERT committed as one exactly-once batch in the SQL id domain
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "ins"))
    assert(lake.currentSnapshot.batches.map(_.batchId) ==
      Seq(GraftRowLevel.SqlBatchIdBit, GraftRowLevel.SqlBatchIdBit + 1L))
    // staging cleaned up
    assert(!java.nio.file.Files.isDirectory(lake.root.resolve("staging")) ||
      { val s = java.nio.file.Files.list(lake.root.resolve("staging"))
        try !s.findFirst().isPresent finally s.close() })
  }

  test("INSERT OVERWRITE replaces the whole table state in ONE atomic commit") {
    enable()
    spark.sql("""CREATE TABLE graft.ovr (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='4')""".stripMargin)
    spark.range(20).createOrReplaceTempView("ovr_seed")
    spark.sql("""MERGE INTO graft.ovr t USING (
                |  SELECT concat('old', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
                |    cast(concat('<o>', id, '</o>') AS BINARY) AS html,
                |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
                |    'upsert' AS op FROM ovr_seed) s
                |ON t.url = s.url
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("DELETE FROM graft.ovr WHERE url = 'old3'")
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "ovr"))
    val before = lake.currentSnapshotId
    assert(lake.currentSnapshot.batches.size == 2) // merge + delete markers

    // 40 rows over 20 urls: in-overwrite duplicates resolve LWW
    spark.sql("""INSERT OVERWRITE graft.ovr
                |SELECT concat('new', id % 20) AS url,
                |  timestamp_micros(1800000000000000 + id) AS warc_ts,
                |  cast(concat('<n>', id, '</n>') AS BINARY) AS html,
                |  CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                |  'de' AS lang FROM range(40)""".stripMargin)
    val rows = spark.sql("SELECT url, text, lang FROM graft.ovr").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows.size == 20 && rows.keys.forall(_.startsWith("new")),
      s"overwrite must replace ALL old urls: ${rows.keys.toSeq.sorted.take(5)}")
    assert(rows("new3") == (("23", "de")), s"LWW in-overwrite winner: ${rows("new3")}")
    // ONE commit: files AND markers replaced together
    val snap = lake.currentSnapshot
    assert(lake.currentSnapshotId == before + 1,
      "overwrite must be ONE atomic commit, not truncate-then-insert")
    assert(snap.batches.size == 1 &&
      (snap.batches.head.batchId & GraftRowLevel.SqlBatchIdBit) != 0L,
      s"markers must restart at the overwrite's own SQL-domain marker: ${snap.batches}")
    // pre-overwrite state stays time-travel readable
    assert(spark.sql(s"SELECT count(*) FROM graft.ovr VERSION AS OF $before")
      .head().getLong(0) == 19)

    // an incremental consumer whose cursor predates the overwrite fails
    // LOUDLY (marker-prefix guard): count-based detection would let this
    // 1-marker-to-1-marker case masquerade as maintenance after a second
    // overwrite — assert the guard keys on the ids, not the count
    spark.sql("""INSERT OVERWRITE graft.ovr
                |SELECT 'solo' AS url, timestamp_micros(1900000000000000) AS warc_ts,
                |  cast('<s/>' AS BINARY) AS html, CAST(NULL AS STRING) AS text,
                |  CAST(NULL AS BIGINT) AS content_len, 'fr' AS lang""".stripMargin)
    val e = intercept[IllegalStateException](
      lake.incrementFilesBySnapshot(before + 1, lake.currentSnapshotId))
    assert(e.getMessage.contains("REWRITE") && e.getMessage.contains("OVERWRITE"),
      s"got: ${e.getMessage}")

    // empty-source overwrite == truncate (state empty, markers cleared)
    spark.sql("INSERT OVERWRITE graft.ovr SELECT * FROM graft.ovr WHERE url = 'nope'")
    assert(spark.sql("SELECT count(*) FROM graft.ovr").head().getLong(0) == 0)
    assert(graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "ovr"))
      .currentSnapshot.batches.isEmpty)
  }

  test("CREATE TABLE AS SELECT: create + insert as one statement") {
    enable()
    // CTAS goes through createTable (schema validated against the web-page
    // schema) then the same staged-upsert write INSERT uses — duplicates in
    // the SELECT resolve LWW and text/content_len are engine-derived
    spark.sql(
      """CREATE TABLE graft.ctas USING graft TBLPROPERTIES('buckets'='4')
        |AS SELECT concat('c', id % 20) AS url,
        |  timestamp_micros(1700000000000000 + id) AS warc_ts,
        |  cast(concat('<b>', id, '</b>') AS BINARY) AS html,
        |  CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
        |  'en' AS lang
        |FROM range(40)""".stripMargin)
    val rows = spark.sql("SELECT url, text FROM graft.ctas").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // 40 rows over 20 urls: the later id (higher warc_ts) wins each url
    assert(rows.size == 20, s"got ${rows.size}")
    assert(rows("c3") == "23" && rows("c19") == "39",
      s"LWW winner must be the higher-timestamp duplicate: $rows")
    // invalid CTAS schema fails loudly and leaves no table behind
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.ctasbad USING graft AS SELECT 1 AS nope"))
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .forall(_.getString(1) != "ctasbad"))
  }

  test("metadata tables: $snapshots / $files / $batches") {
    enable()
    spark.sql("""CREATE TABLE graft.meta1 (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='2')""".stripMargin)
    spark.range(10).createOrReplaceTempView("mseed")
    spark.sql("""MERGE INTO graft.meta1 t USING (
                |  SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
                |    cast(concat('<p>', id, '</p>') AS BINARY) AS html,
                |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
                |    'upsert' AS op
                |  FROM mseed) s
                |ON t.url = s.url
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("DELETE FROM graft.meta1 WHERE url = 'u1'")

    val snaps = spark.sql(
      "SELECT snapshot_id, parent_id, total_rows FROM graft.`meta1$snapshots` ORDER BY snapshot_id")
      .collect()
    assert(snaps.length >= 3, s"create + merge + delete: got ${snaps.length}")
    // parent chain is consistent and ids ascend
    snaps.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(1) == a.getLong(0) && b.getLong(0) > a.getLong(0))
      case _ =>
    }

    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "meta1"))
    val files = spark.sql("SELECT path, bucket, row_count FROM graft.`meta1$files`").collect()
    assert(files.length == lake.currentSnapshot.files.size)
    assert(files.map(_.getLong(2)).sum == lake.currentSnapshot.files.map(_.rowCount).sum)

    val batches = spark.sql("SELECT batch_id, partition FROM graft.`meta1$batches`").collect()
    // two SQL commands, no lineage → one null-partition row each, ids in the
    // reserved SQL domain
    assert(batches.length == 2)
    assert(batches.forall(r => r.isNullAt(1) &&
      (r.getLong(0) & GraftRowLevel.SqlBatchIdBit) != 0L))

    // $partitions: per-bucket rollup consistent with $files (the skew /
    // delta-depth dashboard); bounds contain every file's bounds
    val parts = spark.sql(
      """SELECT bucket, n_files, n_delta_files, bytes, row_count, url_min, url_max
        |FROM graft.`meta1$partitions` ORDER BY bucket""".stripMargin).collect()
    val byBucket = lake.currentSnapshot.files.groupBy(_.bucket)
    assert(parts.length == byBucket.size)
    parts.foreach { r =>
      val fs = byBucket(r.getInt(0))
      assert(r.getInt(1) == fs.size && r.getLong(3) == fs.map(_.bytes).sum &&
        r.getLong(4) == fs.map(_.rowCount).sum &&
        r.getInt(2) == fs.count(_.tier > 0))
      // null bound = some file's bound is unknown (sentinel) — the view
      // must say "unknown" rather than a range narrower than the bucket
      assert(r.isNullAt(5) == fs.exists(_.urlMin == graft.lake.LakeTable.NoStatsMin))
      assert(r.isNullAt(6) == fs.exists(_.urlMax == graft.lake.LakeTable.NoStatsMax))
      assert(fs.forall(f =>
        (r.isNullAt(5) || graft.lake.LakeTable.compareUtf8(r.getString(5), f.urlMin) <= 0) &&
          (r.isNullAt(6) || graft.lake.LakeTable.compareUtf8(f.urlMax, r.getString(6)) <= 0)))
    }
    assert(parts.map(_.getLong(4)).sum == lake.currentSnapshot.files.map(_.rowCount).sum)

    // deleted url is gone from the data but the tombstone batch is audited
    assert(spark.sql("SELECT * FROM graft.meta1 WHERE url = 'u1'").count() == 0)
    // unknown base table still errors
    intercept[Exception](spark.sql("SELECT * FROM graft.`nope$snapshots`").collect())
  }

  test("$changes metadata table: the change feed in SQL (table_changes shape)") {
    enable()
    spark.sql("""CREATE TABLE graft.chg1 (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='2')""".stripMargin)
    def mergeSeed(n: Int, tsBase: Long, offBase: Long): Unit = {
      spark.range(n).createOrReplaceTempView("cseed")
      spark.sql(s"""MERGE INTO graft.chg1 t USING (
                  |  SELECT concat('u', id) AS url, timestamp_micros($tsBase + id) AS warc_ts,
                  |    cast(concat('<p>v$offBase-', id, '</p>') AS BINARY) AS html,
                  |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                  |    'en' AS lang, CAST($offBase + id AS LONG) AS offset,
                  |    CAST(0 AS INT) AS partition, 'upsert' AS op
                  |  FROM cseed) s
                  |ON t.url = s.url
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    mergeSeed(10, 1700000000000000L, 0L)  // u0..u9 v1
    mergeSeed(4, 1700000001000000L, 100L) // u0..u3 rewritten later
    spark.sql("DELETE FROM graft.chg1 WHERE url = 'u5'")

    val changes = spark.sql("SELECT * FROM graft.`chg1$changes`")
    // the feed carries envelopes + the committing snapshot
    assert(changes.columns.contains("_seq_offset") && changes.columns.contains("_feed_snapshot"))
    // every retained change: rewrites and the tombstone are all present
    assert(changes.count() > spark.table("graft.chg1").count())
    assert(changes.filter(org.apache.spark.sql.functions.col("_deleted")).count() >= 1)
    assert(changes.select("_feed_snapshot").distinct().count() >= 3)
    // LWW over the emitted changes reproduces the live table exactly
    val resolved = graft.lake.Resolve.lww(changes.drop("_feed_snapshot"),
        changes.columns.toSeq.filterNot(_.startsWith("_")))
      .filter(!org.apache.spark.sql.functions.col("_deleted"))
      .selectExpr("url", "unix_micros(warc_ts) AS us", "content_len")
      .collect().map(_.toString).sorted.toSeq
    val live = spark.sql(
        "SELECT url, unix_micros(warc_ts) AS us, content_len FROM graft.chg1")
      .collect().map(_.toString).sorted.toSeq
    assert(resolved == live, "LWW over $changes diverged from the live table")
    // unknown base table still errors
    intercept[Exception](spark.sql("SELECT * FROM graft.`nope$changes`").collect())

    // COLUMN PRUNING pushes into the feed scan: a projection that skips
    // `html` must not read it (the payload is the dominant scan cost)
    val slim = spark.sql("SELECT url, _feed_snapshot FROM graft.`chg1$changes`")
    val scan = slim.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the $changes plan"))
    assert(scan.output.map(_.name).toSet == Set("url", "_feed_snapshot"),
      s"feed scan not pruned: ${scan.output.map(_.name)}")
    assert(scan.scan.description().contains("columns=[url,_feed_snapshot]"),
      s"scan description: ${scan.scan.description()}")
    // and the pruned read returns the right values (projection remap +
    // synthesized _feed_snapshot under pruning)
    assert(slim.distinct().count() == changes.select("url", "_feed_snapshot").distinct().count())

    // URL POINT-HISTORY pushdown: "every change to url X" prunes the span's
    // files by manifest bounds (+ bloom when present) — u9 was written once
    // in the first merge, so the second merge's files ([u0,u3]) and the
    // tombstone file ([u5,u5]) must all be skipped
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec"))
    val hist = spark.sql("SELECT url, _feed_snapshot, _deleted FROM graft.`chg1$changes` WHERE url = 'u9'")
    val hScan = scanOf(hist)
    assert(hScan.scan.description().contains("urlKeys=u9"),
      s"description: ${hScan.scan.description()}")
    val allParts = scanOf(changes).inputPartitions.size
    val histParts = hScan.inputPartitions.size
    assert(histParts < allParts, s"point history not pruned: $histParts of $allParts")
    // COW rewrites re-emit unchanged rows (same envelope), so point history
    // is exact up to envelope-distinctness: u9 was written once, u2 twice
    assert(spark.sql("SELECT DISTINCT _seq_part, _seq_offset FROM graft.`chg1$changes` WHERE url = 'u9'")
      .count() == 1)
    assert(spark.sql("SELECT DISTINCT _seq_part, _seq_offset FROM graft.`chg1$changes` WHERE url = 'u2'")
      .count() == 2)

    // the same catalog table serves STREAMING: readStream.table tails the
    // feed (full-state batch 0 under the default attach, increments follow)
    val seen = new java.util.concurrent.atomic.AtomicLong
    val q = spark.readStream.table("graft.`chg1$changes`")
      .writeStream
      .option("checkpointLocation", tmpDir("chgck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(df.count()): Unit
      }
      .start()
    q.awaitTermination()
    val raw = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "chg1"))
      .readRaw(spark).count()
    assert(seen.get() == raw,
      s"full-state attach batch should emit exactly the table's physical rows ($raw), got ${seen.get()}")
  }

  test("scan statistics: manifest-exact sizes; dimension-sized graft tables broadcast in joins") {
    enable()
    spark.sql("""CREATE TABLE graft.dim (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='4')""".stripMargin)
    spark.range(60).createOrReplaceTempView("dim_seed")
    spark.sql(
      """MERGE INTO graft.dim t USING (
        |  SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
        |    cast(concat('<p>', id, '</p>') AS BINARY) AS html,
        |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
        |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
        |    'upsert' AS op FROM dim_seed) s
        |ON t.url = s.url
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh).resolve("dim"))
    val manifestBytes = lake.currentSnapshot.files.map(_.bytes).sum
    val manifestRows = lake.currentSnapshot.files.map(_.rowCount).sum

    // relation stats are the manifest's, not spark.sql.defaultSizeInBytes
    val full = spark.table("graft.dim")
    val st = full.queryExecution.optimizedPlan.stats
    assert(st.sizeInBytes == BigInt(manifestBytes),
      s"sizeInBytes ${st.sizeInBytes} != manifest $manifestBytes")
    assert(st.rowCount.contains(BigInt(manifestRows)))

    // a pushed point lookup shrinks the estimate to the key's bucket
    val point = full.where("url = 'u7'")
    val pst = point.queryExecution.optimizedPlan.stats
    assert(pst.sizeInBytes > 0 && pst.sizeInBytes < st.sizeInBytes,
      s"point-lookup stats ${pst.sizeInBytes} should be < full ${st.sizeInBytes}")

    // the payoff: a fact-side join statically plans a broadcast of the
    // graft table (no stats → defaultSizeInBytes → sort-merge + shuffle)
    val fact = spark.range(100000).selectExpr("concat('u', id % 60) AS url", "id AS v")
    val joined = fact.join(full, "url")
    val plan = joined.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a static broadcast join against the graft dimension table:\n$plan")
    assert(joined.count() == 100000)

    // the $changes/batch feed reports span-exact stats too
    val feed = spark.read.format("graft-feed")
      .option("path", lake.root.toString).load()
    val fst = feed.queryExecution.optimizedPlan.stats
    assert(fst.sizeInBytes == BigInt(manifestBytes),
      s"feed sizeInBytes ${fst.sizeInBytes} != span bytes $manifestBytes")
    // and a streaming feed (stats unavailable there) still plans + runs
    val ck = tmpDir("dimck").toString
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val q = spark.readStream.format("graft-feed")
      .option("path", lake.root.toString).load()
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        { seen.addAndGet(b.count()): Unit }: Unit)
      .start()
    q.awaitTermination()
    assert(seen.get() == 60)
  }

  test("runtime filtering: a selective broadcast join prunes the graft scan at execution") {
    enable()
    spark.sql("""CREATE TABLE graft.big (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
    spark.range(400).createOrReplaceTempView("big_seed")
    spark.sql(
      """MERGE INTO graft.big t USING (
        |  SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
        |    cast(concat('<p>', id, '</p>') AS BINARY) AS html,
        |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
        |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
        |    'upsert' AS op FROM big_seed) s
        |ON t.url = s.url
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val total = 400L
    // a selective dimension: the filter is on a NON-join column (k), so
    // Catalyst cannot infer any static url predicate onto the graft side —
    // only a runtime filter can prune its scan; the hint keeps the dim on
    // the build side (otherwise manifest-exact stats make the graft table
    // itself the broadcast candidate and there is no probe scan to prune)
    spark.range(500).selectExpr("concat('u', id) AS url", "id AS k")
      .where("k IN (7, 8)")
      .createOrReplaceTempView("big_dim")
    val joined = spark.sql(
      "SELECT /*+ BROADCAST(d) */ b.url, d.k FROM graft.big b JOIN big_dim d ON b.url = d.url")
    val rows = joined.collect()
    assert(rows.length == 2 && rows.map(_.getString(0)).sorted.sameElements(Array("u7", "u8")))
    // final (post-AQE) plan: the graft BatchScan carries a runtime filter,
    // and its output rows prove file-level pruning actually happened (only
    // the keys' buckets were read — no static pushdown, no row filter)
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scanNode = graftScans(finalPlan)
      .headOption.getOrElse(fail(s"no graft BatchScanExec in:\n$finalPlan"))
    assert(scanNode.runtimeFilters.nonEmpty,
      s"expected a dynamic-pruning runtime filter on the graft scan:\n$finalPlan")
    val scanned = scanNode.metrics("numOutputRows").value
    assert(scanned >= 2 && scanned < total,
      s"runtime filter should prune the scan below the full $total rows; read $scanned")
  }

  test("runtime filtering: runtime keys disjoint from the static url IN-list read one bucket, match nothing") {
    enable()
    spark.sql("""CREATE TABLE graft.rfs (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='8')""".stripMargin)
    spark.range(400).createOrReplaceTempView("rfs_seed")
    spark.sql(
      """MERGE INTO graft.rfs t USING (
        |  SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
        |    cast(concat('<p>', id, '</p>') AS BINARY) AS html,
        |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
        |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
        |    'upsert' AS op FROM rfs_seed) s
        |ON t.url = s.url
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.range(500).selectExpr("concat('u', id) AS url", "id AS k")
      .where("k IN (7, 8)")
      .createOrReplaceTempView("rfs_dim")
    val bucketOf = (u: String) => graft.lake.LakeTable.bucketIdOf(u, 8)
    assert(!Set("u1", "u2").map(bucketOf).contains(bucketOf("u7")))
    // the static IN-list pushes urlKeys=u1,u2; the dim's runtime keys are
    // u7,u8, so the runtime intersection is EMPTY — and u7's bucket lies
    // outside the statically planned ones. Constraint propagation
    // would copy the static IN-list onto the dim and empty it before any
    // runtime filter is built, so it is off for this query only.
    val cp = "spark.sql.constraintPropagation.enabled"
    val prev = spark.conf.getOption(cp)
    spark.conf.set(cp, "false")
    val (rows, scanNode) =
      try {
        val joined = spark.sql(
          """SELECT /*+ BROADCAST(d) */ b.url, d.k FROM graft.rfs b JOIN rfs_dim d
            |ON b.url = d.url WHERE b.url IN ('u1', 'u2')""".stripMargin)
        val rows = joined.collect()
        (rows, graftScans(joined.queryExecution.executedPlan)
          .headOption.getOrElse(fail(s"no graft BatchScanExec in:\n${joined.queryExecution.executedPlan}")))
      } finally prev match {
        case Some(v) => spark.conf.set(cp, v)
        case None => spark.conf.unset(cp)
      }
    assert(rows.isEmpty, s"disjoint runtime and static keys must match nothing, got ${rows.toSeq}")
    assert(scanNode.runtimeFilters.nonEmpty,
      s"expected a dynamic-pruning runtime filter on the graft scan:\n$scanNode")
    // input partitions the scan actually ran after the runtime filter (key-
    // grouped planning pads the rest with empty partitions)
    val read = scanNode.inputRDD.partitions.collect {
      case p: DataSourceRDDPartition => p.inputPartitions.size
    }.sum
    assert(read <= 1, s"an empty runtime intersection must probe at most one bucket, read $read")
    val scanned = scanNode.metrics("numOutputRows").value
    assert(scanned < 400, s"an empty runtime intersection must not widen to a full scan; read $scanned rows")
  }

  test("SQL commands between stream batches use a reserved batch-id domain") {
    // A SQL command committed between two runs of an ingest stream must NOT
    // claim the id the stream's next foreachBatch epoch will use: batch ids
    // are the exactly-once replay key, so a collision makes the stream treat
    // its own NEXT batch as an already-durable replay and silently drop it.
    enable()
    spark.sql("""CREATE TABLE graft.mixed (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='4')""".stripMargin)
    val root = java.nio.file.Paths.get(wh, "mixed")
    val binlog = tmpDir("mixed-binlog")
    val ckpt = tmpDir("mixed-ckpt").toString
    val p = graft.binlog.GenProfile.uniformSmall()
      .copy(partitions = 2, eventsPerPartition = 2000, urlPoolPerPartition = 1400)
    val pHalf = p.copy(eventsPerPartition = 1000)
    graft.binlog.ChangeEventGen.writeSegments(pHalf, binlog, segmentEvents = 500)
    graft.cdc.Ingest.startStream(spark, binlog.toString, root, ckpt,
      maxEventsPerBatch = 600, nBuckets = 4).awaitTermination()

    // one row-level SQL command between stream runs — commits its own batch
    val victim = spark.sql("SELECT url FROM graft.mixed ORDER BY url LIMIT 1")
      .head().getString(0)
    spark.sql(s"DELETE FROM graft.mixed WHERE url = '$victim'")
    val lake = graft.lake.LakeTable.load(root)
    val sqlIds = lake.currentSnapshot.batches.map(_.batchId)
      .filter(id => (id & GraftRowLevel.SqlBatchIdBit) != 0L)
    assert(sqlIds == Seq(GraftRowLevel.SqlBatchIdBit),
      s"SQL batch id must carry the reserved bit, got ${lake.currentSnapshot.batches.map(_.batchId)}")

    // more binlog arrives; the stream restarts from its checkpoint
    (0 until p.partitions).foreach { part =>
      var off = 1000L
      val w = new graft.binlog.SegmentWriter(binlog, part, off)
      while (off < p.eventsPerPartition) {
        w.writeEvent(graft.binlog.ChangeEventGen.event(p, part, off),
          graft.binlog.EventCodec.V2)
        off += 1
      }
      w.close()
    }
    graft.cdc.Ingest.startStream(spark, binlog.toString, root, ckpt,
      maxEventsPerBatch = 600, nBuckets = 4).awaitTermination()

    // every post-SQL stream epoch committed: per-partition lineage coverage
    // is gap-free over all 2000 offsets (a collision drops one whole batch)
    val snap = graft.lake.LakeTable.load(root).currentSnapshot
    (0 until p.partitions).foreach { part =>
      val chain = snap.batches.flatMap(_.lineage.filter(_.partition == part))
        .sortBy(_.startOffset)
      assert(chain.map(_.count).sum == p.eventsPerPartition,
        s"p$part covered ${chain.map(_.count).sum} of ${p.eventsPerPartition} events — a stream batch was dropped")
      chain.sliding(2).foreach {
        case Seq(a, b) => assert(b.startOffset == a.startOffset + a.count)
        case _ =>
      }
    }
  }

  test("TRUNCATE TABLE: rollback-to-empty, loud for the feed, clean re-ingest") {
    enable()
    spark.sql("""CREATE TABLE graft.trnc (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='4')""".stripMargin)
    def mergeSeed(tbl: String, n: Int, tsBase: Long, offBase: Long): Unit = {
      spark.range(n).createOrReplaceTempView("tseed")
      spark.sql(s"""MERGE INTO graft.$tbl t USING (
                  |  SELECT concat('u', id) AS url, timestamp_micros($tsBase + id) AS warc_ts,
                  |    cast(concat('<p>v$offBase-', id, '</p>') AS BINARY) AS html,
                  |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                  |    'en' AS lang, CAST($offBase + id AS LONG) AS offset,
                  |    CAST(0 AS INT) AS partition, 'upsert' AS op
                  |  FROM tseed) s
                  |ON t.url = s.url
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    mergeSeed("trnc", 30, 1700000000000000L, 0L)
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh).resolve("trnc"))
    val preTruncate = lake.currentSnapshotId
    assert(spark.table("graft.trnc").count() == 30)

    spark.sql("TRUNCATE TABLE graft.trnc")
    assert(spark.table("graft.trnc").count() == 0)
    val snap = lake.currentSnapshot
    assert(snap.snapshotId == preTruncate + 1 && snap.files.isEmpty &&
      snap.batches.isEmpty && snap.totalRows == 0,
      "truncate must be one metadata commit clearing files AND markers")
    // schema/bucket layout survive
    assert(snap.nBuckets == 4 && snap.schemaVersion == lake.snapshot(preTruncate).schemaVersion)

    // an incremental consumer whose cursor predates the truncate fails
    // LOUDLY (marker-count decrease = the rollback guard): a metadata-only
    // truncate emits no tombstones, so silent continuation would strand
    // every pre-truncate row in the mirror
    val err = intercept[IllegalStateException](
      lake.incrementFilesBySnapshot(preTruncate, lake.currentSnapshotId))
    assert(err.getMessage.contains("ROLLBACK"), err.getMessage)

    // pre-truncate history stays time-travel readable until expiry
    assert(spark.sql(s"SELECT * FROM graft.trnc VERSION AS OF $preTruncate").count() == 30)

    // re-ingest lands on the empty state exactly as on a fresh table
    mergeSeed("trnc", 12, 1700000002000000L, 500L)
    spark.sql("""CREATE TABLE graft.trnc2 (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='4')""".stripMargin)
    mergeSeed("trnc2", 12, 1700000002000000L, 500L)
    def state(tbl: String) = spark.sql(
        s"SELECT url, unix_micros(warc_ts) AS us, text FROM graft.$tbl")
      .collect().map(_.toString).sorted.toSeq
    assert(state("trnc") == state("trnc2"),
      "post-truncate re-ingest must equal a fresh table")

    // truncating an already-empty table is a no-op (no empty commit)
    spark.sql("TRUNCATE TABLE graft.trnc2")
    val emptied = lakeOf("trnc2").currentSnapshotId
    spark.sql("TRUNCATE TABLE graft.trnc2")
    assert(lakeOf("trnc2").currentSnapshotId == emptied)
  }

  private def lakeOf(name: String) =
    graft.lake.LakeTable.load(java.nio.file.Paths.get(wh).resolve(name))

  test("snapshot tags: durable named refs survive expiry, resolve in VERSION AS OF") {
    enable()
    spark.sql("""CREATE TABLE graft.tgt (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='2')""".stripMargin)
    def mergeSeed(n: Int, tsBase: Long, offBase: Long): Unit = {
      spark.range(n).createOrReplaceTempView("gseed")
      spark.sql(s"""MERGE INTO graft.tgt t USING (
                  |  SELECT concat('u', id) AS url, timestamp_micros($tsBase + id) AS warc_ts,
                  |    cast(concat('<p>v$offBase-', id, '</p>') AS BINARY) AS html,
                  |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                  |    'en' AS lang, CAST($offBase + id AS LONG) AS offset,
                  |    CAST(0 AS INT) AS partition, 'upsert' AS op
                  |  FROM gseed) s
                  |ON t.url = s.url
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    mergeSeed(8, 1700000000000000L, 0L)
    val lake = lakeOf("tgt")
    val v1State = spark.sql("SELECT url, unix_micros(warc_ts) AS us FROM graft.tgt")
      .collect().map(_.toString).sorted.toSeq

    // CALL create_tag defaults to the current snapshot
    val r = spark.sql("CALL graft.system.create_tag('tgt', 'release-1')").collect()
    assert(r.length == 1 && r.head.getString(0) == "release-1" &&
      r.head.getLong(1) == lake.currentSnapshotId)
    // $tags metadata view lists it
    val tagsRows = spark.sql("SELECT tag, snapshot_id FROM graft.`tgt$tags`").collect()
    assert(tagsRows.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("release-1", lake.currentSnapshotId)))

    // history moves on; several more commits make the tagged snapshot
    // expiry-eligible by count
    mergeSeed(8, 1700000001000000L, 100L)
    mergeSeed(8, 1700000002000000L, 200L)
    spark.sql("CALL graft.system.expire_snapshots('tgt', 1)").collect()

    // the tagged snapshot (and its files) survive: VERSION AS OF '<tag>'
    // reproduces the tagged state after everything untagged expired
    val tagged = spark.sql("SELECT url, unix_micros(warc_ts) AS us FROM graft.tgt VERSION AS OF 'release-1'")
      .collect().map(_.toString).sorted.toSeq
    assert(tagged == v1State, "tag must keep the snapshot readable across expiry")

    // duplicate, invalid, and unknown-snapshot tags fail loudly
    assert(intercept[Exception](lake.createTag("release-1", lake.currentSnapshotId))
      .getMessage.contains("already exists"))
    assert(intercept[Exception](lake.createTag("bad/name", lake.currentSnapshotId))
      .getMessage.contains("tag name"))
    // all-digit names would be shadowed by the snapshot-id interpretation
    // of VERSION AS OF — rejected at creation, not silently unreachable
    assert(intercept[Exception](lake.createTag("123", lake.currentSnapshotId))
      .getMessage.contains("snapshot id"))
    assert(intercept[Exception](lake.createTag("ok-name", 999L))
      .getMessage.contains("no retained snapshot"))
    intercept[Exception](
      spark.sql("SELECT * FROM graft.tgt VERSION AS OF 'no-such-tag'").collect())

    // drop_tag releases the hold: the next expiry GCs the snapshot and the
    // tag no longer resolves
    val d = spark.sql("CALL graft.system.drop_tag('tgt', 'release-1')").collect()
    assert(d.length == 1 && d.head.getBoolean(0))
    spark.sql("CALL graft.system.expire_snapshots('tgt', 1)").collect()
    intercept[Exception](
      spark.sql("SELECT * FROM graft.tgt VERSION AS OF 'release-1'").collect())
    assert(spark.sql("SELECT * FROM graft.`tgt$tags`").count() == 0)
    // dropping again reports absence
    assert(!spark.sql("CALL graft.system.drop_tag('tgt', 'release-1')")
      .collect().head.getBoolean(0))

    // a crashed createTag's staged .tmp is invisible to tagEntries and
    // aged out by the orphan GC; a live tag survives the same sweep
    lake.createTag("keeper", lake.currentSnapshotId)
    val debris = lake.root.resolve("meta/tags/.tag-crashed.tmp")
    java.nio.file.Files.write(debris, Array[Byte](1))
    java.nio.file.Files.setLastModifiedTime(debris,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10_000))
    assert(lake.tags.keySet == Set("keeper"))
    val removed = graft.lake.Maintain.removeOrphanFiles(lake, System.currentTimeMillis())
    assert(removed.exists(_.endsWith(".tag-crashed.tmp")), removed.toString)
    assert(!java.nio.file.Files.exists(debris) && lake.tags.keySet == Set("keeper"))
  }

  test("branches in SQL: create_branch / VERSION AS OF '<branch>' / $branches / publish_branch / drop_branch") {
    enable()
    spark.sql("""CREATE TABLE graft.wap1 (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='2')""".stripMargin)
    def mergeRange(target: String, lo: Int, hi: Int): Unit =
      spark.sql(s"""MERGE INTO $target t USING (
                |  SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
                |    cast(concat('<p>', id, '</p>') AS BINARY) AS html,
                |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
                |    'upsert' AS op
                |  FROM range($lo, $hi)) s
                |ON t.url = s.url
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    mergeRange("graft.wap1", 0, 10)

    val created = spark.sql("CALL graft.system.create_branch('wap1', 'audit')").collect()
    assert(created.head.getString(0) == "audit")
    val fork = created.head.getLong(1)

    // audit writes go to the branch via the lake handle (the SQL write path
    // binds `graft.t` to main by design — audits address the branch handle)
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "wap1"))
    val bt = lake.branchTable("audit")
    import org.apache.spark.sql.functions._
    val batch = spark.range(10, 25).selectExpr(
      "concat('u', id) AS url", "timestamp_micros(1700000000000000 + id) AS warc_ts",
      "cast(concat('<p>', id, '</p>') AS BINARY) AS html",
      "CAST(NULL AS STRING) AS text", "CAST(NULL AS BIGINT) AS content_len",
      "'en' AS lang", "CAST(id AS LONG) AS offset", "CAST(0 AS INT) AS partition",
      "'upsert' AS op")
    graft.cdc.Ingest.applyBatch(spark, bt)(batch,
      graft.cdc.Ingest.branchBatchId("sql-audit", 0L))

    // the audit read: staged state via VERSION AS OF; main unchanged
    assert(spark.sql("SELECT * FROM graft.wap1 VERSION AS OF 'audit'").count() == 25)
    assert(spark.sql("SELECT * FROM graft.wap1").count() == 10)
    val br = spark.sql(
      "SELECT branch, head_snapshot_id, fork_snapshot_id FROM graft.`wap1$branches`").collect()
    assert(br.length == 1 && br.head.getString(0) == "audit" && br.head.getLong(2) == fork)

    // publish: main sees the audit as one squash commit; branch gone
    val pub = spark.sql("CALL graft.system.publish_branch('wap1', 'audit')").collect()
    assert(pub.head.getLong(0) == fork + 1)
    assert(spark.sql("SELECT * FROM graft.wap1").count() == 25)
    assert(spark.sql("SELECT * FROM graft.`wap1$branches`").count() == 0)
    intercept[Exception](
      spark.sql("SELECT * FROM graft.wap1 VERSION AS OF 'audit'").collect())

    // drop: staged-but-unwanted audit disappears without touching main
    spark.sql("CALL graft.system.create_branch('wap1', 'audit2')").collect()
    assert(spark.sql("CALL graft.system.drop_branch('wap1', 'audit2')")
      .collect().head.getBoolean(0))
    assert(spark.sql("SELECT * FROM graft.wap1").count() == 25)
  }

  test("spark.graft.sql.wapBranch binds the whole SQL session to a staging branch") {
    enable()
    spark.sql("""CREATE TABLE graft.wap2 (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='2')""".stripMargin)
    def mergeRange(lo: Int, hi: Int): Unit =
      spark.sql(s"""MERGE INTO graft.wap2 t USING (
                |  SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
                |    cast(concat('<p>', id, '</p>') AS BINARY) AS html,
                |    CAST(NULL AS STRING) AS text, CAST(NULL AS BIGINT) AS content_len,
                |    'en' AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
                |    'upsert' AS op
                |  FROM range($lo, $hi)) s
                |ON t.url = s.url
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    mergeRange(0, 10)

    // binding names a branch this table DOESN'T have: reads fall back to
    // MAIN (Iceberg's rule — production statements join read-only dimension
    // tables that were never forked) but every WRITE fails loudly: a typo'd
    // branch silently writing the audit to main is the exact hazard WAP
    // exists to prevent
    spark.conf.set(GraftSql.WapBranchConf, "audit")
    assert(spark.sql("SELECT * FROM graft.wap2").count() == 10)
    val mergeMissing = intercept[Exception](mergeRange(10, 11))
    assert(mergeMissing.getMessage.contains("create_branch"), mergeMissing.getMessage)
    val delMissing = intercept[Exception](
      spark.sql("DELETE FROM graft.wap2 WHERE url = 'u3'"))
    assert(delMissing.getMessage.contains("create_branch"), delMissing.getMessage)
    val updMissing = intercept[Exception](
      spark.sql("UPDATE graft.wap2 SET lang = 'xx' WHERE url = 'u3'"))
    assert(updMissing.getMessage.contains("create_branch"), updMissing.getMessage)
    val insMissing = intercept[Exception](spark.sql(
      """INSERT INTO graft.wap2 SELECT 'u99', timestamp_micros(1700000000000000),
        |cast('<p>x</p>' AS BINARY), CAST(NULL AS STRING), CAST(NULL AS BIGINT),
        |'en'""".stripMargin))
    assert(insMissing.getMessage.contains("create_branch"), insMissing.getMessage)
    val truncMissing = intercept[Exception](spark.sql("TRUNCATE TABLE graft.wap2"))
    assert(truncMissing.getMessage.contains("create_branch"), truncMissing.getMessage)
    // none of the rejected writes touched main
    assert(spark.sql("SELECT * FROM graft.wap2").count() == 10)
    spark.conf.unset(GraftSql.WapBranchConf)

    spark.sql("CALL graft.system.create_branch('wap2', 'audit')").collect()
    try {
      spark.conf.set(GraftSql.WapBranchConf, "audit")
      // the SAME statements production runs, all staged: MERGE, row-level
      // UPDATE/DELETE, and reads see the staged state
      mergeRange(10, 25)
      spark.sql("UPDATE graft.wap2 SET lang = 'xx' WHERE url = 'u3'")
      spark.sql("DELETE FROM graft.wap2 WHERE url = 'u24'")
      assert(spark.sql("SELECT * FROM graft.wap2").count() == 24)
      assert(spark.sql("SELECT lang FROM graft.wap2 WHERE url = 'u3'")
        .head().getString(0) == "xx")
      // metadata/feed surfaces stay MAIN-bound (branches are invisible to
      // the change feed by design)
      assert(spark.sql("SELECT count(*) FROM graft.`wap2$branches`").head().getLong(0) == 1)
      // a production statement joining a never-forked dimension table still
      // runs under the binding: the dim reads main, the fact reads the branch
      spark.conf.unset(GraftSql.WapBranchConf)
      spark.sql("""CREATE TABLE graft.wap2dim (url STRING, warc_ts TIMESTAMP,
                  |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                  |USING graft TBLPROPERTIES('buckets'='2')""".stripMargin)
      spark.sql(
        """INSERT INTO graft.wap2dim SELECT 'u3', timestamp_micros(1700000000000000),
          |cast('<p>d</p>' AS BINARY), CAST(NULL AS STRING), CAST(NULL AS BIGINT),
          |'dim'""".stripMargin)
      spark.conf.set(GraftSql.WapBranchConf, "audit")
      assert(spark.sql(
        """SELECT f.lang FROM graft.wap2 f JOIN graft.wap2dim d ON f.url = d.url""")
        .head().getString(0) == "xx") // branch-staged value, dim resolved from main
      spark.conf.unset(GraftSql.WapBranchConf)
      // unbound session: main never saw any of it
      assert(spark.sql("SELECT * FROM graft.wap2").count() == 10)
      assert(spark.sql("SELECT lang FROM graft.wap2 WHERE url = 'u3'")
        .head().getString(0) == "en")

      // publish lands the whole audit as one squash on main
      spark.sql("CALL graft.system.publish_branch('wap2', 'audit')").collect()
      assert(spark.sql("SELECT * FROM graft.wap2").count() == 24)
      assert(spark.sql("SELECT lang FROM graft.wap2 WHERE url = 'u3'")
        .head().getString(0) == "xx")
      assert(spark.sql("SELECT * FROM graft.wap2 WHERE url = 'u24'").count() == 0)
    } finally spark.conf.unset(GraftSql.WapBranchConf)
  }

  test("wapBranch stages INSERT OVERWRITE; publish lands the rewrite loudly") {
    enable()
    spark.sql("""CREATE TABLE graft.wapov (url STRING, warc_ts TIMESTAMP,
                |  html BINARY, text STRING, content_len BIGINT, lang STRING)
                |USING graft TBLPROPERTIES('buckets'='2')""".stripMargin)
    spark.sql("""INSERT INTO graft.wapov
                |SELECT concat('old', id), timestamp_micros(1700000000000000 + id),
                |  cast('<p/>' AS BINARY), CAST(NULL AS STRING),
                |  CAST(NULL AS BIGINT), 'en' FROM range(10)""".stripMargin)
    val lake = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "wapov"))
    val preFork = lake.currentSnapshotId
    spark.sql("CALL graft.system.create_branch('wapov', 'aud')").collect()
    try {
      spark.conf.set(GraftSql.WapBranchConf, "aud")
      // the audited overwrite: staged invisibly, branch reads see ONLY it
      spark.sql("""INSERT OVERWRITE graft.wapov
                  |SELECT concat('new', id), timestamp_micros(1800000000000000 + id),
                  |  cast('<q/>' AS BINARY), CAST(NULL AS STRING),
                  |  CAST(NULL AS BIGINT), 'de' FROM range(3)""".stripMargin)
      assert(spark.sql("SELECT * FROM graft.wapov").count() == 3)
      spark.conf.unset(GraftSql.WapBranchConf)
      assert(spark.sql("SELECT * FROM graft.wapov").count() == 10,
        "main must not see the staged overwrite")
      // publish: the squash IS the overwrite — marker list replaced, and
      // the change feed reports the rewrite loudly across the publish
      spark.sql("CALL graft.system.publish_branch('wapov', 'aud')").collect()
      assert(spark.sql("SELECT url FROM graft.wapov").collect()
        .map(_.getString(0)).forall(_.startsWith("new")))
      val snap = graft.lake.LakeTable.load(java.nio.file.Paths.get(wh, "wapov"))
      assert(snap.currentSnapshot.batches.size == 1 &&
        (snap.currentSnapshot.batches.head.batchId & GraftRowLevel.SqlBatchIdBit) != 0L)
      val e = intercept[IllegalStateException](
        snap.incrementFilesBySnapshot(preFork, snap.currentSnapshotId))
      assert(e.getMessage.contains("REWRITE"), e.getMessage)
    } finally spark.conf.unset(GraftSql.WapBranchConf)
  }

  test("wapBranch stages schema evolution: ALTER on the branch, main keeps v1 until publish") {
    enable()
    spark.sql("CREATE TABLE graft.wap3 (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len INT) USING graft TBLPROPERTIES('buckets'='2')")
    spark.sql(
      """INSERT INTO graft.wap3
        |SELECT concat('e', id), timestamp_micros(1700000000000000 + id),
        |  cast(concat('<p>v1-', id, '</p>') AS BINARY), CAST(NULL AS STRING), CAST(NULL AS INT)
        |FROM range(10)""".stripMargin)
    spark.sql("CALL graft.system.create_branch('wap3', 'evo')").collect()
    try {
      spark.conf.set(GraftSql.WapBranchConf, "evo")
      spark.sql("ALTER TABLE graft.wap3 ADD COLUMN lang STRING")
      assert(spark.table("graft.wap3").schema.fieldNames.contains("lang"))
      spark.sql(
        """MERGE INTO graft.wap3 t USING (
          |  SELECT 'e3' AS url, timestamp_micros(1900000000000000) AS warc_ts,
          |    cast('<p>v2</p>' AS BINARY) AS html, CAST(NULL AS STRING) AS text,
          |    CAST(NULL AS BIGINT) AS content_len, 'fr' AS lang) s
          |ON t.url = s.url
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.conf.unset(GraftSql.WapBranchConf)
      // main is untouched: still v1, no lang column, old e3 row
      assert(!spark.table("graft.wap3").schema.fieldNames.contains("lang"))
      spark.sql("CALL graft.system.publish_branch('wap3', 'evo')").collect()
      // the squash lands evolution + data together
      assert(spark.table("graft.wap3").schema.fieldNames.contains("lang"))
      assert(spark.sql("SELECT lang FROM graft.wap3 WHERE url = 'e3'")
        .head().getString(0) == "fr")
      assert(spark.sql("SELECT * FROM graft.wap3").count() == 10)
    } finally spark.conf.unset(GraftSql.WapBranchConf)
  }
}
