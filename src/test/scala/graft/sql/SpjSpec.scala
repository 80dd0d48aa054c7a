package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.SparkSpec

/** Storage-partitioned joins: [[GraftLakeScan]] reports its per-bucket
  * layout (`KeyGroupedPartitioning(bucket(n, url))` + ascending-url
  * ordering), the catalog resolves the transform ([[GraftBucketFunction]]),
  * and Spark plans graft⋈graft on url with ZERO Exchange and ZERO Sort —
  * the join plan you want when both sides are 100 TB. */
class SpjSpec extends SparkSpec {

  private lazy val wh = tmpDir("graft-spj-wh").toString
  private def enable(): Unit = GraftSql.enable(spark, wh)

  /** Set session confs for the body, restoring previous values after. */
  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val SpjConfs = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    // manifest-exact stats would otherwise broadcast these tiny tables —
    // force the co-partitioned path the assert is about
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** MERGE n synthetic pages into a fresh graft table. */
  private def seed(table: String, n: Int, buckets: Int, langExpr: String): Unit = {
    spark.sql(s"""CREATE TABLE graft.$table (url STRING, warc_ts TIMESTAMP,
      |  html BINARY, text STRING, content_len BIGINT, lang STRING)
      |  USING graft TBLPROPERTIES('buckets'='$buckets')""".stripMargin)
    spark.range(n).createOrReplaceTempView(s"${table}_seed")
    spark.sql(s"""MERGE INTO graft.$table t USING (
      |  SELECT concat('u', id) AS url, timestamp_micros(1700000000000000 + id) AS warc_ts,
      |    cast(concat('<p>', id, '</p>') AS BINARY) AS html,
      |    concat('t', id) AS text, CAST(id AS BIGINT) AS content_len,
      |    $langExpr AS lang, CAST(id AS LONG) AS offset, CAST(0 AS INT) AS partition,
      |    'upsert' AS op FROM ${table}_seed) s
      |ON t.url = s.url
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  }

  /** Idempotent per-suite fixture: a test seeds the tables it reads on
    * first use, so every test passes alone (`-z`) or in any order. Tests
    * that write seed their own tables; `spj_a`/`spj_b` stay as seeded. */
  private val seededTables = scala.collection.mutable.Set.empty[String]
  private def seeded(table: String, n: Int, buckets: Int, langExpr: String): Unit = {
    enable()
    if (seededTables.add(table)) seed(table, n, buckets, langExpr)
  }
  private def fixture(): Unit = {
    seeded("spj_a", 300, 4, "'en'")
    seeded("spj_b", 200, 4, "'de'")
  }

  /** Post-AQE plan with query stages flattened (stages are leaf wrappers —
    * a plain collect never descends into the materialized subtrees). */
  private def finalPlan(df: DataFrame): Seq[SparkPlan] = {
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: QueryStageExec => flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    flatten(root)
  }

  private def shuffles(plan: Seq[SparkPlan]): Seq[SparkPlan] =
    plan.filter(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
  private def sorts(plan: Seq[SparkPlan]): Seq[SparkPlan] =
    plan.filter(_.isInstanceOf[org.apache.spark.sql.execution.SortExec])

  test("graft.bucket catalog function equals the table partitioner") {
    enable()
    val urls = Seq("u0", "u17", "https://example.com/a?x=1", "ü-multibyte-é")
    for (u <- urls; n <- Seq(2, 4, 32)) {
      val got = spark.sql(s"SELECT graft.bucket($n, '$u')").collect().head.getInt(0)
      assert(got == graft.lake.LakeTable.bucketIdOf(u, n),
        s"bucket($n, '$u'): catalog function disagrees with LakeTable.bucketIdOf")
    }
  }

  test("storage-partitioned join: zero Exchange, zero Sort, exact rows") {
    fixture()
    withConf(SpjConfs: _*) {
      val df = spark.sql(
        """SELECT a.url, a.lang AS la, b.lang AS lb
          |FROM graft.spj_a a JOIN graft.spj_b b ON a.url = b.url""".stripMargin)
      val rows = df.collect()
      assert(rows.length == 200, s"inner join must hit the 200 shared urls, got ${rows.length}")
      assert(rows.forall(r => r.getString(1) == "en" && r.getString(2) == "de"))
      val plan = finalPlan(df)
      assert(shuffles(plan).isEmpty,
        s"SPJ join must plan ZERO exchanges, got:\n${plan.head}")
      assert(sorts(plan).isEmpty,
        s"the scans' reported url ordering must eliminate SMJ local sorts:\n${plan.head}")
    }
  }

  test("SPJ composes with LWW semantics: updates and tombstones join correctly") {
    seeded("spj_lww_a", 300, 4, "'en'")
    seeded("spj_lww_b", 200, 4, "'de'")
    // rewrite half the urls in a, delete some from b — the join must see
    // the RESOLVED final states of both sides, co-partitioned
    spark.sql("UPDATE graft.spj_lww_a SET lang = 'fr' WHERE url IN ('u3', 'u7')")
    spark.sql("DELETE FROM graft.spj_lww_b WHERE url IN ('u5', 'u7')")
    withConf(SpjConfs: _*) {
      val df = spark.sql(
        """SELECT a.url, a.lang FROM graft.spj_lww_a a JOIN graft.spj_lww_b b ON a.url = b.url
          |WHERE a.url IN ('u3', 'u5', 'u7', 'u9')""".stripMargin)
      val got = df.collect().map(r => (r.getString(0), r.getString(1))).toMap
      // u5, u7 deleted from b → gone; u3 carries its rewritten lang
      assert(got == Map("u3" -> "fr", "u9" -> "en"), s"got $got")
      assert(shuffles(finalPlan(df)).isEmpty)
    }
  }

  test("groupBy(url) over a graft table plans without a shuffle") {
    fixture()
    withConf(SpjConfs: _*) {
      val df = spark.sql(
        "SELECT url, count(*) AS c, max(content_len) AS m FROM graft.spj_a GROUP BY url")
      val rows = df.collect()
      assert(rows.length == 300 && rows.forall(_.getLong(1) == 1L))
      val plan = finalPlan(df)
      assert(shuffles(plan).isEmpty,
        s"bucket(url) partitioning must satisfy the url aggregation's distribution:\n${plan.head}")
    }
  }

  test("graft ⋈ non-graft: only the non-graft side shuffles into the bucket layout") {
    fixture()
    // the other side is a plain in-memory relation: with
    // v2.bucketing.shuffle.enabled Spark shuffles IT into the graft table's
    // KeyGroupedPartitioning by EVALUATING the catalog bucket function
    // (GraftBucketBound.invoke) — the graft side stays exchange-free
    spark.range(150).selectExpr("concat('u', id) AS url", "id AS k")
      .createOrReplaceTempView("spj_plain")
    withConf((SpjConfs :+
      ("spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true")): _*) {
      val df = spark.sql(
        "SELECT a.url, p.k FROM graft.spj_a a JOIN spj_plain p ON a.url = p.url")
      assert(df.collect().length == 150)
      val nShuffles = shuffles(finalPlan(df)).size
      assert(nShuffles == 1,
        s"expected exactly ONE exchange (the non-graft side), got $nShuffles:\n${finalPlan(df).head}")
    }
  }

  test("SPJ across time travel: current vs earlier snapshot diffs with zero exchanges") {
    seeded("spj_tt", 300, 4, "'en'")
    // the "what changed since the release" audit: both sides are the SAME
    // table (identical bucket layout by construction), one pinned at an
    // earlier snapshot — the version diff must plan exchange-free
    val lake = graft.lake.LakeTable.load(
      java.nio.file.Paths.get(wh).resolve("spj_tt"))
    val before = lake.currentSnapshotId
    spark.sql("UPDATE graft.spj_tt SET lang = 'it' WHERE url IN ('u11', 'u13')")
    withConf(SpjConfs: _*) {
      val df = spark.sql(
        s"""SELECT cur.url, cur.lang AS now, old.lang AS was
           |FROM graft.spj_tt cur
           |JOIN graft.spj_tt VERSION AS OF $before old ON cur.url = old.url
           |WHERE cur.lang <> old.lang""".stripMargin)
      val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(("u11", "it", "en"), ("u13", "it", "en")), s"got $got")
      assert(shuffles(finalPlan(df)).isEmpty,
        s"a same-table version diff must be storage-partitioned:\n${finalPlan(df).head}")
    }
  }

  test("mismatched bucket counts fall back to a correct (shuffled) join") {
    fixture()
    seeded("spj_c", 120, 2, "'pt'")
    withConf(SpjConfs: _*) {
      val df = spark.sql(
        "SELECT a.url FROM graft.spj_a a JOIN graft.spj_c c ON a.url = c.url")
      assert(df.collect().length == 120,
        "a 4-bucket ⋈ 2-bucket join must still produce exact results")
    }
  }

  test("LIMIT pushes into the scan and stops the drain early") {
    fixture()
    val df = spark.sql("SELECT url, text FROM graft.spj_a LIMIT 7")
    assert(df.collect().length == 7)
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.getOrElse(fail("no BatchScanExec leaf"))
    assert(scan.description().contains("limit=7"),
      s"limit must reach the scan: ${scan.description()}")
    // every returned row is a true final-state row (no partial winners)
    val full = spark.sql("SELECT url, text FROM graft.spj_a").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val lim = spark.sql("SELECT url, text FROM graft.spj_a LIMIT 7").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(lim.subsetOf(full) && lim.size == 7)
  }

  test("bucket function misuse fails as a clean analysis error, not an internal one") {
    enable()
    // wrong arg types decline in bind() (UnsupportedOperationException per
    // the V2 contract) — Spark surfaces a resolution failure naming the
    // function, not a raw internal crash
    val e1 = intercept[Exception](spark.sql("SELECT graft.bucket('8', 'u1')").collect())
    assert(e1.getMessage.contains("bucket"), s"got: ${e1.getMessage}")
    val e2 = intercept[Exception](spark.sql("SELECT graft.bucket(8)").collect())
    assert(e2.getMessage.contains("bucket"), s"got: ${e2.getMessage}")
    val e3 = intercept[Exception](spark.sql("SELECT graft.no_such_fn(1)").collect())
    assert(e3.getMessage.contains("no_such_fn"), s"got: ${e3.getMessage}")
  }

  test("declared partitioning renders in SHOW CREATE TABLE / DESCRIBE") {
    fixture()
    val show = spark.sql("SHOW CREATE TABLE graft.spj_a").collect().head.getString(0)
    assert(show.contains("bucket(4, url)"), s"got:\n$show")
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft.spj_a").collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n")
    assert(desc.contains("bucket(4, url)"), s"got:\n$desc")
    // layout facts surface as table properties
    val props = spark.sql("SHOW TBLPROPERTIES graft.spj_a").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("buckets").contains("4") &&
      props.contains("current_snapshot_id") && props.contains("total_rows"),
      s"got: $props")
  }

  test("ORDER BY url LIMIT k pushes as TopN; DESC declines but stays correct") {
    fixture()
    val allSorted = spark.sql("SELECT url FROM graft.spj_a")
      .collect().map(_.getString(0)).sorted
    val top = spark.sql("SELECT url FROM graft.spj_a ORDER BY url LIMIT 5")
    assert(top.collect().map(_.getString(0)).toSeq == allSorted.take(5).toSeq,
      "TopN prefix must be the 5 globally smallest urls")
    val scan = top.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.getOrElse(fail("no BatchScanExec leaf"))
    assert(scan.description().contains("limit=5"),
      s"TopN must reach the scan as an early-exit limit: ${scan.description()}")
    // descending order can't ride the ascending drain — declined, full sort
    val bottom = spark.sql("SELECT url FROM graft.spj_a ORDER BY url DESC LIMIT 5")
    assert(bottom.collect().map(_.getString(0)).toSeq ==
      allSorted.takeRight(5).reverse.toSeq)
    val bScan = bottom.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.getOrElse(fail("no BatchScanExec leaf"))
    assert(!bScan.description().contains("limit="),
      s"DESC TopN must NOT push a limit (the drain would keep the WRONG end): ${bScan.description()}")
  }

  test("ORDER BY url ASC NULLS LAST LIMIT k: same rows with and without pushdown") {
    fixture()
    val q = "SELECT url, lang FROM %s ORDER BY url ASC NULLS LAST LIMIT 7"
    val pushed = spark.sql(q.format("graft.spj_a"))
    // the same query over an in-memory copy of the table: nothing to push into
    val all = spark.sql("SELECT url, lang FROM graft.spj_a")
    spark.createDataFrame(spark.sparkContext.parallelize(all.collect().toSeq, 3), all.schema)
      .createOrReplaceTempView("spj_a_copy")
    val plain = spark.sql(q.format("spj_a_copy"))
    assert(pushed.collect().toSeq == plain.collect().toSeq)
    // url is non-nullable in the table schema, so NULLS LAST rides the drain
    val scan = pushed.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.getOrElse(fail("no BatchScanExec leaf"))
    assert(scan.description().contains("limit=7"), scan.description())
  }
}
