package graft.lake

import org.apache.spark.sql.streaming.Trigger

import graft.{Oracle, SparkSpec}
import graft.binlog.{ChangeEventGen, GenProfile}

/** The fully declarative streaming pipeline: binlog source → graft-lake
  * sink, no foreachBatch. Epoch id == exactly-once batch id; restart from
  * checkpoint replays nothing; lineage reconstructed from staged segment
  * metadata matches the gap-free chain. */
class LakeSinkSpec extends SparkSpec {

  private def run(binlog: java.nio.file.Path, root: java.nio.file.Path,
      ckpt: String, maxPerBatch: Long): Unit = {
    val q = spark.readStream
      .format("graft-binlog") // both providers resolve via META-INF/services
      .option("path", binlog.toString)
      .option("maxEventsPerBatch", maxPerBatch)
      .load()
      .writeStream
      .format("graft-lake")
      .option("path", root.toString)
      .option("nBuckets", 8)
      .option("mode", "mor")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("writeStream into the lake: oracle state, real lineage, exactly-once resume") {
    val p = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 2000)
    val binlog = tmpDir("sinkbl")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 900)
    val root = tmpDir("sinktbl")
    val ckpt = tmpDir("sinkckpt").toString

    run(binlog, root, ckpt, maxPerBatch = 1200)
    val table = LakeTable.load(root)

    // several epochs committed, each with gap-free per-partition lineage
    val batches = table.currentSnapshot.batches
    assert(batches.size >= 3, s"expected multiple epochs, got ${batches.size}")
    val byPart = batches.flatMap(_.lineage).groupBy(_.partition)
    assert(byPart.keySet == Set(0, 1))
    byPart.values.foreach { ls =>
      val sorted = ls.sortBy(_.startOffset)
      assert(sorted.head.startOffset == 0L)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a.startOffset + a.count == b.startOffset)
        case _ =>
      }
      assert(sorted.map(_.count).sum == p.eventsPerPartition)
    }

    // state equals the LWW oracle
    val oracle = Oracle.finalState(p)
    val got = table.read(spark).collect().map { r =>
      r.getAs[String]("url") -> Oracle.micros(r.getAs[java.sql.Timestamp]("warc_ts"))
    }.toMap
    assert(got.size == oracle.size)
    assert(got.forall { case (u, ts) => oracle(u)._1 == ts })

    // restart on the same checkpoint: nothing new to do, state unchanged
    val batchesBefore = table.currentSnapshot.batches.map(_.batchId)
    run(binlog, root, ckpt, maxPerBatch = 1200)
    assert(LakeTable.load(root).currentSnapshot.batches.map(_.batchId) == batchesBefore)

    // staging fully cleaned
    val staging = root.resolve("staging")
    assert(!java.nio.file.Files.isDirectory(staging) || {
      val s = java.nio.file.Files.list(staging)
      try !s.findFirst().isPresent finally s.close()
    })
  }

  test("Complete-output-mode streaming writes are rejected loudly, never silent upserts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val wh = tmpDir("cmw-wh").toString
    graft.sql.GraftSql.enable(spark, wh)
    spark.sql("DROP TABLE IF EXISTS graft.cmw")
    spark.sql("CREATE TABLE graft.cmw (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[String]
      mem.addData("a", "a", "b")
      // Complete mode promises per-epoch FULL-TABLE REPLACEMENT; the sink
      // applies epochs as LWW upserts, which would silently diverge (a
      // recomputed aggregate row with an older/equal warc_ts loses to the
      // stale stored row). SupportsTruncate on the batch builder makes
      // Spark's Complete gate pass, so the WRITE must reject it loudly.
      val agg = mem.toDF().groupBy($"value").count().selectExpr(
        "value AS url", "timestamp_micros(1700000000000000) AS warc_ts",
        "CAST(NULL AS BINARY) AS html", "CAST(NULL AS STRING) AS text",
        "count AS content_len", "'en' AS lang")
      val e = intercept[Exception] {
        agg.writeStream.option("checkpointLocation", tmpDir("cmw-ck").toString)
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).toTable("graft.cmw")
          .awaitTermination()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(chain.contains("Complete output mode") || chain.contains("not supported"), chain)
      assert(spark.sql("SELECT * FROM graft.cmw").count() == 0)
    } finally spark.sql("DROP TABLE IF EXISTS graft.cmw")
  }

  test("writeStream.toTable under a wapBranch binding is rejected loudly, never a silent write to main") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val wh = tmpDir("ttw-wh").toString
    graft.sql.GraftSql.enable(spark, wh)
    spark.sql("DROP TABLE IF EXISTS graft.ttw")
    spark.sql("CREATE TABLE graft.ttw (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    spark.sql("CALL graft.system.create_branch('ttw', 'audit')").collect()
    spark.conf.set(graft.sql.GraftSql.WapBranchConf, "audit")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[String]
      mem.addData("x")
      val df = mem.toDF().selectExpr(
        "value AS url", "timestamp_micros(1700000000000000) AS warc_ts",
        "cast(value AS BINARY) AS html", "CAST(NULL AS STRING) AS text",
        "CAST(NULL AS BIGINT) AS content_len", "'en' AS lang")
      // the streaming sink's commit() re-loads the table from the ROOT —
      // a branch-bound handle reaching it would silently merge every epoch
      // into MAIN (with raw epoch ids in main's marker space, on top).
      // The binding must reject the stream loudly instead.
      val e = intercept[Exception] {
        df.writeStream.option("checkpointLocation", tmpDir("ttw-ck").toString)
          .trigger(Trigger.AvailableNow()).toTable("graft.ttw")
          .awaitTermination()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(chain.contains("streaming writes cannot bind"), chain)
      // nothing landed on the branch or on main
      assert(spark.sql("SELECT * FROM graft.ttw").count() == 0)
      spark.conf.unset(graft.sql.GraftSql.WapBranchConf)
      assert(spark.sql("SELECT * FROM graft.ttw").count() == 0)
    } finally {
      spark.conf.unset(graft.sql.GraftSql.WapBranchConf)
      spark.sql("DROP TABLE IF EXISTS graft.ttw")
    }
  }

  test("writeStream.toTable(graft.t): user-schema streaming upserts through the catalog") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val wh = tmpDir("tt-wh").toString
    graft.sql.GraftSql.enable(spark, wh)
    spark.sql("DROP TABLE IF EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    mem.addData((0 until 50).map(i => (s"m$i", 1700000000000000L + i)): _*)
    // later-timestamp updates for half the urls, same stream
    mem.addData((0 until 25).map(i => (s"m$i", 1800000000000000L + i)): _*)
    val df = mem.toDF().toDF("u", "t").selectExpr(
      "u AS url", "timestamp_micros(t) AS warc_ts",
      "cast(concat('<p>', u, '@', t, '</p>') AS BINARY) AS html",
      "CAST(NULL AS STRING) AS text", "CAST(NULL AS BIGINT) AS content_len",
      "'en' AS lang")
    val q = df.writeStream
      .option("checkpointLocation", tmpDir("tt-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.tt")
    q.awaitTermination()

    val rows = spark.sql("SELECT url, text FROM graft.tt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.size == 50)
    // LWW: updated urls carry the later payload
    assert(rows("m3").contains("@18000"))
    assert(rows("m40").contains("@17000"))
    // epochs committed as exactly-once batches
    val lake = LakeTable.load(java.nio.file.Paths.get(wh, "tt"))
    assert(lake.currentSnapshot.batches.nonEmpty)
  }

  test("toTable across epochs: equal warc_ts resolves deterministically (later epoch wins)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val wh = tmpDir("tt2-wh").toString
    graft.sql.GraftSql.enable(spark, wh)
    spark.sql("DROP TABLE IF EXISTS graft.tt2e")
    spark.sql("CREATE TABLE graft.tt2e (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='2')")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val ckpt = tmpDir("tt2e-ckpt").toString // ONE checkpoint: epochs advance
    def frame(tag: String) = (0 until 20).map(i => (s"k$i", 1700000000000000L, tag))
    def write(): Unit = {
      val df = mem.toDF().toDF("u", "t", "v").selectExpr(
        "u AS url", "timestamp_micros(t) AS warc_ts",
        "cast(concat('<p>', v, '</p>') AS BINARY) AS html",
        "CAST(NULL AS STRING) AS text", "CAST(NULL AS BIGINT) AS content_len",
        "'en' AS lang")
      df.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.tt2e")
        .awaitTermination()
    }
    // epoch 0: every url at warc_ts T with payload "old"
    mem.addData(frame("old"): _*)
    write()
    // epoch 1 (same checkpoint → next epoch id): SAME urls, SAME warc_ts,
    // payload "new" — the (warc_ts, offset, partition) tie-break must be
    // decided by the epoch-anchored offsets (epoch << 32), not a replayed
    // 0..n sequence that could collide and tie-keep arbitrarily
    mem.addData(frame("new"): _*)
    write()

    val texts = spark.sql("SELECT url, text FROM graft.tt2e").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(texts.size == 20)
    assert(texts.values.forall(_ == "new"),
      s"later epoch must win every equal-warc_ts tie: ${texts.view.filter(_._2 != "new").take(3).toMap}")
  }

  test("writeStream.toTable into a v1 table (no lang): every row stored, same rows as INSERT INTO") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val wh = tmpDir("ttv1-wh").toString
    graft.sql.GraftSql.enable(spark, wh)
    // v1 schema: content_len INT, no lang — the written rows have five
    // fields, so the writer must read them by name, not by v2 position
    val v1 = "(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len INT) " +
      "USING graft TBLPROPERTIES('buckets'='2')"
    Seq("ttv1", "insv1").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS graft.$t")
      spark.sql(s"CREATE TABLE graft.$t $v1")
    }
    try {
      // 30 urls, the first 10 updated later in the same write (LWW)
      val rows = (0 until 30).map(i => (s"v$i", 1700000000000000L + i)) ++
        (0 until 10).map(i => (s"v$i", 1800000000000000L + i))
      val shape = Seq("u AS url", "timestamp_micros(t) AS warc_ts",
        "cast(concat('<p>', u, '@', t, '</p>') AS BINARY) AS html",
        "CAST(NULL AS STRING) AS text", "CAST(NULL AS INT) AS content_len")

      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(String, Long)]
      mem.addData(rows: _*)
      mem.toDF().toDF("u", "t").selectExpr(shape: _*).writeStream
        .option("checkpointLocation", tmpDir("ttv1-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.ttv1")
        .awaitTermination()

      rows.toDF("u", "t").selectExpr(shape: _*).createOrReplaceTempView("ttv1_src")
      spark.sql("INSERT INTO graft.insv1 SELECT * FROM ttv1_src")

      def stored(t: String): Seq[String] =
        spark.sql(s"SELECT url, warc_ts, hex(html), text, content_len FROM graft.$t")
          .collect().map(_.toString).sorted.toSeq
      val streamed = stored("ttv1")
      assert(streamed.size == 30)
      assert(spark.sql("SELECT text FROM graft.ttv1 WHERE url = 'v3'").head().getString(0)
        == "v3@1800000000000003")
      assert(streamed == stored("insv1"))
      // the write does not evolve the table
      assert(!spark.table("graft.ttv1").schema.fieldNames.contains("lang"))
      assert(LakeTable.load(java.nio.file.Paths.get(wh, "ttv1")).currentSnapshot.schemaVersion == 1)
    } finally Seq("ttv1", "insv1").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.$t"))
  }
}
