package graft.sql

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftBridge

import graft.SparkSpec
import graft.lake.LakeTable

/** The resolved read's fixed costs: building a SQL scan's parquet readers
  * makes no broadcast once the session's Hadoop conf is cached, a conf
  * change still reaches the readers, a pushed url equality decodes about
  * one page of a url-sorted file, and every file the reader opens is
  * closed again. */
class ReaderCostSpec extends SparkSpec {

  private val cols = "(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, " +
    "content_len BIGINT, lang STRING)"

  /** `n` url-sorted rows `u0000 … u<n-1>` inserted in one statement. */
  private def insertRows(table: String, n: Int, round: Int = 0): Unit =
    spark.sql(
      s"""INSERT INTO graft.$table
         |SELECT concat('https://rc.example/u', lpad(CAST(id AS STRING), 5, '0')) AS url,
         |  timestamp_micros(${1700000000000000L + round} + id) AS warc_ts,
         |  cast(concat('<p>t$round-', CAST(id AS STRING), '</p>') AS BINARY),
         |  CAST(NULL AS STRING), CAST(NULL AS BIGINT), 'en'
         |FROM range(0, $n, 1, 1)""".stripMargin)

  /** A fresh table of one bucket holding one file of `n` rows. */
  private def singleFileTable(name: String, n: Int): LakeTable = {
    val wh = tmpDir(s"rc-$name-wh").toString
    GraftSql.enable(spark, wh)
    spark.sql(s"DROP TABLE IF EXISTS graft.$name")
    spark.sql(s"CREATE TABLE graft.$name $cols USING graft TBLPROPERTIES('buckets'='1')")
    insertRows(name, n)
    val lake = LakeTable.load(Paths.get(wh, name))
    assert(lake.currentSnapshot.files.size == 1, "the bucket must hold one file")
    assert(lake.currentSnapshot.files.head.rowCount == n)
    lake
  }

  /** (stages submitted, rows read: the sum of the tasks' `recordsRead`)
    * while `body` runs. */
  private def jobStats(body: => Unit): (Int, Long) = {
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    }
    GraftBridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftBridge.waitListenerBusEmpty(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    (stages.get(), read.get())
  }

  private def recordsRead(body: => Unit): Long = jobStats(body)._2

  private def lookup(table: String, url: String): Seq[String] =
    spark.sql(s"SELECT text FROM graft.$table WHERE url = '$url'")
      .collect().map(_.getString(0)).toSeq

  test("repeated lookups make no broadcast, and a conf change reaches the reader") {
    val n = 2000
    singleFileTable("rc_bc", n)
    val url = "https://rc.example/u01000"
    (0 until 3).foreach(_ => assert(lookup("rc_bc", url) == Seq("t0-1000"))) // warm
    // broadcast ids come from one counter: the probe's own broadcasts
    // bracket whatever the lookups broadcast in between. The scheduler
    // broadcasts each stage's task binary; nothing else may broadcast
    val sc = spark.sparkContext
    val before = sc.broadcast(0).id
    val (stages, _) = jobStats(
      (0 until 5).foreach(_ => assert(lookup("rc_bc", url) == Seq("t0-1000"))))
    val after = sc.broadcast(0).id
    assert(stages >= 5)
    assert(after - before - 1 == stages,
      s"5 warm lookups ran $stages stages but made ${after - before - 1} broadcasts")

    val paged = recordsRead(assert(lookup("rc_bc", url) == Seq("t0-1000")))
    assert(paged < n, s"the pushed equality must skip pages: read $paged of $n")
    val key = "parquet.filter.columnindex.enabled"
    spark.conf.set(key, "false")
    try {
      val whole = recordsRead(assert(lookup("rc_bc", url) == Seq("t0-1000")))
      assert(whole == n, s"without the column index the lookup reads the file: $whole of $n")
    } finally spark.conf.unset(key)
    assert(recordsRead(lookup("rc_bc", url)) == paged)
  }

  test("a lookup decodes one page of a url-sorted file") {
    val n = 2400
    singleFileTable("rc_page", n)
    Seq(1200, 1201, 17, n - 1).foreach { i =>
      val url = f"https://rc.example/u$i%05d"
      var got: Seq[String] = Nil
      val read = recordsRead { got = lookup("rc_page", url) }
      assert(got == Seq(s"t0-$i"), s"$url must return exactly its winner: $got")
      assert(read <= 256, s"$url read $read of $n rows")
    }
  }

  test("the engine-owned reader closes every file it opens") {
    val wh = tmpDir("rc-fd-wh").toString
    GraftSql.enable(spark, wh)
    spark.sql("DROP TABLE IF EXISTS graft.rc_fd")
    spark.sql(s"CREATE TABLE graft.rc_fd $cols USING graft TBLPROPERTIES('buckets'='2')")
    spark.conf.set(GraftSql.MergeModeConf, "mor")
    try (0 until 5).foreach(r => insertRows("rc_fd", 600, r))
    finally spark.conf.unset(GraftSql.MergeModeConf)
    val lake = LakeTable.load(Paths.get(wh, "rc_fd"))
    assert(lake.currentSnapshot.files.groupBy(_.bucket).values.forall(_.size >= 5),
      "each bucket must hold at least five delta files")

    def fds(): Int = {
      val s = Files.list(Paths.get("/proc/self/fd"))
      try s.count().toInt finally s.close()
    }
    // full drains, early exits (a pushed LIMIT stops every file mid-run)
    // and point lookups, through SQL and through LakeTable.read
    def readAll(): Unit = {
      assert(spark.sql("SELECT url, text FROM graft.rc_fd").collect().length == 600)
      assert(spark.sql("SELECT url FROM graft.rc_fd LIMIT 3").collect().length == 3)
      assert(lookup("rc_fd", "https://rc.example/u00300") == Seq("t4-300"))
      assert(lake.read(spark).collect().length == 600)
      assert(lake.read(spark).limit(2).collect().length == 2)
    }
    (0 until 3).foreach(_ => readAll()) // warm: pools, caches, lazy opens
    val base = fds()
    (0 until 50).foreach(_ => readAll())
    val grown = fds() - base
    assert(grown <= 16, s"open descriptors grew by $grown over 50 rounds of reads")
  }
}
