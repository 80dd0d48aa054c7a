package graft.app

import graft.binlog.GenProfile

/** A/B the late-materialization dedup (meta-only shuffle + winner payload
  * fetch) against the default full-payload shuffle, at two duplicate
  * factors. Wall clock on tmpfs-local shuffle understates the win (shuffle
  * moves at memory speed here but crosses a NETWORK on a real cluster), so
  * shuffle bytes per run is the headline number.
  *
  * Env: GRAFT_AB_EVENTS (default 1M), GRAFT_AB_CORES (default 16),
  * GRAFT_AB_MODE (mor|cow, default mor), GRAFT_AB_HTML (mean payload bytes,
  * default 900 — set 4000+ to model Common-Crawl-size pages). */
object LateMatAB {
  def main(args: Array[String]): Unit = {
    val events = sys.env.getOrElse("GRAFT_AB_EVENTS", "1000000").toLong
    val cores = sys.env.getOrElse("GRAFT_AB_CORES", "16").toInt
    val htmlMean = sys.env.getOrElse("GRAFT_AB_HTML", "900").toInt
    val mode = sys.env.getOrElse("GRAFT_AB_MODE", "mor") match {
      case "cow" => graft.cdc.Cow
      case _ => graft.cdc.Mor
    }
    val spark = BenchUtil.newSession(cores, shufflePartitions = cores)

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    })

    // two duplicate factors: the bench default (~2x) and a hot-key regime (10x)
    val profiles = Seq(
      "dup2" -> BenchUtil.skewedProfile(events).copy(htmlMeanBytes = htmlMean),
      "dup10" -> GenProfile.skewed(seed = 42L, partitions = 8, perPartition = events / 8)
        .copy(name = "skewed-dup10", urlPoolPerPartition = math.max(1, (events / 8 / 10).toInt),
          htmlMeanBytes = htmlMean))

    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    profiles.foreach { case (tag, p) =>
      val binlog = BenchUtil.ensureBinlog(p)
      def run(late: Boolean): (Double, Long) = {
        graft.cdc.Merge.lateMaterialize = late
        // drain BEFORE the reset too: the previous run's late task-end
        // events must not land after this zero and pollute the count
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
        shuffleBytes.set(0L)
        val work = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(BenchUtil.scratch), "latemat")
        val t0 = System.nanoTime()
        // two large batches: the within-BATCH duplicate factor is what the
        // mode exploits (tiny batches over a large pool see few duplicates
        // regardless of the corpus-level factor)
        val table = graft.cdc.Ingest.replayBatch(spark, binlog.toString,
          work.resolve("table"), eventsPerBatch = math.max(1L, events / 8 / 2),
          nBuckets = 64, mode = mode)
        val n = table.currentSnapshot.batches.flatMap(_.lineage).map(_.count).sum
        val sec = (System.nanoTime() - t0) / 1e9
        // drain async listener-bus task-end events deterministically
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
        graft.lake.SinkIO.rmDir(work)
        val sb = shuffleBytes.get()
        System.err.println(f"[latemat-ab] $tag late=$late $sec%.1f s  ${n / sec}%.0f ev/s  shuffle=${sb / 1e6}%.0f MB  admitBitmap=${graft.cdc.Merge.lastAdmitBitmapBytes} B")
        (n / sec, sb)
      }
      run(late = false) // warm (JIT + page cache) — discard
      val full = Seq(run(false), run(false)).maxBy(_._1)
      val late = Seq(run(true), run(true)).maxBy(_._1)
      out(tag) = f""""${tag}":{"full_eps":${full._1}%.0f,"late_eps":${late._1}%.0f,"full_shuffle_mb":${full._2 / 1e6}%.0f,"late_shuffle_mb":${late._2 / 1e6}%.0f,"shuffle_ratio":${full._2.toDouble / math.max(1L, late._2)}%.2f}"""
    }
    graft.cdc.Merge.lateMaterialize = false
    println(s"""{"latemat_ab":{${out.values.mkString(",")}},"mode":"$mode","html_mean":$htmlMean}""")
    spark.stop()
  }
}
