package graft.lake

import graft.{Oracle, SparkSpec}
import graft.binlog.{ChangeEventGen, GenProfile}

/** Everything-at-once concurrency torture: one MOR ingest stream with THREE
  * maintenance threads racing it — a compaction loop, a snapshot-expiry
  * loop, and a LIVE bucket-count doubling — all against the same table.
  * The single-writer LWW oracle must still hold exactly (byte-identical
  * text), the exactly-once lineage audit must stay gap-free, and the bucket
  * invariant must hold under whatever layout won.
  *
  * This is the 100 TB operating mode in miniature: ingest never pauses
  * while compaction, GC, and growth all run on their own cadences. */
class TortureSpec extends SparkSpec {

  test("ingest + compaction + expiry + live rebucket race; oracle, lineage, invariant all hold") {
    val p = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 4000)
    val binlog = tmpDir("tor-binlog")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 1000, chunkThreshold = 64 * 1024)
    val tblDir = tmpDir("tor-tbl").resolve("t")

    @volatile var stop = false
    @volatile var compactions, expiries = 0
    @volatile var rebucketed = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    def loopThread(name: String)(body: LakeTable => Unit): Thread =
      new Thread(() => {
        try {
          while (!stop) {
            if (LakeTable.exists(tblDir)) {
              val t = LakeTable.load(tblDir)
              if (t.currentSnapshot.files.nonEmpty) body(t)
            }
            Thread.sleep(40)
          }
        } catch { case e: Throwable => errs.add(e) }
      }, name)

    val compactor = loopThread("tor-compact") { t =>
      Maintain.compact(spark, t); compactions += 1
    }
    // keepLast generous enough that the in-flight maintenance threads'
    // reads (which do not pin) stay inside the retained tail
    val expirer = loopThread("tor-expire") { t =>
      val (n, _) = Maintain.expireSnapshots(t, keepLast = 6)
      if (n > 0) expiries += 1
    }
    val rebucketer = new Thread(() => {
      try {
        while (!stop && (!LakeTable.exists(tblDir) ||
          LakeTable.load(tblDir).currentSnapshot.batches.size < 3)) Thread.sleep(30)
        if (!stop) {
          val t = LakeTable.load(tblDir)
          Maintain.rebucket(spark, t, 16)
          rebucketed = true
        }
      } catch { case e: Throwable => errs.add(e) }
    }, "tor-rebucket")

    compactor.start(); expirer.start(); rebucketer.start()
    val table =
      try graft.cdc.Ingest.replayBatch(spark, binlog.toString, tblDir,
        eventsPerBatch = 250, nBuckets = 8, mode = graft.cdc.Mor)
      finally {
        rebucketer.join(180000)
        stop = true
        compactor.join(60000); expirer.join(60000)
      }
    assert(errs.isEmpty, s"background thread failed: ${errs.peek()}")
    assert(compactions > 0 && rebucketed,
      s"interleaving too weak: compactions=$compactions rebucketed=$rebucketed")

    val snap = table.currentSnapshot
    assert(snap.nBuckets == 16)

    // bucket invariant under whichever interleaving won
    snap.files.groupBy(_.bucket).foreach { case (b, fs) =>
      val foreign = table.readFiles(spark, snap, fs)
        .filter(LakeTable.bucketOf(org.apache.spark.sql.functions.col("url"),
          snap.nBuckets) =!= b).count()
      assert(foreign == 0, s"bucket $b holds $foreign foreign rows")
    }

    // exact oracle equality, byte-identical extracted text
    val oracle = Oracle.finalState(p)
    val got = table.read(spark).collect().map { r =>
      r.getAs[String]("url") -> ((Oracle.micros(r.getAs[java.sql.Timestamp]("warc_ts")),
        r.getAs[String]("text")))
    }.toMap
    assert(got.size == oracle.size, s"engine=${got.size} oracle=${oracle.size}")
    oracle.foreach { case (url, (ts, text, _, _)) =>
      assert(got(url)._1 == ts, s"warc_ts mismatch at $url")
      assert(got(url)._2 == text, s"text not byte-identical at $url")
    }

    // exactly-once audit: markers complete, lineage gap-free, full coverage
    val lin = snap.batches.flatMap(_.lineage)
    (0 until p.partitions).foreach { part =>
      val runs = lin.filter(_.partition == part).sortBy(_.startOffset)
      runs.sliding(2).foreach {
        case Seq(x, y) => assert(y.startOffset == x.startOffset + x.count)
        case _ =>
      }
      assert(runs.map(_.count).sum == p.eventsPerPartition)
    }
  }
}
