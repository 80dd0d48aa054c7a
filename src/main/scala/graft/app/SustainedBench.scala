package graft.app

/** Sustained-ingest evidence: replay a large MOR stream in many fixed-size
  * batches against ONE growing table and report the per-batch wall times.
  * The 10^10-event claim rests on the per-batch cost being O(batch),
  * independent of accumulated table size — so the slope of batch time over
  * batch index (table size) must be ~0, with periodic incremental-compaction
  * spikes bounded and amortized.
  *
  * Usage: runMain graft.app.SustainedBench [totalEvents] [cores] [batches] [rebucketAt]
  * Prints one JSON line with per-batch seconds, the first/last-quartile
  * means, and their ratio (≈1.0 = no degradation with table growth).
  *
  * `rebucketAt` > 0 starts a LIVE bucket-count doubling
  * ([[graft.lake.Maintain.rebucket]]) on a background thread when that
  * batch index commits — the evidence that the one remaining growth
  * operation runs WITHOUT pausing ingest: batches keep landing during the
  * cutover (at most one recomputes on the layout guard), and the JSON
  * reports the cutover wall plus the batch index at which it finished. */
object SustainedBench {
  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toLong).getOrElse(8000000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(
      math.min(32, Runtime.getRuntime.availableProcessors()))
    val nBatches = args.lift(2).map(_.toInt).getOrElse(32)
    val rebucketAt = args.lift(3).map(_.toInt).getOrElse(0)
    val spark = BenchUtil.newSession(cores, shufflePartitions = cores)
    val profile = BenchUtil.skewedProfile(total)
    val binlog = BenchUtil.ensureBinlog(profile)
    // warmup
    BenchUtil.timedIngest(spark, BenchUtil.ensureBinlog(BenchUtil.skewedProfile(40000L)), 20000L, 16)

    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(BenchUtil.scratch), "sustained")
    val table = graft.lake.LakeTable.create(work.resolve("table"), nBuckets = 64)
    val perPartition = total / profile.partitions
    val step = math.max(1L, perPartition / nBatches) // PER-PARTITION offset units
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val curBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    @volatile var rbSec = -1.0
    @volatile var rbDoneAtBatch = -1L
    @volatile var rbErr: Throwable = null
    var rbThread: Thread = null
    var batchId = 0L
    var from = 0L
    while (from < perPartition) {
      val until = math.min(perPartition, from + step)
      curBatch.set(batchId)
      if (rebucketAt > 0 && batchId == rebucketAt) {
        rbThread = new Thread(() => {
          try {
            val t0 = System.nanoTime()
            graft.lake.Maintain.rebucket(spark, table,
              table.currentSnapshot.nBuckets * 2)
            rbSec = (System.nanoTime() - t0) / 1e9
            rbDoneAtBatch = curBatch.get()
          } catch { case e: Throwable => rbErr = e }
        }, "sustained-rebucket")
        rbThread.start()
      }
      val t0 = System.nanoTime()
      val df = graft.binlog.BinlogRead.range(spark, binlog.toString, from, until)
      graft.cdc.Ingest.applyBatch(spark, table, mode = graft.cdc.Mor)(df, batchId)
      times += (System.nanoTime() - t0) / 1e9
      from = until
      batchId += 1
    }
    if (rbThread != null) rbThread.join(600000)
    if (rbErr != null) throw rbErr
    val q = math.max(1, times.size / 4)
    val firstQ = times.take(q).sum / q
    val lastQ = times.takeRight(q).sum / q
    val js = times.map(t => f"$t%.2f").mkString("[", ",", "]")
    val rb = if (rebucketAt > 0)
      s""","rebucket_at":$rebucketAt,"rebucket_sec":${f"$rbSec%.2f"},""" +
        s""""rebucket_done_at_batch":$rbDoneAtBatch,"n_buckets_final":${table.currentSnapshot.nBuckets}"""
    else ""
    println(s"""{"metric":"sustained_mor","events":$total,"cores":$cores,"batches":${times.size},""" +
      s""""per_batch_sec":$js,"first_quartile_mean":${f"$firstQ%.2f"},"last_quartile_mean":${f"$lastQ%.2f"},""" +
      s""""growth_ratio":${f"${lastQ / firstQ}%.3f"}$rb}""")
    graft.lake.LakeTable.deleteRecursively(work)
    spark.stop()
  }
}
