package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.lake.LakeTable

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path, traceOut: Path)

/** State of one benchmark run: the session, the tracer, the samples the
  * closed loop collects and the correctness tally. */
final class Run(val spark: SparkSession, val args: Args, val sessionS: Double) {
  val tracer = new Tracer(spark.sparkContext, s"${args.workload}-${args.seed}", args.trace)
  val warehouse: Path = args.work.resolve("warehouse")
  var attempted = 0L
  var failed = 0L

  val commitS = mutable.ArrayBuffer.empty[Double]
  val epsSamples = mutable.ArrayBuffer.empty[Double]
  val lookupMs = mutable.ArrayBuffer.empty[Double]
  val planMs = mutable.ArrayBuffer.empty[Double]
  val execMs = mutable.ArrayBuffer.empty[Double]
  val scanS = mutable.ArrayBuffer.empty[Double]
  /** Wall seconds of each timed cycle, and whether it was traced. */
  val cycles = mutable.ArrayBuffer.empty[(Double, Boolean)]
  val filesPerBucketMax = mutable.ArrayBuffer.empty[Double]
  /** Rows returned by the scans of traced cycles. */
  var scanRowsTraced = 0L
  /** Largest heap in use right after one of the loop's full collections. */
  var heapPeakMb = 0.0
  /** GC seconds of the loop's full collections, which no sample covers. */
  var forcedGcS = 0.0

  /** Drops the samples a warm-up took. */
  def clearSamples(): Unit = Seq(commitS, epsSamples, lookupMs, planMs, execMs, scanS).foreach(_.clear())

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[graftbench] FAIL: $what") }
  }

  /** Runs `op`, counting an exception as a failed operation. */
  def guarded(what: String)(op: => Unit): Unit =
    try op catch { case t: Exception =>
      attempted += 1; failed += 1
      System.err.println(s"[graftbench] FAIL: $what: $t"); t.printStackTrace()
    }

  /** How many cycles a run of `--seconds` takes: the seconds over the
    * cycle's nominal cost on a 4-core machine, at least `min`. The count
    * depends on the arguments only, so a faster or slower machine takes
    * the same samples from the same point of the JVM's warm-up. */
  def cyclesFor(nominalCycleS: Double, min: Int): Int =
    math.max(min, math.round(args.seconds / nominalCycleS).toInt)

  /** Closed loop: `n` cycles, one call at a time. Traced runs alternate an
    * untraced and a traced cycle so the tracing overhead is measured
    * within one run. A full collection runs before the first cycle and
    * after each one, outside the cycle's wall, so every cycle starts from
    * a heap that holds only live data. */
  def loop(n: Int)(cycle: Int => Unit): Unit = {
    collect()
    for (c <- 0 until n) {
      tracer.enabled = args.trace && c % 2 == 1
      val s = System.nanoTime()
      tracer.span("cycle", "bench")(cycle(c))
      cycles += ((System.nanoTime() - s) / 1e9 -> tracer.enabled)
      tracer.enabled = false
      collect()
    }
  }

  /** One full collection; the heap in use right after it is the live data.
    * Heap in use at any other moment depends on when the collector last
    * ran and on how much garbage it left in the old generation. */
  private def collect(): Unit = {
    val g0 = Run.gcSeconds
    System.gc()
    forcedGcS += Run.gcSeconds - g0
    heapPeakMb = math.max(heapPeakMb, Run.heapUsedMb)
  }

  /** One SQL point lookup through the `graft` catalog, checked against the
    * oracle. Planning (parse, analysis, physical plan) and execution (a
    * full-row collect) are timed apart. */
  def lookup(table: String, url: String, oracle: Oracle): Unit = guarded(s"lookup $url") {
    tracer.span("lookup", "sql") {
      val t0 = System.nanoTime()
      val df = spark.sql(s"SELECT url, warc_ts, html, text FROM graft.$table WHERE url = '$url'")
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      planMs += (t1 - t0) / 1e6
      execMs += (t2 - t1) / 1e6
      lookupMs += (t2 - t0) / 1e6
      check(oracle.lookupOk(url, rows.toSeq.map(Oracle.rowView)), s"lookup $url in $table")
    }
  }

  /** `n` lookups: 60% live urls, 20% deleted urls, 20% urls never written. */
  def lookups(table: String, oracle: Oracle, p: Profile, n: Int, salt: Long): Unit = {
    val us = oracle.urls
    def pick(i: Int, live: Boolean): String = {
      val start = Gen.below(Gen.key(args.seed, salt, i), us.size)
      (0 until us.size).iterator.map(j => us((start + j) % us.size))
        .find(u => oracle.version(u).exists(_.deleted != live)).getOrElse(us(start))
    }
    for (i <- 0 until n) {
      val url = (i % 5) match {
        case 3 => pick(i, live = false)
        case 4 => Gen.unseenUrl(p, i % p.partitions, Gen.below(Gen.key(args.seed, salt, i), 1000000))
        case _ => pick(i, live = true)
      }
      lookup(table, url, oracle)
    }
  }

  /** One full resolved scan through SQL, materialized with the noop writer;
    * its row count is checked against the oracle. */
  def scan(table: String, oracle: Oracle): Unit = guarded(s"scan $table") {
    tracer.span("scan", "sql") {
      val obs = Observation()
      val t0 = System.nanoTime()
      spark.sql(s"SELECT * FROM graft.$table").observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      scanS += (System.nanoTime() - t0) / 1e9
      val n = obs.get("n").asInstanceOf[Long]
      if (tracer.enabled) scanRowsTraced += n
      check(n == oracle.liveCount, s"scan of $table returned $n rows, oracle expects ${oracle.liveCount}")
    }
  }

  /** Compares the table's resolved read to the oracle's fold. */
  def verify(root: Path, oracle: Oracle): Unit = guarded(s"verify $root") {
    val (n, d) = Oracle.tableDigest(LakeTable.load(root).read(spark))
    val mismatch = oracle.verify(n, d)
    check(mismatch.isEmpty, s"$root: ${mismatch.getOrElse("")}")
  }

  def recordFanOut(t: LakeTable): Unit = if (args.trace)
    filesPerBucketMax += t.currentSnapshot.files.groupBy(_.bucket).values.map(_.size).maxOption.getOrElse(0).toDouble
}

object Run {
  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.1f] $msg")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def secs(body: => Unit): Double = time(body)._2

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def heapUsedMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}
