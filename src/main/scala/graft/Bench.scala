package graft

import org.apache.spark.sql.SparkSession

import graft.app.BenchUtil

/** Per-round benchmark: headline queries on SPARK_GRAFT_SF_DIR plus a timed
  * CDC ingest of a deterministic skewed binlog. Prints ONE JSON line.
  *
  * Measurement discipline (round-2 lesson: a one-shot, cold, last-in-JVM
  * ingest run was 3–4× its reproducible value and corrupted the only
  * cross-round perf signal; round-4 lesson: the host's cold window is
  * WHOLE-RUN-scale — single-shot headline queries recorded 2–6× their warm
  * value, e.g. doc_exact_dedup 2.82 s recorded vs 0.5 s on a warm probe):
  *  - a small warmup ingest JITs the whole pipeline before anything is timed;
  *  - EVERY headline query gets one untimed warm pass (whole list first),
  *    then best-of-2 timed runs, materialized through the `noop` sink — the
  *    reproducible number, not the GC/page-cache-noise envelope;
  *  - the ingest headline is full-size-warmed then best-of-2;
  *  - steady-state multi-batch COW, MOR and CURATED ingests (16 batches
  *    into a growing table) are reported so the per-batch O(batch) merge cost is visible in
  *    round diffs; the three modes' attempts alternate across the window,
  *    best-of-3 per mode (drift-resistant — the ScalingBench protocol).
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS
  * (default 32), GRAFT_BENCH_EVENTS (default 1,000,000 CDC events).
  */
object Bench {
  // headline queries: the scale-relevant subset (skip tiny-dimension ones)
  private val headline = Seq(
    "cdc_merge_final_state", "cdc_merge_final_state_mor", "cdc_sql_merge",
    "cdc_spj_join", "cdc_latest_per_key",
    "cdc_dedup_salted", "cdc_window_tumbling", "cdc_flush_windows",
    "q1_pricing", "q3_shipping", "q_semi_join",
    "w_topn_per_group", "doc_exact_dedup", "doc_minhash_neardup",
    "doc_ngram_neardup", "doc_simhash_neardup", "doc_quality", "doc_langid",
    "doc_minhash_incremental", "emb_cosine_topk", "emb_lsh_pairs",
    "emb_ivf_topk", "emb_ivf_incremental", "mm_features")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString).toInt
    val cdcEvents = sys.env.getOrElse("GRAFT_BENCH_EVENTS", "1000000").toLong
    val spark = BenchUtil.newSession(cpus, shufflePartitions = cpus)

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // warmup: a small end-to-end ingest JITs codec, source, merge and commit
    // paths before ANY timed work (ScalingBench pattern)
    val warmDir = BenchUtil.ensureBinlog(BenchUtil.skewedProfile(40000L))
    BenchUtil.timedIngest(spark, warmDir, 20000L, 16)

    // a query is timed to full materialization through the `noop` sink:
    // under `count()` column pruning lets a query skip the work its rows
    // need. Rounds r01–r05 timed `count()`; its number is printed beside
    // (`queries_count`) so the two can be compared across one round.
    def runOnce(name: String, viaCount: Boolean = false): Double = {
      val fn = SparkEntry.queries(name)
      try time {
        val df = fn(spark, sfDir)
        if (viaCount) df.count(): Unit
        else df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); -1.0 }
    }
    // one untimed warm pass over the WHOLE headline list first: the cold
    // window is longer than any single query, so warming query-by-query
    // right before its own timed run would still land inside it
    headline.foreach(runOnce(_))
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val countResults = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // min over SUCCESSFUL runs only: a transient failure (-1) must not
    // discard the other run's valid measurement
    def best(runs: Seq[Double]): Double = runs.filter(_ >= 0).minOption.getOrElse(-1.0)
    headline.foreach { name =>
      val runs = (1 to 2).map(_ => (runOnce(name), runOnce(name, viaCount = true)))
      results(name) = best(runs.map(_._1))
      countResults(name) = best(runs.map(_._2))
    }

    // CDC ingest throughput (the north-star metric, at this parallelism).
    // FULL-SIZE untimed warmup first: this host's cold window is measured in
    // WHOLE 1M-event runs, not JIT time — back-to-back probes of identical
    // code ran 186 s → 56 s → 23.4 s (round-4 diagnosis; the small warmup
    // above tames JIT but not the first big run), so one full-profile run
    // is burned before ANY large metric is timed, and the timed metrics are
    // best-of-2.
    val profile = BenchUtil.skewedProfile(cdcEvents)
    val binlog = BenchUtil.ensureBinlog(profile)
    def ingestOnce(): (Long, Double, Double) = BenchUtil.timedIngest(spark, binlog,
      maxEventsPerBatch = math.max(250000L, cdcEvents / 8), nBuckets = 64)
    ingestOnce(): Unit // full-size warmup — discarded
    val (ev, ingestSec, eps) = Seq(ingestOnce(), ingestOnce()).minBy(_._2)
    results("cdc_ingest_1m") = ingestSec

    // steady-state COW + MOR + CURATED: 16 growing-table batches each
    // (per-batch cost must stay O(batch), independent of table size — the
    // co-located merge invariant; MOR is the DECLARED 10^10-scale path whose
    // number must stay flat as the table grows; CURATED is the flagship
    // one-call composition — ingest + curation increment + index append in
    // one loop — graded per-round for the first time this round). The modes'
    // attempts ALTERNATE across the measurement window, best-of-3 per mode —
    // the ScalingBench discipline: shared-host noise only ever SLOWS a run,
    // so the per-mode best approaches the quiet-host capability, and
    // alternation keeps one bad stretch from eating every attempt of one
    // mode (observed: back-to-back best-of-2 scored steady COW 94.8 s in a
    // window where an adjacent run measured 36.9 s).
    sealed trait Steady
    case object SCow extends Steady
    case object SMor extends Steady
    case object SCur extends Steady
    val steadyBatch = math.max(1L, cdcEvents / 8 / 16) // per-partition units
    val steadyAttempts = (1 to 3).flatMap(_ => Seq[(Steady, (Long, Double, Double))](
      SCow -> steadyReplay(spark, binlog, steadyBatch, graft.cdc.Cow),
      SMor -> steadyReplay(spark, binlog, steadyBatch, graft.cdc.Mor),
      SCur -> curatedReplay(spark, binlog, math.max(1L, cdcEvents / 16))))
    val (sev, ssec, seps) = steadyAttempts.collect { case (SCow, r) => r }.minBy(_._2)
    results("cdc_steady_cow_16b") = ssec
    val (mev, msec, meps) = steadyAttempts.collect { case (SMor, r) => r }.minBy(_._2)
    results("cdc_steady_mor_16b") = msec
    val (cev, csec, ceps) = steadyAttempts.collect { case (SCur, r) => r }.minBy(_._2)
    results("cdc_curated_16b") = csec

    // chained-mirror hop (round 5): a destination table attaches to the 1M
    // source table's change feed (full-state batch 0) and re-applies it
    // through the exactly-once merge — the per-round signal for the
    // graft-feed source + Mirror path. Untimed warm attempt, then best-of-2.
    val mirrorSrc = {
      val work = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(BenchUtil.scratch), "mirror-src")
      graft.cdc.Ingest.replayBatch(spark, binlog.toString,
        work.resolve("table"), eventsPerBatch = math.max(250000L, cdcEvents / 8),
        nBuckets = 64, mode = graft.cdc.Mor)
      work.resolve("table")
    }
    val feedRows = graft.lake.LakeTable.load(mirrorSrc).readRaw(spark).count()
    mirrorReplay(spark, mirrorSrc, feedRows): Unit // warm — discarded
    val (mrRows, mrSec, mrEps) =
      Seq(mirrorReplay(spark, mirrorSrc, feedRows),
        mirrorReplay(spark, mirrorSrc, feedRows)).minBy(_._2)
    results("cdc_mirror_1m") = mrSec
    graft.lake.LakeTable.deleteRecursively(mirrorSrc.getParent)

    def json(m: collection.Map[String, Double]) =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":${json(results)},"queries_count":${json(countResults)},"sf":"$sfDir","cpus":$cpus,"cdc_events":$ev,"cdc_eps":${f"$eps%.0f"},"steady_events":$sev,"steady_eps":${f"$seps%.0f"},"steady_mor_events":$mev,"steady_mor_eps":${f"$meps%.0f"},"curated_events":$cev,"curated_eps":${f"$ceps%.0f"},"mirror_rows":$mrRows,"mirror_rps":${f"$mrEps%.0f"}}""")
    spark.stop()
  }

  /** 16-batch growing-table replay, single run. */
  private def steadyReplay(spark: SparkSession, binlog: java.nio.file.Path,
      eventsPerBatch: Long, mode: graft.cdc.MergeMode): (Long, Double, Double) = {
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(BenchUtil.scratch), "steady")
    val t0 = System.nanoTime()
    val table = graft.cdc.Ingest.replayBatch(spark, binlog.toString,
      work.resolve("table"), eventsPerBatch = eventsPerBatch, nBuckets = 64,
      mode = mode)
    val events = table.currentSnapshot.batches.flatMap(_.lineage).map(_.count).sum
    val sec = (System.nanoTime() - t0) / 1e9
    graft.lake.LakeTable.deleteRecursively(work)
    (events, sec, events / sec)
  }

  /** 16-batch one-call curated stream (ingest → MOR merge → curation
    * increment → LSH index append per micro-batch), single run. Same event
    * volume as [[steadyReplay]]; the delta over the MOR number is the cost
    * of keeping the curation index exactly in step with the table. */
  private def curatedReplay(spark: SparkSession, binlog: java.nio.file.Path,
      maxEventsPerBatch: Long): (Long, Double, Double) = {
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(BenchUtil.scratch), "curated")
    val idx = work.resolve("lsh")
    graft.ops.LshIndex.create(idx,
      graft.ops.LshIndex.Params(n = 3, bands = 4, rowsPerBand = 2, shards = 16))
    val t0 = System.nanoTime()
    val q = graft.ops.Curate.startCuratedStream(spark, binlog.toString,
      work.resolve("table"), work.resolve("ckpt").toString, idx,
      maxEventsPerBatch = maxEventsPerBatch, nBuckets = 64,
      mode = graft.cdc.Mor)
    q.awaitTermination()
    val table = graft.lake.LakeTable.load(work.resolve("table"))
    val events = table.currentSnapshot.batches.flatMap(_.lineage).map(_.count).sum
    val sec = (System.nanoTime() - t0) / 1e9
    graft.lake.LakeTable.deleteRecursively(work)
    (events, sec, events / sec)
  }

  /** One mirror attach: a fresh destination tails `srcRoot`'s change feed
    * (full-state batch 0 — all `feedRows` physical winner rows) and applies
    * it through the exactly-once merge. Throughput = feed rows consumed/s. */
  private def mirrorReplay(spark: SparkSession, srcRoot: java.nio.file.Path,
      feedRows: Long): (Long, Double, Double) = {
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(BenchUtil.scratch), "mirror")
    val t0 = System.nanoTime()
    val q = graft.cdc.Mirror.startMirror(spark, srcRoot, work.resolve("table"),
      work.resolve("ckpt").toString, nBuckets = 64, mode = graft.cdc.Mor)
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    graft.lake.LakeTable.deleteRecursively(work)
    (feedRows, sec, feedRows / sec)
  }
}
