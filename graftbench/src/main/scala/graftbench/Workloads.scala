package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.streaming.Trigger

import graft.binlog.BinlogRead
import graft.cdc.{Ingest, Mor}
import graft.lake.LakeTable
import graft.model.TextExtract

/** What a workload reports besides the samples kept on [[Run]]. */
final case class Outcome(setupS: Double, eventsApplied: Long, tableBytes: Long,
    layers: Option[LayerInputs])

object Workloads {
  val Buckets = 16

  val names = Seq("bulk_ingest", "trickle_serve")

  def run(r: Run): Outcome = r.args.workload match {
    case "bulk_ingest" => bulk(r)
    case "trickle_serve" => trickle(r)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Times the extractor over the live winners of offsets `[from, until)`. */
  private def extractProbe(p: Profile, from: Long, until: Long): Double = {
    val o = new Oracle(p)
    o.addRange(from, until)
    val htmls = o.urls.flatMap(u => o.version(u).filterNot(_.deleted).map(v => Gen.html(u, v.offset, p)))
    Run.secs(htmls.foreach(TextExtract.extract))
  }

  /** Times a noop materialization of the binlog range `[from, until)`. */
  private def readProbe(r: Run, dir: Path, from: Long, until: Long): Double = Run.secs(
    BinlogRead.range(r.spark, dir.toString, from, until).write.format("noop").mode("overwrite").save())

  // bulk_ingest: a fresh table per cycle, fed by the streaming ingest in a
  // few large micro-batches, then served. The warm-up is two cycles like the
  // timed ones.
  private val BulkPerPartition = 9000L
  private val BulkBatches = 3
  private val BulkLookups = 20
  private val BulkScans = 4
  private val BulkWarmCycles = 2
  private val BulkMinCycles = 3
  private val BulkNominalCycleS = 7.5

  private def bulk(r: Run): Outcome = {
    val p = Profile(r.args.seed, partitions = 4, urlPoolPerPartition = (BulkPerPartition / 2).toInt)
    val events = BulkPerPartition * p.partitions
    val ingestQueries = mutable.ArrayBuffer.empty[(String, Boolean)]
    // setup: generate the binlog three times (median counts), fold the
    // oracle, and warm the JVM with cycles like the timed ones
    val gens = (0 until 3).map(i => Run.time(Gen.write(p, r.args.work.resolve(s"binlog$i"), 0, BulkPerPartition)))
    val binlog = r.args.work.resolve("binlog2")
    val (oracle, foldS) = Run.time { val o = new Oracle(p); o.addRange(0, BulkPerPartition); o }
    var n = 0
    def cycle(): Unit = {
      val name = s"bulk$n"
      n += 1
      val root = r.warehouse.resolve(name)
      val commits = mutable.ArrayBuffer.empty[Long]
      val t0 = System.nanoTime()
      r.tracer.span("ingest", "cdc") {
        val q = Ingest.startStream(r.spark, binlog.toString, root,
          r.args.work.resolve("ckpt").resolve(name).toString,
          maxEventsPerBatch = events / BulkBatches, trigger = Trigger.AvailableNow(),
          nBuckets = Buckets, mode = Mor, afterBatch = (_, _) => commits += System.nanoTime())
        q.awaitTermination()
        q.exception.foreach(throw _)
        ingestQueries += q.id.toString -> r.tracer.enabled
      }
      val wall = (System.nanoTime() - t0) / 1e9
      r.epsSamples += events / wall
      (t0 +: commits).sliding(2).foreach(w => r.commitS += (w(1) - w(0)) / 1e9)
      r.recordFanOut(LakeTable.load(root))
      for (_ <- 1 to BulkScans) r.scan(name, oracle)
      r.lookups(name, oracle, p, BulkLookups, salt = n)
    }
    val warmS = Run.secs(for (_ <- 1 to BulkWarmCycles) cycle())
    r.clearSamples()
    ingestQueries.clear()
    val setupS = r.sessionS + Run.median(gens.map(_._2)) + foldS + warmS
    Run.log(f"setup: session ${r.sessionS}%.1f s, gen ${gens.map(_._2).mkString(",")}, " +
      f"fold $foldS%.1f s, warm $warmS%.1f s")

    val gc0 = Run.gcSeconds
    r.loop(r.cyclesFor(BulkNominalCycleS, BulkMinCycles))(_ => cycle())
    Run.log(s"loop: ${r.cycles.size} cycles")
    val gcS = Run.gcSeconds - gc0 - r.forcedGcS
    val tables = (BulkWarmCycles until n).map(i => r.warehouse.resolve(s"bulk$i"))
    tables.foreach(r.verify(_, oracle))
    val last = LakeTable.load(tables.last)

    val layers = if (!r.args.trace) None else {
      val per = BulkPerPartition / BulkBatches
      val ranges = (0 until BulkBatches).map(b => (b * per, (b + 1) * per))
      val readS = ranges.map { case (f, u) => readProbe(r, binlog, f, u) }
      val extractS = ranges.map { case (f, u) => extractProbe(p, f, u) }
      r.tracer.drain()
      val traced = ingestQueries.filter(_._2).map(_._1).toSet
      val progress = r.tracer.progress.synchronized(r.tracer.progress.filter(x => traced(x._1)).toSeq)
      val byBatch = r.tracer.allJobs.groupBy(j => (j.query, j.batch))
      val traces = progress.map { case (q, id, d) =>
        BatchTrace(d.getOrElse("addBatch", 0L) / 1000.0, byBatch.getOrElse((q, id), Nil))
      }
      // every cycle ingests the same binlog, so one table's commits stand for all
      Some(LayerInputs(traces, events, Commits.of(last, -1L), readS,
        gens.head._1.toDouble / BulkBatches, extractS, progress.map(_._3), r.scanRowsTraced, gcS))
    }
    Outcome(setupS, events, Commits.tableBytes(last.currentSnapshot), layers)
  }

  // trickle_serve: a preloaded table takes one small batch per cycle through
  // Ingest.applyBatch, and is served after every batch. The preload is one
  // delta file per bucket and each warm-up cycle adds one, so the delta
  // tier (folded past 8 files per bucket) folds in the fourth timed cycle,
  // and the twelve timed cycles see every delta count from 1 to 8. The
  // preload's files get url bloom sidecars; the fold carries them to the
  // files that replace them.
  private val TricklePreloadPerPartition = 6000L
  private val TrickleBatchPerPartition = 500L
  private val TrickleWarmCycles = 4
  private val TrickleMinCycles = 12
  private val TrickleNominalCycleS = 2.1
  private val TrickleLookups = 9
  private val TrickleScans = 1

  private def trickle(r: Run): Outcome = {
    val p = Profile(r.args.seed, partitions = 4, urlPoolPerPartition = 8000)
    val pre = TricklePreloadPerPartition
    val b = TrickleBatchPerPartition
    val nCycles = r.cyclesFor(TrickleNominalCycleS, TrickleMinCycles)
    val ranges = (0 until TrickleWarmCycles + nCycles).map(c => (pre + c * b, pre + (c + 1) * b))
    val name = "trickle"
    val dir = r.args.work.resolve("binlog2")
    def apply(t: LakeTable, range: (Long, Long), batchId: Long): Unit =
      Ingest.applyBatch(r.spark, t, mode = Mor)(BinlogRead.range(r.spark, dir.toString, range._1, range._2), batchId)

    // setup: generate the binlog three times (median counts), one segment
    // set per batch; preload the table and build its blooms; warm the JVM
    // with cycles like the timed ones
    val gens = (0 until 3).map { i =>
      Run.time(((0L, pre) +: ranges).map { case (f, u) => Gen.write(p, r.args.work.resolve(s"binlog$i"), f, u) })
    }
    val (table, preloadS) = Run.time {
      val t = LakeTable.create(r.warehouse.resolve(name), Buckets)
      apply(t, (0L, pre), 0L)
      val built = r.spark.sql(s"CALL graft.system.build_blooms('$name')").collect().head.getLong(0)
      r.check(built > 0, s"build_blooms on $name built no sidecar")
      t
    }
    val (oracle, foldS) = Run.time { val o = new Oracle(p); o.addRange(0, pre); o }

    val tracedRanges = mutable.ArrayBuffer.empty[(Long, Long)]
    // table bytes and events applied after the last of the minimum cycles:
    // a point every run reaches, whatever its speed
    var sizeAt = (0L, 1L)
    var applied = 0
    def cycle(c: Int): Unit = {
      val rg = ranges(c)
      r.guarded(s"apply batch $c") {
        r.tracer.span("apply", "cdc") {
          val t0 = System.nanoTime()
          apply(table, rg, 1L + c)
          r.commitS += (System.nanoTime() - t0) / 1e9
        }
        r.epsSamples += p.partitions * b / r.commitS.last
        applied += 1
      }
      oracle.addRange(rg._1, rg._2)
      r.recordFanOut(table)
      r.lookups(name, oracle, p, TrickleLookups, salt = c)
      for (_ <- 1 to TrickleScans) r.scan(name, oracle)
      if (r.tracer.enabled) tracedRanges += rg
      if (c == TrickleWarmCycles + TrickleMinCycles - 1)
        sizeAt = Commits.tableBytes(table.currentSnapshot) -> (pre + applied * b) * p.partitions
    }
    val warmS = Run.secs((0 until TrickleWarmCycles).foreach(cycle))
    r.clearSamples()
    val setupS = r.sessionS + Run.median(gens.map(_._2)) + preloadS + foldS + warmS
    Run.log(f"setup: session ${r.sessionS}%.1f s, gen ${gens.map(_._2).mkString(",")}, " +
      f"preload $preloadS%.1f s, fold $foldS%.1f s, warm $warmS%.1f s")

    val head0 = table.currentSnapshotId
    val applied0 = applied
    val gc0 = Run.gcSeconds
    r.loop(nCycles)(c => cycle(TrickleWarmCycles + c))
    Run.log(s"loop: ${r.cycles.size} cycles")
    val gcS = Run.gcSeconds - gc0 - r.forcedGcS
    r.verify(table.root, oracle)

    val layers = if (!r.args.trace) None else {
      val readS = tracedRanges.map { case (f, u) => readProbe(r, dir, f, u) }
      val extractS = tracedRanges.map { case (f, u) => extractProbe(p, f, u) }
      r.tracer.drain()
      val traces = r.tracer.spans.filter(_.name == "apply").toSeq.map(s => BatchTrace(s.dur / 1000.0, r.tracer.jobsUnder(s)))
      Some(LayerInputs(traces, (applied - applied0) * p.partitions * b, Commits.of(table, head0),
        readS.toSeq, gens.head._1.tail.sum.toDouble / ranges.size,
        extractS.toSeq, Nil, r.scanRowsTraced, gcS))
    }
    Outcome(setupS, sizeAt._2, sizeAt._1, layers)
  }
}
