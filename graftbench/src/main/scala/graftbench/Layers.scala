package graftbench

import scala.collection.mutable

import graft.lake.{LakeTable, Snapshot}

/** What the commits of one table added, read from its snapshot chain. */
final case class Commits(batches: Int, rowsAdded: Long, bytesAdded: Long, filesAdded: Long,
    compactions: Int) {
  def +(o: Commits): Commits = Commits(batches + o.batches, rowsAdded + o.rowsAdded,
    bytesAdded + o.bytesAdded, filesAdded + o.filesAdded, compactions + o.compactions)
}

object Commits {
  val zero: Commits = Commits(0, 0, 0, 0, 0)

  /** Commits after snapshot `afterId`: a commit that adds batch markers is a
    * batch; one that adds files without a marker is a compaction. */
  def of(t: LakeTable, afterId: Long): Commits = t.snapshotIds.filter(_ > afterId).foldLeft(zero) { (acc, id) =>
    val s = t.snapshot(id)
    val parent = if (s.parentId < 0) None else Some(t.snapshot(s.parentId))
    val before = parent.map(_.files.map(_.path).toSet).getOrElse(Set.empty[String])
    val added = s.files.filterNot(f => before(f.path))
    if (s.batches.size > parent.map(_.batches.size).getOrElse(0))
      acc + Commits(1, added.map(_.rowCount).sum, added.map(_.bytes).sum, added.size, 0)
    else if (added.nonEmpty) acc + Commits(0, 0, 0, 0, 1)
    else acc
  }

  def tableBytes(s: Snapshot): Long = s.files.map(_.bytes).sum
}

/** One applied batch as the trace saw it: its wall time and its jobs. */
final case class BatchTrace(wallS: Double, jobs: Seq[JobRec])

/** Everything a workload hands to the per-layer report. */
final case class LayerInputs(
    batches: Seq[BatchTrace],
    events: Long,
    commits: Commits,
    binlogReadS: Seq[Double],
    binlogBytesPerBatch: Double,
    extractS: Seq[Double],
    streamProgress: Seq[Map[String, Long]],
    scanRows: Long,
    gcS: Double)

/** Turns spans and attributed jobs into the per-layer metrics. */
object Layers {
  /** Engine modules the kept workloads reach, plus the Spark runtime. `ops`
    * (curation) is left out until a workload drives it. */
  val Modules = Seq("binlog", "cdc", "model", "lake", "plans", "sql", "spark")

  private def sumBy(js: Seq[JobRec])(f: JobRec => Long): Double = js.map(f).sum.toDouble
  private def cover(js: Iterable[JobRec]): Double = Tracer.covered(js.map(j => (j.start, j.end)).toSeq) / 1000.0

  def report(run: Run, in: LayerInputs): Map[String, Double] = {
    val tr = run.tracer
    val spanOf = tr.resolveSpans()
    val byId = tr.spans.map(s => s.id -> s).toMap
    val cycles = tr.spans.filter(_.name == "cycle").toSeq
    val nCycles = math.max(1, cycles.size)
    val nb = math.max(1, in.batches.size).toDouble
    val allBatchJobs = in.batches.flatMap(_.jobs)

    // self time per module inside the traced cycles; a job with no engine
    // frame counts for the layer of the span that issued it
    val self = mutable.Map(Modules.map(_ -> 0.0): _*)
    var unexplained = 0.0
    for (c <- cycles) {
      val js = tr.jobsUnder(c)
      js.groupBy { j =>
        val m = if (j.module.nonEmpty) j.module
          else spanOf.get(j.id).flatMap(byId.get).map(_.layer).getOrElse("spark")
        if (Modules.contains(m)) m else "spark"
      }.foreach { case (m, g) => self(m) += cover(g) }
      unexplained += c.dur / 1000.0 - cover(js)
    }
    val lookups = tr.spans.filter(_.name == "lookup").toSeq
    val lookupJobs = lookups.flatMap(tr.jobsUnder)
    val scans = tr.spans.filter(_.name == "scan").toSeq
    val cycleJobs = cycles.flatMap(tr.jobsUnder)
    // each traced cycle against the mean of the untraced cycles next to it,
    // so a steady drift over the run (the JVM warming) cancels, and the
    // median keeps a one-off cycle (the tier fold) out
    val walls = run.cycles.toSeq
    val overhead = Run.median(walls.indices.filter(walls(_)._2).flatMap { c =>
      val plain = Seq(c - 1, c + 1).filter(i => walls.indices.contains(i) && !walls(i)._2).map(walls(_)._1)
      if (plain.isEmpty) None else Some(walls(c)._1 / (plain.sum / plain.size) - 1.0)
    })
    def prog(k: String) = Run.median(in.streamProgress.flatMap(_.get(k)).map(_.toDouble))

    Map(
      "binlog.read_s" -> Run.median(in.binlogReadS),
      "binlog.bytes" -> in.binlogBytesPerBatch,
      "model.extract_s" -> Run.median(in.extractS),
      "cdc.shuffle_write_bytes" -> sumBy(allBatchJobs)(_.shuffleWriteBytes) / nb,
      "cdc.winners_per_event" -> (if (in.events == 0) 0.0 else in.commits.rowsAdded.toDouble / in.events),
      "lake.write_stage_s" -> in.batches.map(b => cover(b.jobs.filter(j => j.module == "lake" && !j.compaction))).sum / nb,
      "lake.bytes_added" -> in.commits.bytesAdded / math.max(1, in.commits.batches).toDouble,
      "lake.files_added" -> in.commits.filesAdded / math.max(1, in.commits.batches).toDouble,
      "lake.compactions" -> in.commits.compactions / math.max(1, in.commits.batches).toDouble,
      "lake.files_per_bucket.max" -> Run.median(run.filesPerBucketMax.toSeq),
      "lake.scan_rows_read_per_row_returned" ->
        (if (in.scanRows == 0) 0.0 else scans.flatMap(tr.jobsUnder).map(_.recordsRead).sum.toDouble / in.scanRows),
      "stream.addBatch_ms" -> prog("addBatch"),
      "stream.walCommit_ms" -> prog("walCommit"),
      "stream.queryPlanning_ms" -> prog("queryPlanning"),
      "cdc.apply_s" -> Run.median(in.batches.map(_.wallS)),
      "cdc.driver_s" -> Run.median(in.batches.map(b => math.max(0.0, b.wallS - cover(b.jobs)))),
      "cdc.jobs_per_batch" -> allBatchJobs.size / nb,
      "cdc.tasks_per_batch" -> sumBy(allBatchJobs)(_.tasks) / nb,
      "spark.scheduler_delay_s" -> sumBy(allBatchJobs)(_.schedulerDelayMs) / 1000.0 / nb,
      "plans.compact_stage_s" -> cover(cycleJobs.filter(_.compaction)) / nb,
      "sql.plan_ms" -> Run.median(run.planMs.toSeq),
      "sql.exec_ms" -> Run.median(run.execMs.toSeq),
      "sql.jobs_per_lookup" -> lookupJobs.size / math.max(1, lookups.size).toDouble,
      "sql.rows_read_per_lookup" -> sumBy(lookupJobs)(_.recordsRead) / math.max(1, lookups.size),
      "spark.gc_s" -> in.gcS / math.max(1, run.cycles.size),
      "spark.spill_bytes" -> sumBy(cycleJobs)(_.spillBytes) / nCycles,
      "spark.peak_exec_mem_mb" -> cycleJobs.map(_.peakExecMem).maxOption.getOrElse(0L) / 1048576.0,
      "unexplained_s" -> unexplained / nCycles,
      "trace_overhead" -> overhead,
    ) ++ Modules.map(m => s"self_s.$m" -> self(m) / nCycles)
  }
}
