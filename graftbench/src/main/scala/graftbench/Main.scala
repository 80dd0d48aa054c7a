package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.sql.GraftSql

/** The metrics the benchmark prints, with their units: end-to-end metrics
  * with tracing off, per-layer metrics with tracing on. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ingest_eps" -> "1/s",
    "table_bytes_per_event" -> "B/event",
    "commit_s.p50" -> "s",
    "lookup_ms.p50" -> "ms",
    "lookup_ms.p90" -> "ms",
    "scan_s.p50" -> "s",
    "heap_peak_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "binlog.read_s" -> "s",
    "binlog.bytes" -> "B",
    "model.extract_s" -> "s",
    "cdc.shuffle_write_bytes" -> "B",
    "cdc.winners_per_event" -> "ratio",
    "lake.write_stage_s" -> "s",
    "lake.bytes_added" -> "B",
    "stream.addBatch_ms" -> "ms",
    "stream.walCommit_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms",
    "cdc.apply_s" -> "s",
    "cdc.driver_s" -> "s",
    "cdc.jobs_per_batch" -> "count",
    "cdc.tasks_per_batch" -> "count",
    "lake.files_added" -> "count",
    "spark.scheduler_delay_s" -> "s",
    "plans.compact_stage_s" -> "s",
    "lake.files_per_bucket.max" -> "count",
    "lake.compactions" -> "count",
    "sql.plan_ms" -> "ms",
    "sql.exec_ms" -> "ms",
    "sql.jobs_per_lookup" -> "count",
    "sql.rows_read_per_lookup" -> "count",
    "lake.scan_rows_read_per_row_returned" -> "ratio",
    "spark.gc_s" -> "s",
    "spark.spill_bytes" -> "B",
    "spark.peak_exec_mem_mb" -> "MB") ++
    Layers.Modules.map(m => s"self_s.$m" -> "s") ++ Seq(
    "unexplained_s" -> "s",
    "trace_overhead" -> "ratio")
}

/** Runs one workload for one seed and writes the result object as JSON.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --out <result.json> --trace-out <trace.json>
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("out")), Paths.get(kv("trace-out")))
    Files.createDirectories(a.work)
    val (spark, sessionS) = Run.time(SparkSession.builder()
      .master("local[4]").appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = new Run(spark, a, sessionS)
      GraftSql.enable(spark, r.warehouse.toString)
      r.tracer.register(spark)
      val o = Workloads.run(r)
      val metrics =
        if (a.trace) {
          val layers = Layers.report(r, o.layers.get)
          Files.write(a.traceOut, traceJson(r, layers).getBytes(StandardCharsets.UTF_8))
          layers
        } else Map(
          "setup_s" -> o.setupS,
          "ingest_eps" -> Run.median(r.epsSamples.toSeq),
          "table_bytes_per_event" -> o.tableBytes.toDouble / o.eventsApplied,
          "commit_s.p50" -> Run.median(r.commitS.toSeq),
          "lookup_ms.p50" -> Run.median(r.lookupMs.toSeq),
          "lookup_ms.p90" -> Run.quantile(r.lookupMs.toSeq, 0.9),
          "scan_s.p50" -> Run.median(r.scanS.toSeq),
          "heap_peak_mb" -> r.heapPeakMb)
      val declared = if (a.trace) Metrics.perLayer else Metrics.endToEnd
      val body = declared.map { case (name, unit) =>
        s""""$name": {"value": ${num(metrics(name))}, "unit": "$unit"}"""
      }.mkString(", ")
      Run.log(s"cycle_s ${r.cycles.map(c => f"${c._1}%.2f").mkString(" ")}; " +
        s"commit_s ${r.commitS.map(c => f"$c%.2f").mkString(" ")}; " +
        s"lookup_ms.p50 ${r.lookupMs.grouped(math.max(1, r.lookupMs.size / r.cycles.size)).map(g => f"${Run.median(g.toSeq)}%.0f").mkString(" ")}; " +
        s"scan_s ${r.scanS.map(c => f"$c%.2f").mkString(" ")}")
      Run.log(s"${a.workload} seed=${a.seed}: cycles=${r.cycles.size} " +
        s"lookups=${r.lookupMs.size} attempted=${r.attempted} failed=${r.failed}")
      Files.write(a.out, (s"""{"correct": ${r.failed == 0 && r.attempted > 0}, "attempted": ${r.attempted}, """ +
        s""""failed": ${r.failed}, "metrics": {$body}}""").getBytes(StandardCharsets.UTF_8))
    } finally {
      spark.stop()
      Run.log("session stopped")
    }
  }

  private def num(x: Double): String = if (x.isNaN || x.isInfinite) "0" else x.toString
  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The spans, the attributed jobs and the per-layer report of a traced run. */
  private def traceJson(r: Run, layers: Map[String, Double]): String = {
    val spanOf = r.tracer.resolveSpans()
    val spans = r.tracer.spans.map(s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "layer": ${str(s.layer)}, "parent": ${s.parent}, """ +
        s""""run": ${str(s.run)}, "start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}}""")
    val jobs = r.tracer.allJobs.sortBy(_.id).map(j =>
      s"""{"job": ${j.id}, "span": ${spanOf.getOrElse(j.id, 0L)}, "module": ${str(j.module)}, """ +
        s""""compaction": ${j.compaction}, "batch": ${j.batch}, "start_ms": ${num(j.start)}, """ +
        s""""end_ms": ${num(j.end)}, "tasks": ${j.tasks}, "shuffle_write_bytes": ${j.shuffleWriteBytes}, """ +
        s""""records_read": ${j.recordsRead}}""")
    val report = layers.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
    s"""{"workload": ${str(r.args.workload)}, "seed": ${r.args.seed}, "report": {${report.mkString(", ")}},
       |"spans": [${spans.mkString(",\n")}],
       |"jobs": [${jobs.mkString(",\n")}]}
       |""".stripMargin
  }
}
