package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{CommandResultExec, ExplainUtils, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{Oracle, SparkSpec}
import graft.binlog.{BinlogRead, ChangeEventGen, GenProfile}
import graft.cdc.{Cow, Ingest, Mor}
import graft.lake.LakeTable
import graft.model.{ChangeEvent, TextExtract}

/** The co-located COW merge's structural guarantees:
  *  - the stored files are folded in place inside the merge's tasks (no
  *    scan or Exchange of table rows) — only the batch is shuffled, so
  *    per-batch shuffle bytes are O(batch) regardless of table size;
  *  - the stored state equals the single-threaded oracle LWW fold of the
  *    same events, tombstone winners included.
  */
class BucketMergeSpec extends SparkSpec {

  private def profile(n: Int) = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = n)

  private def mkBinlog(n: Int) = {
    val work = tmpDir("bmspec")
    val binlog = work.resolve("binlog")
    ChangeEventGen.writeSegments(profile(n), binlog)
    (work, binlog)
  }

  /** A table's stored rows, tombstones included, in the columns the oracle
    * reproduces. */
  private def rawState(t: LakeTable): Array[String] = t.readRaw(spark)
    .select(col("url"), unix_micros(col("warc_ts")).as("ts"), col("text"),
      col("content_len"), col("_seq_part"), col("_seq_offset"), col("_deleted"))
    .collect().map(_.toString).sorted

  /** [[rawState]] as the oracle LWW fold of every event of `profile(n)`
    * predicts it: one row per url, a winning delete kept as a tombstone
    * (null text and content_len). */
  private def oracleState(n: Int): Array[String] =
    Oracle.fold(ChangeEventGen.allEvents(profile(n))).values.map { w =>
      val live = w.op == ChangeEvent.OpUpsert
      Row(w.url, w.warcMicros, if (live) TextExtract.extract(w.html) else null,
        if (w.html == null) null else w.html.length.toLong,
        w.partition, w.offset, !live).toString
    }.toArray.sorted

  /** Spark's formatted explain of the query under `p`: the initial physical
    * plan of its adaptive plan (before query stages split it), else `p`. */
  private def formatted(p: SparkPlan): String = {
    def initial(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case c: CommandResultExec => initial(c.commandPhysicalPlan)
      case other => other.children.flatMap(initial)
    }
    val out = new StringBuilder
    ExplainUtils.processPlan(initial(p).headOption.getOrElse(p),
      (s: String) => out.append(s): Unit)
    out.toString
  }

  test("table side reads without an Exchange; exactly one Exchange in the merge plan") {
    val (work, binlog) = mkBinlog(1500) // per-partition offsets 0..1499
    val table = LakeTable.create(work.resolve("t1"), nBuckets = 8)
    Ingest.applyBatch(spark, table)(BinlogRead.range(spark, binlog.toString, 0, 750), 0L)
    val stored = table.currentSnapshot.files

    // capture the second batch's write job through Spark's listener channel
    // and render the plan it was planned with (the adaptive plan's initial
    // physical plan, before query stages split it)
    val writes = captureQueries {
      Ingest.applyBatch(spark, table)(BinlogRead.range(spark, binlog.toString, 750, 1500), 1L)
    }.map(qe => formatted(qe.executedPlan)).filter(_.contains("BucketMerge"))
    assert(writes.size == 1, s"expected ONE merge write job, got ${writes.size}")
    val plan = writes.head
    val planTree = plan.linesIterator.takeWhile(!_.startsWith("(1)")).toSeq
    // one Exchange total: the batch side's
    assert(planTree.count(_.contains("Exchange")) == 1,
      s"expected exactly ONE Exchange in the tree:\n${planTree.mkString("\n")}")
    // the fold is a unary node above that Exchange: its only input is the
    // batch, and it names the stored files it folds in its own tasks
    val foldAt = planTree.indexWhere(_.contains("BucketMerge"))
    val exchangeAt = planTree.indexWhere(_.contains("Exchange"))
    assert(foldAt >= 0 && foldAt < exchangeAt, planTree.mkString("\n"))
    assert(plan.contains(s"Arguments: stored files: ${stored.size} in " +
      s"${stored.map(_.bucket).distinct.size} buckets"), plan.take(4000))
    // no scan of the table's files: the plan's only scan is the batch's
    // binlog read, under the Exchange
    val scans = planTree.zipWithIndex.filter(_._1.contains("Scan"))
    assert(scans.nonEmpty && scans.forall { case (l, i) => l.contains("binlog") && i > exchangeAt },
      planTree.mkString("\n"))
  }

  test("co-located merge state == oracle LWW fold, including tombstones and seq columns") {
    val (work, binlog) = mkBinlog(2000)
    val t = LakeTable.create(work.resolve("co"), nBuckets = 8)
    var b = 0L
    (0L until 2000L by 500L).foreach { from =>
      Ingest.applyBatch(spark, t)(
        BinlogRead.range(spark, binlog.toString, from, from + 500), b)
      b += 1
    }
    val co = rawState(t)
    val want = oracleState(2000)
    assert(co.length == want.length)
    assert(co.sameElements(want),
      s"table-only=${co.diff(want).take(3).mkString(";")} oracle-only=${want.diff(co).take(3).mkString(";")}")
  }

  test("COW apply over MOR delta history k-way folds cross-file LWW (no duplicates)") {
    val (work, binlog) = mkBinlog(1500)

    val t = LakeTable.create(work.resolve("co"), nBuckets = 4)
    // two MOR batches leave multi-file buckets (delta history) …
    Ingest.applyBatch(spark, t, mode = Mor)(BinlogRead.range(spark, binlog.toString, 0, 500), 0L)
    Ingest.applyBatch(spark, t, mode = Mor)(BinlogRead.range(spark, binlog.toString, 500, 1000), 1L)
    // … then a COW batch on overlapping urls must LWW-fold those files,
    // not concatenate them (concat wrote duplicate urls with stale
    // versions into the rewritten single-file bucket, which then skips
    // resolve-on-read and exposes them to every reader)
    Ingest.applyBatch(spark, t, mode = Cow)(BinlogRead.range(spark, binlog.toString, 1000, 1500), 2L)
    val co = rawState(t)
    val urls = co.map(_.takeWhile(_ != ','))
    assert(urls.length == urls.distinct.length, "duplicate urls after COW over MOR history")
    val want = oracleState(1500)
    assert(co.sameElements(want),
      s"table-only=${co.diff(want).take(3).mkString(";")} oracle-only=${want.diff(co).take(3).mkString(";")}")
  }

  test("single hot bucket with many distinct urls completes (no per-bucket memory ceiling)") {
    // nBuckets=1 forces every url through one task: the old hash-map resolve
    // had an admission bound here; the sorted-merge resolve is O(1) state
    // with Spark's own spillable sort on the batch side.
    val (work, binlog) = mkBinlog(3000)
    val t = LakeTable.create(work.resolve("hot"), nBuckets = 1)
    Ingest.applyBatch(spark, t)(BinlogRead.range(spark, binlog.toString, 0, 1500), 0L)
    Ingest.applyBatch(spark, t)(BinlogRead.range(spark, binlog.toString, 1500, 3000), 1L)
    val t2 = LakeTable.create(work.resolve("wide"), nBuckets = 8)
    Ingest.applyBatch(spark, t2)(BinlogRead.range(spark, binlog.toString, 0, 1500), 0L)
    Ingest.applyBatch(spark, t2)(BinlogRead.range(spark, binlog.toString, 1500, 3000), 1L)
    val a = t.readRaw(spark).select("url", "warc_ts", "_seq_offset", "_deleted")
      .collect().map(_.toString).sorted
    val b = t2.readRaw(spark).select("url", "warc_ts", "_seq_offset", "_deleted")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("tie on (warc_ts, offset, partition) keeps stored row; strict winner replaces") {
    val (work, binlog) = mkBinlog(500)
    val t = LakeTable.create(work.resolve("t3"), nBuckets = 4)
    Ingest.applyBatch(spark, t)(BinlogRead.range(spark, binlog.toString, 0, 500), 0L)
    val before = t.readRaw(spark).select("url", "warc_ts", "_seq_offset").collect()
    // re-apply the SAME offset range under a NEW batch id: every event ties
    // with its stored self → final state must be unchanged
    Ingest.applyBatch(spark, t)(BinlogRead.range(spark, binlog.toString, 0, 500), 1L)
    val after = t.readRaw(spark).select("url", "warc_ts", "_seq_offset").collect()
    assert(before.map(_.toString).sorted.sameElements(after.map(_.toString).sorted))
  }
}
