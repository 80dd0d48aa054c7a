package graft.cdc

import java.nio.file.Path

import graft.{Oracle, SparkSpec}
import graft.binlog.{ChangeEventGen, GenProfile}
import graft.lake.LakeTable

/** Late-materialization merge (per-call `MergeOptions(lateMaterialize =
  * true)`): the dedup shuffle
  * carries the html-free meta projection, winning payloads are fetched by a
  * broadcast-semi-join second pass and attached co-partitioned. The final
  * table state must be IDENTICAL to the default path's — same winners, same
  * payloads, same tombstones — and the mode must actually shrink shuffle
  * bytes on a duplicate-heavy stream (the property that matters when the
  * shuffle crosses a network instead of tmpfs). */
class LateMatSpec extends SparkSpec {

  private val lateOpts = MergeOptions(lateMaterialize = true)

  /** User-facing state, html content-addressed (byte arrays break Row
    * equality), sorted for comparison. */
  private def state(table: LakeTable): Seq[String] = {
    import org.apache.spark.sql.functions._
    table.read(spark)
      .select(concat_ws("|", col("url"),
        date_format(col("warc_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        coalesce(md5(col("html")), lit("null")), coalesce(col("text"), lit("null")),
        coalesce(col("content_len").cast("string"), lit("null")),
        coalesce(col("lang"), lit("null"))))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  private def gen(p: GenProfile, tag: String): Path = {
    val dir = tmpDir(tag)
    ChangeEventGen.writeSegments(p, dir, segmentEvents = 1000)
    dir
  }

  private def replay(binlog: Path, tag: String, mode: MergeMode,
      eventsPerBatch: Long, opts: MergeOptions = MergeOptions()): LakeTable =
    Ingest.replayBatch(spark, binlog.toString, tmpDir(tag),
      eventsPerBatch = eventsPerBatch, nBuckets = 4, mode = mode, opts = opts)

  for (mode <- Seq(Cow, Mor)) {
    test(s"late-materialized $mode replay equals the default path and the oracle") {
      val p = GenProfile.uniformSmall() // dups, deletes, ties, late events
      val binlog = gen(p, "latemat")
      val default = state(replay(binlog, "lmdef", mode, eventsPerBatch = 700))
      val audit = new MergeAudit
      val late = state(replay(binlog, "lmlate", mode, eventsPerBatch = 700,
        opts = MergeOptions(lateMaterialize = true, audit = Some(audit))))
      assert(late == default, s"$mode late-materialized state diverged from default")
      // binlog replays carry plan lineage → the OFFSET-BITMAP admission path
      // must have engaged (events/8 bytes, not an O(winners) key broadcast);
      // asserted on the PER-CALL audit, not the racy process-global mirror
      assert(audit.admitBitmapBytes > 0,
        "bitmap admission should engage when lineage is present")
      assert(audit.admitBitmapBytes <= 700 * p.partitions / 8 + 8,
        s"bitmap should be O(batch events / 8): ${audit.admitBitmapBytes}")
      // and both match the independent fold oracle (equal-but-both-wrong guard)
      val want = Oracle.finalState(p)
      assert(late.size == want.size)
      val gotTexts = late.map { s => val f = s.split('|'); f(0) -> f(3) }.toMap
      want.foreach { case (u, (_, text, _, _)) =>
        assert(gotTexts(u) == text, s"text mismatch at $u")
      }
    }
  }

  for (mode <- Seq(Cow, Mor)) {
    test(s"late-materialized $mode is immune to exact-duplicate redelivery") {
      // at-least-once delivery: the same (partition, offset) row may appear
      // TWICE in one batch. The broadcast semi-join admits every copy, so
      // without the per-url payload aggregate the attach join fans out and
      // emits duplicate winner rows (breaking the one-winner-per-url delta
      // invariant under MOR and inflating marker counts).
      val p = GenProfile.uniformSmall()
      val binlog = gen(p, "lmdup")
      // localCheckpoint: a unioned binlog scan would double plan-derived
      // lineage counts; the opaque leaf forces the data-pass lineage (distinct
      // offsets → true contiguous runs), the path a redelivering caller hits
      val events = graft.binlog.BinlogRead.all(spark, binlog.toString)
      val doubled = events.unionAll(events).localCheckpoint(true)
      val table = LakeTable.create(tmpDir(s"lmdup-$mode"), nBuckets = 4)
      Ingest.applyBatch(spark, table, mode = mode, opts = lateOpts)(doubled, 0L)
      val clean = replay(binlog, s"lmdupref-$mode", mode, eventsPerBatch = Long.MaxValue)
      assert(state(table) == state(clean), s"$mode duplicated-batch state diverged")
      // markers carry post-dedup winner counts in both modes: copies must
      // not inflate them
      val (m, mc) = (table.currentSnapshot.batches.head, clean.currentSnapshot.batches.head)
      assert((m.upserts, m.deletes) == (mc.upserts, mc.deletes),
        s"marker inflated: got (${m.upserts},${m.deletes}), want (${mc.upserts},${mc.deletes})")
      // MOR delta invariant: at most one winner row per url in the delta tier
      if (mode == Mor) {
        import org.apache.spark.sql.functions._
        val snap = table.currentSnapshot
        val deltas = snap.files.filter(_.tier == graft.lake.DataFile.TierDelta)
        if (deltas.nonEmpty) {
          val dupUrls = table.readFiles(spark, snap, deltas)
            .groupBy(col("url")).count().filter(col("count") > 1).count()
          assert(dupUrls == 0L, s"$dupUrls urls have duplicate delta rows")
        }
      }
    }
  }

  test("per-call MergeOptions pins each pipeline's mode; audits stay per call") {
    // two pipelines in one JVM with OPPOSITE modes: each call runs exactly
    // the mode its own options ask for and writes only its own audit
    val p = GenProfile.uniformSmall()
    val binlog = gen(p, "lmopts")
    val offAudit = new MergeAudit
    val off = state(replay(binlog, "lmoptsoff", Cow, 700,
      opts = MergeOptions(lateMaterialize = false, audit = Some(offAudit))))
    assert(offAudit.admitBitmapBytes == 0L,
      "lateMaterialize=false must not run the late-materialized dedup")
    val onAudit = new MergeAudit
    val on = state(replay(binlog, "lmoptson", Cow, 700,
      opts = MergeOptions(lateMaterialize = true, audit = Some(onAudit))))
    assert(onAudit.admitBitmapBytes > 0)
    // per-call isolation: the late-mat pipeline's merges never wrote the
    // OTHER pipeline's audit
    assert(offAudit.admitBitmapBytes == 0L,
      "a concurrent pipeline's audit must not be written by this merge")
    assert(on == off)
  }

  test("late-mat without lineage falls back to the exact key-set broadcast") {
    // SQL merges and other lineage-less callers: admission reverts to the
    // broadcast semi-join on winners' (partition, offset) — same results
    val p = GenProfile.uniformSmall()
    val binlog = gen(p, "lmnolin")
    val events = graft.binlog.BinlogRead.all(spark, binlog.toString).localCheckpoint(true)
    val table = LakeTable.create(tmpDir("lmnolin-t"), nBuckets = 4)
    val audit = new MergeAudit
    Merge(spark, table, events, 0L, lineage = Nil, mode = Cow,
      opts = MergeOptions(lateMaterialize = true, audit = Some(audit))): Unit
    assert(audit.admitBitmapBytes == -1L, "lineage-less merge must use the key-set fallback")
    val ref = replay(binlog, "lmnolinref", Cow, eventsPerBatch = Long.MaxValue)
    assert(state(table) == state(ref))
  }

  test("late materialization shrinks shuffle bytes on a duplicate-heavy stream") {
    // dup factor 10, fat-ish payload: the regime the mode exists for
    val p = GenProfile("late-dup", seed = 7L, partitions = 2,
      eventsPerPartition = 10000, urlPoolPerPartition = 1000, htmlMeanBytes = 4000)
    val binlog = gen(p, "latedup")
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def measured(f: => LakeTable): (Seq[String], Long) = {
        bytes.set(0L)
        val s = state(f)
        // drain async listener-bus task-end events deterministically (a fixed
        // sleep can under-wait on a loaded host or bleed into the next run)
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
        (s, bytes.get())
      }
      // single COW batch on a fresh table: the only shuffle is the dedup
      val (defState, defBytes) = measured(replay(binlog, "lmshdef", Cow, 10000))
      val (lateState, lateBytes) = measured(replay(binlog, "lmshlate", Cow, 10000, opts = lateOpts))
      assert(lateState == defState)
      assert(lateBytes < defBytes * 6 / 10,
        s"expected <0.6x shuffle bytes, got late=$lateBytes default=$defBytes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
