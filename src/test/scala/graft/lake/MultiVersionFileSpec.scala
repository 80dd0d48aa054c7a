package graft.lake

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Oracle, SparkSpec}
import graft.binlog.{ChangeEventGen, GenProfile}
import graft.cdc.Ingest

/** The engine's writers keep a one-version-per-url-per-file invariant, but
  * readers must not DEPEND on it (a pre-fix table, a foreign writer, a bug):
  * this spec hand-crafts a delta file holding TWO versions of each probed
  * url — winner first in one run, winner last in the other — and drives it
  * through every resolve path: the co-located catalog read
  * (GraftBucketReader, behind both `LakeTable.read` and SQL), the
  * co-located COW merge (BucketMergeExec, whose table side is the same
  * reader in raw mode), compaction and the delta-tier fold (raw-mode
  * resolve). Each must fold the whole url run, not just the head row per
  * file — also when the crafted file is its bucket's only file. */
class MultiVersionFileSpec extends SparkSpec {

  private val usPerSec = 1000000L

  /** A table row (v2 schema + bucket) for crafted files. */
  private def row(u: String, ts: Timestamp, html: Array[Byte], text: String,
      off: Long, del: Boolean, nBuckets: Int): Row =
    Row(u, ts, html, if (del) null else text,
      if (del || html == null) null else html.length.toLong,
      "en", 9, off, del, LakeTable.bucketIdOf(u, nBuckets))

  private val craftedSchema =
    StructType(TableSchemas.v2.fields :+ StructField("bucket", IntegerType))

  /** Store crafted rows the way a FOREIGN writer would — plain Spark
    * parquet, one file per bucket, manifest entries built here (exact rows
    * and url bounds, unbounded event time) — since the table's own writer
    * refuses a second version of a url in one file. */
  private def foreignFiles(table: LakeTable, crafted: DataFrame, dir: String): Vector[DataFile] = {
    val out = table.root.resolve(s"data/$dir")
    crafted.write.partitionBy("bucket").parquet(out.toString)
    val w = java.nio.file.Files.walk(out)
    val parquet = try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toVector
      finally w.close()
    parquet.map { p =>
      val s = spark.read.parquet(p.toString).agg(count(lit(1)), min(col("url")), max(col("url"))).head()
      DataFile(table.root.relativize(p).toString,
        p.getParent.getFileName.toString.stripPrefix("bucket=").toInt,
        s.getLong(0), s.getString(1), s.getString(2), TableSchemas.current,
        java.nio.file.Files.size(p))
    }
  }

  /** The raw change-event layout a merge batch carries. */
  private val batchSchema = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  test("readers LWW-resolve multiple versions of a url inside ONE file") {
    val p = GenProfile.uniformSmall().copy(partitions = 2, eventsPerPartition = 1500)
    val binlog = tmpDir("mvf-bl")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 750)
    val table = Ingest.replayBatch(spark, binlog.toString, tmpDir("mvf-tbl"),
      eventsPerBatch = 500, nBuckets = 8, mode = graft.cdc.Mor)
    // collapse to one base file per bucket so the crafted delta is the ONLY
    // second file in its bucket (the k-way paths engage per multi-file bucket)
    Maintain.compact(spark, table)
    val snap0 = table.currentSnapshot
    assert(snap0.files.groupBy(_.bucket).values.forall(_.size == 1))

    val before = table.read(spark).collect()
      .map(r => r.getAs[String]("url") ->
        ((r.getAs[Timestamp]("warc_ts"), r.getAs[String]("text")))).toMap
    val urls = before.keys.toSeq.sorted
    val (urlA, urlB) = (urls.head, urls(1))
    def bumped(u: String, s: Long) =
      new Timestamp(before(u)._1.getTime + s * 1000)

    // one delta file per bucket, each holding a two-version url run:
    //  urlA: live update at +1s, TOMBSTONE at +2s (winner), winner FIRST in
    //        file order (offset sort below) — expect urlA to disappear;
    //  urlB: tombstone at +1s, live update at +2s (winner), winner LAST —
    //        expect urlB to carry the new text.
    val n = snap0.nBuckets
    val rows = Seq(
      row(urlA, bumped(urlA, 2), null, null, off = 10L, del = true, n), // winner
      row(urlA, bumped(urlA, 1), "<p>stale A</p>".getBytes, "stale A", off = 20L, del = false, n),
      row(urlB, bumped(urlB, 1), null, null, off = 10L, del = true, n),
      row(urlB, bumped(urlB, 2), "<p>new B</p>".getBytes, "new B", off = 20L, del = false, n)) // winner
    val crafted = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), craftedSchema)
      .repartition(1).sortWithinPartitions(col("url"), col("_seq_offset"))
    val files = foreignFiles(table, crafted, "mvf-delta")
    table.commitAppend(files.map(_.copy(tier = DataFile.TierDelta)), None)

    // path 1: co-located catalog read (GraftBucketReader run-drain)
    def state(): Map[String, String] = table.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    val s1 = state()
    assert(!s1.contains(urlA), "tombstone inside a run must beat the live row before it")
    assert(s1(urlB) == "new B", s"live run row must beat the tombstone: got ${s1(urlB)}")
    assert(s1.size == before.size - 1)
    (urls.drop(2)).foreach(u => assert(s1(u) == before(u)._2))

    // path 2: co-located COW merge (GraftBucketReader run-drain under
    // BucketMergeExec) — the batch touches urlB's bucket, so its base +
    // crafted delta k-way fold feeds the merge; urlA's bucket stays
    // multi-file and unread by the merge
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0, 0L, "upsert", urlB, bumped(urlB, 3), "<p>cow B</p>".getBytes, "en")), 1), batchSchema)
    graft.cdc.Merge(spark, table, batch, batchId = 9999L,
      lineage = Seq(PartLineage(0, 0L, 1L, 1L)), mode = graft.cdc.Cow)
    val s2 = state()
    assert(!s2.contains(urlA))
    assert(s2(urlB) == "cow B")

    // path 3: compaction (raw-mode resolve) restores the invariant exactly
    Maintain.compact(spark, table)
    val snap2 = table.currentSnapshot
    assert(snap2.files.groupBy(_.bucket).values.forall(_.size == 1))
    val perUrl = table.readRaw(spark).groupBy(col("url")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(perUrl == 1L, s"compaction must emit one version per url, saw $perUrl")
    val s3 = state()
    assert(s3 == s2)

    // path 4: the delta-tier fold (raw-mode resolve over the tier's files
    // only) — a fresh crafted delta of the same shape, newer than the base
    val rows4 = Seq(
      row(urlA, bumped(urlA, 5), null, null, off = 10L, del = true, n), // winner
      row(urlA, bumped(urlA, 4), "<p>stale A4</p>".getBytes, "stale A4", off = 20L, del = false, n),
      row(urlB, bumped(urlB, 4), null, null, off = 10L, del = true, n),
      row(urlB, bumped(urlB, 5), "<p>new B5</p>".getBytes, "new B5", off = 20L, del = false, n)) // winner
    val crafted4 = spark.createDataFrame(
        spark.sparkContext.parallelize(rows4, 1), craftedSchema)
      .repartition(1).sortWithinPartitions(col("url"), col("_seq_offset"))
    val files4 = foreignFiles(table, crafted4, "mvf-delta4")
    table.commitAppend(files4.map(_.copy(tier = DataFile.TierDelta)), None)
    val foldBuckets = Set(urlA, urlB).map(LakeTable.bucketIdOf(_, n))
    graft.cdc.Merge.compactDeltaTier(spark, table, foldBuckets)
    val snap4 = table.currentSnapshot
    assert(!snap4.files.exists(_.tier == DataFile.TierDelta), "the delta tier must be folded away")
    assert(snap4.files.filter(_.tier == DataFile.TierMid).map(_.bucket).toSet == foldBuckets)
    // stored rows newer than the base: one version per url, the run's
    // winner — urlA's tombstone kept, urlB's live row
    val fresh = table.readRaw(spark).filter(col("url").isin(urlA, urlB)).collect()
      .filter(r => r.getAs[Timestamp]("warc_ts").after(bumped(r.getAs[String]("url"), 3)))
      .map(r => (r.getAs[String]("url"), r.getAs[Timestamp]("warc_ts"),
        r.getAs[Boolean]("_deleted"), r.getAs[String]("text")))
      .sortBy(_._1).toSeq
    assert(fresh == Seq(
      (urlA, bumped(urlA, 5), true, null),
      (urlB, bumped(urlB, 5), false, "new B5")).sortBy(_._1),
      s"the delta fold must keep one version per url: $fresh")
    val s4 = state()
    assert(!s4.contains(urlA))
    assert(s4(urlB) == "new B5")
    assert(s4 - urlB == s3 - urlB)
  }

  test("LakeTable.read and SQL fold a two-version run in a bucket's ONLY file") {
    val wh = tmpDir("mvf-read-wh").toString
    graft.sql.GraftSql.enable(spark, wh)
    spark.sql("DROP TABLE IF EXISTS graft.mvf_read")
    spark.sql("CREATE TABLE graft.mvf_read (url STRING, warc_ts TIMESTAMP, html BINARY, " +
      "text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='4')")
    val table = LakeTable.load(java.nio.file.Paths.get(wh, "mvf_read"))
    val u = "https://mvf.example/read"
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new Timestamp(t0.getTime + s * 1000)
    val rows = Seq(
      row(u, at(1), "<p>a</p>".getBytes, "a", off = 10L, del = false, 4),
      row(u, at(2), "<p>b</p>".getBytes, "b", off = 20L, del = false, 4)) // winner
    val crafted = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), craftedSchema)
      .repartition(1).sortWithinPartitions(col("url"), col("_seq_offset"))
    table.commitAppend(foreignFiles(table, crafted, "mvf-read"), None)
    assert(table.currentSnapshot.files.size == 1, "the crafted file must be the table's only file")

    val viaRead = table.read(spark).collect().map(_.getAs[String]("text")).toSeq
    assert(viaRead == Seq("b"), s"LakeTable.read must fold the run: got $viaRead")
    val viaSql = spark.sql("SELECT text FROM graft.mvf_read").collect().map(_.getString(0)).toSeq
    assert(viaSql == Seq("b"), s"SQL must fold the run: got $viaSql")
  }

  test("COW merge folds a multi-version run in its bucket's ONLY file") {
    val table = LakeTable.create(tmpDir("mvf-single"), nBuckets = 4)
    // two urls of one bucket, each with a two-version run in one file:
    // urlU's winner LAST (the COW batch below overwrites it anyway), urlW's
    // winner FIRST (untouched by the batch — the merge streams it through)
    val urls = Iterator.from(0).map(i => s"https://mvf.example/p$i")
    val urlU = urls.next()
    val b = LakeTable.bucketIdOf(urlU, 4)
    val urlW = urls.find(u => LakeTable.bucketIdOf(u, 4) == b).get
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new Timestamp(t0.getTime + s * 1000)
    val rows = Seq(
      row(urlU, at(1), "<p>old U</p>".getBytes, "old U", off = 10L, del = false, 4),
      row(urlU, at(2), "<p>new U</p>".getBytes, "new U", off = 20L, del = false, 4), // winner
      row(urlW, at(2), "<p>new W</p>".getBytes, "new W", off = 10L, del = false, 4), // winner
      row(urlW, at(1), "<p>old W</p>".getBytes, "old W", off = 20L, del = false, 4))
    val crafted = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), craftedSchema)
      .repartition(1).sortWithinPartitions(col("url"), col("_seq_offset"))
    val files = foreignFiles(table, crafted, "mvf-single")
    table.commitAppend(files, None)
    assert(table.currentSnapshot.files.map(_.bucket) == Seq(b),
      "the crafted file must be its bucket's only file")

    val batch = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0, 0L, "upsert", urlU, at(3), "<p>cow U</p>".getBytes, "en")), 1), batchSchema)
    graft.cdc.Merge(spark, table, batch, batchId = 1L,
      lineage = Seq(PartLineage(0, 0L, 1L, 1L)), mode = graft.cdc.Cow)

    val perUrl = table.readRaw(spark).groupBy(col("url")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perUrl == Map(urlU -> 1L, urlW -> 1L),
      s"the COW rewrite must keep one version per url, saw $perUrl")
    val state = table.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(state == Map(urlU -> "cow U", urlW -> "new W"))
  }
}
