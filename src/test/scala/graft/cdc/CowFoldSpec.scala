package graft.cdc

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Oracle, SparkSpec}
import graft.lake.{Bloom, DataFile, LakeTable, Maintain}
import graft.model.{ChangeEvent, TextExtract}

/** The COW tail of a merge: the batch's winners fold into the table's own
  * k-way fold, so every bucket a batch touches is rewritten whole, as one
  * base file, whatever stored files it held — and keeps its bloom sidecar
  * when the table has them. */
class CowFoldSpec extends SparkSpec {

  private val batchSchema = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  private def ev(part: Int, off: Long, op: String, url: String, sec: Long): ChangeEvent =
    ChangeEvent(part, off, op, url, new Timestamp(sec * 1000L),
      if (op == ChangeEvent.OpUpsert) s"<p>$url at $sec</p>".getBytes("UTF-8") else null, "en")

  private def batch(es: Seq[ChangeEvent]): DataFrame = spark.createDataFrame(
    es.map(e => Row(e.partition, e.offset, e.op, e.url, e.warc_ts, e.html, e.lang)).asJava,
    batchSchema)

  /** 100 upserts of `a.example` urls; a second generation of the same urls
    * (every tenth a delete) that wins; 20 upserts of `z.example` urls,
    * which sort after every `a.example` url. */
  private val gen1 = (0 until 100).map(i => ev(0, i, "upsert", f"http://a.example/$i%03d", 1000L + i))
  private val gen2 = (0 until 100).map(i =>
    ev(0, 100 + i, if (i % 10 == 0) "delete" else "upsert", f"http://a.example/$i%03d", 3000L + i))
  private val zs = (0 until 20).map(i => ev(1, i, "upsert", f"http://z.example/$i%03d", 2000L + i))

  private def rawState(t: LakeTable): Array[String] = t.readRaw(spark)
    .select(col("url"), unix_micros(col("warc_ts")), col("text"),
      col("_seq_part"), col("_seq_offset"), col("_deleted"))
    .collect().map(_.toString).sorted

  private def oracleState(events: Seq[ChangeEvent]): Array[String] =
    Oracle.fold(events.iterator).values.map { w =>
      val live = w.op == ChangeEvent.OpUpsert
      Row(w.url, w.warcMicros, if (live) TextExtract.extract(w.html) else null,
        w.partition, w.offset, !live).toString
    }.toArray.sorted

  private def touchedBuckets(es: Seq[ChangeEvent], n: Int): Set[Int] =
    es.map(e => LakeTable.bucketIdOf(e.url, n)).toSet

  test("a COW batch folds each bucket it touches into one base file") {
    val t = LakeTable.create(tmpDir("cowfold"), nBuckets = 4)
    Merge(spark, t, batch(gen1), 0L, Nil, Cow)
    Merge(spark, t, batch(zs), 1L, Nil, Mor)
    // buckets holding the first generation's base file and a delta file
    // whose url range is disjoint from every url of the next batch
    val twoFile = t.currentSnapshot.files.groupBy(_.bucket).filter(_._2.size == 2)
    assert(twoFile.nonEmpty)
    twoFile.values.foreach { fs =>
      val d = fs.find(_.tier == DataFile.TierDelta).get
      assert(LakeTable.compareUtf8(d.urlMin, gen2.map(_.url).max) > 0)
    }

    val after = Merge(spark, t, batch(gen2), 2L, Nil, Cow)
    val touched = touchedBuckets(gen2, 4)
    assert(twoFile.keySet.subsetOf(touched))
    touched.foreach { b =>
      val fs = after.files.filter(_.bucket == b)
      assert(fs.size == 1 && fs.head.tier == DataFile.TierBase, s"bucket $b holds $fs")
    }
    assert(rawState(t).sameElements(oracleState(gen1 ++ zs ++ gen2)))
    // the marker counts the batch's winners: 90 live, 10 tombstones
    val m = after.batches.last
    assert((m.batchId, m.upserts, m.deletes) == ((2L, 90L, 10L)))
  }

  test("a COW rewrite keeps the bloom sidecars of the buckets it rewrites") {
    val t = LakeTable.create(tmpDir("cowbloom"), nBuckets = 4)
    Merge(spark, t, batch(gen1), 0L, Nil, Cow)
    Maintain.buildBlooms(spark, t)
    def sidecars(fs: Seq[DataFile]) = fs.map(f => Files.exists(Bloom.sidecar(t.root.resolve(f.path))))
    assert(sidecars(t.currentSnapshot.files).forall(identity))

    val after = Merge(spark, t, batch(gen2), 1L, Nil, Cow)
    assert(touchedBuckets(gen2, 4) == (0 until 4).toSet)
    assert(after.files.nonEmpty && sidecars(after.files).forall(identity),
      s"files without a sidecar: ${after.files.zip(sidecars(after.files)).filterNot(_._2).map(_._1.path)}")
  }
}
