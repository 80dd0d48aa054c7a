package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.binlog.{BinlogRead, ChangeEventGen, GenProfile, Segment}
import graft.cdc.{Cow, Ingest, Mor}
import graft.lake.{LakeTable, Maintain, Resolve, Snapshot, TableSchemas}

/** The co-located k-way read over a MIXED-version table: v1-era delta files
  * (no lang, int content_len) and v2 files in the SAME bucket must resolve
  * together, with the reader's generic alignment (cast + null-fill from
  * bound references) matching the shuffle-resolve reference exactly. The
  * same fold serves v1 tables and pre-evolution snapshots: the COW merge,
  * compaction, rebucketing and time travel all go through it. */
class MixedSchemaReadSpec extends SparkSpec {

  // html is binary — project to md5 so Row.toString is value-comparable;
  // a v1-era frame has no lang column
  private def canon(df: org.apache.spark.sql.DataFrame): Array[String] = df
    .select(Seq(col("url"), unix_micros(col("warc_ts")).as("ts"), md5(col("html")).as("h"),
      col("text"), col("content_len")) ++
      (if (df.columns.contains("lang")) Seq(col("lang")) else Nil): _*)
    .collect().map(_.toString).sorted

  /** A snapshot's files read independently of the engine's reader and its
    * alignment: Spark's own parquet source, one read per schema version,
    * each cast (widened) and null-filled to the snapshot's logical schema
    * here, then unioned. */
  private def sparkRead(table: LakeTable, snap: Snapshot): org.apache.spark.sql.DataFrame = {
    val logical = TableSchemas.forVersion(snap.schemaVersion)
    snap.files.groupBy(_.schemaVersion).toSeq.sortBy(_._1).map { case (v, fs) =>
      val physical = TableSchemas.forVersion(v)
      spark.read.schema(physical).parquet(fs.map(f => table.root.resolve(f.path).toString): _*)
        .select(logical.fields.toSeq.map { f =>
          (if (physical.fieldNames.contains(f.name)) col(f.name) else lit(null))
            .cast(f.dataType).as(f.name)
        }: _*)
    }.reduce(_.unionByName(_))
  }

  /** The shuffle resolve (Spark's parquet read + Resolve.lww) of a
    * snapshot's files, as a user-facing read presents it. */
  private def reference(table: LakeTable, snap: Snapshot): Array[String] = {
    val dataCols = TableSchemas.forVersion(snap.schemaVersion)
      .fieldNames.toSeq.filterNot(TableSchemas.internalNames.contains)
    canon(Resolve.lww(sparkRead(table, snap).repartition(4, col("url")), dataCols)
      .filter(!col("_deleted")).drop(TableSchemas.internalNames: _*))
  }

  private def diff(got: Array[String], want: Array[String]): String =
    s"got-only=${got.diff(want).take(3).mkString(";")} want-only=${want.diff(got).take(3).mkString(";")}"

  test("k-way resolve over mixed v1+v2 delta files == shuffle resolve; SQL read agrees") {
    val p = GenProfile.evolving().copy(partitions = 2, eventsPerPartition = 800)
    val binlog = tmpDir("msbl")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 500)
    val boundary = (p.eventsPerPartition * p.v2FromFraction).toLong

    val root = tmpDir("mstbl")
    val table = LakeTable.create(root, nBuckets = 4, schemaVersion = 1)
    // v1-era MOR deltas, then evolve, then v2-era MOR deltas — buckets now
    // hold v1 AND v2 delta files simultaneously
    Ingest.applyBatch(spark, table, mode = Mor)(
      BinlogRead.range(spark, binlog.toString, 0L, boundary), 0L)
    table.evolveSchema(2)
    Ingest.applyBatch(spark, table, mode = Mor)(
      BinlogRead.range(spark, binlog.toString, boundary, p.eventsPerPartition), 1L)
    val snap = table.currentSnapshot
    assert(snap.files.map(_.schemaVersion).toSet == Set(1, 2))
    assert(snap.files.groupBy(_.bucket).exists(_._2.map(_.schemaVersion).toSet.size == 2),
      "need a bucket holding BOTH schema versions")

    // reference: the shuffle resolve (align + Resolve.lww), same snapshot
    val reference = this.reference(table, snap)

    val viaRead = canon(table.read(spark))
    assert(viaRead.sameElements(reference),
      s"read-diff=${viaRead.diff(reference).take(3).mkString(";")} ref-diff=${reference.diff(viaRead).take(3).mkString(";")}")

    // SQL path over the same table
    val wh = root.getParent.toString
    GraftSql.enable(spark, wh)
    val viaSql = canon(spark.sql(s"SELECT * FROM graft.`${root.getFileName}`"))
    assert(viaSql.sameElements(reference))

    // v1-era winners carry null lang; v2-era winners carry one
    val byLang = table.read(spark).groupBy(col("lang").isNull.as("noLang")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byLang.getOrElse(true, 0L) > 0 && byLang.getOrElse(false, 0L) > 0)
  }

  test("v1 tables and pre-evolution snapshots: COW, compaction, rebucket and time travel == shuffle resolve") {
    val p = GenProfile.evolving().copy(partitions = 2, eventsPerPartition = 800)
    val binlog = tmpDir("msbl1")
    ChangeEventGen.writeSegments(p, binlog, segmentEvents = 500)
    val boundary = (p.eventsPerPartition * p.v2FromFraction).toLong
    val cuts = Seq(0L, boundary / 3, 2 * boundary / 3, boundary,
      (boundary + p.eventsPerPartition) / 2, p.eventsPerPartition.toLong)
    def range(i: Int) = BinlogRead.range(spark, binlog.toString, cuts(i), cuts(i + 1))

    // maintenance on a v1 table with MOR deltas
    val v1 = LakeTable.create(tmpDir("msv1"), nBuckets = 4, schemaVersion = 1)
    Ingest.applyBatch(spark, v1, mode = Mor)(range(0), 0L)
    Ingest.applyBatch(spark, v1, mode = Mor)(range(1), 1L)
    assert(v1.currentSnapshot.files.groupBy(_.bucket).exists(_._2.size > 1))
    val beforeRebucket = reference(v1, v1.currentSnapshot)
    Maintain.rebucket(spark, v1, 8)
    assert(v1.currentSnapshot.nBuckets == 8 && v1.currentSnapshot.schemaVersion == 1)
    val rebucketed = canon(v1.read(spark))
    assert(rebucketed.sameElements(beforeRebucket), diff(rebucketed, beforeRebucket))
    Ingest.applyBatch(spark, v1, mode = Mor)(range(2), 2L)
    assert(v1.currentSnapshot.files.groupBy(_.bucket).exists(_._2.size > 1))
    val beforeCompact = reference(v1, v1.currentSnapshot)
    Maintain.compact(spark, v1)
    val compacted = v1.currentSnapshot
    assert(compacted.files.groupBy(_.bucket).values.forall(_.size == 1) &&
      compacted.files.forall(_.schemaVersion == 1))
    val afterCompact = canon(v1.read(spark))
    assert(afterCompact.sameElements(beforeCompact), diff(afterCompact, beforeCompact))

    // time travel to a pre-evolution snapshot that has deltas, read after
    // evolveSchema: presented in its own (v1) schema
    val mixed = LakeTable.create(tmpDir("msmix"), nBuckets = 4, schemaVersion = 1)
    val twin = LakeTable.create(tmpDir("mstwin"), nBuckets = 4, schemaVersion = 1)
    for (t <- Seq(mixed, twin); i <- 0 to 2) Ingest.applyBatch(spark, t, mode = Mor)(range(i), i.toLong)
    val preEvolution = mixed.currentSnapshot
    assert(preEvolution.files.groupBy(_.bucket).exists(_._2.size > 1))
    Seq(mixed, twin).foreach(_.evolveSchema(2))
    val travelled = mixed.read(spark, Some(preEvolution.snapshotId))
    assert(!travelled.columns.contains("lang"))
    val travelledRows = canon(travelled)
    val preRef = reference(mixed, preEvolution)
    assert(travelledRows.sameElements(preRef), diff(travelledRows, preRef))

    // a COW apply that touches buckets holding v1 AND v2 files; the twin
    // takes the same batch as a MOR delta and is resolved by the shuffle
    Seq(mixed, twin).foreach(t => Ingest.applyBatch(spark, t, mode = Mor)(range(3), 3L))
    val mixedBuckets = mixed.currentSnapshot.files.groupBy(_.bucket)
      .collect { case (b, fs) if fs.map(_.schemaVersion).toSet == Set(1, 2) => b }.toSet
    assert(mixedBuckets.nonEmpty, "need a bucket holding BOTH schema versions")
    Ingest.applyBatch(spark, mixed, mode = Cow)(range(4), 4L)
    Ingest.applyBatch(spark, twin, mode = Mor)(range(4), 4L)
    val rewritten = mixed.currentSnapshot.files.groupBy(_.bucket)
      .filter { case (b, fs) => mixedBuckets(b) && fs.size == 1 }
    assert(rewritten.nonEmpty, "the COW batch must rewrite a mixed-version bucket")
    val cow = canon(mixed.read(spark))
    val cowRef = reference(twin, twin.currentSnapshot)
    assert(cow.sameElements(cowRef), diff(cow, cowRef))
    val perUrl = mixed.readRaw(spark).groupBy(col("url")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(perUrl == 1L, s"the COW rewrite must keep one version per url, saw $perUrl")
  }
}
