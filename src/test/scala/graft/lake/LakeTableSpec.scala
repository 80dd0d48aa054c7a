package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class LakeTableSpec extends SparkSpec {

  test("bucketOf(url) equals Spark's hash-partition id (the no-second-shuffle invariant)") {
    import spark.implicits._
    val n = 32
    val urls = (0 until 2000).map(i => s"https://d$i.example.org/p/$i").toDF("url")
    val withBucket = urls.withColumn("bucket", LakeTable.bucketOf(col("url"), n))
      .repartition(n, col("url"))
      .withColumn("pid", spark_partition_id())
    assert(withBucket.filter(col("bucket") =!= col("pid")).count() == 0)
  }

  test("CAS commit: stale parent rejected; snapshot ids monotone") {
    val root = tmpDir("lake")
    val t = LakeTable.create(root, nBuckets = 4)
    val s0 = t.currentSnapshot
    val s1 = s0.copy(snapshotId = 1, parentId = 0)
    t.commit(s1)
    assert(t.currentSnapshotId == 1)
    // a second commit claiming parent 0 must fail (lost-update defense)
    val stale = s0.copy(snapshotId = 2, parentId = 0)
    intercept[IllegalArgumentException](t.commit(stale))
    assert(t.currentSnapshotId == 1)
  }

  test("schema downgrade rejected; evolve is metadata-only") {
    val root = tmpDir("lake2")
    val t = LakeTable.create(root, nBuckets = 4, schemaVersion = 1)
    val before = t.currentSnapshot.files
    t.evolveSchema(2)
    assert(t.currentSnapshot.schemaVersion == 2)
    assert(t.currentSnapshot.files == before)
    intercept[IllegalArgumentException](t.evolveSchema(2))
  }

  test("parquetStats: exact rows and safe url bounds from footers") {
    val root = tmpDir("pq")
    import spark.implicits._
    val df = Seq("https://b.org/1", "https://a.org/2", "https://c.org/3")
      .toDF("url").coalesce(1)
    val out = root.resolve("f").toString
    df.write.parquet(out)
    val f = Files.list(root.resolve("f")).filter(_.toString.endsWith(".parquet")).findFirst().get()
    val (rows, umin, umax) = LakeTable.parquetStats(f, "url")
    assert(rows == 3)
    assert(umin <= "https://a.org/2" && umax >= "https://c.org/3")
  }

  test("rollbackTo: state and markers as-of target, history kept, replay composes") {
    val root = tmpDir("lakerb")
    val t = LakeTable.create(root, nBuckets = 4)
    def f(n: String) = DataFile(s"data/$n.parquet", 0, 10, "a", "z",
      TableSchemas.current, 1L)
    def m(b: Long) = BatchMarker(b, Seq(PartLineage(0, (b - 1) * 10, 10, 10)), 10, 0)
    val s1 = t.commitAppend(Seq(f("b1")), Some(m(1)))
    val s2 = t.commitAppend(Seq(f("b2")), Some(m(2)))
    assert(t.currentSnapshot.committedBatchIds == Set(1L, 2L))

    // the rollback is a NEW commit carrying exactly the target's state —
    // files, markers, row count — with history preserved behind it
    val rb = t.rollbackTo(s1.snapshotId)
    assert(rb.snapshotId == s2.snapshotId + 1 && rb.parentId == s2.snapshotId)
    assert(rb.files == s1.files && rb.batches == s1.batches &&
      rb.totalRows == s1.totalRows)
    assert(t.currentSnapshotId == rb.snapshotId)
    assert(t.snapshot(s2.snapshotId).files.map(_.path).contains("data/b2.parquet"),
      "rolled-back head must stay time-travel readable")

    // exactly-once composes: a PRE-target batch replays as a no-op (its
    // marker rode along), the ROLLED-BACK batch re-applies (its marker is
    // gone — the re-ingest path after a checkpoint rewind)
    val r1 = t.commitAppend(Seq(f("b1-replay")), Some(m(1)))
    assert(r1.snapshotId == rb.snapshotId &&
      !r1.files.map(_.path).contains("data/b1-replay.parquet"))
    val r2 = t.commitAppend(Seq(f("b2-replay")), Some(m(2)))
    assert(r2.files.map(_.path).contains("data/b2-replay.parquet") &&
      r2.committedBatchIds == Set(1L, 2L))

    // guards: current, unknown, and expired targets fail loudly
    intercept[IllegalArgumentException](t.rollbackTo(t.currentSnapshotId))
    intercept[IllegalArgumentException](t.rollbackTo(999L))
    Maintain.expireSnapshots(t, keepLast = 1)
    val e = intercept[IllegalArgumentException](t.rollbackTo(s2.snapshotId))
    assert(e.getMessage.contains("not retained"))
  }

  test("snapshot JSON round-trip including markers and lineage") {
    val s = Snapshot(7, 6, 2, 16,
      Vector(DataFile("data/s7/bucket=3/x.parquet", 3, 100, "a", "z", 2, 12345)),
      Vector(BatchMarker(4, Seq(PartLineage(0, 100, 50, 48)), 40, 10)),
      100)
    assert(Snapshot.fromJson(s.toJson) == s)
  }

  test("writeDataFilesTo writes MICROS timestamps and leaves the session conf as it found it") {
    val t = LakeTable.create(tmpDir("lakeconf"), nBuckets = 4)
    val schema = StructType(TableSchemas.v2.fields :+ StructField("bucket", IntegerType))
    val u = "https://a.org/1"
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(u, new java.sql.Timestamp(1000L), "<p>a</p>".getBytes, "a", 8L, "en", 9, 1L,
        false, LakeTable.bucketIdOf(u, 4))), 1), schema)
    val key = "spark.sql.parquet.outputTimestampType"
    def writeKeepsConf(dir: String): Unit = {
      val before = spark.conf.getAll
      val files = t.writeDataFilesTo(df, dir, TableSchemas.current)
      assert(spark.conf.getAll == before)
      // the write itself ran under MICROS: INT96 footers carry no ts bounds
      assert(files.nonEmpty && files.forall(_.tsMinMicros != DataFile.NoTsMin))
    }
    spark.conf.unset(key)
    writeKeepsConf("conf-unset") // an unset key stays unset, not pinned to INT96
    spark.conf.set(key, "TIMESTAMP_MILLIS")
    try writeKeepsConf("conf-set") // an explicit value comes back
    finally spark.conf.unset(key)
  }
}
