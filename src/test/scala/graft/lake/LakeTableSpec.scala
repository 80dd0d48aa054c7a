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

  test("create on an existing table returns it untouched: the pointer never moves back") {
    val root = tmpDir("lake-recreate")
    val t = LakeTable.create(root, nBuckets = 8, schemaVersion = 1)
    t.evolveSchema(2)
    val again = LakeTable.create(root, nBuckets = 16, schemaVersion = 2)
    assert(again.currentSnapshotId == 1)
    assert(again.currentSnapshot.nBuckets == 8 && again.currentSnapshot.schemaVersion == 2)
    assert(again.snapshotIds == Vector(0L, 1L) && again.snapshot(0).nBuckets == 8)
  }

  test("racing creators of one root all succeed and all see one snapshot 0") {
    val threads = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try (1 to 50).foreach { round =>
      val root = tmpDir("lake-race")
      val barrier = new java.util.concurrent.CyclicBarrier(threads)
      val creates = (0 until threads).map(i => pool.submit(() => {
        barrier.await()
        LakeTable.create(root, nBuckets = 4 + i).currentSnapshot
      }))
      val seen = creates.map(_.get()) // a failed create rethrows here
      assert(seen.distinct.size == 1, s"round $round: creators saw ${seen.distinct}")
      assert(seen.head.snapshotId == 0L)
      val meta = root.resolve("meta")
      assert(Files.list(meta).toArray.map(_.toString).sorted.toSeq ==
        Seq(meta.resolve("VERSION").toString, meta.resolve("snap-0.json").toString),
        s"round $round: staging files left behind")
    } finally pool.shutdown()
  }

  /** A v2 table row plus its bucket. */
  private def v2Row(u: String, tsMicros: Long, html: String, off: Long, del: Boolean,
      nBuckets: Int): Row =
    Row(u, new java.sql.Timestamp(tsMicros / 1000), Option(html).map(_.getBytes).orNull,
      Option(html).map(h => s"t:$h").orNull, Option(html).map(_.length.toLong).orNull,
      "en", 9, off, del, LakeTable.bucketIdOf(u, nBuckets))

  private val v2WithBucket =
    StructType(TableSchemas.v2.fields :+ StructField("bucket", IntegerType))

  /** (rows, url min/max, warc_ts min/max micros) read from a parquet footer. */
  private def footerStats(p: java.nio.file.Path): (Long, String, String, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      def stats(c: String) = cols.filter(_.getPath.toDotString == c).map(_.getStatistics)
      val url = stats("url")
      val ts = stats("warc_ts")
      assert(r.getFooter.getFileMetaData.getSchema.getFields.asScala.find(_.getName == "warc_ts").get
        .getLogicalTypeAnnotation.toString.contains("MICROS"))
      (r.getRecordCount,
        url.map(s => new String(s.getMinBytes, "UTF-8")).min,
        url.map(s => new String(s.getMaxBytes, "UTF-8")).max,
        ts.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
        ts.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
    } finally r.close()
  }

  test("writer stats equal the footer") {
    val t = LakeTable.create(tmpDir("wstats"), nBuckets = 2)
    val t0 = 1700000000000000L
    // per bucket: live rows, a tombstone, a null html — url-sorted runs
    val rows = (0 until 40).map { i =>
      val u = f"https://s.example/$i%03d"
      v2Row(u, t0 + (i * 7919L % 40) * 1000000L, if (i % 5 == 0) null else s"<p>$i</p>",
        off = i.toLong, del = i % 9 == 0, 2)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), v2WithBucket)
      .repartition(2, col("url")).sortWithinPartitions(col("url"))
    val files = t.writeDataFilesTo(df, "wstats", TableSchemas.current)
    assert(files.map(_.bucket) == Seq(0, 1))
    assert(files.map(_.rowCount).sum == 40)
    assert(rows.exists(_.getBoolean(8)) && rows.exists(_.isNullAt(2)))
    files.foreach { f =>
      val p = t.root.resolve(f.path)
      assert(footerStats(p) == ((f.rowCount, f.urlMin, f.urlMax, f.tsMinMicros, f.tsMaxMicros)),
        s"manifest entry $f disagrees with its footer")
      assert(f.bytes == Files.size(p))
      assert(f.schemaVersion == TableSchemas.current)
    }
  }

  test("writer creates files, checksums and bucket dirs with stock Hadoop modes and no child process") {
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    val t = LakeTable.create(tmpDir("wmode"), nBuckets = 2)
    val rows = (0 until 20).map(i =>
      v2Row(f"https://m.example/$i%02d", 1000000L * i, "<p>m</p>", i.toLong, false, 2))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), v2WithBucket)
      .repartition(2, col("url")).sortWithinPartitions(col("url"))
    // without Hadoop's native library a stock local write runs `chmod` in a
    // child process per created file and dir; the JDK records each start
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val files = try t.writeDataFilesTo(df, "wmode", TableSchemas.current) finally rec.stop()
    val dump = Files.createTempFile(tmpDir("wmode-jfr"), "write", ".jfr")
    rec.dump(dump)
    rec.close()
    val chmods = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command")).filter(_.contains("chmod"))
    assert(chmods.isEmpty, chmods)
    def mode(p: java.nio.file.Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    assert(files.size == 2)
    files.foreach { f =>
      val p = t.root.resolve(f.path)
      val crc = p.resolveSibling(s".${p.getFileName}.crc")
      assert(mode(p) == "rw-r--r--" && mode(crc) == "rw-r--r--" && mode(p.getParent) == "rwxr-xr-x")
    }
    assert(mode(t.root.resolve("data/wmode")) == "rwxr-xr-x")
    // the write's file system stays scoped to the write
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sessionState.newHadoopConf())
    assert(!fs.isInstanceOf[ForklessLocalFileSystem], fs.getClass)
  }

  test("writer invariant: a duplicate url or a null url fails the write and commits nothing") {
    val t = LakeTable.create(tmpDir("winv"), nBuckets = 2)
    val u = "https://inv.example/a"
    val dup = Seq(v2Row(u, 1000000L, "<p>a</p>", 1L, false, 2),
      v2Row(u, 2000000L, "<p>b</p>", 2L, false, 2))
    val nul = Seq(Row(null, new java.sql.Timestamp(1000L), null, null, null, "en", 9, 1L, false, 0))
    val nullableUrl = StructType(v2WithBucket.fields.map(f =>
      if (f.name == "url") f.copy(nullable = true) else f))
    Seq("dup" -> spark.createDataFrame(spark.sparkContext.parallelize(dup, 1), v2WithBucket),
      "null" -> spark.createDataFrame(spark.sparkContext.parallelize(nul, 1), nullableUrl))
      .foreach { case (dir, df) =>
        val e = intercept[Exception](t.writeDataFilesTo(df, dir, TableSchemas.current))
        assert(e.getMessage.contains("writer invariant"), e.getMessage)
        val left = t.root.resolve(s"data/$dir")
        val files = if (!Files.exists(left)) Nil else {
          val w = Files.walk(left)
          try w.filter(p => p.toString.endsWith(".parquet")).toArray.toSeq finally w.close()
        }
        assert(files.isEmpty, s"the failed task must delete what it wrote: $files")
      }
    assert(t.currentSnapshotId == 0L && t.currentSnapshot.files.isEmpty)
  }

  test("an uncommitted write's files and sidecars are orphans the GC removes") {
    val t = LakeTable.create(tmpDir("worph"), nBuckets = 2)
    val rows = (0 until 20).map(i =>
      v2Row(f"https://o.example/$i%02d", 1000000L * i, "<p>x</p>", i.toLong, false, 2))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), v2WithBucket)
      .repartition(2, col("url")).sortWithinPartitions(col("url"))
    val files = t.writeDataFilesTo(df, "worph", TableSchemas.current, blooms = true)
    val paths = files.map(f => t.root.resolve(f.path))
    assert(paths.nonEmpty && paths.forall(p => Files.exists(p) && Files.exists(Bloom.sidecar(p))))
    // inside the horizon an in-flight write is left alone
    assert(Maintain.removeOrphanFiles(t, olderThanMs = 0L).isEmpty)
    Thread.sleep(20)
    val removed = Maintain.removeOrphanFiles(t, olderThanMs = System.currentTimeMillis())
    files.foreach { f =>
      assert(removed.contains(f.path) && removed.contains(f.path + ".bloom"), removed)
    }
    assert(paths.forall(p => !Files.exists(p) && !Files.exists(Bloom.sidecar(p))))
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

  test("concurrent writes under a TIMESTAMP_MILLIS session write MICROS and leave the conf alone") {
    val t = LakeTable.create(tmpDir("lakeconc"), nBuckets = 4)
    val key = "spark.sql.parquet.outputTimestampType"
    def df(tag: String) = spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 200).map(i => v2Row(f"https://$tag.example/$i%03d", 1000000L * (i + 1),
          "<p>c</p>", i.toLong, false, 4)), 2), v2WithBucket)
      .repartition(4, col("url")).sortWithinPartitions(col("url"))
    spark.conf.set(key, "TIMESTAMP_MILLIS")
    try {
      val before = spark.conf.getAll
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val writes = Seq("c1", "c2").map { tag =>
        val input = df(tag)
        Future((0 until 3).foreach(i =>
          t.writeDataFilesTo(input, s"$tag-$i", TableSchemas.current).foreach { f =>
            val (_, _, _, lo, hi) = footerStats(t.root.resolve(f.path))
            assert(lo == f.tsMinMicros && hi == f.tsMaxMicros && lo >= 1000000L)
          }))
      }
      writes.foreach(Await.result(_, scala.concurrent.duration.Duration(5, "min")))
      assert(spark.conf.getAll == before)
      // six writes x four buckets, every footer checked above
      val w = Files.walk(t.root.resolve("data"))
      try assert(w.filter(_.toString.endsWith(".parquet")).count() == 24) finally w.close()
    } finally spark.conf.unset(key)
  }
}
