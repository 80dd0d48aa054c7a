package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sql.GraftSql

/** Per-file bloom sidecars: maintenance build, point-lookup file skipping,
  * false-positive safety, GC ride-along. */
class BloomSpec extends SparkSpec {

  test("blooms skip delta files a point lookup cannot hit; correctness unchanged; GC removes sidecars") {
    val wh = tmpDir("bloom-wh").toString
    GraftSql.enable(spark, wh)
    spark.sql("DROP TABLE IF EXISTS graft.bl")
    spark.sql("CREATE TABLE graft.bl (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='2')")
    // 3 MOR batches over DISJOINT url ranges → each bucket holds 3 delta
    // files; a given url exists in exactly ONE of them
    spark.conf.set(GraftSql.MergeModeConf, "mor")
    try {
      // url scheme u<id>-r<r>: every delta file's [min,max] bounds span the
      // whole id range (bounds can NOT discriminate), yet each url lives in
      // exactly one file — the case only a bloom can prune
      (0 until 3).foreach { r =>
        spark.sql(
          s"""INSERT INTO graft.bl
             |SELECT concat('u', lpad(CAST(id AS STRING), 4, '0'), '-r$r') AS url,
             |  timestamp_micros(${1700000000000000L + r} + id) AS warc_ts,
             |  cast('<p>x</p>' AS BINARY), CAST(NULL AS STRING), CAST(NULL AS BIGINT), 'en'
             |FROM range(200)""".stripMargin)
      }
    } finally spark.conf.unset(GraftSql.MergeModeConf)

    val lake = LakeTable.load(java.nio.file.Paths.get(wh, "bl"))
    val snap = lake.currentSnapshot
    assert(snap.files.groupBy(_.bucket).forall(_._2.size == 3))

    def filesPlanned(key: String): Int = {
      val scan = new graft.sql.GraftLakeScan(lake, None)
      scan.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("url", key)))
      scan.planInputPartitions()
        .map(_.asInstanceOf[graft.sql.GraftBucketPartition].files.size).sum
    }

    val key = "u0077-r1"
    val before = filesPlanned(key)
    assert(before >= 2, s"bounds alone should admit several delta files (got $before)")

    assert(Maintain.buildBlooms(spark, lake) == snap.files.size)
    assert(Maintain.buildBlooms(spark, lake) == 0) // idempotent
    val after = filesPlanned(key)
    assert(after < before, s"bloom should skip files ($before -> $after)")
    assert(after >= 1)

    // results identical with blooms active (and residual filters re-applied)
    val row = spark.sql(s"SELECT url FROM graft.bl WHERE url = '$key'").collect()
    assert(row.map(_.getString(0)).toSeq == Seq(key))
    assert(spark.sql("SELECT * FROM graft.bl WHERE url = 'absent'").count() == 0)
    assert(spark.sql("SELECT count(*) FROM graft.bl").head().getLong(0) == 600)

    // AUTOMATIC (MOR) compaction inherits coverage: replaced files had
    // sidecars, so the compacted replacements come out covered inline
    graft.cdc.Merge.compactBuckets(spark, lake, Set(0))
    assert(lake.currentSnapshot.files.filter(_.bucket == 0).forall(f =>
      java.nio.file.Files.exists(Bloom.sidecar(lake.root.resolve(f.path)))))
    assert(spark.sql("SELECT count(*) FROM graft.bl").head().getLong(0) == 600)

    // maintenance compaction follows the same rule: the replaced files had
    // sidecars, so the fresh files come out covered
    Maintain.compact(spark, lake)
    assert(lake.currentSnapshot.files.forall(f =>
      java.nio.file.Files.exists(Bloom.sidecar(lake.root.resolve(f.path)))))
    // another compaction + expiry: orphaned data files take their sidecars
    // with them, and every current file keeps one
    Maintain.compact(spark, lake)
    val (_, deleted) = Maintain.expireSnapshots(lake, keepLast = 1)
    assert(deleted > 0)
    val blooms = {
      val s = java.nio.file.Files.walk(lake.root)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(_.getFileName.toString.endsWith(".bloom")).map(_.normalize).toSet
      finally s.close()
    }
    val current = lake.currentSnapshot.files
      .map(f => Bloom.sidecar(lake.root.resolve(f.path)).normalize).toSet
    assert(blooms == current,
      s"orphan sidecars: ${blooms -- current}; uncovered files: ${current -- blooms}")
    assert(spark.sql("SELECT count(*) FROM graft.bl").head().getLong(0) == 600)
  }

  test("a folded file's sidecar equals, bit for bit, the one the backfill builds") {
    val wh = tmpDir("bloom-fold-wh").toString
    GraftSql.enable(spark, wh)
    spark.sql("DROP TABLE IF EXISTS graft.blf")
    spark.sql("CREATE TABLE graft.blf (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, content_len BIGINT, lang STRING) USING graft TBLPROPERTIES('buckets'='2')")
    spark.conf.set(GraftSql.MergeModeConf, "mor")
    try (0 until 2).foreach { r =>
      spark.sql(
        s"""INSERT INTO graft.blf
           |SELECT concat('f', CAST(id AS STRING), '-r$r') AS url,
           |  timestamp_micros(${1700000000000000L + r} + id) AS warc_ts,
           |  cast('<p>x</p>' AS BINARY), CAST(NULL AS STRING), CAST(NULL AS BIGINT), 'en'
           |FROM range(300)""".stripMargin)
    } finally spark.conf.unset(GraftSql.MergeModeConf)
    val lake = LakeTable.load(java.nio.file.Paths.get(wh, "blf"))
    assert(Maintain.buildBlooms(spark, lake) == lake.currentSnapshot.files.size)

    // the fold's writing tasks build the sidecars (the inputs had them) …
    Maintain.compact(spark, lake)
    val folded = lake.currentSnapshot.files
    assert(folded.size == 2)
    folded.foreach { f =>
      val p = lake.root.resolve(f.path)
      val written = java.nio.file.Files.readAllBytes(Bloom.sidecar(p))
      // … and the backfill, reading the same file's urls, builds the same bits
      java.nio.file.Files.delete(Bloom.sidecar(p))
      assert(Bloom.build(spark, Seq(p -> f.rowCount)) == 1)
      assert(java.util.Arrays.equals(written, java.nio.file.Files.readAllBytes(Bloom.sidecar(p))),
        s"sidecar of ${f.path} differs from the backfill's")
    }
  }

  implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
