package graft.app

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.binlog.{ChangeEventGen, GenProfile, Segment}
import graft.cdc.Ingest

/** Shared benchmark plumbing: deterministic skewed binlog generation (cached
  * on disk keyed by profile shape) and a timed ingest run at a given
  * parallelism. */
object BenchUtil {

  def skewedProfile(totalEvents: Long, partitions: Int = 8): GenProfile =
    GenProfile.skewed(seed = 42L, partitions = partitions,
      perPartition = totalEvents / partitions)

  /** RAM-backed scratch (tmpfs) for benches: the sandbox's /tmp is a slow
    * virtual disk that saturates around the shuffle rates of a 16-core run,
    * which would measure the disk, not the engine. A production executor
    * has NVMe-class local storage; tmpfs stands in for it here (noted in
    * BENCH_SCALING.md). */
  val scratch: String = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) "/dev/shm/graft-bench"
    else "/tmp/graft-bench"
  }

  /** Generate (or reuse cached) binlog segments for a profile. */
  def ensureBinlog(p: GenProfile, baseDir: String = scratch): Path = {
    val dir = Paths.get(baseDir,
      s"binlog-${p.name}-p${p.partitions}-n${p.eventsPerPartition}-s${p.seed}-h${p.htmlMeanBytes}-u${p.urlPoolPerPartition}")
    val marker = dir.resolve("_COMPLETE")
    if (Files.exists(marker)) return dir
    if (Files.exists(dir)) { // partial from a crashed run — rebuild
      Segment.listAll(dir).foreach { f => Files.deleteIfExists(f.path); Files.deleteIfExists(f.indexPath) }
    }
    val t0 = System.nanoTime()
    ChangeEventGen.writeSegments(p, dir, segmentEvents = 100000, chunkThreshold = 8L * 1024 * 1024)
    Files.createFile(marker)
    System.err.println(f"[bench] generated ${p.partitions * p.eventsPerPartition} events in ${(System.nanoTime() - t0) / 1e9}%.1f s → $dir")
    dir
  }

  def newSession(cores: Int, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .config("spark.local.dir", s"$scratch/spark-local")
      // shuffle compression, on-heap memory and snappy parquet stay at
      // Spark's defaults: lz4 shuffle compression wins even on tmpfs (fewer
      // bytes through the memory bus beats the codec cost — measured 40.6s
      // vs 58.6s at 4M/16c)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One timed CDC ingest of the binlog into a fresh MOR LakeTable via the
    * streaming pipeline (MOR: the 10^10-scale strategy is what the
    * north-star metric grades). Returns (events, seconds, events/sec). */
  def timedIngest(spark: SparkSession, binlog: Path, maxEventsPerBatch: Long,
      nBuckets: Int): (Long, Double, Double) = {
    Files.createDirectories(Paths.get(scratch))
    val work = Files.createTempDirectory(Paths.get(scratch), "run")
    val events = Segment.listAll(binlog).map(_.index.totalRecords).sum
    val t0 = System.nanoTime()
    val q = Ingest.startStream(spark, binlog.toString, work.resolve("table"),
      work.resolve("ckpt").toString, maxEventsPerBatch = maxEventsPerBatch,
      nBuckets = nBuckets, mode = graft.cdc.Mor)
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    // clean up the table (bench tables are large)
    graft.lake.LakeTable.deleteRecursively(work)
    (events, sec, events / sec)
  }
}
