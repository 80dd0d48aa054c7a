package graft.lake

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Per-data-file url bloom filters for point-lookup pruning.
  *
  * Within a bucket, every delta file tends to span most of the bucket's url
  * range, so manifest [urlMin, urlMax] bounds rarely prune MOR delta files —
  * a point lookup still opens all k of them. A small per-file bloom
  * (sidecar `<data>.bloom`, ~10 bits/url, 4 probes ⇒ ~1% FP) lets the scan
  * skip delta files that cannot contain the key.
  *
  * Design choices (scale + safety):
  *  - blooms are SIDECARS, not manifest payload: snapshot JSON stays small,
  *    no format migration; presence is probed per candidate file (≤
  *    MaxFilesPerBucket of ONE bucket per lookup);
  *  - two producers, one routine ([[writeSidecar]]): [[Maintain.buildBlooms]]
  *    backfills files lacking a sidecar (one task per file: column-pruned
  *    url read, per-file-sized bitset written executor-side), and a fold
  *    whose replaced files had sidecars ([[Maintain.foldReplace]]) has the
  *    writing task build each new file's sidecar from the url hashes it
  *    already sees — so the sidecar exists before the commit publishes the
  *    file. Other writes (per-batch deltas) get none: lookups use blooms
  *    opportunistically and fall back to bounds where absent;
  *  - a bloom can only SKIP (membership "no"); false positives just read a
  *    file the bounds would have read anyway — correctness never depends
  *    on the sidecar;
  *  - hash = XXH64(url, seed 42), the exact `xxhash64` the cluster side
  *    computes, double-hashed into 4 probes.
  */
object Bloom {

  val Probes = 4
  val BitsPerKey = 10

  def sidecar(dataFile: Path): Path =
    dataFile.resolveSibling(dataFile.getFileName.toString + ".bloom")

  /** m (bits) for n keys, power of two ≥ 1024 (so probe = h & (m−1)). */
  def bitsFor(n: Long): Int = {
    var m = 1024
    while (m < n * BitsPerKey && m < (1 << 30)) m = m << 1
    m
  }

  def hashOf(url: String): Long =
    hashOf(org.apache.spark.unsafe.types.UTF8String.fromString(url))

  def hashOf(url: org.apache.spark.unsafe.types.UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(url, 42L)

  private def set(bits: Array[Byte], h: Long): Unit = {
    val m = bits.length * 8
    val h1 = h
    val h2 = (h >>> 32) | (h << 32) | 1L // odd → full-period double hashing
    var i = 0
    while (i < Probes) {
      val idx = (((h1 + i * h2) % m + m) % m).toInt
      bits(idx >> 3) = (bits(idx >> 3) | (1 << (idx & 7))).toByte
      i += 1
    }
  }

  private def get(bits: Array[Byte], h: Long): Boolean = {
    val m = bits.length * 8
    val h1 = h
    val h2 = (h >>> 32) | (h << 32) | 1L
    var i = 0
    while (i < Probes) {
      val idx = (((h1 + i * h2) % m + m) % m).toInt
      if ((bits(idx >> 3) & (1 << (idx & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** The one sidecar routine: fold `n` url hashes into a bitset sized for
    * THIS file's own key count (`bitsFor(n)`) and publish it next to the
    * data file ([[MetaFiles.publish]]: retried or speculative tasks never
    * tear each other's sidecar). */
  private[lake] def writeSidecar(dataFile: Path, n: Long, hashes: Iterator[Long]): Unit = {
    val bits = new Array[Byte](bitsFor(n) / 8)
    hashes.foreach(set(bits, _))
    MetaFiles.publish(sidecar(dataFile), bits, replace = true)
  }

  /** Backfill sidecars for the given data files (absolute path → expected
    * rows); skips files that already have one. Returns #built.
    *
    * Fully distributed: one task per missing file reads ITS file's url
    * column (column-pruned vectorized parquet read) into [[writeSidecar]].
    * Nothing but the built-count crosses to the driver. */
  def build(spark: SparkSession, files: Seq[(Path, Long)]): Int = {
    val missing = files.filterNot(f => Files.exists(sidecar(f._1)))
      .map { case (p, rows) => (p.toString, rows) }
    if (missing.isEmpty) return 0
    // the table's one parquet reader, pruned to `url`: a non-null string in
    // every schema version, so one version's reader reads every file's urls
    val urlOnly = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType, nullable = false)))
    val reader = graft.sql.GraftBucketReader.parquetReaders(spark, urlOnly,
      Seq(TableSchemas.current), filters = Nil)(TableSchemas.current)
    val slices = math.max(1, math.min(missing.size, spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(missing, slices).map { case (pathStr, rows) =>
      val p = java.nio.file.Paths.get(pathStr)
      if (Files.exists(sidecar(p))) 0
      else {
        writeSidecar(p, rows,
          reader.open(pathStr, Files.size(p)).map(r => hashOf(r.getUTF8String(0))))
        1
      }
    }.sum().toInt
  }

  /** Driver-side sidecar cache, bounded LRU (access-ordered): point lookups
    * hit the same few sidecars, so evict only the coldest entry at capacity —
    * a clear-all would re-read every hot sidecar right after crossing the
    * bound (a periodic latency cliff under lookup-heavy workloads). */
  private val CacheEntries = 4096
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Array[Byte]](CacheEntries, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Array[Byte]]): Boolean =
        size() > CacheEntries
    })

  /** Might ANY of the urls be in this data file? True when no sidecar
    * exists (bloom absent → cannot skip). */
  def mightContainAny(dataFile: Path, urls: Seq[String]): Boolean = {
    val sc = sidecar(dataFile)
    if (!Files.exists(sc)) return true
    val bits = cache.computeIfAbsent(sc.toString, _ => Files.readAllBytes(sc))
    if (bits.isEmpty) return true
    urls.exists(u => get(bits, hashOf(u)))
  }
}
