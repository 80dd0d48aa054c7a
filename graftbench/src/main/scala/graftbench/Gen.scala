package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.sql.Timestamp

import graft.binlog.SegmentWriter
import graft.model.ChangeEvent

/** The shape of one generated change stream. Offsets are contiguous per
  * partition from 0, so a batch is an offset range `[from, until)` that
  * covers every partition. Urls are sticky to a partition and drawn from a
  * pool of `urlPoolPerPartition` ids; the rest of the profile is fixed in
  * [[Gen]]. */
final case class Profile(seed: Long, partitions: Int, urlPoolPerPartition: Int)

/** Deterministic event generator: every field of event `(partition,
  * offset)` is a pure function of the seed, so the same seed gives the
  * same bytes at any parallelism. The program only ever sees the binlog
  * segments this writes through its producer API ([[SegmentWriter]]).
  * The profile follows the engine's skewed crawl profile: Zipf(1.2) domains
  * over 1000 hosts, 10% deletes, 5% late events, 2% exact timestamp ties
  * and ~900 B of html per upsert. */
object Gen {
  private val Domains = 1000
  private val ZipfS = 1.2
  private val DeleteRatio = 0.10
  private val LateRatio = 0.05
  private val TieRatio = 0.02
  private val HtmlMeanBytes = 900
  private val langs = Array("en", "de", "fr", "es", "ja", "zh", "ru", "pt", "it", "nl")
  private val words = Array(
    "stream", "table", "merge", "offset", "commit", "snapshot", "replay", "batch",
    "shard", "vector", "crawl", "index", "page", "anchor", "footer", "header",
    "article", "section", "quote", "amp", "data", "lake", "spark", "scala")
  private val baseMicros = 1700000000000000L

  def mix64(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def key(parts: Long*): Long = parts.foldLeft(0x2545f4914f6cdd1dL)((h, p) => mix64(h ^ p))
  private def key2(a: Long, b: Long): Long = mix64(mix64(0x2545f4914f6cdd1dL ^ a) ^ b)
  def uniform(k: Long): Double = (mix64(k) >>> 11) * 1.1102230246251565e-16
  def below(k: Long, n: Int): Int = ((mix64(k) >>> 33) % n).toInt

  private val zipfCache = new java.util.concurrent.ConcurrentHashMap[(Int, Double), Array[Double]]()
  private def zipfCdf(n: Int, s: Double): Array[Double] = zipfCache.computeIfAbsent((n, s), _ => {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  })
  private def zipf(k: Long, n: Int, s: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf(n, s), uniform(k))
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }

  def url(p: Profile, partition: Int, urlId: Int): String =
    s"https://d${zipf(key(p.seed, 0xd0, partition, urlId), Domains, ZipfS)}.example.org/p$partition/doc$urlId"

  /** A url no event ever carries: ids past the pool. */
  def unseenUrl(p: Profile, partition: Int, i: Int): String =
    url(p, partition, p.urlPoolPerPartition + i)

  def html(url: String, offset: Long, p: Profile): Array[Byte] = {
    val k0 = key(p.seed, 0x47, url.hashCode, offset)
    val nWords = 20 + below(k0, math.max(1, HtmlMeanBytes / 6))
    val sb = new StringBuilder(nWords * 8 + 256)
    sb.append("<html><head><title>").append(url).append(" v").append(offset)
      .append("</title><script>var x=").append(offset).append(";</script></head><body>")
    for (i <- 0 until nWords) {
      if (i % 17 == 5) sb.append("<p class=\"s\">")
      sb.append(words(below(key2(k0, i), words.length)))
      if (i % 23 == 7) sb.append(" &amp; café &#8212;")
      sb.append(' ')
    }
    sb.append("</body></html>").toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Event `(partition, offset)` without its payload: url, warc_ts in
    * micros, and whether it is a delete. */
  def meta(p: Profile, partition: Int, offset: Long): (String, Long, Boolean) = {
    val k = key(p.seed, partition, offset)
    val r = uniform(key(k, 3))
    val micros =
      if (r < TieRatio) baseMicros + (offset / 10) * 10000000L
      else if (r < TieRatio + LateRatio) baseMicros + math.max(0L, offset - 500) * 1000000L
      else baseMicros + offset * 1000000L + below(key(k, 4), 1000000)
    (url(p, partition, below(key(k, 1), p.urlPoolPerPartition)), micros, uniform(key(k, 2)) < DeleteRatio)
  }

  def event(p: Profile, partition: Int, offset: Long): ChangeEvent = {
    val (u, micros, deleted) = meta(p, partition, offset)
    val ts = new Timestamp(micros / 1000)
    ts.setNanos(((micros % 1000000) * 1000).toInt)
    val lang = langs(below(key(p.seed, partition, offset, 5), langs.length))
    if (deleted) ChangeEvent(partition, offset, ChangeEvent.OpDelete, u, ts, null, lang)
    else ChangeEvent(partition, offset, ChangeEvent.OpUpsert, u, ts, html(u, offset, p), lang)
  }

  /** Payload-free events `[from, until)` of every partition, as
    * `(partition, offset, url, micros, deleted)`. */
  def metas(p: Profile, from: Long, until: Long): Iterator[(Int, Long, String, Long, Boolean)] =
    Iterator.range(0, p.partitions).flatMap(part => Iterator.range(from, until).map { o =>
      val (u, t, d) = meta(p, part, o)
      (part, o, u, t, d)
    })

  /** Events `[from, until)` of every partition, partition-major. */
  def events(p: Profile, from: Long, until: Long): Iterator[ChangeEvent] =
    Iterator.range(0, p.partitions).flatMap(part => Iterator.range(from, until).map(event(p, part, _)))

  /** Write offsets `[from, until)` of every partition as binlog segments
    * under `dir`, one segment per partition, partitions in parallel.
    * Returns the compressed bytes written. */
  def write(p: Profile, dir: Path, from: Long, until: Long): Long = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, p.partitions))
    try {
      val fs = (0 until p.partitions).map { part =>
        pool.submit(() => {
          val w = new SegmentWriter(dir, part, from, chunkThreshold = 256L * 1024)
          var o = from
          while (o < until) { w.writeEvent(event(p, part, o)); o += 1 }
          w.close().chunks.map(_.byteLength).sum
        })
      }
      fs.map(_.get()).sum
    } finally pool.shutdown()
  }
}
