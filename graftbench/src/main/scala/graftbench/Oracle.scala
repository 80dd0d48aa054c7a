package graftbench

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.model.TextExtract

/** One event's place in the last-writer-wins order. */
final case class Version(tsMicros: Long, offset: Long, partition: Int, deleted: Boolean) {
  def beats(o: Version): Boolean =
    tsMicros > o.tsMicros || (tsMicros == o.tsMicros &&
      (offset > o.offset || (offset == o.offset && partition > o.partition)))
}

/** One row as the table returns it. */
final case class RowView(url: String, tsMicros: Long, html: Array[Byte], text: String)

/** Reference state: the generated events folded last-writer-wins on
  * `(warc_ts, offset, partition)`, deletes kept as tombstones. Html is
  * regenerated from the winning event's id, so the fold holds no payloads. */
final class Oracle(p: Profile) {
  private val state = mutable.HashMap.empty[String, Version]
  /** Urls in first-seen order, for deterministic lookup sampling. */
  val urls = mutable.ArrayBuffer.empty[String]

  def add(url: String, v: Version): Unit = {
    state.get(url) match {
      case None => state(url) = v; urls += url
      case Some(old) => if (v.beats(old)) state(url) = v
    }
    digestCache = None
  }

  /** Fold offsets `[from, until)` of every partition. */
  def addRange(from: Long, until: Long): Unit =
    Gen.metas(p, from, until).foreach { case (part, o, url, micros, deleted) => add(url, Version(micros, o, part, deleted)) }

  def version(url: String): Option[Version] = state.get(url)

  /** The row a correct table holds for `url`, or None (never seen or deleted). */
  def expected(url: String): Option[RowView] = state.get(url).filterNot(_.deleted).map { v =>
    val html = Gen.html(url, v.offset, p)
    RowView(url, v.tsMicros, html, TextExtract.extract(html))
  }

  def liveCount: Long = state.valuesIterator.count(!_.deleted).toLong

  private var digestCache: Option[Long] = None
  def digest: Long = digestCache.getOrElse {
    val d = state.iterator.collect { case (u, v) if !v.deleted => u }.map(u => Oracle.rowHash(expected(u).get)).sum
    digestCache = Some(d)
    d
  }

  /** Checks a table's resolved rows against the fold: row count and an
    * order-independent digest. Returns the mismatch, if any. */
  def verify(rows: Long, digest: Long): Option[String] = {
    val n = liveCount
    if (rows != n) Some(s"table holds $rows rows, oracle expects $n")
    else if (digest != this.digest) Some(s"table digest ${digest.toHexString} != oracle ${this.digest.toHexString}")
    else None
  }

  /** Checks one point-lookup answer: a live url returns exactly its winning
    * row, a deleted or unseen url returns nothing. */
  def lookupOk(url: String, answer: Seq[RowView]): Boolean = expected(url) match {
    case Some(e) => answer.size == 1 && Oracle.rowHash(answer.head) == Oracle.rowHash(e)
    case None => answer.isEmpty
  }
}

object Oracle {
  def micros(ts: Timestamp): Long = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  private def fnv(b: Array[Byte]): Long =
    if (b == null) 0x5bd1e995L
    else b.foldLeft(0xcbf29ce484222325L)((h, x) => (h ^ (x & 0xff)) * 0x100000001b3L)

  def rowHash(r: RowView): Long = {
    val s = (x: String) => if (x == null) null else x.getBytes(StandardCharsets.UTF_8)
    Seq(fnv(s(r.url)), r.tsMicros, fnv(r.html), fnv(s(r.text))).foldLeft(0L)((h, x) => Gen.mix64(h ^ x))
  }

  def rowView(r: org.apache.spark.sql.Row): RowView =
    RowView(r.getString(0), micros(r.getTimestamp(1)), r.getAs[Array[Byte]](2), r.getString(3))

  /** (rows, digest) of a resolved read, computed on the executors. */
  def tableDigest(df: DataFrame): (Long, Long) =
    df.select("url", "warc_ts", "html", "text").rdd
      .map(r => (1L, rowHash(rowView(r))))
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}
