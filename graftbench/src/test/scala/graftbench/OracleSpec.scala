package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.model.TextExtract

class OracleSpec extends AnyFunSuite {
  private val p = Profile(seed = 7L, partitions = 2, urlPoolPerPartition = 60)
  private def folded(): Oracle = { val o = new Oracle(p); o.addRange(0, 400); o }
  private def tableOf(o: Oracle): Seq[RowView] = o.urls.toSeq.flatMap(o.expected)
  private def digest(rows: Seq[RowView]): Long = rows.map(Oracle.rowHash).sum

  test("the fold's own rows pass") {
    val o = folded()
    val rows = tableOf(o)
    assert(rows.nonEmpty && rows.size < o.urls.size, "fixture needs live and deleted urls")
    assert(o.verify(rows.size, digest(rows)).isEmpty)
  }

  test("a missing winner is caught") {
    val o = folded()
    val rows = tableOf(o).drop(1)
    assert(o.verify(rows.size, digest(rows)).exists(_.contains("rows")))
  }

  test("a stale row is caught") {
    val o = folded()
    // a url with an upsert that lost to a later event
    val (url, older) = Gen.events(p, 0, 400).collectFirst {
      case e if e.html != null && o.expected(e.url).exists(_.tsMicros != Oracle.micros(e.warc_ts)) =>
        e.url -> RowView(e.url, Oracle.micros(e.warc_ts), e.html, TextExtract.extract(e.html))
    }.get
    val rows = tableOf(o).map(r => if (r.url == url) older else r)
    assert(o.verify(rows.size, digest(rows)).exists(_.contains("digest")))
  }

  test("text that does not match the extractor is caught") {
    val o = folded()
    val rows = tableOf(o)
    val bad = rows.head.copy(text = rows.head.text + " ")
    assert(o.verify(rows.size, digest(bad +: rows.tail)).isDefined)
  }

  test("a wrong lookup answer is caught") {
    val o = folded()
    val live = o.urls.find(u => o.expected(u).isDefined).get
    val deleted = o.urls.find(u => o.version(u).exists(_.deleted)).get
    val unseen = Gen.unseenUrl(p, 0, 1)
    val row = o.expected(live).get
    assert(o.lookupOk(live, Seq(row)))
    assert(o.lookupOk(deleted, Nil))
    assert(o.lookupOk(unseen, Nil))
    assert(!o.lookupOk(live, Nil), "missing row")
    assert(!o.lookupOk(live, Seq(row.copy(tsMicros = row.tsMicros - 1))), "stale row")
    assert(!o.lookupOk(live, Seq(row, row)), "duplicate row")
    assert(!o.lookupOk(deleted, Seq(row.copy(url = deleted))), "deleted url answered")
  }

  test("last writer wins on (warc_ts, offset, partition)") {
    val a = Version(10, 5, 0, deleted = false)
    assert(Version(11, 0, 0, deleted = true).beats(a))
    assert(Version(10, 6, 0, deleted = false).beats(a))
    assert(Version(10, 5, 1, deleted = false).beats(a))
    assert(!a.beats(a))
    assert(!Version(9, 99, 9, deleted = false).beats(a))
  }

  test("the generator is deterministic in its seed") {
    val a = Gen.events(p, 0, 50).toSeq
    val b = Gen.events(p, 0, 50).toSeq
    assert(a.map(e => (e.url, e.warc_ts, e.op, Option(e.html).map(_.toSeq))) ==
      b.map(e => (e.url, e.warc_ts, e.op, Option(e.html).map(_.toSeq))))
    assert(Gen.events(p.copy(seed = 8L), 0, 50).map(_.url).toSeq != a.map(_.url))
  }
}
