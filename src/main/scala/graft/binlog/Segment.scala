package graft.binlog

import java.io._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable.ArrayBuffer

import graft.lake.MetaFiles
import graft.model.ChangeEvent

/** Block-GZIP segment writer: the reference's chunked-output design
  * (`/root/reference/sink/src/main/java/com/spredfast/kafka/connect/s3/sink/BlockGZIPFileWriter.java:102-227`)
  * re-expressed for the binlog store. A segment is a concatenation of
  * independently-decompressible gzip members ("chunks"); a JSON chunk index
  * maps offsets → byte ranges so a reader can resume mid-file with a range
  * read (≙ S3 range GET, `source/.../S3FilesReader.java:280-295`).
  *
  * File naming encodes `(partition, startOffset)` zero-padded so that
  * lexicographic order == offset order (≙ `GroupedByDateLayout.java:33-38`
  * `%s-%05d-%012d`).
  */
final class SegmentWriter(dir: Path, partition: Int, startOffset: Long,
    chunkThreshold: Long = 64L * 1024 * 1024,
    header: Array[Byte] = Array.empty,
    nameOverride: Option[String] = None,
    codec: RecordCodec = FramedCodec) {

  require(chunkThreshold > 0)
  Files.createDirectories(dir)

  val baseName: String = nameOverride.getOrElse(f"p$partition%05d-$startOffset%012d")
  private val dataTmp = dir.resolve(baseName + ".gz.tmp")
  private val out = new BufferedOutputStream(Files.newOutputStream(dataTmp), 1 << 16)

  private var gz: GZIPOutputStream = _
  private val chunks = ArrayBuffer.empty[Chunk]
  private var chunkFirstOffset = startOffset
  private var chunkRecords = 0L
  private var chunkRawBytes = 0L
  private var bytesWrittenBefore = 0L // compressed bytes before current chunk
  private var nextOffset = startOffset
  private var closed = false

  // CountingOutputStream over `out` so we know compressed chunk lengths.
  private object counting extends FilterOutputStream(out) {
    var count = 0L
    override def write(b: Int): Unit = { this.out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = { this.out.write(b, off, len); count += len }
  }

  private def openChunk(): Unit = {
    gz = new GZIPOutputStream(counting, 1 << 16)
    chunkFirstOffset = nextOffset
    chunkRecords = 0L
    chunkRawBytes = 0L
  }

  private def sealChunk(): Unit = {
    if (gz == null) return
    gz.finish()
    gz = null
    val compressedLen = counting.count - bytesWrittenBefore
    chunks += Chunk(chunkFirstOffset, chunkRecords, bytesWrittenBefore, compressedLen, chunkRawBytes)
    bytesWrittenBefore = counting.count
  }

  // Optional format header as its OWN gzip member before the first data
  // chunk (≙ `BlockGZIPFileWriter.java:133-141`): readers know how many
  // bytes to skip because the first chunk's byteOffset starts after it.
  if (header.nonEmpty) {
    val hgz = new GZIPOutputStream(counting, 1 << 16)
    hgz.write(header)
    hgz.finish()
    bytesWrittenBefore = counting.count
  }
  openChunk()

  /** Append one framed record; rotate the gzip member when the uncompressed
    * chunk would exceed the threshold (≙ `BlockGZIPFileWriter.java:167-185`). */
  def write(framed: Array[Byte]): Unit = {
    require(!closed)
    if (chunkRecords > 0 && chunkRawBytes + framed.length > chunkThreshold) {
      sealChunk(); openChunk()
    }
    gz.write(framed)
    chunkRawBytes += framed.length
    chunkRecords += 1
    nextOffset += 1
  }

  def writeEvent(e: ChangeEvent, version: Byte = EventCodec.V2): Unit =
    write(codec.frame(e.url.getBytes(StandardCharsets.UTF_8), EventCodec.encodeValue(e, version)))

  def recordCount: Long = nextOffset - startOffset

  /** Seal the file: flush last chunk, then atomically publish the data file
    * and `<base>.index.json` (renames, so a crashed writer never leaves a
    * half-visible segment). Returns the index. */
  def close(): ChunkIndex = {
    require(!closed)
    closed = true
    if (chunkRecords > 0) sealChunk() else { gz.finish(); gz = null }
    out.close()
    val index = ChunkIndex(chunks.toVector)
    // data first, then index — readers treat the index as the commit marker,
    // mirroring the reference's upload order (S3Writer.java:47-67). REPLACE
    // mirrors overwrite-on-recreate (BlockGZIPFileWriterTest.java:157-201):
    // a replayed batch rewrites the same names with identical bytes.
    Files.move(dataTmp, dir.resolve(baseName + ".gz"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    MetaFiles.publish(dir.resolve(baseName + ".index.json"),
      index.toJson.getBytes(StandardCharsets.UTF_8), replace = true)
    index
  }

  /** Abandon: delete temp files (≙ `BlockGZIPFileWriter.delete`). */
  def delete(): Unit = {
    closed = true
    try out.close() catch { case _: IOException => }
    Files.deleteIfExists(dataTmp)
    Files.deleteIfExists(dir.resolve(baseName + ".gz"))
    Files.deleteIfExists(dir.resolve(baseName + ".index.json"))
  }
}

/** One published segment file (data + index pair). */
final case class SegmentFile(path: Path, partition: Int, startOffset: Long) {
  def indexPath: Path = Paths.get(path.toString.stripSuffix(".gz") + ".index.json")
  lazy val index: ChunkIndex = ChunkIndex.fromBytes(Files.readAllBytes(indexPath))
  def endOffset: Long = index.nextOffset // exclusive
}

object Segment {
  private val Name = """p(\d{5})-(\d{12})\.gz""".r

  /** List committed segments of one partition in offset order. A `.gz`
    * without its `.index.json` is an uncommitted torn write — skipped. */
  def list(dir: Path, partition: Int): Vector[SegmentFile] = listAll(dir).filter(_.partition == partition)

  def listAll(dir: Path): Vector[SegmentFile] = MetaFiles.list(dir) { p =>
    p.getFileName.toString match {
      case Name(part, off) =>
        Some(SegmentFile(p, part.toInt, off.toLong)).filter(sf => Files.exists(sf.indexPath))
      case _ => None
    }
  }.sortBy(f => (f.partition, f.startOffset))

  /** Read events of one segment starting at `fromOffset` (inclusive): seek to
    * the chunk containing it via the index (range read), decompress only the
    * tail chunks, skip records below `fromOffset` within the first chunk —
    * the reference's resume path (`S3FilesReader.java:244-311`). `untilOffset`
    * is exclusive. */
  /** Recover a segment's format header (the gzip member before the first
    * data chunk), empty if none — readable without touching any data chunk
    * (byte range [0, firstChunk.byteOffset)). */
  def readHeader(f: SegmentFile): Array[Byte] = {
    val idx = f.index
    val headerBytes = idx.chunks.headOption.map(_.byteOffset).getOrElse(0L)
    if (headerBytes == 0L) return Array.empty
    val raw = new Array[Byte](headerBytes.toInt)
    val ch = Files.newByteChannel(f.path)
    try {
      val buf = java.nio.ByteBuffer.wrap(raw)
      while (buf.hasRemaining && ch.read(buf) >= 0) ()
    } finally ch.close()
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(raw), 1 << 16)
    try {
      val out = new ByteArrayOutputStream()
      val b = new Array[Byte](8192)
      var n = in.read(b)
      while (n >= 0) { out.write(b, 0, n); n = in.read(b) }
      out.toByteArray
    } finally in.close()
  }

  def read(f: SegmentFile, fromOffset: Long, untilOffset: Long = Long.MaxValue,
      codec: RecordCodec = FramedCodec): Iterator[ChangeEvent] = {
    val idx = f.index
    if (idx.chunks.isEmpty || fromOffset >= idx.nextOffset || fromOffset >= untilOffset) return Iterator.empty
    val from = math.max(fromOffset, f.startOffset)
    val chunk = idx.chunkContaining(from).getOrElse(return Iterator.empty)
    val ch = Files.newByteChannel(f.path)
    ch.position(chunk.byteOffset) // range read: skip preceding chunks entirely
    val raw = new BufferedInputStream(java.nio.channels.Channels.newInputStream(ch), 1 << 16)
    // the constructor parses the first member's gzip HEADER eagerly: a
    // corrupt header at the seek target must release the channel and fail
    // as a corrupt record, not leak the fd behind a ZipException
    val in =
      try new GZIPInputStream(raw, 1 << 16) // gzip members concatenate; stream reads across them
      catch {
        case e: java.io.IOException =>
          ch.close()
          throw new java.io.IOException(
            s"Corrupt chunk header in ${f.path.getFileName} at byte ${chunk.byteOffset}: $e")
      }

    var offset = chunk.firstRecordOffset
    var closed = false
    def closeOnce(): Unit = if (!closed) { closed = true; in.close() }

    new Iterator[ChangeEvent] {
      private var nextEvt: ChangeEvent = _
      private def advance(): Unit = {
        nextEvt = null
        try {
          while (nextEvt == null && offset < untilOffset && !closed) {
            val fr = codec.readFrame(in, s"${f.path.getFileName}:$offset")
            if (fr == null) {
              // EOF must land exactly at the index's nextOffset: a corrupted
              // mid-segment gzip member header makes GZIPInputStream report
              // CLEAN EOF at the member boundary (concatenated-member
              // semantics treat unreadable trailing bytes as garbage), which
              // would otherwise SILENTLY truncate the read — records the
              // chunk index promises would just never arrive
              if (offset < math.min(untilOffset, idx.nextOffset))
                throw new java.io.IOException(
                  s"Truncated segment ${f.path.getFileName}: EOF at offset $offset, index promises ${idx.nextOffset}")
              closeOnce()
            }
            else {
              val o = offset
              offset += 1
              if (o >= from) nextEvt = EventCodec.decodeValue(f.partition, o, fr._2)
            }
          }
        } catch {
          // a failed read must not leak the channel: close before the error
          // propagates (the tolerant wrapper abandons this iterator)
          case scala.util.control.NonFatal(e) => closeOnce(); throw e
        }
        if (nextEvt == null) closeOnce()
      }
      advance()
      override def hasNext: Boolean = nextEvt != null
      override def next(): ChangeEvent = {
        val e = nextEvt; advance(); e
      }
    }
  }

  /** Read a partition's events in [fromOffset, untilOffset). */
  def readRange(dir: Path, partition: Int, fromOffset: Long, untilOffset: Long,
      codec: RecordCodec = FramedCodec): Iterator[ChangeEvent] = {
    val segs = list(dir, partition)
    segs.iterator
      .filter(s => s.endOffset > fromOffset && s.startOffset < untilOffset)
      .flatMap(s => read(s, fromOffset, untilOffset, codec))
  }

  /** One quarantined offset range: the records of [fromOffset, untilOffset)
    * in this segment could not be decoded and were SKIPPED. */
  final case class CorruptRange(segment: Path, partition: Int,
      fromOffset: Long, untilOffset: Long, error: String)

  /** [[read]] with Kafka-Connect `errors.tolerance=all` semantics: a decode
    * failure quarantines the poisoned CHUNK's unread remainder (reported via
    * `onCorrupt` — never silent) and the read RESYNCS at the next chunk,
    * which is its own gzip member and independently decodable. Records
    * decoded before the failure are kept — re-decoding the same bytes is
    * deterministic, so retries emit the identical prefix and the identical
    * quarantine ranges. Each failure strictly advances the resume offset,
    * so the loop always terminates. */
  def readTolerant(f: SegmentFile, fromOffset: Long, untilOffset: Long,
      codec: RecordCodec = FramedCodec,
      onCorrupt: CorruptRange => Unit): Iterator[ChangeEvent] = {
    val idx = f.index
    new Iterator[ChangeEvent] {
      private var resumeFrom = math.max(fromOffset, f.startOffset)
      private var lastEmitted = resumeFrom - 1
      // opened LAZILY inside the try: Segment.read parses the seek target's
      // gzip header eagerly, so a corrupt CHUNK HEADER throws at open — that
      // failure must land in the same quarantine path as a mid-chunk one
      private var cur: Iterator[ChangeEvent] = _
      private var done = false
      private var nextEvt: ChangeEvent = _

      private def advance(): Unit = {
        nextEvt = null
        while (nextEvt == null && !done) {
          try {
            if (cur == null) cur = read(f, resumeFrom, untilOffset, codec)
            if (cur.hasNext) { nextEvt = cur.next(); lastEmitted = nextEvt.offset }
            else done = true
          } catch {
            case scala.util.control.NonFatal(e) =>
              cur = null // the failed reader closed its own channel
              val bad = lastEmitted + 1
              val next = idx.chunks.find(_.firstRecordOffset > bad)
                .map(_.firstRecordOffset).getOrElse(idx.nextOffset)
              onCorrupt(CorruptRange(f.path, f.partition, bad,
                math.min(next, untilOffset), e.toString))
              if (next >= untilOffset || next >= idx.nextOffset) done = true
              else {
                resumeFrom = next // strictly > bad: progress guaranteed
                // advance the emit floor too: if the NEXT chunk also fails
                // before emitting anything, `bad` must start from it — not
                // from the previous chunk — or the resync would loop forever
                lastEmitted = next - 1
              }
          }
        }
      }
      advance()
      override def hasNext: Boolean = nextEvt != null
      override def next(): ChangeEvent = { val e = nextEvt; advance(); e }
    }
  }

  /** [[readRange]] with quarantine-and-resync tolerance (see [[readTolerant]]). */
  def readRangeTolerant(dir: Path, partition: Int, fromOffset: Long, untilOffset: Long,
      codec: RecordCodec = FramedCodec,
      onCorrupt: CorruptRange => Unit): Iterator[ChangeEvent] = {
    val segs = list(dir, partition)
    segs.iterator
      .filter(s => s.endOffset > fromOffset && s.startOffset < untilOffset)
      .flatMap(s => readTolerant(s, fromOffset, untilOffset, codec, onCorrupt))
  }
}
