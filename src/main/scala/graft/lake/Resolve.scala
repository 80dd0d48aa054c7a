package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** The one owner of last-writer-wins: one row per url, winner by the
  * `S3Offset`-style total order `(warc_ts, _seq_offset, _seq_part)`
  * (`/root/reference/source/src/main/java/com/spredfast/kafka/connect/s3/source/S3Offset.java:46-49`).
  * The one streaming fold, [[graft.sql.GraftBucketReader]] (every read,
  * every fold of stored files, and the COW merge, which passes its batch
  * winners to it as one more input), compares rows with [[newer]]; the
  * DataFrame form [[lww]] resolves a batch's unsorted rows, once per merge
  * ([[graft.cdc.Merge]]'s winner pass). */
object Resolve {
  /** The winner order's columns, most significant first. */
  val OrderCols: Seq[String] = Seq("warc_ts", "_seq_offset", "_seq_part")

  /** `(ts, off, part)` is strictly newer than `(bTs, bOff, bPart)` under the
    * winner order. Ties are not newer: a tie is the same event replayed,
    * so the row already held is kept. */
  @inline def newer(ts: Long, off: Long, part: Int, bTs: Long, bOff: Long, bPart: Int): Boolean =
    ts > bTs || (ts == bTs && (off > bOff || (off == bOff && part > bPart)))

  /** [[newer]] over two rows of one layout that holds the order's columns
    * at `tsIdx`, `offIdx` and `partIdx`. */
  def newerRow(a: InternalRow, b: InternalRow, tsIdx: Int, offIdx: Int, partIdx: Int): Boolean =
    newer(a.getLong(tsIdx), a.getLong(offIdx), a.getInt(partIdx),
      b.getLong(tsIdx), b.getLong(offIdx), b.getInt(partIdx))

  /** Columns resolved (everything in the logical schema). Input rows must
    * already carry the internal columns. */
  def lww(df: DataFrame, dataCols: Seq[String]): DataFrame = {
    val payloadCols = dataCols.filterNot(_ == "url") ++ TableSchemas.internalNames
    val payload = struct(payloadCols.map(col): _*)
    val seq = struct(OrderCols.map(col): _*)
    df.groupBy(col("url"))
      .agg(max_by(payload, seq).as("w"))
      .select(col("url") +: payloadCols.map(c => col(s"w.$c").as(c)): _*)
  }
}
