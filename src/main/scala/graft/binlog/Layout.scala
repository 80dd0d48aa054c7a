package graft.binlog

import java.nio.file.{Files, Path}

import graft.lake.MetaFiles

/** Archive key layouts — the reference's `Layout` strategies
  * (`/root/reference/common/src/main/java/com/spredfast/kafka/connect/s3/Layout.java:5-21`,
  * `GroupedByDateLayout.java:33-44`, `GroupedByTopicLayout.java:33-46`,
  * selected by the `layout` config in `Configure.java:154-165`):
  *
  *  - `flat`            — `p%05d-%012d` (the binlog store's own naming)
  *  - `grouped_by_date` — `<date>/<topic>-%05d-%012d` (reference default)
  *  - `grouped_by_topic`— `<topic>/<date>/%05d-%012d`
  *
  * Date-grouped layouts are how operators actually manage archives: listing
  * prunes whole date prefixes before touching any object (≙ S3 prefix
  * listing), see [[Layout.listUnder]]'s `dateFilter`. The date is an
  * explicit parameter (not wall clock) so archive writes stay deterministic
  * and replay-idempotent. */
final case class BlockMeta(topic: String, partition: Int, startOffset: Long)

sealed trait Layout extends Serializable {
  /** Relative block path WITHOUT the `.gz` suffix. */
  def blockPath(topic: String, date: String, partition: Int, startOffset: Long): String
  /** Parse a relative `.gz` path; None if it does not belong to this layout. */
  def parse(relPath: String): Option[BlockMeta]
}

object Layout {
  case object Flat extends Layout {
    private val Name = """(?:^|.*/)p(\d{5})-(\d{12})\.gz$""".r
    override def blockPath(topic: String, date: String, partition: Int, startOffset: Long): String =
      f"p$partition%05d-$startOffset%012d"
    override def parse(relPath: String): Option[BlockMeta] = relPath match {
      case Name(p, o) => Some(BlockMeta("", p.toInt, o.toLong))
      case _ => None
    }
  }

  /** `<date>/<topic>-%05d-%012d` ≙ GroupedByDateLayout (topic must not
    * contain '/'; the regex anchors on the trailing name like the
    * reference's KEY_PATTERN). */
  case object GroupedByDate extends Layout {
    private val Name = """(?:^|.*/)([^/]+?)-(\d{5})-(\d{12})\.gz$""".r
    override def blockPath(topic: String, date: String, partition: Int, startOffset: Long): String =
      f"$date/$topic-$partition%05d-$startOffset%012d"
    override def parse(relPath: String): Option[BlockMeta] = relPath match {
      case Name(t, p, o) => Some(BlockMeta(t, p.toInt, o.toLong))
      case _ => None
    }
  }

  /** `<topic>/<date>/%05d-%012d` ≙ GroupedByTopicLayout. */
  case object GroupedByTopic extends Layout {
    private val Name = """^([^/]+)/[^/]+/(\d{5})-(\d{12})\.gz$""".r
    override def blockPath(topic: String, date: String, partition: Int, startOffset: Long): String =
      f"$topic/$date/$partition%05d-$startOffset%012d"
    override def parse(relPath: String): Option[BlockMeta] = relPath match {
      case Name(t, p, o) => Some(BlockMeta(t, p.toInt, o.toLong))
      case _ => None
    }
  }

  /** ≙ Configure.createLayout's `layout` switch (plus our flat store). */
  def of(name: String): Layout = name match {
    case "flat" => Flat
    case "grouped_by_date" => GroupedByDate
    case "grouped_by_topic" => GroupedByTopic
    case other => throw new IllegalArgumentException(s"Unknown layout type: $other")
  }

  /** Recursively list committed segments under `root` for a layout.
    * `dateFilter` prunes whole FIRST-LEVEL date directories for
    * `grouped_by_date` (and second-level for `grouped_by_topic`) BEFORE
    * listing their contents — the prefix-skip that makes date-ranged
    * archive reads O(days touched), not O(archive). */
  def listUnder(root: Path, layout: Layout,
      dateFilter: String => Boolean = _ => true): Vector[(BlockMeta, SegmentFile)] = {
    def walk(dir: Path, depth: Int): Vector[(BlockMeta, SegmentFile)] =
      MetaFiles.list(dir) { p =>
        if (Files.isDirectory(p)) {
          val prunable = layout match {
            case GroupedByDate => depth == 0
            case GroupedByTopic => depth == 1
            case Flat => false
          }
          Option.when(!prunable || dateFilter(p.getFileName.toString))(walk(p, depth + 1))
        } else
          layout.parse(root.relativize(p).toString)
            .map(m => (m, SegmentFile(p, m.partition, m.startOffset)))
            .filter { case (_, sf) => Files.exists(sf.indexPath) }.map(Vector(_))
      }.flatten
    walk(root, 0).sortBy { case (m, f) => (m.topic, m.partition, m.startOffset) }
  }
}
