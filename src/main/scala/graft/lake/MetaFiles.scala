package graft.lake

import java.nio.file.{Files, NoSuchFileException, NotDirectoryException, Path, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The engine's one metadata IO: every small file a reader parses (snapshot
  * manifests, `VERSION` pointers, fork/tag records, bloom sidecars, segment
  * indexes, dead-letter reports, index params, cursors and training meta)
  * is published by [[publish]], and every directory rebuild is installed by
  * [[swapDir]] — the reference's one `S3Writer.putChunk` upload order
  * (`S3Writer.java:47-67,102-109`) with the rename as the commit point.
  *
  * A publish stages its bytes in an attempt-unique, dot-prefixed
  * `.<name>.<nonce>.tmp` next to the target, so racing writers never share
  * a staging file and readers (which skip dot files) never see one. The
  * staging file is always deleted; debris from a killed process matches
  * [[isStagedTmp]], the rule orphan GC reaps by. */
private[graft] object MetaFiles {
  private val mapper = new ObjectMapper()

  /** Atomically publish `bytes` as `target`. `replace = true` renames over
    * an existing target (a reader sees the old bytes or the new, never a
    * mix); `replace = false` is put-if-absent: a hard link from the staged
    * file, which throws `FileAlreadyExistsException` and leaves the
    * existing target untouched when another writer published first. */
  def publish(target: Path, bytes: Array[Byte], replace: Boolean): Unit = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = target.resolveSibling(s".${target.getFileName}.$nonce.tmp")
    try {
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      if (replace)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      else Files.createLink(target, tmp)
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** Whether a file name is a publish's staging file. */
  def isStagedTmp(name: String): Boolean = name.startsWith(".") && name.endsWith(".tmp")

  /** A flat JSON record, fields in `fill`'s order. */
  def json(fill: ObjectNode => ObjectNode): Array[Byte] =
    mapper.writeValueAsBytes(fill(mapper.createObjectNode()))

  def readJson(p: Path): JsonNode = mapper.readTree(Files.readAllBytes(p))

  /** `parse` over the entries of `dir` (None skips one); an absent or
    * vanished dir, or a path that is not a dir, lists as empty. */
  def list[A](dir: Path)(parse: Path => Option[A]): Vector[A] =
    try {
      val s = Files.list(dir)
      try s.iterator().asScala.flatMap(parse(_)).toVector finally s.close()
    } catch { case _: NoSuchFileException | _: NotDirectoryException => Vector.empty }

  /** Replace the directory `live` by a tree `build` writes at a sibling
    * `<live>.rebuild-<nonce>` that no reader looks at: once it is complete,
    * `live → <live>.old-<nonce>` and `rebuild → live` (two atomic renames),
    * then the old tree is deleted. A reader that lists `live` between the
    * renames fails loudly on the missing dir; it never sees a mix of trees.
    * A crash between the renames is repaired by renaming `.old-<nonce>`
    * back; a failed build leaves `live` untouched. */
  def swapDir[A](live: Path)(build: Path => A): A = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val fresh = live.resolveSibling(s"${live.getFileName}.rebuild-$nonce")
    val out =
      try build(fresh)
      catch { case t: Throwable => LakeTable.deleteRecursively(fresh); throw t }
    val old = live.resolveSibling(s"${live.getFileName}.old-$nonce")
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(fresh, live, StandardCopyOption.ATOMIC_MOVE)
    LakeTable.deleteRecursively(old)
    out
  }
}
