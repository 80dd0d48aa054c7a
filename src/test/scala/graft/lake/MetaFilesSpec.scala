package graft.lake

import java.nio.file.{FileAlreadyExistsException, Files, Path}
import java.util.concurrent.{CyclicBarrier, Executors}

import org.scalatest.funsuite.AnyFunSuite

class MetaFilesSpec extends AnyFunSuite {

  private def tmpDir(): Path = {
    val p = Files.createTempDirectory("metafiles")
    p.toFile.deleteOnExit()
    p
  }

  private def staged(dir: Path): Vector[String] =
    MetaFiles.list(dir)(p => Some(p.getFileName.toString).filter(MetaFiles.isStagedTmp))

  test("replace-publish: racing writers all return; one writer's complete bytes win; no staging file") {
    val dir = tmpDir()
    val target = dir.resolve("VERSION")
    val threads = 8
    // large enough that a torn or interleaved write would show
    val payloads = (0 until threads).map(i => Array.fill[Byte](256 * 1024)(i.toByte))
    val pool = Executors.newFixedThreadPool(threads)
    try (1 to 20).foreach { round =>
      val barrier = new CyclicBarrier(threads)
      payloads.map(b => pool.submit(() => {
        barrier.await()
        MetaFiles.publish(target, b, replace = true)
        b
      })).foreach(_.get())
      val got = Files.readAllBytes(target)
      assert(payloads.exists(java.util.Arrays.equals(_, got)), s"round $round: torn target")
      assert(staged(dir).isEmpty, s"round $round: ${staged(dir)}")
    } finally pool.shutdown()
  }

  test("put-if-absent on an existing target throws and keeps the old bytes") {
    val dir = tmpDir()
    val target = dir.resolve("tag.json")
    MetaFiles.publish(target, Array[Byte](1, 2, 3), replace = false)
    intercept[FileAlreadyExistsException](
      MetaFiles.publish(target, Array[Byte](9), replace = false))
    assert(Files.readAllBytes(target).toSeq == Seq[Byte](1, 2, 3))
    assert(staged(dir).isEmpty)
  }

  test("a publish that fails after staging its bytes leaves no staging file") {
    val dir = tmpDir()
    // a non-empty directory at the target: the rename over it throws
    val target = dir.resolve("snap-1.json")
    Files.createDirectories(target)
    Files.write(target.resolve("x"), Array[Byte](1))
    intercept[java.io.IOException](MetaFiles.publish(target, Array[Byte](7), replace = true))
    assert(Files.isDirectory(target) && Files.exists(target.resolve("x")))
    assert(staged(dir).isEmpty)
  }
}
