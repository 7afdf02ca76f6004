package graft

import java.nio.file.{Files, Paths}
import graft.streaming.IterateStream
import org.scalatest.funsuite.AnyFunSuite

/** The feedback-routing move primitive: retry idempotency (deterministic
  * prefix + stale sweep) and cross-device portability (ATOMIC_MOVE with a
  * copy+delete fallback). /dev/shm (tmpfs) vs /tmp are distinct devices on
  * this image, so the cross-device test exercises the REAL fallback path,
  * not a simulation. */
class IterateMoveSpec extends AnyFunSuite {

  private def mkdirWithParts(n: Int): java.nio.file.Path = {
    val d = Files.createTempDirectory("graft-move-src")
    (1 to n).foreach(i => Files.write(d.resolve(s"part-0000$i.parquet"),
      s"payload$i".getBytes("UTF-8")))
    Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray) // must NOT move
    d
  }

  test("moves part files only, with the round prefix") {
    val src = mkdirWithParts(2)
    val dst = Files.createTempDirectory("graft-move-dst")
    assert(IterateStream.moveParts(src, dst, "round-000007-"))
    val names = Files.list(dst).toArray.map(_.toString.split('/').last).sorted
    assert(names.forall(_.startsWith("round-000007-part-")), names.mkString(","))
    assert(names.length == 2)
    assert(!Files.exists(src.resolve("part-00001.parquet"))) // moved, not copied
  }

  test("retry idempotency: re-moving the same round sweeps the first attempt") {
    val src1 = mkdirWithParts(2)
    val dst = Files.createTempDirectory("graft-move-dst2")
    IterateStream.moveParts(src1, dst, "round-000003-")
    // the retry re-stages DIFFERENT file names (fresh write attempt)
    val src2 = Files.createTempDirectory("graft-move-src2")
    Files.write(src2.resolve("part-9999.parquet"), "retry".getBytes("UTF-8"))
    IterateStream.moveParts(src2, dst, "round-000003-")
    val names = Files.list(dst).toArray.map(_.toString.split('/').last)
    assert(names.length == 1, s"duplicate rows after retry: ${names.mkString(",")}")
    assert(names.head == "round-000003-part-9999.parquet")
  }

  test("cross-device move falls back to copy+delete (tmpfs → disk)") {
    assume(Files.isDirectory(Paths.get("/dev/shm")), "no tmpfs on this image")
    val src = Files.createTempDirectory(Paths.get("/dev/shm"), "graft-move-xdev")
    Files.write(src.resolve("part-xdev.parquet"), "xdev".getBytes("UTF-8"))
    val dst = Files.createTempDirectory(Paths.get("/tmp"), "graft-move-xdst")
    // distinct devices: if ATOMIC_MOVE is supported anyway this still passes
    // through the same public contract (file lands once, source removed)
    try {
      assert(IterateStream.moveParts(src, dst, "round-000001-"))
      assert(Files.exists(dst.resolve("round-000001-part-xdev.parquet")))
      assert(!Files.exists(src.resolve("part-xdev.parquet")))
    } finally Seq(src, dst).foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }

  test("missing staged dir (empty round) moves nothing") {
    val dst = Files.createTempDirectory("graft-move-dst3")
    assert(!IterateStream.moveParts(Paths.get("/nonexistent/xyz"), dst, "round-000001-"))
  }
}
