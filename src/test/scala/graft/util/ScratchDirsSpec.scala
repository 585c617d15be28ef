package graft.util

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class ScratchDirsSpec extends AnyFunSuite {

  test("cleanup removes registered dirs and is idempotent; delete removes one") {
    val a = ScratchDirs.create("graft-scratch-spec-a")
    val b = ScratchDirs.create("graft-scratch-spec-b")
    Files.createDirectories(Paths.get(a, "nested"))
    Files.writeString(Paths.get(a, "nested", "part-0"), "x")
    assert(Files.isDirectory(Paths.get(a)) && Files.isDirectory(Paths.get(b)))

    ScratchDirs.delete(b)
    assert(!Files.exists(Paths.get(b)))
    assert(Files.exists(Paths.get(a, "nested", "part-0")), "delete touched another dir")

    ScratchDirs.cleanup()
    assert(!Files.exists(Paths.get(a)))
    ScratchDirs.cleanup() // nothing left: a no-op, not an error
    ScratchDirs.delete(b)
    assert(!Files.exists(Paths.get(a)) && !Files.exists(Paths.get(b)))
  }
}
