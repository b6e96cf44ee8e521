package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-process storage root ([[WorkDir]]). */
class WorkDirSpec extends AnyFunSuite {

  test("paths live under one per-process root, keyed by tag and dataset") {
    val a = WorkDir.path("layout", "/data/sf0.01")
    assert(new java.io.File(a).getParentFile == WorkDir.root)
    assert(WorkDir.root.getName == s"graft_${ProcessHandle.current().pid()}")
    assert(WorkDir.path("layout", "/data/sf0.01") == a)
    assert(WorkDir.path("layout", "/data/sf0.1") != a)
    assert(WorkDir.path("other", "/data/sf0.01") != a)
  }

  test("delete removes a tree and tolerates a missing path") {
    val p = WorkDir.path("delete_probe", "x")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p, "a", "b"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "a", "f"), "x")
    WorkDir.delete(p)
    assert(!new java.io.File(p).exists())
    WorkDir.delete(p)
  }
}
