package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the session policy and the storage root single: no source file
  * under src/main/scala may build a session outside [[GraftSession]] or
  * read the JVM temp dir outside [[WorkDir]].
  */
class SourceSeamsSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def filesContaining(needle: String): Set[String] = {
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString).toSet
    finally walk.close()
  }

  test("SparkSession.builder() is called only in GraftSession") {
    assert(filesContaining("SparkSession.builder()") == Set("GraftSession.scala"))
  }

  test("java.io.tmpdir is read only in WorkDir") {
    assert(filesContaining("java.io.tmpdir") == Set("WorkDir.scala"))
  }
}
