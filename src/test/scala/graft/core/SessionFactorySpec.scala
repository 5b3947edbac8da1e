package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main runs on the one session config of `Graft.session`: no other
  * `src/main` file may build a SparkSession of its own.
  */
class SessionFactorySpec extends AnyFunSuite {
  test("SparkSession.builder appears only in core/Graft.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not $root")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val walk = Files.walk(root)
    val builders: Seq[Path] =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
        .map(root.relativize).toList
      finally walk.close()
    assert(builders == List(Paths.get("graft/core/Graft.scala")))
  }
}
