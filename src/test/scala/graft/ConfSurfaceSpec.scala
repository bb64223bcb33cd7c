package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library's own `spark.graft.*` conf surface is one deployment
  * setting. An experiment flag added under `src/main/scala` fails this
  * spec until its losing arm is retired, or until it is added here on
  * purpose as a setting users are meant to keep.
  */
class ConfSurfaceSpec extends AnyFunSuite {
  private val Allowed = Set("spark.graft.cc.checkpointDir")

  test("the only spark.graft.* key in the main sources is the checkpoint dir") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val key = """spark\.graft\.[A-Za-z.]+""".r
    val walk = java.nio.file.Files.walk(root)
    val keys =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => key.findAllIn(java.nio.file.Files.readString(p)))
        .toSet
      finally walk.close()
    assert(keys === Allowed)
  }
}
