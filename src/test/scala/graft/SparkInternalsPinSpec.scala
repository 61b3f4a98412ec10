package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The library reaches Spark's `private[sql]`/`private[spark]` surface
  * through one shim file, so a Spark upgrade has one file to check. The
  * source tree is checked as files; no Spark job runs. */
class SparkInternalsPinSpec extends AnyFunSuite {
  test("src/main/scala/org/apache/spark holds exactly the LeafFrames shim") {
    val root = Paths.get("src/main/scala/org/apache/spark")
    assert(Files.isDirectory(Paths.get("src/main/scala/graft")),
      "run from the repository root")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toList
    finally walk.close()
    assert(files == List("sql/LeafFrames.scala"))
  }
}
