package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every schema-inferring table read in the library goes through
  * `Tables.read`, which infers each table's schema once per session. The
  * source is checked as text; no Spark job runs. */
class TableReadPinSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val inferring = Seq("""\.read\s*\.parquet\(""".r, "\"inferSchema\"".r)

  test("no schema-inferring read outside Tables.scala and graft/tools") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    val sources: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val allowed = (p: Path) =>
      p == root.resolve("Tables.scala") || p.startsWith(root.resolve("tools"))
    val hits = for {
      p <- sources if !allowed(p)
      text = Files.readString(p)
      re <- inferring if re.findFirstIn(text).isDefined
    } yield s"$p: ${re.regex}"
    assert(sources.size > 50)
    assert(hits.isEmpty, hits.mkString("inferring read outside Tables.read: ", "; ", ""))
  }
}
