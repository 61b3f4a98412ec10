package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every schema-inferring table read in the library goes through
  * `Tables.read`, which infers each table's schema once per session, and
  * every memo of a result derived from files is a `SessionMemo`. The
  * source is checked as text; no Spark job runs. */
class TableReadPinSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val inferring = Seq("""\.read\s*\.parquet\(""".r, "\"inferSchema\"".r)

  private lazy val sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no schema-inferring read outside Tables.scala and graft/tools") {
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

  /** An object or class member map keyed by a string, per session or not:
    * a memo keyed by a path, unless it is one of the [[pureMaps]]. */
  private val memberStringMap =
    ("""(?m)^  (?:private(?:\[\w+\])?\s+)?val\s+(\w+)\s*=\s*""" +
      """(?:new\s+PerSession\(\s*\(\)\s*=>\s*)?""" +
      """(?:new\s+)?[\w.]*(?:HashMap|TrieMap)(?:\.empty)?\[String\b""").r

  /** Maps keyed by a CRS string or a block class name: pure functions of
    * the key, which no file change can invalidate. */
  private val pureMaps = Set("raster/Proj.scala" -> "tmCache",
    "raster/Proj.scala" -> "lccCache", "raster/Proj.scala" -> "psCache",
    "raster/Proj.scala" -> "albersCache", "raster/Proj.scala" -> "paramCache",
    "raster/WktSrs.scala" -> "cache", "core/Block.scala" -> "factories")

  test("every memo of a file-derived result is a SessionMemo") {
    val hits = for {
      p <- sources if p != root.resolve("SessionMemo.scala")
      rel = root.relativize(p).toString
      text = Files.readString(p)
      hit <- Seq("identityHashCode", "clearCaches").filter(text.contains) ++
        memberStringMap.findAllMatchIn(text).map(_.group(1))
          .filterNot(name => pureMaps(rel -> name)).map(n => s"map $n")
    } yield s"$rel: $hit"
    // the scan sees the maps it lets through
    assert(sources.exists(p => memberStringMap.findFirstIn(Files.readString(p)).isDefined))
    assert(hits.isEmpty, hits.mkString("memo outside SessionMemo: ", "; ", ""))
  }
}
