package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.contract.{Geometry, Pipeline, Raster, Relational, Zonal}

/** Invariants over the whole lane registry. No Spark job runs and no lane
  * lowers: the records and their selection are checked as data. */
class LaneRegistrySpec extends AnyFunSuite {
  private val families = Seq('q' -> Relational.lanes, 'r' -> Raster.lanes,
    'z' -> Zonal.lanes, 'g' -> Geometry.lanes, 'p' -> Pipeline.lanes)

  test("179 lanes with unique names, the concatenation of the five families") {
    val names = SparkEntry.lanes.map(_.name)
    assert(names.size == 179)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString("duplicate: ", ", ", ""))
    assert(SparkEntry.lanes == families.flatMap(_._2))
  }

  test("each name is <family letter><two digits>_ in its family's file") {
    // perfbench reads a lane's family from the first letter of its name
    for ((letter, lanes) <- families; l <- lanes) {
      assert(l.name.matches("^[qrzgp]\\d\\d_.*"), l.name)
      assert(l.name.head == letter, s"${l.name} is listed under '$letter'")
    }
  }

  test("every lane has an oracle, and the two driver views share one key set") {
    SparkEntry.lanes.foreach(l => assert(l.oracle.trim.nonEmpty, l.name))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.lanes.map(_.name).toSet)
  }

  test("select walks the registry in its own order and fails on bad input") {
    assert(Lanes.select().map(_.name) == SparkEntry.lanes.map(_.name))
    assert(Lanes.select(Some("p14_ivf_topk, q01_pricing_summary")).map(_.name) ==
      Seq("q01_pricing_summary", "p14_ivf_topk"))
    assert(Lanes.select(filter = Some("^z0")).map(_.name.take(1)).toSet == Set("z"))
    val unknown = intercept[IllegalArgumentException](
      Lanes.select(Some("q01_pricing_summary,typo")))
    assert(unknown.getMessage.contains("not a lane: typo"))
    val empty = intercept[IllegalArgumentException](
      Lanes.select(filter = Some("^x9")))
    assert(empty.getMessage.contains("^x9"))
  }
}
