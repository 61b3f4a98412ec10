package graft

import java.io.File
import java.lang.reflect.Modifier
import scala.reflect.runtime.{universe => ru}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Block, BlockRegistry, FileSource}

/** Pins, without a Spark session, the two places a Block class is
  * declared: every raster or geometry case class whose constructor takes
  * a `url` or `path` string is a [[FileSource]] (so the WMS data-root
  * walk confines it), and every class of [[BlockRegistry.Builtins]]
  * rebuilds from view JSON by its engine name and, when it has one, by
  * its reference alias. */
class RegistryPinSpec extends AnyFunSuite {
  private val loader = getClass.getClassLoader
  private val mirror = ru.runtimeMirror(loader)

  /** Every concrete Block case class compiled from the main sources. */
  private lazy val blockClasses: Seq[Class[_]] = {
    val root = new File(classOf[Block].getProtectionDomain.getCodeSource.getLocation.toURI)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new File(root, "graft")).map(_.getPath)
      .filter(p => p.endsWith(".class") && !p.contains("$anon"))
      .map(p => p.substring(root.getPath.length + 1, p.length - ".class".length)
        .replace(File.separatorChar, '.'))
      .map(Class.forName(_, false, loader))
      .filter(c => classOf[Block].isAssignableFrom(c) &&
        classOf[Product].isAssignableFrom(c) && !c.isInterface &&
        !Modifier.isAbstract(c.getModifiers))
  }

  private def params(c: Class[_]): List[ru.Symbol] =
    mirror.classSymbol(c).primaryConstructor.asMethod.paramLists.flatten

  test("every raster or geometry case class taking a url or path string is a FileSource") {
    val readers = blockClasses.filter(c =>
      (classOf[graft.raster.RasterBlock].isAssignableFrom(c) ||
        classOf[graft.geometry.GeometryBlock].isAssignableFrom(c)) &&
        params(c).exists(p => Set("url", "path")(p.name.toString) &&
          p.typeSignature =:= ru.typeOf[String]))
    // the scan sees the sources named by both kinds of field
    Seq(classOf[graft.raster.TableRasterSource], classOf[graft.raster.ZarrSource],
      classOf[graft.raster.VrtSource], classOf[graft.geometry.TabSource])
      .foreach(c => assert(readers.contains(c), c.getName))
    val unconfined = readers.filterNot(classOf[FileSource].isAssignableFrom)
    assert(unconfined.isEmpty, unconfined.map(_.getName).mkString(", "))
  }

  // child blocks with in-memory metadata: constructors may inspect them
  private val raster = graft.raster.MemorySource(Seq(Array(1.0)), 1, 1, -1.0,
    "EPSG:28992", 1.0, 0.0, 1.0, dtypeName = "float64")
  private val geometry = graft.geometry.TableGeometrySource("/data/parcels.parquet",
    "id", Seq("x", "y"), Some("wkt"))
  private val series = graft.geometry.GetSeriesBlock(geometry, "x")

  private val mask = raster.copy(dtypeName = "bool")

  /** Constructors that validate their values beyond their types. */
  private val engineArgs: Map[Class[_], Seq[Any]] = {
    import graft.geometry.FieldOps
    Map(
      classOf[graft.raster.Invert] -> Seq(mask),
      classOf[graft.raster.Reclassify] -> Seq(mask, Seq((1.0, 2.0)), false),
      classOf[FieldOps.Classify] -> Seq(series, Seq(1.0, 2.0), Seq("a"), true),
      classOf[FieldOps.ClassifyFromColumns] ->
        Seq(geometry, "x", Seq("x", "y"), Seq("a"), true),
      classOf[graft.geometry.ParseTextColumn] ->
        Seq(geometry, "x", Seq(("k", "k_val", "double")), " ", "="))
  }

  /** A literal of type `t` for the parameter `name` of `c` at index `i`. */
  private def literal(c: Class[_], name: String, t: ru.Type, i: Int): Any = {
    import ru.typeOf
    def block: Block =
      if (classOf[graft.geometry.SeriesBlock].isAssignableFrom(c)) series else raster
    if (t =:= typeOf[String]) name match {
      case "name" => "x"
      case "statistic" => "max"
      case "frequency" => "D"
      case _ => "EPSG:28992"
    }
    else if (t =:= typeOf[Double]) 1.0
    else if (t =:= typeOf[Int]) 2
    else if (t =:= typeOf[Long]) 1000L
    else if (t =:= typeOf[Boolean]) false
    else if (t <:< typeOf[graft.geometry.SeriesBlock]) series
    else if (t <:< typeOf[graft.geometry.GeometryBlock]) geometry
    else if (t <:< typeOf[Block]) raster
    // an operand slot (elemwise and field operations): a block first
    else if (t =:= typeOf[Any]) if (i == 0) block else 2.0
    else if (t <:< typeOf[Option[Any]]) None
    else if (t <:< typeOf[(Double, Double)]) (0.0, 1.0)
    else if (t <:< typeOf[Seq[Any]]) {
      val e = t.baseType(typeOf[Seq[Any]].typeSymbol).typeArgs.head
      if (e =:= typeOf[Double]) Seq(1.0, 2.0)
      else Seq(literal(c, name, e, 0), literal(c, name, e, 1))
    }
    else throw new IllegalArgumentException(s"no literal for $t")
  }

  /** An instance of `c`: its defaults, else literals by parameter type. */
  private def sample(c: Class[_ <: Block]): Block =
    if (c == classOf[graft.raster.MemorySource]) raster
    else {
      lazy val companion = Class.forName(c.getName + "$", true, loader)
        .getField("MODULE$").get(null)
      val args = engineArgs.getOrElse(c, params(c).zipWithIndex.map { case (p, i) =>
        if (p.asTerm.isParamWithDefault)
          companion.getClass.getMethod(s"apply$$default$$${i + 1}").invoke(companion)
        else literal(c, p.name.toString, p.typeSignature, i)
      })
      c.getConstructors.maxBy(_.getParameterCount)
        .newInstance(args.map(_.asInstanceOf[AnyRef]): _*).asInstanceOf[Block]
    }

  /** A view whose endpoint is `entry`, over the child blocks' graphs. */
  private def view(entry: List[Any]): String = graft.core.Json.render(Map(
    "version" -> 2L, "name" -> "it",
    "graph" -> (raster.graph ++ series.graph + ("it" -> entry))))

  /** Reference entries of the aliases whose arguments differ in shape
    * from the engine constructor's (variadic members, extra or dropped
    * arguments). */
  private def ref(path: String) = s"dask_geomodeling.$path"
  private val referenceEntries: Map[Class[_], List[Any]] = Map(
    classOf[graft.raster.Place] -> List(ref("raster.spatial.Place"),
      raster.graphName, "EPSG:28992", List(0L, 0L), List(List(1L, 1L)), "max"),
    classOf[graft.raster.Rasterize] -> List(ref("raster.misc.Rasterize"),
      geometry.graphName, "x", null, 1000L),
    classOf[graft.raster.Group] -> List(ref("raster.combine.Group"),
      raster.graphName, raster.graphName),
    classOf[graft.raster.Max] -> List(ref("raster.reduction.Max"),
      raster.graphName, raster.graphName),
    classOf[graft.geometry.SetSeriesBlock] -> List(
      ref("geometry.base.SetSeriesBlock"), geometry.graphName, "x", 1L,
      "y", series.graphName),
    classOf[graft.geometry.GeometryFileSource] -> List(
      ref("geometry.sources.GeometryFileSource"), "file:///data/parcels.gpkg",
      null, "id"))

  /** A block's constructor tree: numbers as doubles (NaN by name),
    * sequences and arrays as lists, products by class. */
  private def tree(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case n: Int => n.toDouble
    case n: Long => n.toDouble
    case a: Array[_] => a.toList.map(tree)
    case s: Seq[_] => s.toList.map(tree)
    case p: Product => p.getClass.getName :: p.productIterator.map(tree).toList
    case other => other
  }

  test("every registry class rebuilds from view JSON by engine name and reference alias") {
    val classes = BlockRegistry.Builtins.flatMap(_._2)
    assert(classes.distinct.size == classes.size, "a class is listed twice")
    val failures = for ((module, members) <- BlockRegistry.Builtins; c <- members)
      yield scala.util.Try {
        val b = sample(c)
        val json = b.toJson
        assert(tree(BlockRegistry.fromJson(json)) == tree(b), c.getName)
        module.foreach { m =>
          val alias = s"$m.${c.getSimpleName}"
          val back = referenceEntries.get(c) match {
            case Some(entry) => BlockRegistry.fromJson(view(entry))
            case None => BlockRegistry.fromJson(
              json.replace(s""""${c.getName}"""", s""""$alias""""))
          }
          assert(back.getClass == c, alias)
          if (!referenceEntries.contains(c)) assert(tree(back) == tree(b), alias)
        }
      }.failed.toOption.map { e =>
        val cause = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        s"${c.getName}: $cause"
      }
    assert(failures.flatten.isEmpty, failures.flatten.mkString("\n"))
  }
}
