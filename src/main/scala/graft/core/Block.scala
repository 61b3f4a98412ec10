package graft.core

/** The fundamental lazy operator-DAG node, after the reference's `Block`
  * (dask_geomodeling/core/graphs.py:85-291).
  *
  * Differences from the reference are architectural, not semantic:
  *  - the reference's two-phase `get_sources_and_requests` / `process`
  *    evaluation becomes *lowering to a Spark DataFrame plan* — each concrete
  *    Block family (raster / feature / series) exposes a `frame(request)`
  *    that declares the Spark logical plan; Catalyst + Tungsten own physical
  *    execution (replacing the dask scheduler, SURVEY §3.1);
  *  - plan metadata (period / extent / dtype / schema) stays eager, computed
  *    as pure functions of children exactly like the reference's properties.
  *
  * Blocks are immutable case classes; `args` defaults to the case-class
  * fields in declaration order, which keeps the JSON v2 view serde
  * (core/graphs.py:265-286) and the deterministic token in sync with the
  * constructor signature for free.
  */
trait Block extends Product with Serializable {

  /** Constructor args in order: child Blocks and/or plain literals. */
  def args: Seq[Any] = productIterator.toSeq

  /** A DummyBlock masquerades as the node it replaces: its token is the
    * one embedded in its name and its graph key IS that name
    * (core/graphs.py:293-308) — so a partial graph with dummy endpoints
    * tokenizes identically to the full graph. */
  final lazy val token: String = this match {
    case DummyBlock(n) => n.split("_").lift(1).getOrElse(n)
    case _ => Token.of(getClass.getName, args)
  }

  /** Graph key, mirroring the reference's `name = "{Class}_{token}"`
    * (core/graphs.py:220-222). */
  final def graphName: String = this match {
    case DummyBlock(n) => n
    case _ => s"${getClass.getSimpleName}_$token"
  }

  def children: Seq[Block] = args.flatMap {
    case b: Block  => Seq(b)
    case s: Seq[_] => s.collect { case b: Block => b }
    case _         => Seq.empty
  }

  // ---- JSON v2 view serde (core/graphs.py:265-286) -------------------------

  /** Flat graph: {graphName: [importPath, arg...]}, block args replaced by
    * their graph keys — identical shared subgraphs collapse onto one key
    * (the reference's CSE, core/graphs.py:176-177). */
  final def graph: Map[String, List[Any]] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, List[Any]]
    def visit(b: Block): Unit = {
      if (!out.contains(b.graphName)) {
        b.children.foreach(visit)
        val serArgs = b.args.map {
          case c: Block => c.graphName
          case s: Seq[_] => s.map {
            case c: Block => c.graphName
            case v        => v
          }
          case i: java.time.Instant => i.toString
          case v        => v
        }
        out(b.graphName) = b.getClass.getName :: serArgs.toList
      }
    }
    visit(this)
    out.toMap
  }

  final def serialize: Map[String, Any] =
    Map("version" -> 2, "graph" -> graph, "name" -> graphName)

  final def toJson: String = Json.render(serialize)
}

/** A Block that reads files. `paths` names every file or directory it
  * opens; a server evaluating client views refuses one whose paths leave
  * its data roots (`WmsServer`), so mixing this in confines a new source.
  * The default is the `url` a codec source reads. Paths found by reading
  * `url` (a VRT's members) follow it lazily, so `url` is checked first. */
trait FileSource extends Block {
  def url: String
  def paths: Seq[String] = Seq(url)
}

/** Placeholder node with a user-supplied name for partial evaluation,
  * after `DummyBlock` (core/graphs.py:293-308). It stands in for a node of
  * ANY kind — raster, geometry, or series — so reference-emitted partial
  * graphs construct whatever the surrounding operators expect; computing
  * through it fails loudly, same as the reference (a dummy has no data). */
case class DummyBlock(dummyName: String) extends graft.raster.RasterBlock
    with graft.geometry.GeometryBlock with graft.geometry.SeriesBlock {
  private def unsupported: Nothing = throw new UnsupportedOperationException(
    s"DummyBlock '$dummyName' is a token-computation placeholder and cannot compute")
  override def args: Seq[Any] = Seq(dummyName)
  // RasterBlock surface
  override def period: Option[(java.time.Instant, java.time.Instant)] = unsupported
  override def timeDeltaMs: Option[Long] = unsupported
  override def extent: Option[graft.raster.Bbox] = unsupported
  override def projection: String = unsupported
  override def dtype: graft.raster.DType = unsupported
  override def temporal: Boolean = unsupported
  override def allTimes: Seq[java.time.Instant] = unsupported
  override def frame(req: graft.raster.RasterRequest)(
      implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    unsupported
  // GeometryBlock surface
  override def columns: Set[String] = unsupported
  override def frame(req: graft.geometry.GeometryRequest)(
      implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    unsupported
  // SeriesBlock surface
  override def root: graft.geometry.GeometryBlock = unsupported
  override def column(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column =
    unsupported
}

/** Registry of Block constructors for deserializing JSON v2 views
  * (the role of `construct` / `construct_multiple`, core/graphs.py:52-82):
  * a `Seq[Any] => Block` factory per class name, filled from [[Builtins]].
  */
object BlockRegistry {
  private val factories =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Any] => Block]

  def register(className: String)(f: Seq[Any] => Block): Unit =
    factories(className) = f

  /** Generic factory via the primary constructor, coercing JSON literals
    * (Long/Double/String/Boolean/List/null) to the declared parameter
    * classes. Covers the common shapes: numbers, strings, options, blocks,
    * Seq[Double], Seq[(Double, Double)] (2-lists), Seq[String], tuples of
    * numbers. Erasure hides an Option's element type, so an option holds
    * a Double for any number unless its index is in `longOptions`. */
  private def auto(cls: Class[_ <: Block],
      longOptions: Set[Int] = Set.empty): Seq[Any] => Block = {
    val ctor = cls.getConstructors.maxBy(_.getParameterCount)
    val types = ctor.getParameterTypes
    args => {
      require(types.length == args.length,
        s"${cls.getName}: expected ${types.length} args, got ${args.length}")
      val coerced = args.zip(types).zipWithIndex.map {
        case ((a, t), i) if longOptions(i) =>
          coerce(a, t).asInstanceOf[Option[Any]].map(num(_).toLong)
        case ((a, t), _) => coerce(a, t)
      }
      try ctor.newInstance(coerced.map(_.asInstanceOf[AnyRef]): _*)
        .asInstanceOf[Block]
      catch { // surface the constructor's own error, not the reflect wrapper
        case e: java.lang.reflect.InvocationTargetException =>
          throw new IllegalArgumentException(
            s"${cls.getName}(${coerced.mkString(", ")}): ${e.getCause}",
            e.getCause)
      }
    }
  }

  private def num(v: Any): Double = v match {
    case d: Double => d; case l: Long => l.toDouble; case i: Int => i.toDouble
    case other => other.toString.toDouble
  }

  /** A JSON optional literal: absent, null or `None` is `None`. */
  private def opt(a: Any): Option[Any] = a match {
    case null | None => None
    case Some(v)     => Some(v)
    case v           => Some(v)
  }

  private def coerce(a: Any, t: Class[_]): Any = {
    if (t == classOf[Int] || t == java.lang.Integer.TYPE) num(a).toInt
    else if (t == classOf[Long] || t == java.lang.Long.TYPE) num(a).toLong
    else if (t == classOf[Double] || t == java.lang.Double.TYPE) num(a)
    else if (t == classOf[Boolean] || t == java.lang.Boolean.TYPE)
      a.toString.toBoolean
    else if (t == classOf[String]) a.toString
    else if (t == classOf[Option[_]]) opt(a).map {
      case l: Long => l.toDouble; case i: Int => i.toDouble; case x => x
    }
    else if (classOf[Block].isAssignableFrom(t)) a.asInstanceOf[Block]
    else if (classOf[Seq[_]].isAssignableFrom(t)) a match {
      case s: Seq[_] => s.map {
        case b: Block => b
        case l: Seq[_] if l.size == 2 && l.forall(x => x.isInstanceOf[Long]
          || x.isInstanceOf[Double] || x.isInstanceOf[Int]) =>
          (num(l.head), num(l(1))) // 2-number lists → (Double, Double)
        case l: Long => l.toDouble
        case i: Int  => i.toDouble
        case v       => v
      }
      case null => Nil
      case v    => Seq(v)
    }
    else if (classOf[Product].isAssignableFrom(t)) a match {
      case s: Seq[_] if s.size == 2 =>
        if (s.forall(x => x.isInstanceOf[Long] || x.isInstanceOf[Int] || x.isInstanceOf[Double]))
          (num(s.head), num(s(1)))
        else (s.head, s(1))
      case p: Product => p
      case v          => v
    }
    else a
  }

  /** The built-in Blocks, each named once: the reference module that
    * holds it (None for engine-only classes) with its classes. Every
    * class is registered under its engine name; one under a module is
    * also registered under the reference's import path
    * `<module>.<SimpleName>` (core/graphs.py:229-249 get_import_path), so
    * reference-emitted JSON constructs unchanged. */
  private[graft] lazy val Builtins: Seq[(Option[String], Seq[Class[_ <: Block]])] = {
    import graft.raster._
    import graft.geometry._
    def ref(module: String) = Some(s"dask_geomodeling.$module")
    Seq(
      ref("raster.elemwise") -> Seq(classOf[Add], classOf[Subtract],
        classOf[Multiply], classOf[Divide], classOf[Power], classOf[Equal],
        classOf[NotEqual], classOf[Greater], classOf[GreaterEqual],
        classOf[Less], classOf[LessEqual], classOf[Invert], classOf[And],
        classOf[Or], classOf[Xor], classOf[IsData], classOf[IsNoData],
        classOf[Exp], classOf[Log], classOf[Log10], classOf[FillNoData]),
      ref("raster.misc") -> Seq(classOf[Clip], classOf[Mask],
        classOf[MaskBelow], classOf[Step], classOf[graft.raster.Classify],
        classOf[Reclassify], classOf[RasterizeWKT], classOf[Rasterize]),
      ref("raster.temporal") -> Seq(classOf[Snap], classOf[Shift],
        classOf[TemporalSum], classOf[TemporalAggregate], classOf[Cumulative],
        classOf[Resample]),
      ref("raster.spatial") -> Seq(classOf[Dilate], classOf[MovingMax],
        classOf[Smooth], classOf[HillShade], classOf[Place]),
      ref("raster.combine") -> Seq(classOf[Group]),
      ref("raster.reduction") -> Seq(classOf[Max]),
      ref("geometry.field_operations") -> Seq(classOf[FieldOps.Add],
        classOf[FieldOps.Subtract], classOf[FieldOps.Multiply],
        classOf[FieldOps.Divide], classOf[FieldOps.FloorDivide],
        classOf[FieldOps.Power], classOf[FieldOps.Modulo],
        classOf[FieldOps.Equal], classOf[FieldOps.NotEqual],
        classOf[FieldOps.Greater], classOf[FieldOps.GreaterEqual],
        classOf[FieldOps.Less], classOf[FieldOps.LessEqual],
        classOf[FieldOps.And], classOf[FieldOps.Or], classOf[FieldOps.Xor],
        classOf[FieldOps.Invert], classOf[FieldOps.Where],
        classOf[FieldOps.Mask], classOf[FieldOps.Round],
        classOf[FieldOps.Classify], classOf[FieldOps.ClassifyFromColumns],
        classOf[FieldOps.Interp], classOf[FieldOps.Choose]),
      ref("geometry.geom_operations") -> Seq(classOf[Area]),
      ref("geometry.set_operations") -> Seq(classOf[Difference],
        classOf[Intersection]),
      ref("geometry.constructive") -> Seq(classOf[Buffer], classOf[Simplify]),
      ref("geometry.text") -> Seq(classOf[ParseTextColumn]),
      ref("geometry.merge") -> Seq(classOf[MergeGeometryBlocks]),
      ref("geometry.aggregate") -> Seq(classOf[AggregateRaster],
        classOf[AggregateRasterAboveThreshold]),
      ref("geometry.base") -> Seq(classOf[GetSeriesBlock],
        classOf[SetSeriesBlock]),
      ref("geometry.sources") -> Seq(classOf[GeometryWKTSource],
        classOf[GeometryFileSource]),
      ref("core.graphs") -> Seq(classOf[DummyBlock]),
      None -> Seq(classOf[Reduce], classOf[RasterTiler], classOf[MemorySource],
        classOf[TableRasterSource], classOf[RasterParquetSource],
        classOf[GeoTiffSource], classOf[AsciiGridSource], classOf[XyzSource],
        classOf[PngSource], classOf[EnviSource], classOf[NetCdfSource],
        classOf[Hdf5Source], classOf[ZarrSource], classOf[GribSource],
        classOf[GpkgRasterSource], classOf[VrtSource],
        classOf[TableGeometrySource], classOf[GeoParquetSource],
        classOf[GeometryTiler], classOf[GeoJsonSource],
        classOf[ShapefileSource], classOf[GeoPackageSource],
        classOf[GmlSource], classOf[FlatGeobufSource], classOf[CsvWktSource],
        classOf[KmlSource], classOf[GpxSource], classOf[MifSource],
        classOf[DxfSource], classOf[TabSource]))
  }

  /** Engine constructors the generic coercion cannot fill: the zonal
    * aggregates' `maxPixels` (index 5) is an Option[Long], a text parse's
    * key mapping holds (key, column, type) triples, and a memory raster
    * holds pixel arrays. */
  private lazy val engineFactories: Map[Class[_ <: Block], Seq[Any] => Block] = {
    import graft.geometry._
    val parseText = auto(classOf[ParseTextColumn])
    Map(
      classOf[AggregateRaster] -> auto(classOf[AggregateRaster], Set(5)),
      classOf[AggregateRasterAboveThreshold] ->
        auto(classOf[AggregateRasterAboveThreshold], Set(5)),
      classOf[ParseTextColumn] -> (args => parseText(args.updated(2, args(2) match {
        case triples: Seq[_] => triples.map {
          case Seq(k, c, t) => (k.toString, c.toString, t.toString)
          case other => parseTextMapping(other)
        }
        case other => parseTextMapping(other)
      }))),
      classOf[graft.raster.MemorySource] -> graft.raster.MemorySource.fromArgs)
  }

  /** The reference's `{key: column}` key mapping, or any other shape:
    * the engine's columns have a static type, where the reference
    * autocasts each cell. */
  private def parseTextMapping(got: Any): Nothing =
    throw new IllegalArgumentException("ParseTextColumn key_mapping must be " +
      "a list of (key, column, type) triples, got " + got + ": a static " +
      "Spark schema has no per-cell autocast, so each column needs a type " +
      "(double, boolean or string)")

  /** Reference spellings whose arguments differ in shape from the engine
    * constructor's. */
  private lazy val referenceFactories: Map[Class[_ <: Block], Seq[Any] => Block] = {
    import graft.raster._
    import graft.geometry.{GeometryBlock, GeometryFileSource, SetSeriesBlock}
    def pt(a: Any): (Double, Double) = a match {
      case s: Seq[_] if s.size == 2 => (num(s.head), num(s(1)))
      case p: (_, _) => (num(p._1), num(p._2))
      case other => throw new IllegalArgumentException(s"not a point: $other")
    }
    Map(
      // Rasterize serializes (source, column_name, dtype, limit)
      // (raster/misc.py:548-560): dtype defaults by column presence, and
      // `limit` is the reference's feature-count guard — the engine guards
      // through RequestGuards instead, so the value is accepted and dropped
      classOf[Rasterize] -> { args =>
        val colName = opt(args.lift(1).orNull).map(_.toString)
        val dtype = opt(args.lift(2).orNull).map(_.toString)
          .getOrElse(if (colName.isEmpty) "bool" else "int32")
        Rasterize(args.head.asInstanceOf[GeometryBlock], colName, dtype)
      },
      // the reference's Place serializes FIVE args — (store, projection,
      // anchor tuple, coordinate tuples, statistic) — never the
      // engine-only modeHint
      classOf[Place] -> { args =>
        Place(args.head.asInstanceOf[RasterBlock], args(1).toString,
          pt(args(2)), args(3).asInstanceOf[Seq[Any]].map(pt),
          args.lift(4).map(_.toString).getOrElse("last"))
      },
      // combine.Group / reduction.Max serialize VARIADIC member blocks
      // (BaseCombine.__init__(*args)); collect them into the Seq parameter
      classOf[Group] -> (args => Group(args.map(_.asInstanceOf[RasterBlock]))),
      classOf[Max] -> (args => Max(args.map(_.asInstanceOf[RasterBlock]))),
      // SetSeriesBlock serializes VARIADIC (column, value) pairs
      // (geometry/base.py:240-300); fold them into a chain
      classOf[SetSeriesBlock] -> { args =>
        args.tail.grouped(2).foldLeft(args.head.asInstanceOf[GeometryBlock]) {
          case (acc, Seq(name, value)) => SetSeriesBlock(acc, name.toString, value)
          case (_, other) => throw new IllegalArgumentException(
            s"SetSeriesBlock: dangling column without a value: $other")
        }
      },
      // GeometryFileSource(url, layer, id_field): the engine's codecs adopt
      // the fid column natively, so id_field needs no mapping
      classOf[GeometryFileSource] -> { args =>
        GeometryFileSource(args.head.toString.stripPrefix("file://"),
          opt(args.lift(1).orNull).map(_.toString), None)
      })
  }

  /** Register the standard operator inventory. Idempotent. */
  lazy val registerBuiltins: Unit = {
    for ((module, classes) <- Builtins; cls <- classes) {
      register(cls.getName)(engineFactories.getOrElse(cls, auto(cls)))
      module.foreach(m => register(s"$m.${cls.getSimpleName}")(
        referenceFactories.getOrElse(cls, args => construct(cls.getName, args))))
    }
    // RasterFileSource(url, time_first, time_delta) — urls arrive as the
    // reference's safe_file_url "file://" form; the format is chosen the
    // way GDAL's driver autodetection would (graft.raster.RasterFormat)
    register("dask_geomodeling.raster.sources.RasterFileSource") { args =>
      graft.raster.RasterFileSource(args.head.toString.stripPrefix("file://"),
        num(args(1)).toLong, num(args(2)).toLong)
    }
  }

  def construct(className: String, args: Seq[Any]): Block =
    factories.get(className) match {
      case Some(f) => f(args)
      case None =>
        throw new IllegalArgumentException(s"unregistered block class: $className")
    }

  /** Rebuild a Block DAG from a serialized view document. */
  def fromJson(json: String): Block = fromJsonMultiple(json, Seq.empty).head

  /** `construct_multiple` (reference core/graphs.py:52-82): rebuild several
    * endpoints out of one shared graph, preserving subgraph sharing. Empty
    * `names` takes the document's own endpoint. */
  def fromJsonMultiple(json: String, names: Seq[String]): Seq[Block] = {
    registerBuiltins
    val doc = Json.parse(json).asInstanceOf[Map[String, Any]]
    require(doc.get("version").exists(v => v == 2L || v == 2), "expected version 2 view")
    val graph = doc("graph").asInstanceOf[Map[String, Any]]
    val endpoints = if (names.nonEmpty) names else Seq(doc("name").toString)
    val built = scala.collection.mutable.HashMap.empty[String, Block]
    val inProgress = scala.collection.mutable.HashSet.empty[String]
    def build(key: String): Block = built.getOrElseUpdate(key, {
      require(inProgress.add(key), s"view graph has a reference cycle through '$key'")
      val entry = graph(key).asInstanceOf[List[Any]]
      val cls = entry.head.toString
      // a DummyBlock's argument is the masqueraded NAME — a literal string
      // that typically coincides with its own graph key, never a reference
      val isDummy = cls == classOf[DummyBlock].getName ||
        cls == "dask_geomodeling.core.graphs.DummyBlock"
      val rawArgs = if (isDummy) entry.tail else entry.tail.map {
        case s: String if graph.contains(s) => build(s)
        case l: List[_] => l.map {
          case s: String if graph.contains(s) => build(s)
          case v                              => v
        }
        case v => v
      }
      inProgress.remove(key)
      BlockRegistry.construct(cls, rawArgs)
    })
    endpoints.map(build)
  }
}
