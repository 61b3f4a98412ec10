package graft.raster

/** Operator overloading on raster blocks, mirroring the reference's Python
  * dunder methods (`+ - * / ** == != > >= < <= ~ & | ^`,
  * dask_geomodeling/raster/base.py:96-174): arithmetic on blocks builds the
  * corresponding elementwise Block DAG. */
trait RasterOps { self: RasterBlock =>
  def +(other: Any): Add = Add(self, other)
  def -(other: Any): Subtract = Subtract(self, other)
  def *(other: Any): Multiply = Multiply(self, other)
  def /(other: Any): Divide = Divide(self, other)
  def **(other: Any): Power = Power(self, other)
  def ===(other: Any): Equal = Equal(self, other)
  def !==(other: Any): NotEqual = NotEqual(self, other)
  def >(other: Any): Greater = Greater(self, other)
  def >=(other: Any): GreaterEqual = GreaterEqual(self, other)
  def <(other: Any): Less = Less(self, other)
  def <=(other: Any): LessEqual = LessEqual(self, other)
  def unary_! : Invert = Invert(self)
  def &(other: RasterBlock): And = And(self, other)
  def |(other: RasterBlock): Or = Or(self, other)
  def ^(other: RasterBlock): Xor = Xor(self, other)
}

/** The reference's hard request-size guards (config.py:4-12): Spark spills
  * natively, so these are optional API-compat limits that raise instead of
  * letting a mistyped request fan out. */
object RequestGuards {
  @volatile var rasterLimitPixels: Long = 12L * 1024 * 1024 // ≈100 MB float64
  @volatile var rasterLimitTimesteps: Int = 65536
  @volatile var geometryLimit: Int = 10000

  def checkRaster(req: RasterRequest, frames: Int): Unit = {
    require(req.width.toLong * req.height <= rasterLimitPixels,
      s"Request exceeds in-memory limit of $rasterLimitPixels pixels")
    require(frames <= rasterLimitTimesteps,
      s"Request exceeds limit of $rasterLimitTimesteps timesteps")
  }

  /** The rows of `df`, under the reference's geometry-limit guard
    * (geometry/sources.py:148-157): at most [[geometryLimit]] + 1 rows are
    * pulled, and more than the limit raises instead of returning. */
  def collectGeometries(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val cap = geometryLimit
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) throw new IllegalArgumentException(
      s"The amount of returned geometries exceeded the maximum of $cap geometries.")
    rows
  }
}
