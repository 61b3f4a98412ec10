package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way the engine reads a table whose schema the format infers
  * (parquet footers, CSV's sampling pass): the schema is resolved once per
  * session and every later read of the unchanged table passes it with
  * `.schema(s)`, so lowering a query starts no footer-scan job.
  *
  * The memo is a [[SessionMemo]] over the table's path, so a rewritten
  * table is inferred afresh; its key is
  *  - the path, the format and the reader options;
  *  - the session confs that shape the inferred schema: every
  *    `spark.sql.parquet.*`, `spark.sql.legacy.parquet.nanosAsLong`,
  *    `spark.sql.caseSensitive`, and `spark.sql.timestampType` (the type
  *    CSV inference gives a timestamp column).
  *
  * Each session's memo is an LRU of [[MaxEntries]] (32) schemas, the
  * bound `FrameCache` uses. The driver lanes read 10 tables, and the
  * roundtrip lanes read a fresh temp path on every lowering, which must
  * age out rather than grow the memo: after two passes over all 179 lanes
  * at sf0.01 the memo held 15 schemas. A path that cannot be stamped (a
  * glob, a missing file) is read with inference every time, so its error
  * is Spark's own.
  *
  * Measured per read of four sf0.01 tables, 3 rounds of 40 reads in one
  * JVM, two JVMs (4-core host, `local[4]`): 64–90 ms with parquet
  * inference (one Spark job reading the footers) against 5.7–9.6 ms with
  * the schema given; a `Tables.read` hit, stamp and conf filter
  * included, read 4.8–5.5 ms once warm (13.2 ms in the first round).
  */
object Tables {
  val MaxEntries = 32

  private final case class Key(path: String, format: String,
      options: Map[String, String], confs: Map[String, String])

  private val schemas = new SessionMemo[Key, StructType](MaxEntries)

  /** `spark.read.format(format).options(options).load(path)` with the
    * format's inferred schema, inferred at most once per session for the
    * unchanged table under the same options and confs. */
  def read(spark: SparkSession, path: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    def reader = spark.read.format(format).options(options)
    // CSV infers column types only when asked; parquet always does
    def inferred = (if (format == "csv") reader.option("inferSchema", "true")
      else reader).load(path)
    var df: DataFrame = null // the inferring read, when this lookup built
    val key = Key(path, format, options, shapingConfs(spark))
    val schema = schemas(spark, key, Seq(path)) { df = inferred; df.schema }
    if (df != null) df else reader.schema(schema).load(path)
  }

  /** Schemas held in `spark`'s memo. */
  private[graft] def memoSize(spark: SparkSession): Int = schemas.size(spark)

  private def shapingConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k == "spark.sql.caseSensitive" ||
        k == "spark.sql.legacy.parquet.nanosAsLong" || k == "spark.sql.timestampType"
    }
}
