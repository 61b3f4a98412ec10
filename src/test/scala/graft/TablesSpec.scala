package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.types.{DoubleType, TimestampNTZType, TimestampType}

/** `Tables.read`: the memoized schema is the one Spark infers, a changed
  * table or conf is inferred afresh, and the memo stays within its bound. */
class TablesSpec extends SparkSpec {
  private val events = "/root/testdata/sf0.001/events.parquet"

  private def tmp(tag: String): Path = Files.createTempDirectory(s"tables_$tag")

  /** One part file of `df` written as parquet, at `dst`. */
  private def parquetFile(df: org.apache.spark.sql.DataFrame, dst: Path): Unit = {
    val out = tmp("part").resolve("t").toString
    df.coalesce(1).write.parquet(out)
    val files = Files.list(java.nio.file.Paths.get(out))
    val part = try files.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get() finally files.close()
    Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a rewritten table, file or directory, is read with its new schema") {
    import spark.implicits._
    val file = tmp("file").resolve("t.parquet")
    parquetFile(Seq(1L, 2L).toDF("a"), file)
    assert(Tables.read(spark, file.toString).columns.toSeq == Seq("a"))
    parquetFile(Seq((1L, 2.0)).toDF("a", "b"), file)
    val f2 = Tables.read(spark, file.toString)
    assert(f2.schema == spark.read.parquet(file.toString).schema)
    assert(f2.columns.toSeq == Seq("a", "b") && f2.count() == 1)

    val dir = tmp("dir").resolve("t").toString
    Seq(1L).toDF("a").write.parquet(dir)
    assert(Tables.read(spark, dir).columns.toSeq == Seq("a"))
    Seq((1L, "x")).toDF("a", "c").write.mode("overwrite").parquet(dir)
    assert(Tables.read(spark, dir).columns.toSeq == Seq("a", "c"))
  }

  test("each session reads under its own schema-shaping confs") {
    val plain = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(Tables.read(plain, events).schema == plain.read.parquet(events).schema)
    val ntz = spark.newSession()
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert(Tables.read(ntz, events).schema == ntz.read.parquet(events).schema)
    assert(Tables.read(ntz, events).schema("ts").dataType == TimestampNTZType)
    assert(Tables.read(spark, events).schema == spark.read.parquet(events).schema)
    assert(Tables.read(spark, events).schema("ts").dataType == TimestampType)
    // a conf changed within one session takes effect on its next read
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.read(ntz, events).schema("ts").dataType == TimestampType)
  }

  test("the memo is an LRU of MaxEntries schemas per session") {
    import spark.implicits._
    val s = spark.newSession()
    val d = tmp("lru")
    val first = d.resolve("t0.parquet")
    parquetFile(Seq(1L).toDF("a"), first)
    val paths = first +: (1 to Tables.MaxEntries + 4).map { i =>
      Files.copy(first, d.resolve(s"t$i.parquet"))
    }
    paths.foreach(p => Tables.read(s, p.toString))
    assert(Tables.memoSize(s) == Tables.MaxEntries)
    assert(sparkWork(Tables.read(s, paths.last.toString))._2 == 0)
    assert(sparkWork(Tables.read(s, first.toString))._2 > 0) // evicted
  }

  test("a CSV table's inferred column types are read once") {
    val csv = tmp("csv").resolve("t.csv")
    Files.writeString(csv, "id,v\n1,2.5\n2,3.5\n")
    val opts = Map("header" -> "true")
    val first = Tables.read(spark, csv.toString, "csv", opts)
    assert(first.schema("v").dataType == DoubleType)
    val (again, jobs, _) = sparkWork(Tables.read(spark, csv.toString, "csv", opts))
    assert(jobs == 0 && again.schema == first.schema)
    assert(again.collect().map(_.getDouble(1)).toSeq == Seq(2.5, 3.5))
  }
}
