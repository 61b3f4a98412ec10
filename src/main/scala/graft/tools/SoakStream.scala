package graft.tools

import org.apache.spark.sql.functions._

/** Exactly-once soak for the DSv2 streaming watchers: lands N waves of
  * parts into watched directories while the streams run, then checks
  * every feature/frame arrived exactly once.
  *
  *   runMain graft.tools.SoakStream [waves] [rowsPerWave]
  */
object SoakStream {
  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(30)
    val rows = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    // SPARK_GRAFT_MASTER=local-cluster[4,8,4096] soaks the same lanes
    // multi-JVM (separate executor processes) — the streaming write
    // commit paths under real task distribution
    val spark = graft.Sessions.local()
    import spark.implicits._

    // ---------------- fgb watcher lane ----------------
    val srcF = java.nio.file.Files.createTempDirectory("soak_fgb_src").toString
    def landFgb(w: Int): Unit = {
      val df = (0 until rows).map { k =>
        val x = (k % 20) * 2.0; val y = (k / 20) * 2.0
        (w.toLong * rows + k, s"w$w-$k",
          s"POLYGON (($x $y, ${x + 1} $y, ${x + 1} ${y + 1}, $x ${y + 1}, $x $y))")
      }.toDF("fid", "name", "wkt")
        .select(col("fid"), col("name"),
          graft.geometry.GeomFunctions.stGeomFromWkt(col("wkt")).as("geometry"))
      graft.geometry.FlatGeobufSink.writeStream(df, "EPSG:28992",
        s"$srcF/wave$w.fgb")(spark)
    }
    landFgb(0)
    val schemaF = spark.read.format("graft-fgb").load(srcF).schema
    var t0 = System.nanoTime()
    val qF = spark.readStream.format("graft-fgb").schema(schemaF).load(srcF)
      .select("fid")
      .writeStream.outputMode("append").format("memory")
      .queryName("soak_fgb").start()
    for (w <- 0 until waves) {
      if (w > 0) landFgb(w)
      qF.processAllAvailable()
    }
    qF.stop()
    val gotF = spark.table("soak_fgb").collect().map(_.getLong(0))
    val wallF = (System.nanoTime() - t0) / 1e9
    val okF = gotF.length == waves * rows &&
      gotF.distinct.length == gotF.length
    println(s"""{"soak":"fgb_watcher","waves":$waves,"rows":${gotF.length},""" +
      s""""expected":${waves * rows},"exactly_once":$okF,"wall_s":$wallF}""")
    require(okF, s"fgb watcher: got ${gotF.length}, " +
      s"distinct ${gotF.distinct.length}, want ${waves * rows}")

    // ---------------- raster watcher lane ----------------
    val srcR = java.nio.file.Files.createTempDirectory("soak_ras_src").toString
    def landGrib(w: Int): Unit =
      graft.raster.Grib.write(s"$srcR/wave$w.grib2",
        Seq.tabulate(2)(t => Array.tabulate(16)(i => w * 1000.0 + t * 100 + i)),
        4, 4, Double.MaxValue, Seq(w * 7200000L, w * 7200000L + 3600000L),
        0.0, 0.0, 0.05)
    landGrib(0)
    t0 = System.nanoTime()
    val qR = spark.readStream.format("graft-raster")
      .schema(graft.sources.GraftRasterTable.schema).load(srcR)
      .select("path", "t")
      .writeStream.outputMode("append").format("memory")
      .queryName("soak_ras").start()
    for (w <- 0 until waves) {
      if (w > 0) landGrib(w)
      qR.processAllAvailable()
    }
    qR.stop()
    val gotR = spark.table("soak_ras").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val wallR = (System.nanoTime() - t0) / 1e9
    val okR = gotR.length == waves * 2 && gotR.distinct.length == gotR.length
    println(s"""{"soak":"raster_watcher","waves":$waves,"frames":${gotR.length},""" +
      s""""expected":${waves * 2},"exactly_once":$okR,"wall_s":$wallR}""")
    require(okR, s"raster watcher: got ${gotR.length}, want ${waves * 2}")

    // ---------------- fgb -> fgb pipeline lane ----------------
    val srcP = java.nio.file.Files.createTempDirectory("soak_pipe_src").toString
    val dstP = java.nio.file.Files.createTempDirectory("soak_pipe_dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("soak_pipe_ck").toString
    def landPipe(w: Int): Unit = {
      val df = (0 until rows).map { k =>
        val x = (k % 20) * 2.0
        (w.toLong * rows + k, s"POINT ($x ${w % 7})")
      }.toDF("fid", "wkt")
        .select(col("fid"),
          graft.geometry.GeomFunctions.stGeomFromWkt(col("wkt")).as("geometry"))
      graft.geometry.FlatGeobufSink.writeStream(df, "EPSG:28992",
        s"$srcP/wave$w.fgb")(spark)
    }
    landPipe(0)
    val schemaP = spark.read.format("graft-fgb").load(srcP).schema
    t0 = System.nanoTime()
    val qP = spark.readStream.format("graft-fgb").schema(schemaP).load(srcP)
      .select(col("fid"), col("geometry"))
      .writeStream.outputMode("append").format("graft-fgb")
      .option("srs", "EPSG:28992").option("checkpointLocation", ckpt)
      .start(dstP)
    for (w <- 0 until waves) {
      if (w > 0) landPipe(w)
      qP.processAllAvailable()
    }
    qP.stop()
    val back = spark.read.format("graft-fgb").load(dstP)
      .select("fid").collect().map(_.getLong(0))
    val wallP = (System.nanoTime() - t0) / 1e9
    val okP = back.length == waves * rows && back.distinct.length == back.length
    println(s"""{"soak":"fgb_pipeline","waves":$waves,"rows":${back.length},""" +
      s""""expected":${waves * rows},"exactly_once":$okP,"wall_s":$wallP}""")
    require(okP, s"pipeline: got ${back.length}, want ${waves * rows}")

    spark.stop()
  }
}
