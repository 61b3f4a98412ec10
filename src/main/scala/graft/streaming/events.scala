package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.QueryLib

/** Structured Streaming variants of the temporal aggregations (SURVEY
  * §2.11: a natural extension, not a port requirement — the reference is
  * batch-only). Tumbling-window statistic over an event stream with
  * watermarked late-data handling; the batch and streaming plans share the
  * same transform so results agree.
  */
object EventStream {

  /** The file stream source needs a static schema; take it from a batch
    * read of the same directory so the stream decodes whatever timestamp
    * encoding the generator used (nanos-as-long, NTZ micros, or plain
    * TIMESTAMP), then normalize `ts` exactly like the batch path. */
  def eventSource(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema: StructType = graft.Tables.read(spark, dir).schema
    QueryLib.normalizeTs(spark.readStream.schema(fileSchema).parquet(dir))
  }

  /** The shared transform: tumbling window per event_type. */
  def windowedAgg(df: DataFrame, windowLength: String): DataFrame =
    df.groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))

  /** Batch form (used by the oracle-checked query). */
  def batch(spark: SparkSession, dir: String, windowLength: String = "1 hour"): DataFrame =
    windowedAgg(QueryLib.tbl(spark, dir, "events"), windowLength)

  /** Streaming form: file-source stream over a *directory* of events
    * parquet files, 10-minute watermark, windowed aggregation. */
  def streaming(spark: SparkSession, dir: String, windowLength: String = "1 hour"): DataFrame =
    windowedAgg(eventSource(spark, dir).withWatermark("ts", "10 minutes"),
      windowLength)
}

/** User-session assignment with an inactivity gap — the training-pipeline
  * "sessionize the event log" primitive, in both execution models:
  *
  *  - batch: the gaps-and-islands window plan (lag → new-session marker →
  *    running sum → per-session aggregate), fully SQL-expressible for the
  *    DuckDB oracle;
  *  - streaming: `flatMapGroupsWithState` custom per-key state (the
  *    Structured Streaming API for session semantics that windowed
  *    aggregation cannot express), emitting a session when the next event
  *    of the user arrives past the gap or the event-time watermark times
  *    the session out.
  */
object Sessionize {

  /** Closed session: one row per (user, session). */
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, total: Double)

  /** In-flight session state (non-private: the state encoder's generated
    * code needs constructor access). */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long, total: Double)

  /** Batch plan; a new session starts when the gap to the user's previous
    * event exceeds `gapMinutes` (strict). */
  def batch(df: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60000000L
    val marked = df
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_s", when(col("prev_us").isNull ||
        unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
    marked
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")), 4).cast("double").as("total"))
      .select(col("user_id"), col("sid"), col("session_start"),
        col("n_events"), col("total"))
  }

  /** Merge a user's sorted in-batch events with the open-session state,
    * emitting every session closed by a gap (and, on timeout, the held
    * session). */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  private def updateUser(gapUs: Long)(userId: Long,
      rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
      state: GroupState[OpenSession]): Iterator[Session] = {
    def toSession(s: OpenSession): Session = {
      val t = new java.sql.Timestamp(s.startUs / 1000)
      t.setNanos((s.startUs % 1000000L).toInt * 1000) // keep microseconds
      Session(userId, t, s.n, s.total)
    }
    if (rows.isEmpty && state.hasTimedOut) {
      val out = state.getOption.map(toSession).toSeq
      state.remove()
      return out.iterator
    }
    val events = rows.toArray
      .map { case (_, ts, eid, v) => (micros(ts), eid, v) }
      .sortBy(e => (e._1, e._2))
    var open = state.getOption.orNull
    val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
    events.foreach { case (ts, _, v) =>
      open =
        if (open == null) OpenSession(ts, ts, 1, v)
        else if (ts - open.lastUs > gapUs) { closed += toSession(open); OpenSession(ts, ts, 1, v) }
        else open.copy(lastUs = math.max(open.lastUs, ts), n = open.n + 1,
          total = open.total + v)
    }
    if (open != null) {
      state.update(open)
      // the natural timeout (session end + gap) can lie behind the current
      // watermark when the watermark delay exceeds the gap — Spark rejects
      // such timestamps, so clamp to just past the watermark
      val natural = open.lastUs / 1000 + gapUs / 1000 + 1
      state.setTimeoutTimestamp(math.max(natural, state.getCurrentWatermarkMs() + 1))
    }
    closed.iterator
  }

  /** Streaming plan over the shared gap semantics. Emitted rows are the
    * *closed* sessions; each user's trailing session stays in state until
    * the watermark passes its gap. The watermarked `ts` column rides along
    * into the stateful operator (event-time timeout requires it). */
  def streaming(events: DataFrame, gapMinutes: Int, watermark: String = "30 minutes")
      (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateUser(gapUs))
  }
}

/** Streaming per-source admission cap — the ingestion-time counterpart
  * of `Sampling.sourceCap`: admit the first `cap` documents per source
  * in ARRIVAL order, carrying the admission sequence number. Batch
  * sourceCap ranks by a deterministic content hash (reproducible
  * sampling); the stream cannot see future arrivals, so its contract
  * is arrival-order admission with exact COUNT parity — per source,
  * exactly min(cap, n) rows are ever emitted, across any number of
  * micro-batches (the per-source admitted count is the only state,
  * O(sources) total). */
object StreamCap {

  case class Admitted(doc_id: Long, source: String, src_seq: Long)

  private def admit(cap: Int)(src: String, it: Iterator[(Long, String)],
      state: GroupState[Long]): Iterator[Admitted] = {
    var n = state.getOption.getOrElse(0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[Admitted]
    it.foreach { case (id, _) =>
      if (n < cap) { n += 1; out += Admitted(id, src, n) }
    }
    state.update(n)
    out.iterator
  }

  /** Works on a static frame too (flatMapGroupsWithState on a batch
    * Dataset runs the same state function once per group). */
  def apply(docs: DataFrame, cap: Int)
      (implicit spark: SparkSession): Dataset[Admitted] = {
    import spark.implicits._
    require(cap >= 1, "cap must be at least 1")
    docs.select(col("doc_id").cast("long"), col("source"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        admit(cap))
  }
}
