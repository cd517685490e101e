package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface. The reference is strictly batch
  * (SURVEY §1.5) — these operators extend the engine to continuous
  * ingestion of the same events table: readStream → watermarked windowed
  * aggregation → sink, plus custom session state via
  * flatMapGroupsWithState. Batch twins exist as gated queries
  * (events_hourly) so semantics stay oracle-checked.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  // keep the original Timestamps (µs precision) — getTime is ms-truncated
  case class SessionState(start: Timestamp, last: Timestamp, n: Int, vSum: Double)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Int, v_sum: Double)

  /** Streaming hourly tumbling-window aggregation with a 2-hour watermark.
    * `sfDir` is the table directory; the file source requires a directory
    * basePath, so the single-file table is selected with a glob filter. */
  def hourlyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = graft.io.Parquet.read(spark, s"$sfDir/events.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      // the table carries TIMESTAMP_NTZ; event time must be TIMESTAMP (UTC session)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("v_sum"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("v_sum"))
  }

  /** Gap-based sessionization (30-min inactivity closes a session),
    * expressed with flatMapGroupsWithState — the KeyValueGroupedDataset
    * custom-state path. Emits closed sessions. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapMinutes: Int = 30): Dataset[Session] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) => {
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            st = st match {
              case null => SessionState(e.ts, e.ts, 1, e.value)
              case s if e.ts.getTime - s.last.getTime <= gapMs =>
                SessionState(s.start, e.ts, s.n + 1, s.vSum + e.value)
              case s =>
                out += Session(uid, s.start, s.last, s.n, s.vSum)
                SessionState(e.ts, e.ts, 1, e.value)
            }
          }
          if (st != null) state.update(st)
          out.iterator
        })
  }

  /** Batch twin of sessionize (window lag + cumulative session ids) for
    * cross-checking the streaming state logic. */
  def sessionizeBatch(spark: SparkSession, events: DataFrame,
                      gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60000L
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1)
          .otherwise(0))
      .withColumn("sess_id", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess_id")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).cast("int").as("n_events"), sum("value").as("v_sum"))
      .drop("sess_id")
  }
}
