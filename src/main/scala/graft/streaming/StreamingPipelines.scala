package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured-streaming equivalents of the reference's streaming
  * surface (SURVEY §2.8, §3.3):
  *
  *  - the reference's log path (ISR -> queue -> batched CSV flush every
  *    ~1 s) maps to `writeStream` with a processing-time trigger — the
  *    64 KiB cache becomes the micro-batch, fclose-per-flush becomes
  *    checkpointing (upgrading at-most-once to at-least-once);
  *  - tumbling/hourly windowed aggregation with an event-time watermark
  *    (the batch form is Q19);
  *  - gap-based sessionization via `session_window` (the streaming
  *    analogue of the pause-marker run splits).
  */
object StreamingPipelines {

  /** Tumbling event-time window aggregation: count + sum(value) per
    * (window, event_type). Watermark bounds state; late rows beyond it
    * are dropped (the reference drops on queue overflow — at-most-once;
    * this is the at-least-once upgrade). */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("window.start").as("h"), col("event_type"),
        col("n"), col("sv"))

  /** Gap-based sessions per user: a session closes after `gap` of
    * event-time silence — the streaming form of the reference's
    * pause-marker run splitting (ORC_Main.c:815-856). */
  def gapSessions(events: DataFrame, gap: String = "30 minutes",
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sv"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sv"))

  /** The reference's batched CSV logging sink (S3): micro-batched
    * append with a ~1 s cadence (ORC_CONFIG.h:19 64 KiB cache,
    * ORC_Main.c:806-814). */
  def csvLogSink(samples: DataFrame, path: String, checkpoint: String,
                 interval: String = "1 second"): DataStreamWriter[org.apache.spark.sql.Row] =
    samples.writeStream
      .format("csv")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(interval))
      .outputMode("append")
}
