package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row
import graft.functions.DecodeTrimJson
import graft.pipeline.SilverJson

/** Structured Streaming tier (SURVEY.md §2.9). The reference *declares*
  * a stream (Event Hubs readStream, 1-min micro-batch trigger, checkpoint
  * path — ipynb:180-181, 227-238) but never wires it to a writeStream;
  * its executed path is batch full-refresh. Here the streaming path runs
  * for real, and shares the exact silver transformation with the batch
  * pipeline (same decode-trim expression, same parse schema), so batch
  * backfill + streaming increments produce union-compatible rows.
  *
  * Scale posture: the silver stream is stateless (map-only) — unbounded
  * throughput, no state store. The windowed gold aggregate keys state by
  * (5-min window x carrier): bounded keys, and the 10-minute watermark
  * lets Spark drop window state once the watermark passes, so state size
  * is O(active windows x carriers), not O(stream length). `foreachBatch`
  * + partition-overwrite gives idempotent (effectively exactly-once)
  * gold refresh on top of at-least-once replays.
  */
object SilverStream {

  /** T1: paced-producer equivalent of `produce_send_rows.py` (1 row per
    * interval): a rate source mapped into bronze envelopes (synthetic
    * JSON bytes, sequence number, event time). */
  def pacedEnvelopes(spark: SparkSession, rowsPerSecond: Int = 1): DataFrame = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(
        to_json(struct(
          year($"timestamp").cast("string").as("year"),
          month($"timestamp").cast("string").as("month"),
          lit("R-F").as("carrier"),
          lit("00").as("airport"),
          ($"value" % 50).cast("string").as("arr_flights"),
          lit("0.0").as("arr_del15"),
          lit("0.0").as("arr_delay"),
          $"value".cast("string").as("produced_at")))
          .cast("binary").as("body"),
        $"value".as("sequenceNumber"),
        $"timestamp".as("enqueuedTime"))
  }

  /** S5: Auto-Loader-shaped bronze file source — a `readStream` over
    * the watched Avro capture tree (the no-broker Capture analogue of
    * the reference's Event Hubs readStream, ipynb:227-238,
    * README.md:103-108): capture files appearing under the six-level
    * date glob become micro-batches. `maxFilesPerTrigger` bounds batch
    * size (ingest backpressure); the checkpoint's file log gives
    * exactly-once file pickup across restarts.
    *
    * Scale posture: the file-source's directory listing is the only
    * per-trigger overhead — bounded by the date-partitioned layout
    * (list only recent capture windows in production via the glob
    * prefix); everything downstream is the stateless silver map. */
  def captureEnvelopes(spark: SparkSession, root: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .format(graft.sources.AvroBronze.AvroFormat)
      .schema(graft.sources.AvroBronze.envelopeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(s"$root/*/*/*/*/*/*/*.avro")
      .select(col("Body").as("body"),
        col("SequenceNumber").as("sequenceNumber"),
        to_timestamp(col("EnqueuedTimeUtc"), "yyyy-MM-dd'T'HH:mm:ss")
          .as("enqueuedTime"))

  /** Types of the payload fields silver casts, in place. */
  private val silverCasts = Map("year" -> "int", "month" -> "int",
    "arr_flights" -> "double", "arr_del15" -> "double",
    "arr_delay" -> "double", "produced_at" -> "bigint")

  /** T3: the silver transformation on a streaming envelope frame
    * (body:binary, enqueuedTime:timestamp) — identical operators to the
    * batch path, stateless. The casts are one projection: each chained
    * `withColumn` re-analyzes the whole plan at every stream start. */
  def silver(spark: SparkSession, envelopes: DataFrame): DataFrame = {
    import spark.implicits._
    DecodeTrimJson.register(spark)
    val bodyCol = envelopes.columns.find(_.equalsIgnoreCase("body"))
      .getOrElse(throw new IllegalArgumentException("no body column"))
    val parsed = envelopes
      .select($"enqueuedTime", from_json(expr(s"decode_trim_json(`$bodyCol`)"),
        SilverJson.payloadSchema).as("data"))
      .select($"enqueuedTime", $"data.*")
      .na.drop(Seq("year"))
    parsed.select(parsed.columns.toSeq.map(c =>
      silverCasts.get(c).fold(parsed(c))(t => parsed(c).cast(t).as(c))): _*)
  }

  /** Streaming exact dedup: brokers deliver at-least-once, so replayed
    * envelopes reappear with the same sequence number; this drops them
    * as they arrive. `dropDuplicatesWithinWatermark` keeps dedup state
    * only for the watermark horizon — state is O(keys per horizon),
    * bounded at any stream length, where a plain `dropDuplicates` on a
    * stream holds every key ever seen (unbounded at 100 TB — the same
    * reason the batch path dedups with a hash-groupBy instead). */
  def dedupedSilver(silverStream: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    silverStream
      .withWatermark("enqueuedTime", watermarkDelay)
      .dropDuplicatesWithinWatermark("produced_at")

  /** T2: bronze capture equivalent — 5-minute file-sink micro-batches
    * (the Event Hubs Capture cadence, README.md:107). */
  def bronzeCapture(envelopes: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): DataStreamWriter[Row] =
    envelopes.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  /** T5: event-time tumbling gold aggregate with watermark — 5-minute
    * windows per carrier, late data beyond 10 minutes dropped. */
  def windowedGold(silverStream: DataFrame): DataFrame = {
    import silverStream.sparkSession.implicits._
    silverStream
      .withWatermark("enqueuedTime", "10 minutes")
      .groupBy(window($"enqueuedTime", "5 minutes"), $"carrier")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"arr_flights").as("total_flights"),
        sum($"arr_del15").as("total_del15"))
      .select($"window.start".as("window_start"),
        $"window.end".as("window_end"),
        $"carrier", $"n_rows", $"total_flights", $"total_del15")
  }

  /** T4+T6: micro-batch trigger into an idempotent gold sink.
    * Complete-mode `foreachBatch` + full overwrite = the reference's
    * full-refresh gold semantics (ipynb:1297-1303) driven
    * incrementally: every batch rewrites the (bounded, aggregate-sized)
    * gold table, so replays after failure converge — checkpoint +
    * idempotent sink gives effective exactly-once. Update-mode +
    * per-partition overwrite would silently drop a carrier's unchanged
    * windows (the batch only carries updated rows), hence complete. */
  def goldSink(gold: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): DataStreamWriter[Row] =
    gold.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").partitionBy("carrier").parquet(path)
      }
}
