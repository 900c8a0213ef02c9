package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.AvroBronze
import graft.pipeline.SilverJson

/** S5 end-to-end: the Auto-Loader-shaped Avro capture stream — drop
  * capture files under the watched six-level tree, silver rows appear;
  * a checkpointed restart picks up only new files (exactly-once). */
class CaptureStreamSpec extends SparkSpec {

  test("avro capture stream: files -> silver rows, restart-idempotent") {
    import spark.implicits._
    val root = Files.createTempDirectory("capstream_in").toFile.getAbsolutePath
    val out = Files.createTempDirectory("capstream_out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("capstream_ck").toFile.getAbsolutePath

    AvroBronze.writeCapture(spark, sf0001, root)
    val expected = SilverJson
      .silverFrom(spark, SilverJson.bronze(spark, sf0001)
        .filter("SequenceNumber % 5 = 0"))
      .count()

    def run(): Unit = {
      val q = SilverStream
        .silver(spark, SilverStream.captureEnvelopes(spark, root))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    run()
    assert(spark.read.parquet(out).count() == expected)

    // a new capture window lands: one more file, six directories deep
    Seq(("""{"year":"2031","month":"1","carrier":"ZZ-Z","airport":"00",""" +
      """"arr_flights":"1.0","arr_del15":"0.0","arr_delay":"0.0",""" +
      """"produced_at":"999999901"}""").getBytes("UTF-8"))
      .toDF("Body")
      .select($"Body", lit(999999901L).as("SequenceNumber"),
        lit("2031-01-01T00:00:00").as("EnqueuedTimeUtc"),
        map(lit("x-opt-kafka-key"), lit("Z")).as("Properties"),
        map(lit("iothub-enqueuedtime"), lit("2031-01-01T00:00:00"))
          .as("SystemProperties"))
      .coalesce(1).write.format(AvroBronze.AvroFormat)
      .save(s"$root/y=2031/mo=01/d=01/h=00/mi=00/s=00")

    run()
    val rows = spark.read.parquet(out)
    assert(rows.count() == expected + 1, "new file only, no reprocessing")
    assert(rows.where($"carrier" === "ZZ-Z").count() == 1)
    // (produced_at is not unique in the synthetic lineitem — dedup is
    // proven by the exact total count, not by key distinctness)
  }

  test("silver as one projection equals the chained withColumn form on the Avro capture") {
    import spark.implicits._
    val root = Files.createTempDirectory("capsilver").toFile.getAbsolutePath
    AvroBronze.writeCapture(spark, sf0001, root)
    // the envelope projection of captureEnvelopes, as a batch read
    val envelopes = AvroBronze.readCapture(spark, root)
      .select($"Body".as("body"), $"SequenceNumber".as("sequenceNumber"),
        to_timestamp($"EnqueuedTimeUtc", "yyyy-MM-dd'T'HH:mm:ss").as("enqueuedTime"))
    // the form silver had before its casts became one projection
    graft.functions.DecodeTrimJson.register(spark)
    val chained = envelopes
      .withColumn("body_str", expr("decode_trim_json(`body`)"))
      .withColumn("data", from_json($"body_str", SilverJson.payloadSchema))
      .select($"enqueuedTime", $"data.*")
      .na.drop(Seq("year"))
      .withColumn("year", $"year".cast("int"))
      .withColumn("month", $"month".cast("int"))
      .withColumn("arr_flights", $"arr_flights".cast("double"))
      .withColumn("arr_del15", $"arr_del15".cast("double"))
      .withColumn("arr_delay", $"arr_delay".cast("double"))
      .withColumn("produced_at", $"produced_at".cast("bigint"))
    val one = SilverStream.silver(spark, envelopes)
    assert(one.schema == chained.schema)
    val rows = one.collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.groupBy(identity).map { case (r, xs) => r -> xs.size } ==
      chained.collect().toSeq.groupBy(identity).map { case (r, xs) => r -> xs.size })
  }

  test("maxFilesPerTrigger bounds each micro-batch (backlog backpressure)") {
    // the knob that keeps a restart-after-downtime from loading the
    // whole backlog into ONE giant micro-batch: with maxFilesPerTrigger
    // = 1, a 3-file backlog must drain as >= 3 bounded batches
    import spark.implicits._
    val dir = Files.createTempDirectory("throttle_in").toFile.getAbsolutePath
    for (i <- 1 to 3)
      Seq(i * 10, i * 10 + 1).toDF("v").coalesce(1)
        .write.json(s"$dir/f$i")
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("v INT"))
      .option("maxFilesPerTrigger", "1")
      .json(s"$dir/*")
    val q = src.writeStream.format("memory")
      .queryName("throttle_mem").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("throttle_mem").count() == 6)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3,
        s"expected >=3 bounded batches, got $dataBatches")
      val maxBatch = q.recentProgress.map(_.numInputRows).max
      assert(maxBatch <= 2, s"a batch exceeded one file's rows: $maxBatch")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog then self-terminates") {
    // the scheduled-incremental pattern: a cron'd batch job runs the
    // STREAMING query with AvailableNow — it processes exactly the
    // files present at start, commits the checkpoint, and stops on its
    // own (no processAllAvailable/stop choreography); the next run
    // picks up only what arrived in between
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("avnow_in").toFile.getAbsolutePath
    val out = Files.createTempDirectory("avnow_out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("avnow_ck").toFile.getAbsolutePath
    AvroBronze.writeCapture(spark, sf0001, root)
    val expected = SilverJson
      .silverFrom(spark, SilverJson.bronze(spark, sf0001)
        .filter("SequenceNumber % 5 = 0"))
      .count()

    def runOnce(): Unit = {
      val q = SilverStream
        .silver(spark, SilverStream.captureEnvelopes(spark, root))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      // no q.stop(): AvailableNow must terminate by itself
      assert(q.awaitTermination(120000), "AvailableNow did not terminate")
    }

    runOnce()
    assert(spark.read.parquet(out).count() == expected)
    runOnce() // nothing new arrived: second run is a committed no-op
    assert(spark.read.parquet(out).count() == expected)
  }
}
