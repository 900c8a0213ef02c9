package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.SilverJson

/** Avro bronze capture (SURVEY.md §2.1 S4): the reference's executed
  * silver path reads Event-Hub-Capture Avro files through a six-level
  * date directory glob before the JSON silver transform
  * (`ETL/flight-silver-transformation (1).ipynb:574-578`). Here the
  * capture tree is written by [[writeCapture]] (a real
  * `format("avro")` sink, envelope schema preserved: binary `Body`,
  * `SequenceNumber`, `EnqueuedTimeUtc`, `Properties`,
  * `SystemProperties`) and read back by [[readCapture]] with the same
  * six-level glob, feeding the unchanged silver transform.
  *
  * Layout note: `partitionBy` produces `y=1995/mo=01/...` directory
  * names where capture uses bare `1995/01/...` — same depth, same glob
  * semantics, and the key=value form additionally gives Spark partition
  * pruning on the capture date, which is exactly what you want at
  * 100 TB (scan only the capture windows a backfill touches).
  *
  * Scale posture: the write is one shuffle-free pass partitioned by
  * derived date columns; the read is a parallel multi-file scan whose
  * list cost is bounded by directory pruning. The silver transform
  * stays a narrow codegen'd map (see SilverJson).
  */
object AvroBronze extends graft.QueryModule {

  /** This Spark build bundles the Avro `FileFormat` inside spark-sql
    * but omits it from the `DataSourceRegister` service file, so the
    * `avro` shortname fails lookup; the fully-qualified class name
    * resolves the identical datasource. */
  val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Deterministic capture subset — every 5th sequence number — keeps
    * the fixture write cheap while exercising every corruption class. */
  private val captureFilter = "SequenceNumber % 5 = 0"
  private val captureFilterSql = "\n  WHERE (l_orderkey * 10 + l_linenumber) % 5 = 0"

  /** Capture envelope schema (what the reference's capture files carry:
    * ipynb:574-578 / FIXTURES.md A2) — needed explicitly by streaming
    * file sources, which cannot infer. */
  val envelopeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "Body BINARY, SequenceNumber BIGINT, EnqueuedTimeUtc STRING, " +
        "Properties MAP<STRING,STRING>, SystemProperties MAP<STRING,STRING>")

  /** Write the bronze envelope as Avro capture files in a 6-level
    * date-derived directory tree, in the workspace keyed by scale factor. */
  def writeCapture(spark: SparkSession, dir: String): String =
    writeCapture(spark, dir, graft.Workspace.lake("avro_bronze", dir))

  /** The capture tree under `root`, rewritten only when `lineitem` or the
    * writer's code changed (`graft.Workspace.fixture`). */
  def writeCapture(spark: SparkSession, dir: String, root: String): String =
    graft.Workspace.fixture(root, graft.Tables(spark, dir, "lineitem"))(
      SilverJson.bronze(spark, dir)
        .filter(captureFilter)
        // One capture window per shipdate month. Day/hour/min/sec are
        // constant levels: the tree keeps the reference's 6-level depth
        // (and its glob), while leaf-directory count stays |years×months|
        // (~84) instead of |days| (~2500) — at 32 tasks the latter
        // produced 52k ~9KB files, a small-files pathology that cost
        // 379s at sf0.1. Same lesson at 100 TB: capture trees need
        // file compaction before analytical scans.
        .withColumn("y", substring(col("EnqueuedTimeUtc"), 1, 4))
        .withColumn("mo", substring(col("EnqueuedTimeUtc"), 6, 2))
        .withColumn("d", lit("01"))
        .withColumn("h", lit("00"))
        .withColumn("mi", lit("00"))
        .withColumn("s", lit("00"))
        // co-locate each capture window in one task -> one file per leaf
        .repartition(col("y"), col("mo"))
        .write.mode("overwrite")
        .partitionBy("y", "mo", "d", "h", "mi", "s")
        .format(AvroFormat).save(_))

  /** S4: the real `format("avro")` scan over the 6-level glob
    * (ipynb:574-578).
    *
    * Benign log noise: Spark's `FileStreamSink.hasMetadata` stats the
    * raw glob STRING as a literal path before glob expansion, logs a
    * `FileNotFoundException` for it, catches it internally, and
    * proceeds to the real glob resolution — the scan succeeds. Do not
    * chase that stack trace. */
  def readCapture(spark: SparkSession, root: String): DataFrame =
    spark.read.format(AvroFormat).load(s"$root/*/*/*/*/*/*/*.avro")

  /** End-to-end: write capture -> glob-scan Avro -> silver transform.
    * Oracle-checked against the same DuckDB SQL as the synthesized
    * silver pipeline, restricted to the capture subset. */
  def silverAvro(spark: SparkSession, dir: String): DataFrame = {
    val root = writeCapture(spark, dir)
    SilverJson.silverFrom(spark, readCapture(spark, root))
      .repartition(1)
      .sortWithinPartitions(SilverJson.outCols.map(col): _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "silver_avro_capture" -> silverAvro)

  val oracles: Map[String, String] = Map(
    "silver_avro_capture" -> SilverJson.silverSqlWhere(captureFilterSql))
}
