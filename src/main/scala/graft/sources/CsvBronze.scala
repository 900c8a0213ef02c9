package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.Det.sqlOrderBy
import graft.pipeline.FlightPipeline

/** CSV ingestion main path (SURVEY.md §2.1 S1): the reference's very
  * first step is `csv.DictReader` with a configurable delimiter over
  * the 17-column all-string `Airline_Delay_Cause.csv`
  * (`kafka-eh/produce_to_eventhub.py:60-70`,
  * `produce_send_rows.py:41-45`) — every value is a STRING at the
  * boundary and typing happens downstream in the silver cast chain
  * (ipynb:1171-1244).
  *
  * Here the same boundary is executed for real: [[writeCsv]] renders
  * the 17-column flight fixture to semicolon-delimited CSV files
  * (doubles formatted as fixed-scale decimal strings so the bytes are
  * engine-portable), and [[silverCsv]] reads them back with
  * `spark.read.option("header").option("delimiter").schema(allString)`
  * — the exact DictReader contract — then applies the silver casts.
  * The oracle reads THE SAME FILES with DuckDB `read_csv(...,
  * all_varchar=true)` and applies the same casts, so both the CSV
  * parse and the cast chain are gated, not just the arithmetic.
  *
  * Scale posture: CSV scan is splittable (uncompressed), the all-string
  * schema avoids a schema-inference pre-pass (which reads the whole
  * input TWICE at 100 TB), and the cast chain is a narrow codegen'd
  * map — no shuffle until the harness-only total-order tail.
  */
object CsvBronze extends graft.QueryModule {

  /** All-string read schema — the DictReader contract: no inference,
    * no type opinions at the ingestion boundary. */
  val readSchema: StructType =
    StructType(FlightPipeline.silverCols.map(StructField(_, StringType)))

  private val metricCols = Seq(
    "arr_flights", "arr_del15", "carrier_ct", "weather_ct", "nas_ct",
    "security_ct", "late_aircraft_ct", "arr_cancelled", "arr_diverted",
    "arr_delay", "carrier_delay")

  /** Fixture root: absolute so the DuckDB oracle (whose cwd is the
    * driver's, not sbt's) globs the same files. */
  def csvRoot: String = new File("target/csv_bronze/data").getAbsolutePath

  /** Render the 17-column silver fixture as all-string CSV. Doubles go
    * through DECIMAL(18,4) so the cell bytes are identical no matter
    * which engine later parses them (raw double→string may use
    * scientific notation). Cached on a content fingerprint of the
    * source dir — same discipline as AvroBronze: a name-keyed cache
    * would reuse a stale tree after the harness regenerates data. */
  def writeCsv(spark: SparkSession, dir: String): String = {
    val root = csvRoot
    val fp = AvroBronze.fingerprint(dir)
    val fpFile = new File(s"$root/_SOURCE_FINGERPRINT")
    val cached = new File(s"$root/_SUCCESS").isFile && fpFile.isFile &&
      new String(java.nio.file.Files.readAllBytes(fpFile.toPath), "UTF-8") == fp
    if (!cached) {
      val silver = FlightPipeline.silver(spark, dir)
      val asStrings = silver.select(FlightPipeline.silverCols.map { c =>
        if (metricCols.contains(c))
          col(c).cast("decimal(18,4)").cast("string").as(c)
        else col(c).cast("string").as(c)
      }: _*)
      asStrings
        // a handful of files, not one: proves the multi-file glob path
        // both engines must handle (at 100 TB this is thousands of splits)
        .repartition(4)
        .write.mode("overwrite")
        .option("header", "true").option("delimiter", ";")
        .csv(root)
      java.nio.file.Files.write(fpFile.toPath, fp.getBytes("UTF-8"))
    }
    root
  }

  /** S1 scan: header + custom delimiter + explicit all-string schema
    * over the fixture files (no inference pass). */
  def readCsv(spark: SparkSession, root: String): DataFrame =
    spark.read
      .option("header", "true").option("delimiter", ";")
      .schema(readSchema)
      .csv(root)

  /** End-to-end: write CSV fixture -> DictReader-contract scan ->
    * silver cast chain (ipynb:1232-1244) -> harness total order. */
  def silverCsv(spark: SparkSession, dir: String): DataFrame = {
    val root = writeCsv(spark, dir)
    val typed = readCsv(spark, root)
      .withColumn("year", col("year").cast("int"))
      .withColumn("month", col("month").cast("int"))
    metricCols.foldLeft(typed)((df, c) =>
      df.withColumn(c, col(c).cast("double")))
      .repartition(1)
      .sortWithinPartitions(FlightPipeline.silverCols.map(col): _*)
  }

  /** Oracle: DuckDB parses the SAME csv files (all_varchar = the
    * DictReader contract) and applies the same casts. Evaluated at
    * Verify time so the glob is absolute on this machine. */
  def silverCsvSql: String = {
    val casts = FlightPipeline.silverCols.map {
      case c @ ("year" | "month") => s"CAST($c AS INTEGER) AS $c"
      case c if metricCols.contains(c) => s"CAST($c AS DOUBLE) AS $c"
      case c => c
    }.mkString(",\n  ")
    s"""SELECT
       |  $casts
       |FROM read_csv('$csvRoot/part-*.csv', header=true, delim=';',
       |              all_varchar=true)${sqlOrderBy(FlightPipeline.silverCols)}""".stripMargin
  }

  /** Streaming twin of the ingest boundary: `readStream.csv` over a
    * watched directory with the SAME explicit all-string schema and
    * cast chain — the Auto-Loader-shaped "CSV files land, typed rows
    * appear" pipeline. Streaming file sources REQUIRE the explicit
    * schema (no inference), which the DictReader contract already
    * provides; the transform is byte-for-byte the batch one, so batch
    * and stream cannot drift (asserted in CsvBronzeSpec). */
  def silverCsvStream(spark: SparkSession, root: String): DataFrame = {
    val typed = spark.readStream
      .option("header", "true").option("delimiter", ";")
      .schema(readSchema)
      .csv(root)
      .withColumn("year", col("year").cast("int"))
      .withColumn("month", col("month").cast("int"))
    metricCols.foldLeft(typed)((df, c) =>
      df.withColumn(c, col(c).cast("double")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "silver_csv_ingest" -> silverCsv)

  def oracles: Map[String, String] = Map(
    "silver_csv_ingest" -> silverCsvSql)
}
