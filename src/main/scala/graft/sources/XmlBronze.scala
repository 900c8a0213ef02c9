package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.Det.sqlOrderBy
import graft.pipeline.FlightPipeline

/** XML ingestion boundary (SURVEY.md §2.1 sources, format breadth): the
  * reference's bronze layer is "whatever lands in the mount" — its Avro
  * capture tree (ipynb:353-420) is one instance of the general pattern
  * "semi-structured files land, typed silver rows appear". Spark 4 ships
  * a NATIVE XML datasource (the former spark-xml, merged in 4.0), so the
  * same DictReader-style contract is exercised over a third wire format:
  *
  *  - [[writeXml]] renders the 17-column flight fixture as multi-file
  *    XML (`<flights><flight>…</flight></flights>`), doubles rendered
  *    with Spark's shortest-round-trip string (Ryu) — `Double.parseDouble`
  *    is correctly rounded, so the text round trip is LOSSLESS and the
  *    oracle needs no rounding emulation (a DECIMAL(18,4) rendering
  *    would tie-break differently per engine: Spark HALF_UP vs DuckDB
  *    half-even on exact .5 ulps — observed live on this fixture);
  *  - [[silverXml]] reads the tree back with an EXPLICIT all-string
  *    schema + `rowTag` (no inference pass — at 100 TB schema inference
  *    reads the whole corpus twice) and applies the silver cast chain.
  *
  * DuckDB has no XML reader, so the oracle is the independent
  * parquet-side derivation (same discipline as `silver_avro_capture`):
  * the plain silver CTE — the XML encode→decode loop must reproduce
  * every silver double BIT-EXACTLY or the hash breaks.
  *
  * Scale posture: each XML file is one task (multiline XML is not
  * splittable — files must be kept bounded at write time, here 16 parts
  * (4 parts measured 6.2 s median at sf0.1: four parse tasks gated the
  * whole query on a 32-core box; 16 parts ≈ file granularity matching
  * parallelism, the same knob the producer turns at 100 TB);
  * at 100 TB the landing producer controls file granularity, thousands
  * of ~128 MB files → thousands of parallel tasks); the cast chain is a
  * narrow codegen'd map with no shuffle until the harness-only ordered
  * tail.
  */
object XmlBronze extends graft.QueryModule {

  /** All-string read schema — same no-inference contract as
    * [[CsvBronze.readSchema]]. */
  val readSchema: StructType =
    StructType(FlightPipeline.silverCols.map(StructField(_, StringType)))

  private val metricCols = Seq(
    "arr_flights", "arr_del15", "carrier_ct", "weather_ct", "nas_ct",
    "security_ct", "late_aircraft_ct", "arr_cancelled", "arr_diverted",
    "arr_delay", "carrier_delay")

  /** The XML lake of source lake `dir`, keyed by its scale factor. */
  def xmlRoot(dir: String): String = graft.Workspace.lake("xml_bronze", dir)

  /** Render the silver fixture as XML, rebuilt when `lineitem` or the
    * writer's code changes (`graft.Workspace.fixture`). */
  def writeXml(spark: SparkSession, dir: String): String =
    graft.Workspace.fixture(xmlRoot(dir), graft.Tables(spark, dir, "lineitem"))(
      FlightPipeline.silver(spark, dir)
        .select(FlightPipeline.silverCols.map(c => col(c).cast("string").as(c)): _*)
        .repartition(16)
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "flight").option("rootTag", "flights")
        .save(_))

  /** Bronze scan: native XML datasource, explicit all-string schema,
    * explicit rowTag — no inference pass over the tree. */
  def readXml(spark: SparkSession, root: String): DataFrame =
    spark.read
      .format("xml")
      .option("rowTag", "flight")
      .schema(readSchema)
      .load(root)

  /** End-to-end: write XML fixture -> explicit-schema XML scan ->
    * silver cast chain -> harness total order. */
  def silverXml(spark: SparkSession, dir: String): DataFrame = {
    val root = writeXml(spark, dir)
    val typed = readXml(spark, root)
      .withColumn("year", col("year").cast("int"))
      .withColumn("month", col("month").cast("int"))
    metricCols.foldLeft(typed)((df, c) =>
      df.withColumn(c, col(c).cast("double")))
      .select(FlightPipeline.silverCols.map(col): _*)
      .repartition(1)
      .sortWithinPartitions(FlightPipeline.silverCols.map(col): _*)
  }

  /** Oracle: the plain parquet-side silver derivation — the XML text
    * round trip is lossless, so no rounding emulation is needed. */
  def silverXmlSql: String =
    s"""WITH ${FlightPipeline.silverSql}
       |SELECT * FROM silver${sqlOrderBy(FlightPipeline.silverCols)}""".stripMargin

  /** Streaming twin of the XML ingest boundary: `readStream` over the
    * watched directory with the SAME explicit schema + rowTag and the
    * same cast chain — "XML files land, typed rows appear". The
    * transform is byte-for-byte the batch one, so batch and stream
    * cannot drift (asserted in XmlBronzeSpec). */
  def silverXmlStream(spark: SparkSession, root: String): DataFrame = {
    val typed = spark.readStream
      .format("xml")
      .option("rowTag", "flight")
      .schema(readSchema)
      .load(root)
      .withColumn("year", col("year").cast("int"))
      .withColumn("month", col("month").cast("int"))
    metricCols.foldLeft(typed)((df, c) =>
      df.withColumn(c, col(c).cast("double")))
      .select(FlightPipeline.silverCols.map(col): _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "silver_xml_ingest" -> silverXml)

  def oracles: Map[String, String] = Map(
    "silver_xml_ingest" -> silverXmlSql)
}
