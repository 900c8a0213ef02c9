package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Reference-parity "medallion" pipeline re-expressed Spark-first.
  *
  * The reference (`/root/reference`, see SURVEY.md §1-2) runs one
  * denormalized flight-delay fact table through silver (typed flatten)
  * and gold (KPI derivation + 3 aggregations). The driver's test data is
  * a TPC-H-ish star schema, so this module exposes the *same operator
  * semantics* over a deterministic "flightized" projection of `lineitem`:
  * every silver column shape of the reference (int year/month, low-card
  * carrier/airport dims, 13 double metrics incl. zero-denominator rows)
  * is derived from lineitem columns with engine-portable arithmetic, so
  * the whole pipeline is oracle-checkable in DuckDB.
  *
  * Reference citations:
  *  - silver schema + casts: `ETL/flight-silver-transformation (1).ipynb:1171-1244`
  *  - KPI derivations:       `README.md:177-183`
  *  - gold aggregations:     `README.md:186-219`
  *
  * Scale posture: silver/master are pure narrow projections (no shuffle);
  * Catalyst prunes the scan to only the lineitem columns actually used.
  */
/** Typed record for the silver boundary (SURVEY.md §1.3): compile-time
  * field safety where the schema is fixed; DataFrame elsewhere. */
case class FlightDelay(
  year: Int, month: Int, carrier: String, carrier_name: String,
  airport: String, airport_name: String, arr_flights: Double,
  arr_del15: Double, carrier_ct: Double, weather_ct: Double,
  nas_ct: Double, security_ct: Double, late_aircraft_ct: Double,
  arr_cancelled: Double, arr_diverted: Double, arr_delay: Double,
  carrier_delay: Double)

object FlightPipeline {

  // ---- column inventories (shared by Spark side + oracle ORDER BYs) ----
  val silverCols: Seq[String] = Seq(
    "year", "month", "carrier", "carrier_name", "airport", "airport_name",
    "arr_flights", "arr_del15", "carrier_ct", "weather_ct", "nas_ct",
    "security_ct", "late_aircraft_ct", "arr_cancelled", "arr_diverted",
    "arr_delay", "carrier_delay")

  val masterCols: Seq[String] = silverCols ++ Seq(
    "delay_rate", "avg_delay_per_flight", "cancel_rate", "divert_rate",
    "cause_total", "carrier_pct", "weather_pct", "nas_pct", "security_pct",
    "late_aircraft_pct", "year_month")

  /** Silver: typed 17-column flight-delay-shaped table (ipynb:1171-1244). */
  def silver(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem").select(
      year($"l_shipdate").as("year"),
      month($"l_shipdate").as("month"),
      concat($"l_returnflag", lit("-"), $"l_linestatus").as("carrier"),
      concat(lit("Carrier "), $"l_returnflag", lit("-"), $"l_linestatus")
        .as("carrier_name"),
      lpad(($"l_partkey" % 25).cast("string"), 2, "0").as("airport"),
      concat(lit("Airport "), lpad(($"l_partkey" % 25).cast("string"), 2, "0"))
        .as("airport_name"),
      // zero-flight rows exist so every ratio guard is exercised (§2.2 P4)
      when($"l_linenumber" === 7, lit(0.0)).otherwise($"l_quantity")
        .as("arr_flights"),
      ($"l_quantity" * $"l_discount").as("arr_del15"),
      ($"l_quantity" * $"l_tax").as("carrier_ct"),
      ($"l_partkey" % 10).cast("double").as("weather_ct"),
      ($"l_suppkey" % 7).cast("double").as("nas_ct"),
      ($"l_orderkey" % 3).cast("double").as("security_ct"),
      ($"l_linenumber" % 5).cast("double").as("late_aircraft_ct"),
      when($"l_orderkey" % 50 === 0, lit(1.0)).otherwise(lit(0.0))
        .as("arr_cancelled"),
      when($"l_orderkey" % 97 === 0, lit(1.0)).otherwise(lit(0.0))
        .as("arr_diverted"),
      ($"l_extendedprice" * $"l_discount").as("arr_delay"),
      ($"l_extendedprice" * $"l_discount" * 0.5).as("carrier_delay"))
  }

  /** [[silver]] as a typed Dataset (Encoders.product derived). */
  def typedSilver(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[FlightDelay] = {
    import spark.implicits._
    silver(spark, dir).as[FlightDelay]
  }

  /** Master = silver + row-level derived KPIs (`README.md:177-183`,
    * GOLD_MASTER DDL nb:350-380): delay/cancel/divert rates, cause split
    * percentages, `year_month` label. All guards are explicit so the
    * DuckDB oracle computes byte-identical doubles.
    *
    * One projection over silver: each chained `withColumn` re-analyzes
    * the whole plan (11 of them cost about 100 ms of driver time per
    * build on a 4-vCPU host), while one `select` is analyzed once. The
    * percentages use the `cause_total` expression itself, the same
    * double sum in the same order, so every value is unchanged. */
  def master(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val causeTotal = $"carrier_ct" + $"weather_ct" + $"nas_ct" +
      $"security_ct" + $"late_aircraft_ct"
    silver(spark, dir).select($"*",
      Det.nullRatio($"arr_del15", $"arr_flights").as("delay_rate"),
      Det.nullRatio($"arr_delay", $"arr_flights").as("avg_delay_per_flight"),
      Det.nullRatio($"arr_cancelled", $"arr_flights").as("cancel_rate"),
      Det.nullRatio($"arr_diverted", $"arr_flights").as("divert_rate"),
      causeTotal.as("cause_total"),
      Det.nullRatio($"carrier_ct", causeTotal).as("carrier_pct"),
      Det.nullRatio($"weather_ct", causeTotal).as("weather_pct"),
      Det.nullRatio($"nas_ct", causeTotal).as("nas_pct"),
      Det.nullRatio($"security_ct", causeTotal).as("security_pct"),
      Det.nullRatio($"late_aircraft_ct", causeTotal).as("late_aircraft_pct"),
      concat($"year".cast("string"), lit("-"),
        lpad($"month".cast("string"), 2, "0")).as("year_month"))
  }

  // -------------------- DuckDB oracle twins --------------------

  /** `silver` as a DuckDB CTE — the SQL mirror of [[silver]]. */
  val silverSql: String =
    """silver AS (
      |  SELECT
      |    CAST(year(l_shipdate) AS INTEGER) AS year,
      |    CAST(month(l_shipdate) AS INTEGER) AS month,
      |    l_returnflag || '-' || l_linestatus AS carrier,
      |    'Carrier ' || l_returnflag || '-' || l_linestatus AS carrier_name,
      |    lpad(CAST(l_partkey % 25 AS VARCHAR), 2, '0') AS airport,
      |    'Airport ' || lpad(CAST(l_partkey % 25 AS VARCHAR), 2, '0') AS airport_name,
      |    CASE WHEN l_linenumber = 7 THEN CAST(0 AS DOUBLE) ELSE l_quantity END AS arr_flights,
      |    l_quantity * l_discount AS arr_del15,
      |    l_quantity * l_tax AS carrier_ct,
      |    CAST(l_partkey % 10 AS DOUBLE) AS weather_ct,
      |    CAST(l_suppkey % 7 AS DOUBLE) AS nas_ct,
      |    CAST(l_orderkey % 3 AS DOUBLE) AS security_ct,
      |    CAST(l_linenumber % 5 AS DOUBLE) AS late_aircraft_ct,
      |    CASE WHEN l_orderkey % 50 = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS arr_cancelled,
      |    CASE WHEN l_orderkey % 97 = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS arr_diverted,
      |    l_extendedprice * l_discount AS arr_delay,
      |    l_extendedprice * l_discount * CAST(0.5 AS DOUBLE) AS carrier_delay
      |  FROM lineitem
      |)""".stripMargin

  /** `master` as DuckDB CTEs layered on [[silverSql]]. */
  val masterSql: String = {
    val nr = Det.sqlNullRatio _
    s"""master0 AS (
       |  SELECT s.*,
       |    ${nr("arr_del15", "arr_flights")} AS delay_rate,
       |    ${nr("arr_delay", "arr_flights")} AS avg_delay_per_flight,
       |    ${nr("arr_cancelled", "arr_flights")} AS cancel_rate,
       |    ${nr("arr_diverted", "arr_flights")} AS divert_rate,
       |    carrier_ct + weather_ct + nas_ct + security_ct + late_aircraft_ct AS cause_total
       |  FROM silver s
       |),
       |master AS (
       |  SELECT m.*,
       |    ${nr("carrier_ct", "cause_total")} AS carrier_pct,
       |    ${nr("weather_ct", "cause_total")} AS weather_pct,
       |    ${nr("nas_ct", "cause_total")} AS nas_pct,
       |    ${nr("security_ct", "cause_total")} AS security_pct,
       |    ${nr("late_aircraft_ct", "cause_total")} AS late_aircraft_pct,
       |    CAST(year AS VARCHAR) || '-' || lpad(CAST(month AS VARCHAR), 2, '0') AS year_month
       |  FROM master0 m
       |)""".stripMargin
  }

  /** Wrap a query body with the silver+master CTE prelude. */
  def withCtes(body: String): String =
    s"WITH $silverSql,\n$masterSql\n$body"
}
