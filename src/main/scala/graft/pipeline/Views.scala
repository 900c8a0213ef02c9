package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det
import graft.Det.{sqlSum, sqlZeroRatio, sqlOrderBy}

/** Serving layer: the reference's five Snowflake views + Snowsight
  * dashboard queries, re-expressed as Spark queries
  * (`NB_AIRLINE_DELAY_GOLD (1).ipynb` nb:433-537 views, nb:550-645
  * dashboard; SURVEY.md §2.4 A4-A5, §2.7 O1-O3, §2.2 P4-P5).
  *
  * Scale posture: every view is a single hash-aggregate (or a bounded
  * top-k via TakeOrderedAndProject) over the pruned silver projection —
  * no joins, no per-row state. `LIMIT k` after `ORDER BY` compiles to
  * TakeOrderedAndProject: each partition keeps a k-row heap and the
  * driver merges |partitions| x k rows, so top-k never global-sorts at
  * 100 TB.
  */
object Views extends graft.QueryModule {

  /** v_overall_kpis (nb:433-446): single-row global KPI aggregate with
    * the reference's CASE-WHEN-zero division guards. */
  def overallKpis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FlightPipeline.master(spark, dir)
      .agg(
        max($"year").as("latest_year"),
        max($"month").as("latest_month"),
        Det.xsum($"arr_flights").as("total_flights"),
        Det.xsum($"arr_del15").as("total_del15"),
        Det.xsum($"arr_cancelled").as("total_cancelled"),
        Det.xsum($"arr_diverted").as("total_diverted"),
        Det.xsum($"arr_delay").as("total_delay_minutes"))
      .withColumn("overall_delay_rate",
        Det.zeroRatio($"total_del15", $"total_flights"))
      .withColumn("avg_delay_per_flight",
        Det.zeroRatio($"total_delay_minutes", $"total_flights"))
  }

  val overallKpisSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT
       |    MAX(year) AS latest_year,
       |    MAX(month) AS latest_month,
       |    ${sqlSum("arr_flights")} AS total_flights,
       |    ${sqlSum("arr_del15")} AS total_del15,
       |    ${sqlSum("arr_cancelled")} AS total_cancelled,
       |    ${sqlSum("arr_diverted")} AS total_diverted,
       |    ${sqlSum("arr_delay")} AS total_delay_minutes
       |  FROM master
       |)
       |SELECT g.*,
       |  ${sqlZeroRatio("total_del15", "total_flights")} AS overall_delay_rate,
       |  ${sqlZeroRatio("total_delay_minutes", "total_flights")} AS avg_delay_per_flight
       |FROM g""".stripMargin)

  /** v_monthly_trend (nb:452-463): per-month flights/delays + weighted
    * delay rate, ordered chronologically. */
  def monthlyTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Gold.goldMonthly(spark, dir)
      .select($"year", $"month", $"year_month", $"total_flights",
        $"total_del15", $"total_delay",
        Det.zeroRatio($"total_del15", $"total_flights").as("delay_rate_w"))
      .orderBy($"year", $"month")
  }

  val monthlyTrendSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT year, month,
       |    ${sqlSum("arr_flights")} AS total_flights,
       |    ${sqlSum("arr_del15")} AS total_del15,
       |    ${sqlSum("arr_delay")} AS total_delay
       |  FROM master GROUP BY year, month
       |)
       |SELECT year, month,
       |  CAST(year AS VARCHAR) || '-' || lpad(CAST(month AS VARCHAR), 2, '0') AS year_month,
       |  total_flights, total_del15, total_delay,
       |  ${sqlZeroRatio("total_del15", "total_flights")} AS delay_rate_w
       |FROM g${sqlOrderBy(Seq("year", "month"))}""".stripMargin)

  /** v_top_carriers (nb:468-480) + top-20 bar chart (nb:615-620):
    * carrier lifetime totals, top-k by volume. */
  def topCarriers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FlightPipeline.master(spark, dir)
      .groupBy($"carrier", $"carrier_name")
      .agg(
        Det.xsum($"arr_flights").as("total_flights"),
        Det.xsum($"arr_del15").as("total_del15"),
        Det.xsum($"arr_delay").as("total_delay"))
      .withColumn("delay_rate",
        Det.zeroRatio($"total_del15", $"total_flights"))
      .orderBy(desc("total_flights"), $"carrier")
      .limit(20)
  }

  val topCarriersSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT carrier, carrier_name,
       |    ${sqlSum("arr_flights")} AS total_flights,
       |    ${sqlSum("arr_del15")} AS total_del15,
       |    ${sqlSum("arr_delay")} AS total_delay
       |  FROM master GROUP BY carrier, carrier_name
       |)
       |SELECT g.*, ${sqlZeroRatio("total_del15", "total_flights")} AS delay_rate
       |FROM g
       |ORDER BY total_flights DESC NULLS LAST, carrier NULLS FIRST
       |LIMIT 20""".stripMargin)

  /** v_causes_pct (nb:484-504): monthly cause mix percentages. */
  def causesPct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FlightPipeline.master(spark, dir)
      .groupBy($"year", $"month")
      .agg(
        Det.xsum($"carrier_ct").as("carrier_minutes"),
        Det.xsum($"weather_ct").as("weather_minutes"),
        Det.xsum($"nas_ct").as("nas_minutes"),
        Det.xsum($"security_ct").as("security_minutes"),
        Det.xsum($"late_aircraft_ct").as("late_aircraft_minutes"))
      .withColumn("total_minutes",
        $"carrier_minutes" + $"weather_minutes" + $"nas_minutes" +
          $"security_minutes" + $"late_aircraft_minutes")
      .withColumn("carrier_pct",
        Det.zeroRatio($"carrier_minutes", $"total_minutes"))
      .withColumn("weather_pct",
        Det.zeroRatio($"weather_minutes", $"total_minutes"))
      .withColumn("nas_pct", Det.zeroRatio($"nas_minutes", $"total_minutes"))
      .withColumn("security_pct",
        Det.zeroRatio($"security_minutes", $"total_minutes"))
      .withColumn("late_aircraft_pct",
        Det.zeroRatio($"late_aircraft_minutes", $"total_minutes"))
      .orderBy($"year", $"month")
  }

  val causesPctSql: String = {
    val ms = Seq("carrier", "weather", "nas", "security", "late_aircraft")
    FlightPipeline.withCtes(
      s"""
         |, g AS (
         |  SELECT year, month,
         |    ${ms.map(m => s"${sqlSum(s"${m}_ct")} AS ${m}_minutes").mkString(",\n    ")}
         |  FROM master GROUP BY year, month
         |),
         |g2 AS (
         |  SELECT g.*, ${ms.map(m => s"${m}_minutes").mkString(" + ")} AS total_minutes FROM g
         |)
         |SELECT g2.*,
         |  ${ms.map(m => s"${sqlZeroRatio(s"${m}_minutes", "total_minutes")} AS ${m}_pct").mkString(",\n  ")}
         |FROM g2${sqlOrderBy(Seq("year", "month"))}""".stripMargin)
  }

  /** v_master_clean (nb:508-537): defensive TRY_CAST re-typing of a
    * stringified feed with injected bad records. */
  def masterClean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = graft.Tables(spark, dir, "lineitem")
    // stringified feed: decimal-formatted so both engines print identical
    // strings; every 101st order's numeric fields are corrupted to 'N/A'
    val raw = li.select(
      when($"l_orderkey" % 101 === 0, lit("N/A"))
        .otherwise(year($"l_shipdate").cast("string")).as("year_s"),
      month($"l_shipdate").cast("string").as("month_s"),
      concat($"l_returnflag", lit("-"), $"l_linestatus").as("carrier"),
      when($"l_orderkey" % 101 === 0, lit("bad"))
        .otherwise($"l_quantity".cast("decimal(12,2)").cast("string"))
        .as("arr_flights_s"),
      $"l_extendedprice".cast("decimal(12,2)").cast("string").as("arr_delay_s"))
    raw.select(
      expr("try_cast(year_s AS INT)").as("year"),
      expr("try_cast(month_s AS INT)").as("month"),
      $"carrier",
      expr("try_cast(arr_flights_s AS DOUBLE)").as("arr_flights"),
      expr("try_cast(arr_delay_s AS DOUBLE)").as("arr_delay"))
      .orderBy(Seq("year", "month", "carrier", "arr_flights", "arr_delay")
        .map(col): _*)
  }

  val masterCleanSql: String =
    s"""WITH raw AS (
       |  SELECT
       |    CASE WHEN l_orderkey % 101 = 0 THEN 'N/A' ELSE CAST(year(l_shipdate) AS VARCHAR) END AS year_s,
       |    CAST(month(l_shipdate) AS VARCHAR) AS month_s,
       |    l_returnflag || '-' || l_linestatus AS carrier,
       |    CASE WHEN l_orderkey % 101 = 0 THEN 'bad' ELSE CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) END AS arr_flights_s,
       |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS arr_delay_s
       |  FROM lineitem
       |)
       |SELECT
       |  TRY_CAST(year_s AS INTEGER) AS year,
       |  TRY_CAST(month_s AS INTEGER) AS month,
       |  carrier,
       |  TRY_CAST(arr_flights_s AS DOUBLE) AS arr_flights,
       |  TRY_CAST(arr_delay_s AS DOUBLE) AS arr_delay
       |FROM raw${sqlOrderBy(Seq("year", "month", "carrier", "arr_flights", "arr_delay"))}""".stripMargin

  /** Dashboard KPI cards with the BI year-range filter (nb:550-571,
    * `WHERE year BETWEEN :from AND :to` — P5). */
  /** Hour-of-day × weekday activity heatmap — the traffic-pattern grid
    * behind every ops dashboard ("when do users actually show up"),
    * over the events table: exact counts and distinct users per
    * (weekday, hour) cell, plus each cell's share of total events as
    * one IEEE division against a broadcast 1-row total. ISO weekday
    * arithmetic keeps both engines on the same day numbering (the
    * dim_calendar convention).
    *
    * Scale posture: one partial-agg exchange to the fixed 7×24 grid;
    * the total is a 1-row broadcast — dashboard refresh cost is
    * independent of event volume. */
  def dashActivityHeatmap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cells = graft.Tables(spark, dir, "events")
      .groupBy(weekday($"ts").as("dow"), hour($"ts").as("hod"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
    val tot = cells.agg(sum($"n_events").as("tot"))
    cells.crossJoin(broadcast(tot))
      .select($"dow", $"hod", $"n_events", $"n_users",
        ($"n_events".cast("double") / $"tot".cast("double")).as("share"))
      .orderBy($"dow", $"hod")
  }

  val dashActivityHeatmapSql: String =
    s"""WITH cells AS (
       |  SELECT CAST(isodow(ts) - 1 AS INTEGER) AS dow,
       |    CAST(hour(ts) AS INTEGER) AS hod,
       |    COUNT(*) AS n_events,
       |    COUNT(DISTINCT user_id) AS n_users
       |  FROM events GROUP BY 1, 2
       |),
       |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tot FROM cells)
       |SELECT dow, hod, n_events, n_users,
       |  CAST(n_events AS DOUBLE) / CAST(tot AS DOUBLE) AS share
       |FROM cells CROSS JOIN tot
       |${Det.sqlOrderBy(Seq("dow", "hod")).trim}""".stripMargin

  def dashKpiWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FlightPipeline.master(spark, dir)
      .filter($"year".between(1996, 1998))
      .agg(
        Det.xsum($"arr_flights").as("total_flights"),
        Det.xsum($"arr_del15").as("total_del15"),
        Det.xsum($"arr_delay").as("total_delay_minutes"))
      .withColumn("delay_rate", Det.zeroRatio($"total_del15", $"total_flights"))
  }

  val dashKpiWindowSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT
       |    ${sqlSum("arr_flights")} AS total_flights,
       |    ${sqlSum("arr_del15")} AS total_del15,
       |    ${sqlSum("arr_delay")} AS total_delay_minutes
       |  FROM master WHERE year BETWEEN 1996 AND 1998
       |)
       |SELECT g.*, ${sqlZeroRatio("total_del15", "total_flights")} AS delay_rate
       |FROM g""".stripMargin)

  /** Top-20 airports by volume (top-k over the 25-value airport dim —
    * O2, nb:615-620 shape). */
  def dashTopAirports(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FlightPipeline.master(spark, dir)
      .groupBy($"airport", $"airport_name")
      .agg(
        Det.xsum($"arr_flights").as("total_flights"),
        Det.xsum($"arr_del15").as("total_del15"))
      .withColumn("delay_rate", Det.zeroRatio($"total_del15", $"total_flights"))
      .orderBy(desc("total_flights"), $"airport")
      .limit(20)
  }

  val dashTopAirportsSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT airport, airport_name,
       |    ${sqlSum("arr_flights")} AS total_flights,
       |    ${sqlSum("arr_del15")} AS total_del15
       |  FROM master GROUP BY airport, airport_name
       |)
       |SELECT g.*, ${sqlZeroRatio("total_del15", "total_flights")} AS delay_rate
       |FROM g
       |ORDER BY total_flights DESC NULLS LAST, airport NULLS FIRST
       |LIMIT 20""".stripMargin)

  /** Causes pie chart (nb:632-641): one row per delay cause + share of
    * total, via an unpivot-style UNION ALL and an exact window total. */
  def dashCausesBreakdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cs = Seq("carrier_ct", "weather_ct", "nas_ct", "security_ct",
      "late_aircraft_ct")
    // single-pass: one aggregate computes all 5 sums, then unpivot via
    // stack() — the UNION-ALL formulation (the oracle's) scans 5x
    val rows = FlightPipeline.master(spark, dir)
      .agg(Det.xsum(col(cs.head)).as(s"t_${cs.head}"),
        cs.tail.map(c => Det.xsum(col(c)).as(s"t_$c")): _*)
      .selectExpr(s"stack(${cs.size}, " +
        cs.map(c => s"'${c.stripSuffix("_ct")}', t_$c").mkString(", ") +
        ") AS (cause, total_minutes)")
    rows
      .withColumn("pct_of_total",
        col("total_minutes") /
          sum(col("total_minutes").cast(Det.SumDec))
            .over(Window.partitionBy()).cast("double"))
      .select($"cause", $"total_minutes", $"pct_of_total")
      .orderBy($"cause")
  }

  val dashCausesBreakdownSql: String = FlightPipeline.withCtes(
    s"""
       |, u AS (
       |  ${Seq("carrier_ct", "weather_ct", "nas_ct", "security_ct", "late_aircraft_ct")
             .map(c => s"SELECT '${c.stripSuffix("_ct")}' AS cause, ${sqlSum(c)} AS total_minutes FROM master")
             .mkString("\n  UNION ALL\n  ")}
       |)
       |SELECT cause, total_minutes,
       |  total_minutes / CAST(SUM(CAST(total_minutes AS DECIMAL(28,5))) OVER () AS DOUBLE) AS pct_of_total
       |FROM u${sqlOrderBy(Seq("cause"))}""".stripMargin)

  /** Drilldown table (nb:596-609 shape): filtered, grouped detail. */
  def dashDrilldown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FlightPipeline.master(spark, dir)
      .filter($"year".between(1996, 1997) && $"carrier".isin("N-O", "R-F"))
      .groupBy($"year", $"month", $"carrier", $"airport")
      .agg(
        Det.xsum($"arr_flights").as("total_flights"),
        Det.xsum($"arr_del15").as("total_del15"),
        Det.xsum($"arr_delay").as("total_delay"))
      .withColumn("delay_rate", Det.zeroRatio($"total_del15", $"total_flights"))
      .orderBy($"year", $"month", $"carrier", $"airport")
  }

  val dashDrilldownSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT year, month, carrier, airport,
       |    ${sqlSum("arr_flights")} AS total_flights,
       |    ${sqlSum("arr_del15")} AS total_del15,
       |    ${sqlSum("arr_delay")} AS total_delay
       |  FROM master
       |  WHERE year BETWEEN 1996 AND 1997 AND carrier IN ('N-O', 'R-F')
       |  GROUP BY year, month, carrier, airport
       |)
       |SELECT g.*, ${sqlZeroRatio("total_del15", "total_flights")} AS delay_rate
       |FROM g${sqlOrderBy(Seq("year", "month", "carrier", "airport"))}""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "view_overall_kpis" -> overallKpis,
    "view_monthly_trend" -> monthlyTrend,
    "view_top_carriers" -> topCarriers,
    "view_causes_pct" -> causesPct,
    "view_master_clean" -> masterClean,
    "dash_kpi_window" -> dashKpiWindow,
    "dash_activity_heatmap" -> dashActivityHeatmap,
    "dash_top_airports" -> dashTopAirports,
    "dash_causes_breakdown" -> dashCausesBreakdown,
    "dash_drilldown" -> dashDrilldown)

  val oracles: Map[String, String] = Map(
    "view_overall_kpis" -> overallKpisSql,
    "view_monthly_trend" -> monthlyTrendSql,
    "view_top_carriers" -> topCarriersSql,
    "view_causes_pct" -> causesPctSql,
    "view_master_clean" -> masterCleanSql,
    "dash_kpi_window" -> dashKpiWindowSql,
    "dash_activity_heatmap" -> dashActivityHeatmapSql,
    "dash_top_airports" -> dashTopAirportsSql,
    "dash_causes_breakdown" -> dashCausesBreakdownSql,
    "dash_drilldown" -> dashDrilldownSql)
}
