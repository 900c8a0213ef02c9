package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Det
import graft.Det.{sqlSum, sqlAvg, sqlNullRatio, sqlOrderBy}

/** Gold layer: the reference's three aggregate tables + row-level master
  * (`README.md:186-219`; Snowflake DDLs `NB_AIRLINE_DELAY_GOLD (1).ipynb`
  * nb:121-145 carrier, nb:221-245 monthly, nb:289-306 causes,
  * nb:350-380 master).
  *
  * Semantics note (SURVEY.md §2.4): `avg_delay_rate` is the reference's
  * *unweighted* average of per-row ratios (`README.md:189`), while
  * `delay_rate` on the aggregate rows is the *weighted*
  * `sum(del15)/sum(flights)` the Snowflake views use — both forms are
  * reproduced exactly.
  *
  * Scale posture: each gold table is ONE hash-aggregate over the silver
  * projection — partial (map-side) aggregation then a shuffle on the
  * low-cardinality grouping key; no joins, no row explosion. At 100 TB
  * the shuffle carries only |groups| x |columns| partial states, so these
  * queries are bandwidth-bound on the scan, which Catalyst prunes to the
  * referenced columns only.
  */
object Gold extends graft.QueryModule {

  private val causes =
    Seq("carrier_ct", "weather_ct", "nas_ct", "security_ct", "late_aircraft_ct")

  /** Round 14: the four gold tables are SERVED from partition-
    * incrementally materialized artifacts keyed on the reference's own
    * monthly grain (`year_month`) — the reference rebuilds gold with a
    * full overwrite (nb:1297-1303); here a late-arriving correction to
    * one month recomputes ONE partition through `sources/Incremental`
    * (fingerprint staleness → derive stale months only → atomic
    * manifest swap → vacuum). Valid because every gold grouping key
    * contains (year, month), so each output group lives in exactly one
    * month partition (gold_master opts OUT — see [[goldMaster]]: a
    * row-level table's serve scan is no smaller than its build scan,
    * so it stays a Catalyst view). The registered
    * queries return the SAME rows as a direct build (the parquet
    * round-trip of doubles/longs/strings is exact), so the oracles are
    * unchanged; GoldIncrementalSpec proves the one-month refresh and
    * the build equality.
    *
    * At 100 TB (round 15 — the read path no longer row-hashes): a
    * SERVE over an unchanged lake is one driver-side stat pass over
    * the fact table's files plus a manifest-resolved parquet read of
    * |groups| rows — the r14 form re-fingerprinted the whole fact
    * table per dashboard read (a measured 2.5× floor regression at
    * sf0.1 and a scale-killer at 100×). Only when the file metadata
    * trips does the row-hash tier run, and it still localizes the
    * rebuild to |changed months| (GoldIncrementalSpec's one-month
    * receipt is unchanged).
    *
    * The served table's schema comes from one parquet footer read on the
    * driver (`Incremental.read` via [[graft.ParquetRead]]), and the frame
    * is read as ONE partition: a served gold table holds |groups| rows
    * (one per month, or per carrier and month), small at any scale, so
    * the registered ORDER BY runs as a local sort — no range-partition
    * sampling job and no exchange. On an unchanged lake a served gold
    * query therefore plans without a job and executes as exactly one
    * (GoldServeCostSpec); past 32 months Spark lists the partition
    * directories with one more job at planning
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`). */
  private def servedGold(spark: SparkSession, dir: String, name: String,
      build: DataFrame => DataFrame): DataFrame = {
    val root = new java.io.File(
      "target/graft_gold_cache/v1/" +
        java.net.URLEncoder.encode(dir, "UTF-8") + s"/$name").getAbsolutePath
    graft.sources.Incremental.serve(spark,
      FlightPipeline.master(spark, dir), "year_month", build, root)
      .coalesce(1)
  }

  /** The per-month GOLD_CARRIER derivation `refresh` runs on stale
    * months (must carry the `year_month` partition key; the serving
    * wrapper drops it). */
  private[graft] def goldCarrierBuild(m: DataFrame): DataFrame = {
    import m.sparkSession.implicits._
    m.groupBy($"year_month", $"carrier", $"carrier_name", $"year", $"month")
      .agg(
        Det.xsum($"arr_flights").as("total_flights"),
        Det.xsum($"arr_del15").as("total_del15"),
        Det.xsum($"arr_cancelled").as("total_cancelled"),
        Det.xsum($"arr_diverted").as("total_diverted"),
        Det.xsum($"carrier_ct").as("total_carrier_ct"),
        Det.xsum($"weather_ct").as("total_weather_ct"),
        Det.xsum($"nas_ct").as("total_nas_ct"),
        Det.xsum($"security_ct").as("total_security_ct"),
        Det.xsum($"late_aircraft_ct").as("total_late_aircraft_ct"),
        Det.xsum($"arr_delay").as("total_delay"),
        Det.xsum($"carrier_delay").as("total_carrier_delay"),
        Det.xavg($"delay_rate").as("avg_delay_rate"))
      .withColumn("delay_rate", Det.nullRatio($"total_del15", $"total_flights"))
      .withColumn("cancel_rate",
        Det.nullRatio($"total_cancelled", $"total_flights"))
      .withColumn("divert_rate",
        Det.nullRatio($"total_diverted", $"total_flights"))
  }

  /** GOLD_CARRIER: per (carrier, year, month) totals + rates (nb:121-145). */
  def goldCarrier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedGold(spark, dir, "carrier", goldCarrierBuild)
      .drop("year_month")
      .orderBy($"carrier", $"year", $"month")
  }

  val goldCarrierSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT carrier, carrier_name, year, month,
       |    ${sqlSum("arr_flights")} AS total_flights,
       |    ${sqlSum("arr_del15")} AS total_del15,
       |    ${sqlSum("arr_cancelled")} AS total_cancelled,
       |    ${sqlSum("arr_diverted")} AS total_diverted,
       |    ${sqlSum("carrier_ct")} AS total_carrier_ct,
       |    ${sqlSum("weather_ct")} AS total_weather_ct,
       |    ${sqlSum("nas_ct")} AS total_nas_ct,
       |    ${sqlSum("security_ct")} AS total_security_ct,
       |    ${sqlSum("late_aircraft_ct")} AS total_late_aircraft_ct,
       |    ${sqlSum("arr_delay")} AS total_delay,
       |    ${sqlSum("carrier_delay")} AS total_carrier_delay,
       |    ${sqlAvg("delay_rate")} AS avg_delay_rate
       |  FROM master GROUP BY carrier, carrier_name, year, month
       |)
       |SELECT g.*,
       |  ${sqlNullRatio("total_del15", "total_flights")} AS delay_rate,
       |  ${sqlNullRatio("total_cancelled", "total_flights")} AS cancel_rate,
       |  ${sqlNullRatio("total_diverted", "total_flights")} AS divert_rate
       |FROM g${sqlOrderBy(Seq("carrier", "year", "month"))}""".stripMargin)

  /** Per-month GOLD_MONTHLY derivation — master's `year_month` column
    * IS the output label, so the partition key doubles as the F5 label
    * column and nothing is dropped on serve. */
  private[graft] def goldMonthlyBuild(m: DataFrame): DataFrame = {
    import m.sparkSession.implicits._
    m.groupBy($"year", $"month", $"year_month")
      .agg(
        Det.xsum($"arr_flights").as("total_flights"),
        Det.xsum($"arr_del15").as("total_del15"),
        Det.xsum($"arr_cancelled").as("total_cancelled"),
        Det.xsum($"arr_diverted").as("total_diverted"),
        Det.xsum($"arr_delay").as("total_delay"),
        Det.xavg($"delay_rate").as("avg_delay_rate"))
      .withColumn("delay_rate", Det.nullRatio($"total_del15", $"total_flights"))
  }

  /** GOLD_MONTHLY: per (year, month) totals + `year_month` label
    * (nb:221-245; label F5, SURVEY.md §2.5). */
  def goldMonthly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedGold(spark, dir, "monthly", goldMonthlyBuild)
      .select($"year", $"month", $"total_flights", $"total_del15",
        $"total_cancelled", $"total_diverted", $"total_delay",
        $"avg_delay_rate", $"delay_rate", $"year_month")
      .orderBy($"year", $"month")
  }

  val goldMonthlySql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT year, month,
       |    ${sqlSum("arr_flights")} AS total_flights,
       |    ${sqlSum("arr_del15")} AS total_del15,
       |    ${sqlSum("arr_cancelled")} AS total_cancelled,
       |    ${sqlSum("arr_diverted")} AS total_diverted,
       |    ${sqlSum("arr_delay")} AS total_delay,
       |    ${sqlAvg("delay_rate")} AS avg_delay_rate
       |  FROM master GROUP BY year, month
       |)
       |SELECT g.*,
       |  ${sqlNullRatio("total_del15", "total_flights")} AS delay_rate,
       |  CAST(year AS VARCHAR) || '-' || lpad(CAST(month AS VARCHAR), 2, '0') AS year_month
       |FROM g${sqlOrderBy(Seq("year", "month"))}""".stripMargin)

  /** GOLD_CAUSES: per (carrier, year, month) cause sums + split
    * percentages (nb:289-306). */
  private[graft] def goldCausesBuild(m: DataFrame): DataFrame = {
    import m.sparkSession.implicits._
    val sums = causes.map(c => Det.xsum(col(c)).as(s"total_$c"))
    var df = m
      .groupBy($"year_month", $"carrier", $"carrier_name", $"year", $"month")
      .agg(sums.head, sums.tail: _*)
      .withColumn("total_cause_minutes",
        causes.map(c => col(s"total_$c")).reduce(_ + _))
    for (c <- causes)
      df = df.withColumn(s"${c.stripSuffix("_ct")}_pct",
        Det.nullRatio(col(s"total_$c"), col("total_cause_minutes")))
    df
  }

  def goldCauses(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedGold(spark, dir, "causes", goldCausesBuild)
      .drop("year_month")
      .orderBy($"carrier", $"year", $"month")
  }

  val goldCausesSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT carrier, carrier_name, year, month,
       |    ${causes.map(c => s"${sqlSum(c)} AS total_$c").mkString(",\n    ")}
       |  FROM master GROUP BY carrier, carrier_name, year, month
       |),
       |g2 AS (
       |  SELECT g.*, ${causes.map(c => s"total_$c").mkString(" + ")} AS total_cause_minutes
       |  FROM g
       |)
       |SELECT g2.*,
       |  ${causes.map(c => s"${sqlNullRatio(s"total_$c", "total_cause_minutes")} AS ${c.stripSuffix("_ct")}_pct").mkString(",\n  ")}
       |FROM g2${sqlOrderBy(Seq("carrier", "year", "month"))}""".stripMargin)

  /** GOLD_MASTER: row-level master table (nb:350-380) — full output,
    * totally ordered (order by every column) so the hash compare is
    * order-insensitive. Row-level serve: the month partition carries
    * the master rows verbatim (identity derivation), so a late month
    * rewrites one partition of rows, never the table. */
  /** GOLD_MASTER serves as a DIRECT Catalyst view (round 15): the
    * materialization tier is for AGGREGATES, where the build collapses
    * the fact table to |groups| rows and a serve reads only those —
    * master is ROW-LEVEL, so a physical copy doubles storage and its
    * serve scan reads MORE than the build scan (28 materialized
    * columns vs the 17 source columns + a cheap codegen'd map;
    * measured 2.92 s served vs 1.79 s direct at sf0.1 — the r14 choice
    * inverted the economics). Freshness is by construction — a late
    * correction flows through the view on the next read; an operator
    * who wants a physical master anyway (e.g. to decouple serving from
    * the lake) still has the one-month-grain refresh capability
    * through `sources/Incremental` (GoldIncrementalSpec's master
    * case). */
  def goldMaster(spark: SparkSession, dir: String): DataFrame = {
    FlightPipeline.master(spark, dir)
      .select(FlightPipeline.masterCols.map(col): _*)
      .orderBy(FlightPipeline.masterCols.map(col): _*)
  }

  val goldMasterSql: String = FlightPipeline.withCtes(
    s"SELECT * FROM master${sqlOrderBy(FlightPipeline.masterCols)}")

  /** Silver as a checkable query of its own (ipynb:1171-1244). */
  def silverQuery(spark: SparkSession, dir: String): DataFrame = {
    val df = FlightPipeline.silver(spark, dir)
    df.orderBy(FlightPipeline.silverCols.map(col): _*)
  }

  val silverSqlQuery: String =
    s"WITH ${FlightPipeline.silverSql} SELECT * FROM silver" +
      sqlOrderBy(FlightPipeline.silverCols)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "silver_flightize" -> silverQuery,
    "gold_carrier" -> goldCarrier,
    "gold_monthly" -> goldMonthly,
    "gold_causes" -> goldCauses,
    "gold_master" -> goldMaster)

  val oracles: Map[String, String] = Map(
    "silver_flightize" -> silverSqlQuery,
    "gold_carrier" -> goldCarrierSql,
    "gold_monthly" -> goldMonthlySql,
    "gold_causes" -> goldCausesSql,
    "gold_master" -> goldMasterSql)
}
