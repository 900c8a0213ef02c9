package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.Det.{sqlSum, sqlOrderBy}

/** Window-function tier (SURVEY.md §2.6 `[EXT]`): ranking, analytic
  * (lag/lead), and frame-spec aggregates — the idiomatic Spark
  * formulation of the reference's "trend" views.
  *
  * Determinism: window ORDER BYs always include a unique tiebreaker;
  * sliding/running sums go through DECIMAL(28,5) (both engines aggregate
  * frames in different internal orders — DuckDB uses segment trees,
  * Spark re-scans the frame — decimal accumulation makes the order
  * irrelevant).
  *
  * Scale posture: every window partitions on a real key (mktsegment,
  * user_id) except the monthly trend ones, whose partition count equals
  * |months| — bounded and tiny relative to data, and the input to those
  * is already a pre-aggregated ~|months|-row frame, not raw rows.
  */
object Windows extends graft.QueryModule {

  /** row_number / rank / dense_rank: top-3 orders by value per market
    * segment. */
  def topnRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(w))
      .withColumn("drk", dense_rank().over(w))
      .filter($"rn" <= 3)
      .orderBy($"c_mktsegment", $"rn")
  }

  val topnRankSql: String =
    s"""SELECT * FROM (
       |  SELECT c_mktsegment, o_orderkey, o_totalprice,
       |    CAST(row_number() OVER w AS INTEGER) AS rn,
       |    CAST(rank() OVER w AS INTEGER) AS rk,
       |    CAST(dense_rank() OVER w AS INTEGER) AS drk
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WINDOW w AS (PARTITION BY c_mktsegment
       |               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey)
       |) WHERE rn <= 3${sqlOrderBy(Seq("c_mktsegment", "rn"))}""".stripMargin

  /** Top-k WITH TIES — the `FETCH FIRST k ROWS WITH TIES` semantic
    * that row_number-top-N silently breaks: ranking on the VALUE
    * (o_totalprice per segment, no tiebreaker in the rank) and keeping
    * rank() ≤ 3 admits every order tied at the boundary value, so two
    * orders with identical third-highest price BOTH survive. The
    * output order still needs the unique key — determinism of
    * presentation, not of membership. Where [[topnRank]] contrasts the
    * three rank functions under a tiebroken order, this query pins the
    * tie-ADMITTING contract (rows out can exceed 3 per group).
    *
    * Scale posture: same single segment-keyed window exchange as
    * topnRank; Spark's WindowGroupLimit pushes the rank()≤k filter
    * below the full window where supported. */
  def topkTies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"o_totalprice".desc)
    Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"o_orderkey", $"o_totalprice")
      .withColumn("rk", rank().over(w))
      .filter($"rk" <= 3)
      .orderBy($"c_mktsegment", $"rk", $"o_orderkey")
  }

  val topkTiesSql: String =
    s"""SELECT * FROM (
       |  SELECT c_mktsegment, o_orderkey, o_totalprice,
       |    CAST(rank() OVER (PARTITION BY c_mktsegment
       |      ORDER BY o_totalprice DESC NULLS LAST) AS INTEGER) AS rk
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |) WHERE rk <= 3${sqlOrderBy(Seq("c_mktsegment", "rk", "o_orderkey"))}""".stripMargin

  /** Monthly order revenue (pre-aggregated) as the base for the trend
    * windows below.
    *
    * The trend windows over this frame are deliberately UNPARTITIONED
    * (global month order), which makes WindowExec log its
    * single-partition warning. That is benign by construction: the
    * input is this pre-aggregated frame of |months| rows (~84 at any
    * scale factor — months don't grow with data volume), not raw
    * orders, so "all data to a single partition" is a bounded handful
    * of rows even at 100x data. Bench/Verify suppress that one logger
    * with this rationale. */
  private def monthlyRev(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .groupBy(year($"o_orderdate").as("year"),
        month($"o_orderdate").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        Det.xsum($"o_totalprice").as("revenue"))
  }

  private val monthlyRevSql: String =
    s"""m AS (
       |  SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       |         CAST(month(o_orderdate) AS INTEGER) AS month,
       |         COUNT(*) AS n_orders,
       |         ${sqlSum("o_totalprice")} AS revenue
       |  FROM orders GROUP BY 1, 2
       |)""".stripMargin

  /** lag/lead: month-over-month revenue delta. */
  def lagMom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"year", $"month")
    monthlyRev(spark, dir)
      .withColumn("prev_revenue", lag($"revenue", 1).over(w))
      .withColumn("next_revenue", lead($"revenue", 1).over(w))
      .withColumn("mom_delta", $"revenue" - $"prev_revenue")
      .orderBy($"year", $"month")
  }

  val lagMomSql: String =
    s"""WITH $monthlyRevSql
       |SELECT year, month, n_orders, revenue,
       |  lag(revenue, 1) OVER w AS prev_revenue,
       |  lead(revenue, 1) OVER w AS next_revenue,
       |  revenue - lag(revenue, 1) OVER w AS mom_delta
       |FROM m WINDOW w AS (ORDER BY year, month)${sqlOrderBy(Seq("year", "month"))}""".stripMargin

  /** Frame-spec aggregate: 3-month moving average of revenue
    * (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), decimal-exact. */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"year", $"month").rowsBetween(-2, 0)
    monthlyRev(spark, dir)
      .withColumn("mov_avg_3m",
        sum($"revenue".cast(Det.SumDec)).over(w).cast("double") /
          count(lit(1)).over(w))
      .orderBy($"year", $"month")
  }

  val movingAvgSql: String =
    s"""WITH $monthlyRevSql
       |SELECT year, month, n_orders, revenue,
       |  CAST(SUM(CAST(revenue AS DECIMAL(28,5))) OVER w AS DOUBLE)
       |    / COUNT(*) OVER w AS mov_avg_3m
       |FROM m WINDOW w AS (ORDER BY year, month
       |                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |${sqlOrderBy(Seq("year", "month")).trim}""".stripMargin

  /** Running (cumulative) total revenue — unbounded-preceding frame. */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"year", $"month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthlyRev(spark, dir)
      .withColumn("cum_revenue",
        sum($"revenue".cast(Det.SumDec)).over(w).cast("double"))
      .withColumn("cum_orders", sum($"n_orders").over(w))
      .orderBy($"year", $"month")
  }

  val runningTotalSql: String =
    s"""WITH $monthlyRevSql
       |SELECT year, month, n_orders, revenue,
       |  CAST(SUM(CAST(revenue AS DECIMAL(28,5))) OVER w AS DOUBLE) AS cum_revenue,
       |  CAST(SUM(n_orders) OVER w AS BIGINT) AS cum_orders
       |FROM m WINDOW w AS (ORDER BY year, month
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |${sqlOrderBy(Seq("year", "month")).trim}""".stripMargin

  /** Distribution functions: ntile/percent_rank/cume_dist over order
    * value within each market segment (unique tiebreaker keeps every
    * rank deterministic). */
  def distribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"o_orderkey", $"o_totalprice")
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .filter($"o_orderkey" % 100 === 0) // bounded, still spans quartiles
      .orderBy($"c_mktsegment", $"o_orderkey")
  }

  val distributionSql: String =
    s"""SELECT * FROM (
       |  SELECT c_mktsegment, o_orderkey, o_totalprice,
       |    CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       |    percent_rank() OVER w AS pct_rank,
       |    cume_dist() OVER w AS cume
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WINDOW w AS (PARTITION BY c_mktsegment
       |               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey)
       |) WHERE o_orderkey % 100 = 0${sqlOrderBy(Seq("c_mktsegment", "o_orderkey"))}""".stripMargin

  /** Value window functions: first/last/nth order value per segment
    * over the full-partition frame. */
  def firstLast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"o_orderkey", $"o_totalprice")
      .withColumn("best_order", first($"o_orderkey").over(w))
      .withColumn("worst_order", last($"o_orderkey").over(w))
      .withColumn("third_best", nth_value($"o_orderkey", 3).over(w))
      .filter($"o_orderkey" % 250 === 0)
      .orderBy($"c_mktsegment", $"o_orderkey")
  }

  val firstLastSql: String =
    s"""SELECT * FROM (
       |  SELECT c_mktsegment, o_orderkey, o_totalprice,
       |    first_value(o_orderkey) OVER w AS best_order,
       |    last_value(o_orderkey) OVER w AS worst_order,
       |    nth_value(o_orderkey, 3) OVER w AS third_best
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WINDOW w AS (PARTITION BY c_mktsegment
       |               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |) WHERE o_orderkey % 250 = 0${sqlOrderBy(Seq("c_mktsegment", "o_orderkey"))}""".stripMargin

  /** Numeric (value-based) RANGE frame — the frame mode [[movingAvg]]'s
    * ROWS frame cannot express: for each supplier, how many same-nation
    * peers sit within 1000 account-balance units BELOW it, and their
    * decimal-exact balance sum. RANGE frames are peer-inclusive (the
    * frame is defined by VALUE distance, not row position), so ties in
    * the ordering column cannot make the answer depend on sort
    * stability — deterministic by construction, unlike a ROWS frame
    * over a non-unique ordering.
    *
    * Scale posture: one nation-key shuffle + per-partition sort over
    * \|suppliers\| rows; the frame scan is the standard sliding-window
    * accumulation, linear per partition. */
  def rangeNumeric(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"s_nationkey").orderBy($"s_acctbal")
      .rangeBetween(-1000L, 0L)
    Tables(spark, dir, "supplier")
      .withColumn("peers_below", count(lit(1)).over(w))
      .withColumn("bal_sum",
        sum($"s_acctbal".cast(graft.Det.SumDec)).over(w).cast("double"))
      .select($"s_suppkey", $"s_nationkey", $"s_acctbal",
        $"peers_below", $"bal_sum")
      .orderBy($"s_suppkey")
  }

  val rangeNumericSql: String =
    s"""SELECT s_suppkey, s_nationkey, s_acctbal,
       |  COUNT(*) OVER w AS peers_below,
       |  CAST(SUM(CAST(s_acctbal AS DECIMAL(28,5))) OVER w AS DOUBLE)
       |    AS bal_sum
       |FROM supplier
       |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal
       |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
       |${sqlOrderBy(Seq("s_suppkey")).trim}""".stripMargin

  /** Sliding COUNT DISTINCT — how many different order priorities
    * appear among each customer's last 5 orders (a priority-churn signal). Spark has
    * no DISTINCT window aggregate, so the operator is composed as
    * `size(array_distinct(collect_list(...) over w))` — semantically
    * identical (set size is order-invariant) and still a single window
    * pass; the oracle states the intent directly with DuckDB's native
    * `COUNT(DISTINCT) OVER`. Frame order is (o_orderdate, o_orderkey) —
    * key-unique, so frame CONTENTS are deterministic even with date ties.
    *
    * Scale posture: one hash exchange on o_custkey, then per-partition
    * sorted windows; per-row state is the ≤5-element frame list, so
    * memory is O(frame), not O(partition). At 100 TB this is the same
    * plan with more partitions — no global sort, no driver state. */
  def countDistinctWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey").rowsBetween(-4, 0)
    Tables(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .withColumn("prios_5",
        size(array_distinct(collect_list($"o_orderpriority").over(w))).cast("long"))
      .select($"o_custkey", $"o_orderkey", $"prios_5")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val countDistinctWindowSql: String =
    s"""SELECT o_custkey, o_orderkey,
       |  COUNT(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey
       |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS prios_5
       |FROM orders${sqlOrderBy(Seq("o_custkey", "o_orderkey"))}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "window_count_distinct" -> countDistinctWindow,
    "window_range_numeric" -> rangeNumeric,
    "window_topn_rank" -> topnRank,
    "window_topk_ties" -> topkTies,
    "window_lag_mom" -> lagMom,
    "window_moving_avg" -> movingAvg,
    "window_running_total" -> runningTotal,
    "window_distribution" -> distribution,
    "window_first_last" -> firstLast)

  val oracles: Map[String, String] = Map(
    "window_count_distinct" -> countDistinctWindowSql,
    "window_range_numeric" -> rangeNumericSql,
    "window_topn_rank" -> topnRankSql,
    "window_topk_ties" -> topkTiesSql,
    "window_lag_mom" -> lagMomSql,
    "window_moving_avg" -> movingAvgSql,
    "window_running_total" -> runningTotalSql,
    "window_distribution" -> distributionSql,
    "window_first_last" -> firstLastSql)
}
