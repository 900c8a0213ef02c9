package graft.star

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.Det.{sqlSum, sqlOrderBy}

/** Extended aggregation tier (SURVEY.md §2.4 `[EXT]`): multi-dimensional
  * rollup/cube/grouping-sets, distinct aggregates, approximate sketches,
  * top-k, and event-time bucketing.
  *
  * Scale posture: rollup/cube expand each input row into (levels) rows
  * *after* partial aggregation (Spark's Expand sits under the hash
  * aggregate), so the shuffle carries group states, not raw rows.
  * `approx_count_distinct` is a mergeable HLL sketch — constant memory
  * per group at any scale, the right tool at 100 TB where exact
  * count-distinct shuffles every key. Top-k compiles to
  * TakeOrderedAndProject (per-partition heaps, no global sort).
  */
object Aggs extends graft.QueryModule {

  /** ROLLUP (year, month): per-month, per-year subtotals + grand total. */
  def rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .select(year($"o_orderdate").as("year"),
        month($"o_orderdate").as("month"), $"o_totalprice")
      .rollup($"year", $"month")
      .agg(count(lit(1)).as("n_orders"),
        Det.xsum($"o_totalprice").as("revenue"))
      .orderBy($"year", $"month")
  }

  val rollupSql: String =
    s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       |       CAST(month(o_orderdate) AS INTEGER) AS month,
       |       COUNT(*) AS n_orders,
       |       ${sqlSum("o_totalprice")} AS revenue
       |FROM orders GROUP BY ROLLUP(1, 2)${sqlOrderBy(Seq("year", "month"))}""".stripMargin

  /** CUBE (status, priority): all 2^2 grouping combinations. */
  def cube2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        Det.xsum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  val cube2Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  COUNT(*) AS n_orders,
       |  ${sqlSum("o_totalprice")} AS revenue
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)${sqlOrderBy(Seq("o_orderstatus", "o_orderpriority"))}""".stripMargin

  /** GROUPING SETS ((status), (priority), ()): explicit set list. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_gs")
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority,
         |  COUNT(*) AS n_orders,
         |  ${sqlSum("o_totalprice")} AS revenue
         |FROM orders_gs
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
         |""".stripMargin)
  }

  val groupingSetsSql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  COUNT(*) AS n_orders,
       |  ${sqlSum("o_totalprice")} AS revenue
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())${sqlOrderBy(Seq("o_orderstatus", "o_orderpriority"))}""".stripMargin

  /** Exact distinct aggregates per return flag. */
  def countDistinct2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        countDistinct($"l_orderkey").as("n_orders"))
      .orderBy($"l_returnflag")
  }

  val countDistinct2Sql: String =
    s"""SELECT l_returnflag,
       |  COUNT(*) AS n_lines,
       |  COUNT(DISTINCT l_partkey) AS n_parts,
       |  COUNT(DISTINCT l_suppkey) AS n_supps,
       |  COUNT(DISTINCT l_orderkey) AS n_orders
       |FROM lineitem GROUP BY l_returnflag${sqlOrderBy(Seq("l_returnflag"))}""".stripMargin

  /** HLL sketch distinct (no oracle — engine-specific estimator; the
    * driver records a rows-only check). At 100 TB this replaces exact
    * distinct: constant-memory mergeable sketches, 2% default error. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey").as("approx_parts"),
        approx_count_distinct($"l_orderkey").as("approx_orders"))
      .orderBy($"l_returnflag")
  }

  /** Global top-20 orders by value (TakeOrderedAndProject). */
  def topkOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
  }

  val topkOrdersSql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
       |FROM orders
       |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST
       |LIMIT 20""".stripMargin

  /** Event-time daily bucketing (batch shape of the streaming tumbling
    * window): per (day, event_type) counts and value sums. */
  def eventsDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        Det.xsum($"value").as("total_value"),
        Det.xavg($"value").as("avg_value"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"day", $"event_type")
  }

  val eventsDailySql: String =
    s"""SELECT CAST(ts AS DATE) AS day, event_type,
       |  COUNT(*) AS n_events,
       |  ${sqlSum("value")} AS total_value,
       |  ${Det.sqlAvg("value")} AS avg_value,
       |  COUNT(DISTINCT user_id) AS n_users
       |FROM events GROUP BY 1, 2${sqlOrderBy(Seq("day", "event_type"))}""".stripMargin

  /** PIVOT: carrier revenue spread across columns per year (explicit
    * value list keeps the schema static — the scalable form; dynamic
    * pivot requires a values scan first). Oracle uses the portable
    * CASE-pivot, so Spark's pivot semantics are cross-checked. */
  def pivotCarriers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val carriers = Seq("A-F", "N-F", "N-O", "R-F")
    graft.pipeline.FlightPipeline.silver(spark, dir)
      .groupBy($"year")
      .pivot("carrier", carriers)
      .agg(Det.xsum($"arr_delay"))
      .orderBy($"year")
  }

  val pivotCarriersSql: String = {
    val cols = Seq("A-F", "N-F", "N-O", "R-F").map { c =>
      s"""${sqlSum(s"CASE WHEN carrier = '$c' THEN arr_delay END")} AS "$c""""
    }.mkString(",\n  ")
    graft.pipeline.FlightPipeline.withCtes(
      s"""SELECT year,
         |  $cols
         |FROM master GROUP BY year${sqlOrderBy(Seq("year"))}""".stripMargin)
  }

  /** Multi-aggregate pivot: each pivot value produces a column PER
    * aggregate (`{value}_{alias}` naming — proven against the oracle's
    * hand-written conditional aggregation with identical aliases).
    * Restricted to the two dense statuses so every (year, status) cell
    * is populated at all SFs: Spark leaves an EMPTY pivot cell NULL
    * where conditional COUNT yields 0 — a cross-engine seam this query
    * intentionally avoids rather than papers over. Same Expand-free
    * plan as the single-agg pivot: one partial-agg exchange carrying
    * |years| × |statuses| × 2 states. */
  def pivotMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .select(year($"o_orderdate").as("y"), $"o_orderstatus", $"o_totalprice")
      .groupBy($"y")
      .pivot("o_orderstatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"), Det.xsum($"o_totalprice").as("rev"))
      .orderBy($"y")
  }

  val pivotMultiSql: String = {
    val cols = Seq("F", "O").flatMap { s =>
      Seq(
        s"""COUNT(CASE WHEN o_orderstatus = '$s' THEN 1 END) AS "${s}_n"""",
        s"""${sqlSum(s"CASE WHEN o_orderstatus = '$s' THEN o_totalprice END")} AS "${s}_rev"""")
    }.mkString(",\n  ")
    s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
       |  $cols
       |FROM orders GROUP BY 1${sqlOrderBy(Seq("y"))}""".stripMargin
  }

  /** Exact discrete percentiles (p50/p90/p99 of line price per return
    * flag): the k-th order statistic (k = ceil(p*n)) as the SMALLEST
    * value whose cumulative count reaches k — engine-independent even
    * under ties, unlike interpolated `percentile`, whose lerp
    * arithmetic is not specified identically across engines.
    *
    * Scale posture: counting form, not rank-over-rows — the raw rows
    * collapse to (group, value) counts under a partial-agg'd shuffle
    * (fully parallel), and only |distinct values| rows flow through
    * the per-group cumulative window. For repeated-value metrics
    * (integer counts, bucketed scores — the common case) that is a
    * large reduction; for near-continuous values like these prices it
    * degenerates to the same window size, and the honest exact answer
    * then costs a per-group sort either way. [[approxPercentile]] is
    * the 100 TB twin: a mergeable GK/KLL-style sketch, constant memory
    * per group, no sort at all. */
  def percentileDisc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_returnflag").orderBy($"v")
    val wn = Window.partitionBy($"l_returnflag")
    Tables(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice".cast("double").as("v"))
      .groupBy($"l_returnflag", $"v")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(wn))
      .groupBy($"l_returnflag")
      .agg(
        min(when($"cum" >= ceil($"n" * 0.5), $"v")).as("p50"),
        min(when($"cum" >= ceil($"n" * 0.9), $"v")).as("p90"),
        min(when($"cum" >= ceil($"n" * 0.99), $"v")).as("p99"))
      .orderBy($"l_returnflag")
  }

  val percentileDiscSql: String =
    s"""WITH counts AS (
       |  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT l_returnflag, v,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
       |    SUM(c) OVER (PARTITION BY l_returnflag) AS n
       |  FROM counts
       |)
       |SELECT l_returnflag,
       |  MIN(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS p50,
       |  MIN(CASE WHEN cum >= ceil(n * 0.9) THEN v END) AS p90,
       |  MIN(CASE WHEN cum >= ceil(n * 0.99) THEN v END) AS p99
       |FROM r GROUP BY l_returnflag${sqlOrderBy(Seq("l_returnflag"))}""".stripMargin

  /** Two-scan EXACT quantiles via a coarse histogram sketch — the
    * 100 TB answer to [[percentileDisc]]'s documented degenerate case
    * (near-continuous values make the value-level collapse as big as
    * the data, and the honest one-pass exact answer then needs a
    * per-group sort). Same guarantee discipline as
    * `text_heavy_guaranteed`: a bounded first pass NARROWS, an exact
    * second pass ANSWERS, and the result is oracle-checkable — no
    * approximation leaves the plan.
    *
    * Scan 1 groups values into fixed 2^16-cent buckets — the shuffle
    * carries |groups|×|buckets| counts (thousands of rows regardless
    * of N) — and a per-group cumulative window locates, for each
    * target rank k = ⌈p·n/100⌉ (integer-exact: (n·p+99) div 100, the
    * winsorized-mean lesson — decimal 0.9 in DuckDB vs double 0.9 in
    * Spark can ceil across a rank boundary), the ONE bucket containing
    * the k-th order statistic and the residual rank inside it. Scan 2
    * re-reads only rows landing in target buckets (≈ n/|buckets| rows
    * per group-quantile — the broadcast target table prunes at the
    * scan), ranks them in bucket-sized windows, and picks the residual
    * rank. No global sort, no value-level collapse, both exchanges
    * metadata-sized; ties are harmless (the k-th smallest VALUE is
    * well-defined under any tiebreak).
    *
    * The oracle is deliberately the opposite formulation — one global
    * per-group row_number over all values joined against the rank
    * table — so the engines cross-check the order statistic itself,
    * not each other's bucketing. */
  def quantileTwoScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val bucketW = 1L << 16
    val vals = Tables(spark, dir, "lineitem")
      .select($"l_returnflag",
        round($"l_extendedprice" * 100).cast("bigint").as("v"))
      .withColumn("b", ($"v" / bucketW).cast("long"))
    val wCum = Window.partitionBy($"l_returnflag").orderBy($"b")
    val wN = Window.partitionBy($"l_returnflag")
    val qs = Seq(50, 90, 99).toDF("p")
    val targets = vals.groupBy($"l_returnflag", $"b")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(wN))
      .crossJoin(broadcast(qs))
      .withColumn("rank", expr("(n * CAST(p AS BIGINT) + 99) DIV 100"))
      .filter($"cum" >= $"rank" && $"cum" - $"c" < $"rank")
      .select($"l_returnflag", $"p", $"b",
        ($"rank" - ($"cum" - $"c")).as("rk_in_bucket"))
    val wPick = Window.partitionBy($"l_returnflag", $"p").orderBy($"v")
    vals.join(broadcast(targets), Seq("l_returnflag", "b"))
      .withColumn("rn", row_number().over(wPick))
      .filter($"rn" === $"rk_in_bucket")
      .select($"l_returnflag", $"p", $"v".as("quantile_cents"))
      .orderBy($"l_returnflag", $"p")
  }

  val quantileTwoScanSql: String =
    s"""WITH vals AS (
       |  SELECT l_returnflag,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
       |  FROM lineitem
       |),
       |n AS (SELECT l_returnflag, COUNT(*) AS n FROM vals GROUP BY 1),
       |qs AS (SELECT CAST(unnest([50, 90, 99]) AS INTEGER) AS p),
       |r AS (
       |  SELECT l_returnflag, v,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn
       |  FROM vals
       |),
       |t AS (
       |  SELECT l_returnflag, p, (n * p + 99) // 100 AS rank
       |  FROM n CROSS JOIN qs
       |)
       |SELECT * FROM (
       |  SELECT t.l_returnflag, t.p, r.v AS quantile_cents
       |  FROM t JOIN r ON r.l_returnflag = t.l_returnflag AND r.rn = t.rank
       |)
       |${sqlOrderBy(Seq("l_returnflag", "p")).trim}""".stripMargin

  /** ANSI `percentile_cont` in engine-portable form — the INTERPOLATED
    * percentile completing the family ([[percentileDisc]] exact
    * discrete / [[approxPercentile]] sketch): at 0-based fractional
    * rank h = p·(n−1), blend the values at ranks ⌊h⌋ and ⌈h⌉ by the
    * fraction h−⌊h⌋. Built-in percentile_cont is NOT used on either
    * side: the two engines' builtins need not share tie/rounding
    * behavior, so both run THIS formulation — rank lookups as
    * cumulative-count threshold scans over value-level counts (never
    * a per-row row_number), and the blend a fixed IEEE sequence on
    * identical inputs. Interpolation is well-defined under ties
    * because rank positions in the sorted multiset have unique
    * values at each threshold.
    *
    * Scale posture: same as percentileDisc — one partial-agg to
    * value-level counts, windows over |distinct values| per group. */
  def percentileCont(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_returnflag").orderBy($"v")
    val wn = Window.partitionBy($"l_returnflag")
    def h(p: Double) = ($"n" - 1) * lit(p)
    def lo(p: Double) = min(when($"cum" >= floor(h(p)) + 1, $"v"))
    def hi(p: Double) = min(when($"cum" >= ceil(h(p)) + 1, $"v"))
    def blend(p: Double, l: org.apache.spark.sql.Column,
        hc: org.apache.spark.sql.Column) = {
      val hh = ($"n" - 1) * lit(p)
      l + (hh - floor(hh)) * (hc - l)
    }
    Tables(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice".cast("double").as("v"))
      .groupBy($"l_returnflag", $"v")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(wn))
      .groupBy($"l_returnflag")
      .agg(max($"n").as("n"),
        lo(0.5).as("lo50"), hi(0.5).as("hi50"),
        lo(0.9).as("lo90"), hi(0.9).as("hi90"))
      .select($"l_returnflag", $"n",
        blend(0.5, $"lo50", $"hi50").as("p50_cont"),
        blend(0.9, $"lo90", $"hi90").as("p90_cont"))
      .orderBy($"l_returnflag")
  }

  val percentileContSql: String =
    s"""WITH counts AS (
       |  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT l_returnflag, v,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
       |    SUM(c) OVER (PARTITION BY l_returnflag) AS n
       |  FROM counts
       |),
       |g AS (
       |  -- h = p*(n-1) must be DOUBLE arithmetic: a bare 0.9 literal is
       |  -- DECIMAL in DuckDB (exact 0.9), which would diverge from
       |  -- Spark's double h by ~1e-13 in the blend fraction
       |  SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       |    MIN(CASE WHEN cum >= floor((n - 1) * CAST(0.5 AS DOUBLE)) + 1
       |        THEN v END) AS lo50,
       |    MIN(CASE WHEN cum >= ceil((n - 1) * CAST(0.5 AS DOUBLE)) + 1
       |        THEN v END) AS hi50,
       |    MIN(CASE WHEN cum >= floor((n - 1) * CAST(0.9 AS DOUBLE)) + 1
       |        THEN v END) AS lo90,
       |    MIN(CASE WHEN cum >= ceil((n - 1) * CAST(0.9 AS DOUBLE)) + 1
       |        THEN v END) AS hi90
       |  FROM r GROUP BY l_returnflag
       |)
       |SELECT l_returnflag, n,
       |  lo50 + ((n - 1) * CAST(0.5 AS DOUBLE)
       |    - floor((n - 1) * CAST(0.5 AS DOUBLE))) * (hi50 - lo50)
       |    AS p50_cont,
       |  lo90 + ((n - 1) * CAST(0.9 AS DOUBLE)
       |    - floor((n - 1) * CAST(0.9 AS DOUBLE))) * (hi90 - lo90)
       |    AS p90_cont
       |FROM g${sqlOrderBy(Seq("l_returnflag"))}""".stripMargin

  /** Sketch percentiles (no oracle — engine-specific estimator; driver
    * records rows-only; the deterministic acceptance bound vs
    * [[percentileDisc]] is asserted in ApproxSpec). */
  def approxPercentile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice".cast("double").as("v"))
      .groupBy($"l_returnflag")
      .agg(percentile_approx($"v", array(lit(0.5), lit(0.9), lit(0.99)),
        lit(10000)).as("pcts"))
      .select($"l_returnflag",
        $"pcts" (0).as("p50"), $"pcts" (1).as("p90"), $"pcts" (2).as("p99"))
      .orderBy($"l_returnflag")
  }

  /** CUBE with an explicit grouping_id: the bit vector that tells a
    * report which dimensions a row aggregates over — the disambiguator
    * between "NULL because the dimension is rolled up" and "NULL because
    * the data is NULL". Spark's grouping_id(a,b) and DuckDB's
    * GROUPING(a,b) define the same MSB-first bit order; the hash gate
    * proves it. */
  def groupingId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        Det.xsum($"o_totalprice").as("revenue"))
      .select($"o_orderstatus", $"o_orderpriority", $"gid", $"n_orders",
        $"revenue")
      .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
  }

  val groupingIdSql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
       |  COUNT(*) AS n_orders,
       |  ${sqlSum("o_totalprice")} AS revenue
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |${sqlOrderBy(Seq("gid", "o_orderstatus", "o_orderpriority")).trim}""".stripMargin

  /** Native SQL UNPIVOT (wide metrics → long form) — the inverse of
    * [[pivotCarriers]]. Map-only (each input row emits one row per
    * metric; no shuffle beyond the feeding aggregate). The DuckDB
    * oracle uses its own UNPIVOT clause — two independent dialects,
    * same relational semantics. */
  def unpivotNative(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_up")
    spark.sql(
      s"""SELECT o_orderstatus, metric, v FROM (
         |  SELECT o_orderstatus,
         |    COUNT(*) AS n_orders,
         |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
         |  FROM orders_up GROUP BY o_orderstatus
         |) UNPIVOT (v FOR metric IN (n_orders, n_custs))
         |ORDER BY o_orderstatus, metric""".stripMargin)
  }

  val unpivotNativeSql: String =
    s"""SELECT o_orderstatus, metric, v FROM (
       |  SELECT o_orderstatus,
       |    CAST(COUNT(*) AS BIGINT) AS n_orders,
       |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
       |  FROM orders GROUP BY 1
       |) UNPIVOT (v FOR metric IN (n_orders, n_custs))
       |${sqlOrderBy(Seq("o_orderstatus", "metric")).trim}""".stripMargin

  /** Persisted-sketch distinct counting: per-month DataSketches HLL
    * sketches of the customer set, union-merged to quarters — the
    * incremental-pipeline pattern at 100 TB (store a sketch per
    * partition; re-aggregation is a cheap sketch union, never a rescan
    * of raw keys). No DuckDB oracle — DataSketches estimates are
    * engine-specific — so the registry records rows-only and
    * `ApproxSpec` bounds the estimate against the exact count. */
  def hllMerge(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_hll")
    spark.sql(
      s"""WITH s AS (
         |  SELECT month(o_orderdate) AS m, hll_sketch_agg(o_custkey) AS sk
         |  FROM orders_hll GROUP BY 1
         |)
         |SELECT CAST((m - 1) DIV 3 AS INT) AS quarter,
         |  hll_sketch_estimate(hll_union_agg(sk)) AS est_custs
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** LISTAGG / string_agg — the report-friendly "collapse a dimension
    * into one cell" aggregate. Collection aggregates are order-
    * NONdeterministic by default (collect order = task completion
    * order); the deterministic form sorts the collected set before
    * joining, which is also the only form two engines can agree on.
    * Map-side partial collect_set keeps the shuffle carrying distinct
    * values only (bounded by the value domain, not row count). */
  def listAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        array_join(array_sort(collect_set($"o_orderpriority")), ",")
          .as("priorities"),
        countDistinct($"o_orderpriority").cast("long").as("n_distinct"))
      .orderBy($"o_orderstatus")
  }

  val listAggSql: String =
    s"""SELECT o_orderstatus,
       |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
       |    AS priorities,
       |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct
       |FROM orders GROUP BY 1${sqlOrderBy(Seq("o_orderstatus"))}""".stripMargin

  /** Sample stddev + Pearson correlation from exact decimal moments —
    * the Det discipline extended to SECOND moments: built-in
    * stddev/corr accumulate doubles in task order (non-deterministic
    * across engines AND across partition counts), so both are restated
    * from order-independent decimal sums (Σx, Σx², Σxy) followed by a
    * fixed IEEE op sequence both engines execute identically.
    * Scales chosen per column so every sum's unscaled value stays
    * < 2^53 at sf1 where exactness matters (q, q² at scale 5; price at
    * its native scale 2; price² at scale 0 — its 4-decimal fraction is
    * provably never exactly .5, squares mod 16 can't hit 8, so both
    * engines' double→decimal rounding agrees). Same one-exchange
    * partial-agg shape as any sum. */
  def statsMoments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum($"l_quantity".cast("decimal(28,5)")).cast("double").as("sq"),
        sum(expr("cast(l_quantity * l_quantity as decimal(28,5))"))
          .cast("double").as("sqq"),
        sum($"l_extendedprice".cast("decimal(28,2)")).cast("double").as("sp"),
        sum(expr("cast(l_extendedprice * l_extendedprice as decimal(28,0))"))
          .cast("double").as("spp"),
        sum(expr("cast(l_quantity * l_extendedprice as decimal(28,2))"))
          .cast("double").as("sqp"))
      .select($"l_returnflag",
        $"n".cast("long").as("n_rows"),
        ($"sq" / $"n").as("mean_qty"),
        sqrt(($"n" * $"sqq" - $"sq" * $"sq") / ($"n" * ($"n" - 1)))
          .as("stddev_qty"),
        (($"n" * $"sqp" - $"sq" * $"sp") /
          (sqrt($"n" * $"sqq" - $"sq" * $"sq") *
            sqrt($"n" * $"spp" - $"sp" * $"sp")))
          .as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }

  val statsMomentsSql: String =
    s"""WITH g AS (
       |  SELECT l_returnflag,
       |    CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE) AS sq,
       |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,5))) AS DOUBLE) AS sqq,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sp,
       |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,0))) AS DOUBLE) AS spp,
       |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sqp
       |  FROM lineitem GROUP BY 1
       |)
       |SELECT l_returnflag,
       |  CAST(n AS BIGINT) AS n_rows,
       |  sq / n AS mean_qty,
       |  sqrt((n * sqq - sq * sq) / (n * (n - 1))) AS stddev_qty,
       |  (n * sqp - sq * sp)
       |    / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp))
       |    AS corr_qty_price
       |FROM g${sqlOrderBy(Seq("l_returnflag"))}""".stripMargin

  /** Deterministic ARRAY aggregation — collect_set is UNORDERED by
    * contract in both engines, so the only hash-gatable form is
    * sort_array(collect_set(...)): per market segment, the sorted
    * distinct order-priority set, its size, and the first element.
    * The set is surfaced through the gate as a concat_ws(',') STRING
    * twin rather than a raw ARRAY cell: the comparator runtime cannot
    * sort rows whose ordering touches an ARRAY column (r4: the pandas
    * lexsort crashed on it), and a canonical joined string carries the
    * identical information with exact cross-engine hashing. The
    * nested ARRAY form itself stays covered by the Spark-side spec
    * (AggsSpec), which asserts element order and content. Pins the
    * discipline every deterministic pipeline needs: never persist a
    * bare collect_list/collect_set — order is an accident of
    * partitioning.
    *
    * Scale posture: distinct (segment, priority) pairs collapse
    * map-side; the arrays are bounded at |priorities| elements. */
  def arrayCollect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(sort_array(collect_set($"o_orderpriority")).as("pr_set"))
      .select($"c_mktsegment",
        concat_ws(",", $"pr_set").as("priorities_csv"),
        size($"pr_set").as("n_priorities"),
        element_at($"pr_set", 1).as("first_priority"))
      .orderBy($"c_mktsegment")
  }

  /** The ARRAY column lives on for typed consumers — same plan as
    * [[arrayCollect]] but keeping the nested `priorities` column.
    * Spec-gated only (AggsSpec): the oracle comparator cannot order
    * rows on ARRAY cells. */
  def arrayCollectNested(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(sort_array(collect_set($"o_orderpriority")).as("priorities"))
      .orderBy($"c_mktsegment")
  }

  val arrayCollectSql: String =
    s"""SELECT c_mktsegment,
       |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
       |    AS priorities_csv,
       |  CAST(len(list(DISTINCT o_orderpriority)) AS INTEGER)
       |    AS n_priorities,
       |  list_sort(list(DISTINCT o_orderpriority))[1] AS first_priority
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment${sqlOrderBy(Seq("c_mktsegment"))}""".stripMargin

  /** Exact WEIGHTED median — the order statistic where half the
    * REVENUE sits below, not half the rows (the distinction between
    * "typical line" and "typical dollar"): per return flag, the
    * quantity at which cumulative price-weight first reaches half the
    * total, weights in exact BIGINT cents and the crossing test stated
    * as 2·cum ≥ tot so no halving ever leaves the integers. The
    * unweighted median computed in the same pass shows the gap the
    * weighting creates. Same value-level-count plan as
    * [[percentileDisc]] — weights just replace counts.
    *
    * Scale posture: one partial-agg to value-level (flag, qty) cells
    * with summed weights; bounded cumulative windows per flag. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"g").orderBy($"v")
    val wn = Window.partitionBy($"g")
    Tables(spark, dir, "lineitem")
      .select($"l_returnflag".as("g"),
        $"l_quantity".cast("double").as("v"),
        round($"l_extendedprice" * 100).cast("long").as("wt"))
      .groupBy($"g", $"v")
      .agg(sum($"wt").as("ws"), count(lit(1)).as("c"))
      .withColumn("cum_w", sum($"ws").over(w))
      .withColumn("tot_w", sum($"ws").over(wn))
      .withColumn("cum_c", sum($"c").over(w))
      .withColumn("tot_c", sum($"c").over(wn))
      .groupBy($"g")
      .agg((max($"tot_w").cast("double") / 100.0).as("total_revenue"),
        min(when($"cum_w" * 2 >= $"tot_w", $"v")).as("weighted_median_qty"),
        min(when($"cum_c" * 2 >= $"tot_c", $"v")).as("median_qty"))
      .orderBy($"g")
  }

  val weightedMedianSql: String =
    s"""WITH cells AS (
       |  SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS v,
       |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |      AS ws,
       |    COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT g, v,
       |    SUM(ws) OVER (PARTITION BY g ORDER BY v) AS cum_w,
       |    SUM(ws) OVER (PARTITION BY g) AS tot_w,
       |    SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum_c,
       |    SUM(c) OVER (PARTITION BY g) AS tot_c
       |  FROM cells
       |)
       |SELECT g,
       |  CAST(MAX(tot_w) AS DOUBLE) / 100.0 AS total_revenue,
       |  MIN(CASE WHEN cum_w * 2 >= tot_w THEN v END) AS weighted_median_qty,
       |  MIN(CASE WHEN cum_c * 2 >= tot_c THEN v END) AS median_qty
       |FROM r GROUP BY g${sqlOrderBy(Seq("g"))}""".stripMargin

  /** Boolean-aggregate parity — `count_if` / `bool_and` / `bool_or`,
    * the predicate-reduction trio both engines ship natively: per
    * priority class, how many orders are large, whether EVERY order
    * is above the floor, and whether ANY is pending. Feature-binding
    * parity like GROUP BY ALL: both sides run the same named
    * aggregates, so a semantic difference in the builtins themselves
    * (not just in our arithmetic) would hash-mismatch. The boolean
    * reductions are surfaced as INT (0/1): exact integers hash
    * identically across engines and comparator runtimes, where raw
    * BOOLEAN cells do not (r4: rows/schema green, hash red purely on
    * the comparator's boolean encoding). The `count_if` itself needs
    * an oracle-side `CAST(... AS BIGINT)`: DuckDB's count_if yields
    * HUGEINT, which lands in pandas as float64 and hash-diverges from
    * Spark's int64 even when every value is equal (r5 root cause).
    *
    * Scale posture: one partial-agg exchange; boolean aggregates are
    * trivially mergeable (AND/OR/count are associative+commutative). */
  def boolAggs(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_ba")
    spark.sql(
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  count_if(o_totalprice > 300000) AS n_large,
        |  CAST(bool_and(o_totalprice > 1000) AS INT) AS all_above_floor,
        |  CAST(bool_or(o_orderstatus = 'P') AS INT) AS any_pending
        |FROM orders_ba
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val boolAggsSql: String =
    s"""SELECT o_orderpriority,
       |  COUNT(*) AS n_orders,
       |  CAST(count_if(o_totalprice > 300000) AS BIGINT) AS n_large,
       |  CAST(bool_and(o_totalprice > 1000) AS INT) AS all_above_floor,
       |  CAST(bool_or(o_orderstatus = 'P') AS INT) AS any_pending
       |FROM orders
       |GROUP BY o_orderpriority${sqlOrderBy(Seq("o_orderpriority"))}""".stripMargin

  /** Winsorized mean — the robust average that CLAMPS tails instead of
    * dropping them (the companion to the MAD fence, which rejects, and
    * the trimmed mean, which deletes): order values are capped at the
    * group's exact discrete p05/p95 before a decimal-exact mean. Rank
    * thresholds are pure integer arithmetic — ⌈n/20⌉ = (n+19) div 20 —
    * because a double n·0.05 can round across the rank boundary where
    * DuckDB's decimal 0.05 does not (the percentile_cont lesson,
    * applied at the source this time). Clamped values stay on the 2dp
    * money grid, so the mean is decimal-exact in both engines.
    *
    * Scale posture: threshold discovery is the percentileDisc plan
    * (value-level counts, bounded windows); the clamp pass re-scans
    * with the |groups|-row threshold table broadcast — two scans
    * total, no per-row sort anywhere. */
  def winsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val vals = Tables(spark, dir, "orders")
      .select($"o_orderpriority".as("g"), $"o_totalprice".as("v"))
    val w = Window.partitionBy($"g").orderBy($"v")
    val wn = Window.partitionBy($"g")
    val th = vals.groupBy($"g", $"v").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(wn))
      .groupBy($"g")
      .agg(
        min(when($"cum" >= expr("(n + 19) div 20"), $"v")).as("lo"),
        min(when($"cum" >= expr("(19 * n + 19) div 20"), $"v")).as("hi"))
    vals.join(broadcast(th), "g")
      .select($"g", least(greatest($"v", $"lo"), $"hi").as("cv"),
        $"v", $"lo", $"hi")
      .groupBy($"g")
      .agg(count(lit(1)).as("n_orders"),
        max($"lo").as("p05"), max($"hi").as("p95"),
        graft.Det.xavg($"cv").as("winsorized_mean"),
        graft.Det.xavg($"v").as("plain_mean"))
      .orderBy($"g")
  }

  val winsorizedMeanSql: String =
    s"""WITH vals AS (
       |  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
       |),
       |counts AS (SELECT g, v, COUNT(*) AS c FROM vals GROUP BY 1, 2),
       |r AS (
       |  SELECT g, v,
       |    SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
       |    SUM(c) OVER (PARTITION BY g) AS n
       |  FROM counts
       |),
       |th AS (
       |  SELECT g,
       |    MIN(CASE WHEN cum >= (n + 19) // 20 THEN v END) AS lo,
       |    MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN v END) AS hi
       |  FROM r GROUP BY g
       |)
       |SELECT vals.g, COUNT(*) AS n_orders,
       |  MAX(lo) AS p05, MAX(hi) AS p95,
       |  ${graft.Det.sqlAvg("LEAST(GREATEST(v, lo), hi)")} AS winsorized_mean,
       |  ${graft.Det.sqlAvg("v")} AS plain_mean
       |FROM vals JOIN th ON vals.g = th.g
       |GROUP BY vals.g${sqlOrderBy(Seq("vals.g"))}""".stripMargin

  /** Pairwise Pearson correlation MATRIX of the five delay causes —
    * the multivariate extension of [[statsMoments]]: one scan computes
    * every moment (5 sums, 5 squares, 10 cross-products) in exact
    * decimal, then all 10 pairwise correlations derive from that
    * single 1-row aggregate as fixed IEEE sequences (sqrt is correctly
    * rounded in both engines). Long-form output (cause_x, cause_y,
    * corr) via a generator over the aggregate row — the matrix never
    * re-scans. Decimal(28,8) keeps every product exact (cause values
    * are ≤4dp, bounded ≤ ~81, so sums stay below 2^53 unscaled through
    * sf0.1; a 100 TB run would raise precision or switch to the
    * co-moment streaming form).
    *
    * Scale posture: ONE partial-agg pass over the corpus for the whole
    * matrix — 21 mergeable decimal states; everything after is a 1-row
    * computation. The naive per-pair corr() would scan 10 times. */
  def causeCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val causes = Seq("carrier" -> "carrier_ct", "weather" -> "weather_ct",
      "nas" -> "nas_ct", "security" -> "security_ct",
      "late_aircraft" -> "late_aircraft_ct")
    val aggExprs = Seq(count(lit(1)).cast("double").as("n")) ++
      causes.map { case (k, c) =>
        sum(col(c).cast("decimal(28,8)")).cast("double").as(s"s_$k") } ++
      (for { i <- causes.indices; j <- i until causes.length } yield {
        val (ki, ci) = causes(i); val (kj, cj) = causes(j)
        sum(expr(s"cast($ci * $cj as decimal(28,8))")).cast("double")
          .as(s"s_${ki}_${kj}")
      })
    def corr(ki: String, kj: String) =
      (($"n" * col(s"s_${ki}_${kj}") - col(s"s_$ki") * col(s"s_$kj")) /
        (sqrt($"n" * col(s"s_${ki}_${ki}") - col(s"s_$ki") * col(s"s_$ki")) *
          sqrt($"n" * col(s"s_${kj}_${kj}") - col(s"s_$kj") * col(s"s_$kj"))))
    val pairs = for {
      i <- causes.indices; j <- (i + 1) until causes.length
    } yield struct(lit(causes(i)._1).as("cause_x"),
      lit(causes(j)._1).as("cause_y"),
      corr(causes(i)._1, causes(j)._1).as("corr"))
    graft.pipeline.FlightPipeline.silver(spark, dir)
      .agg(aggExprs.head, aggExprs.tail.toIndexedSeq: _*)
      .select(explode(array(pairs.toIndexedSeq: _*)).as("p"))
      .select($"p.cause_x", $"p.cause_y", $"p.corr".as("corr"))
      .orderBy($"cause_x", $"cause_y")
  }

  val causeCorrSql: String = {
    val causes = Seq("carrier" -> "carrier_ct", "weather" -> "weather_ct",
      "nas" -> "nas_ct", "security" -> "security_ct",
      "late_aircraft" -> "late_aircraft_ct")
    val moments = (Seq("CAST(COUNT(*) AS DOUBLE) AS n") ++
      causes.map { case (k, c) =>
        s"CAST(SUM(CAST($c AS DECIMAL(28,8))) AS DOUBLE) AS s_$k" } ++
      (for { i <- causes.indices; j <- i until causes.length } yield {
        val (ki, ci) = causes(i); val (kj, cj) = causes(j)
        s"CAST(SUM(CAST($ci * $cj AS DECIMAL(28,8))) AS DOUBLE) AS s_${ki}_${kj}"
      })).mkString(",\n    ")
    val rows = (for {
      i <- causes.indices; j <- (i + 1) until causes.length
    } yield {
      val ki = causes(i)._1; val kj = causes(j)._1
      s"""SELECT '$ki' AS cause_x, '$kj' AS cause_y,
         |  (n * s_${ki}_${kj} - s_$ki * s_$kj)
         |    / (sqrt(n * s_${ki}_${ki} - s_$ki * s_$ki)
         |       * sqrt(n * s_${kj}_${kj} - s_$kj * s_$kj)) AS corr
         |FROM g""".stripMargin
    }).mkString("\nUNION ALL\n")
    // NOT withCtes: the master CTE is unused here and withCtes leaves no
    // slot for a further CTE — compose silver + g directly
    s"""WITH ${graft.pipeline.FlightPipeline.silverSql},
       |g AS (
       |  SELECT
       |    $moments
       |  FROM silver
       |)
       |SELECT * FROM (
       |$rows
       |)${sqlOrderBy(Seq("cause_x", "cause_y"))}""".stripMargin
  }

  /** SQL-standard FILTER clause on aggregates — the readable form of
    * conditional aggregation (vs CASE-WHEN-inside-SUM): one scan, many
    * differently-filtered aggregates, the workhorse of KPI sheets.
    * Catalyst compiles both forms to the same conditional partial agg;
    * the oracle uses DuckDB's FILTER clause — feature parity, not just
    * result parity. */
  def filterClause(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_fc")
    spark.sql(
      s"""SELECT o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,5)))
         |    FILTER (WHERE year(o_orderdate) = 1995) AS DOUBLE) AS rev_1995,
         |  CAST(COUNT(DISTINCT o_custkey)
         |    FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS big_spenders
         |FROM orders_fc GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin)
  }

  val filterClauseSql: String =
    s"""SELECT o_orderstatus,
       |  COUNT(*) AS n_orders,
       |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,5)))
       |    FILTER (WHERE CAST(year(o_orderdate) AS INTEGER) = 1995) AS DOUBLE)
       |    AS rev_1995,
       |  CAST(COUNT(DISTINCT o_custkey)
       |    FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS big_spenders
       |FROM orders GROUP BY o_orderstatus
       |${sqlOrderBy(Seq("o_orderstatus")).trim}""".stripMargin

  /** Distribution-of-group-sizes histogram (lineitems per order) — the
    * two-level aggregate every capacity model starts from. Both levels
    * are partial-agg'd; level 2's input is |orders| rows, its output
    * |distinct sizes|. The share is one exact-count IEEE division
    * against a broadcast 1-row total. */
  def orderSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sizes = Tables(spark, dir, "lineitem")
      .groupBy($"l_orderkey").agg(count(lit(1)).as("n_items"))
    val hist = sizes.groupBy($"n_items").agg(count(lit(1)).as("n_orders"))
    val total = sizes.agg(count(lit(1)).as("n_total"))
    hist.crossJoin(broadcast(total))
      .select($"n_items", $"n_orders",
        ($"n_orders" / $"n_total".cast("double")).as("share"))
      .orderBy($"n_items")
  }

  val orderSizeHistogramSql: String =
    s"""WITH s AS (
       |  SELECT l_orderkey, COUNT(*) AS n_items FROM lineitem GROUP BY 1
       |),
       |h AS (SELECT n_items, COUNT(*) AS n_orders FROM s GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n_total FROM s)
       |SELECT n_items, n_orders,
       |  n_orders / CAST(n_total AS DOUBLE) AS share
       |FROM h CROSS JOIN t${sqlOrderBy(Seq("n_items"))}""".stripMargin

  /** Audience-overlap estimation from KMV (theta-style) sketches — the
    * set-EXPRESSION cardinality HLL cannot answer: per-segment sketches
    * of distinct user hashes compose into union/intersection estimates
    * with plain array built-ins, never re-scanning the events. Each
    * segment keeps the k=256 smallest xxhash64 values
    * (`functions/KmvSketchAggregator` — constant memory, mergeable,
    * bit-stable at any partitioning); a pair's union sketch is the k
    * smallest of the merged arrays, theta its largest member, and the
    * intersection estimate counts union-sample members present in both
    * sides, scaled by 1/theta. Unsaturated sketches short-circuit to
    * EXACT set arithmetic (sketch = complete distinct hash set).
    *
    * No oracle (xxhash64 is engine-specific): rows-only in
    * CORRECTNESS; the estimator's acceptance bound vs exact distinct
    * overlap is asserted in KmvSpec, exactness in the unsaturated
    * regime included.
    *
    * Scale posture: one partial-agg shuffle carrying k longs per
    * segment per partition; pair composition is |segments|² rows of
    * array math. */
  def segmentOverlapKmv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 256
    val agg = new graft.functions.KmvSketchAggregator(k).toColumn
    val sk = Tables(spark, dir, "events")
      .select($"event_type", expr("xxhash64(user_id)").as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2).agg(agg.name("sketch"))
      .toDF("event_type", "sketch")
    val a = sk.select($"event_type".as("seg_a"), $"sketch".as("sa"))
    val b = sk.select($"event_type".as("seg_b"), $"sketch".as("sb"))
    a.join(b, $"seg_a" < $"seg_b")
      .withColumn("u", expr(s"slice(array_sort(array_union(sa, sb)), 1, $k)"))
      .withColumn("theta_h", expr("element_at(u, size(u))"))
      .withColumn("both", expr("array_intersect(sa, sb)"))
      .select($"seg_a", $"seg_b",
        when(size($"u") < k, size($"both").cast("double"))
          .otherwise(
            // sample = union members strictly below theta (the k-th)
            expr("size(array_intersect(slice(u, 1, size(u) - 1), both))")
              .cast("double")
              / ($"theta_h".cast("double") / Long.MaxValue.toDouble))
          .as("est_overlap"))
      .orderBy($"seg_a", $"seg_b")
  }

  /** Exact companion to the rows-only [[segmentOverlapKmv]]: the true
    * distinct-user overlap of every event-type segment pair, as one
    * self-joined distinct frame — the ground truth the KMV estimate is
    * property-tested against (KmvSpec), now ALSO driver-gated so the
    * sketch's target is itself oracle-verified. Jaccard is a single
    * division of exact counts.
    *
    * Scale posture: the distinct (segment, user) frame is one
    * partial-agg exchange; the pair join is |segments|² × avg segment
    * size — fine for bounded segment vocabularies; at very large
    * segment counts THIS is the query the KMV sketch replaces (its
    * cost is the point of the sketch). */
  def segmentOverlapExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val su = Tables(spark, dir, "events")
      .select($"event_type", $"user_id").distinct()
    val sz = su.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val both = su.as("a")
      .join(su.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("seg_a"), $"b.event_type".as("seg_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(sz.select($"event_type".as("seg_a"), $"n".as("n_a")), "seg_a")
      .join(sz.select($"event_type".as("seg_b"), $"n".as("n_b")), "seg_b")
      .select($"seg_a", $"seg_b", $"n_a", $"n_b", $"n_both",
        ($"n_both".cast("double") /
          ($"n_a" + $"n_b" - $"n_both").cast("double")).as("jaccard"))
      .orderBy($"seg_a", $"seg_b")
  }

  /** FULL theta-style set algebra from the SAME persisted per-segment
    * KMV sketches — union, intersection, and both difference estimates
    * for every segment pair, none re-scanning events: the sketch table
    * is built (and persisted) ONCE, and every set expression is array
    * math over sketch pairs. This is the theta-sketch contract
    * ([[segmentOverlapKmv]] gives only the intersection): the union
    * sketch's sample (its k−1 members strictly below theta) PARTITIONS
    * into in-both / a-only / b-only — each class scaled by 1/theta is
    * that set's estimate, and the three sum to (k−1)/theta = the union
    * estimate identically (asserted in KmvSpec). A hash below the
    * union's theta is necessarily inside either side's sketch (theta_u
    * <= theta_a, theta_b), so class membership is decidable from the
    * sketches alone. Unsaturated pairs short-circuit to exact set
    * arithmetic (the sketch IS the distinct hash set).
    *
    * No oracle (xxhash64 is engine-specific): rows-only in
    * CORRECTNESS; the estimates are gated against the oracle-checked
    * [[segmentSetopsExact]] twin by KmvSpec's error-contract assert.
    *
    * Scale posture: one partial-agg shuffle carrying k longs per
    * segment per partition builds the sketch table; persistence makes
    * "sketches once, many set expressions" literal; composition is
    * \|segments\|² rows of codegen'd array built-ins. */
  def segmentSetopsKmv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 256
    val agg = new graft.functions.KmvSketchAggregator(k).toColumn
    val sk = Tables(spark, dir, "events")
      .select($"event_type", expr("xxhash64(user_id)").as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2).agg(agg.name("sketch"))
      .toDF("event_type", "sketch")
      .persist() // the point: segment sketches built once, reused per pair
    val a = sk.select($"event_type".as("seg_a"), $"sketch".as("sa"))
    val b = sk.select($"event_type".as("seg_b"), $"sketch".as("sb"))
    a.join(b, $"seg_a" < $"seg_b")
      .withColumn("u", expr(s"slice(array_sort(array_union(sa, sb)), 1, $k)"))
      .withColumn("theta", expr("element_at(u, size(u))").cast("double")
        / lit(Long.MaxValue.toDouble))
      .withColumn("sample", expr("slice(u, 1, size(u) - 1)"))
      .withColumn("n_i", expr(
        "size(array_intersect(sample, array_intersect(sa, sb)))"))
      .withColumn("n_ao", expr(
        "size(array_intersect(sample, array_except(sa, sb)))"))
      .withColumn("n_bo", expr(
        "size(array_intersect(sample, array_except(sb, sa)))"))
      .select($"seg_a", $"seg_b",
        when(size($"u") < k, size($"u").cast("double"))
          .otherwise(lit((k - 1).toDouble) / $"theta").as("est_union"),
        when(size($"u") < k,
          expr("size(array_intersect(sa, sb))").cast("double"))
          .otherwise($"n_i".cast("double") / $"theta").as("est_intersect"),
        when(size($"u") < k,
          expr("size(array_except(sa, sb))").cast("double"))
          .otherwise($"n_ao".cast("double") / $"theta").as("est_a_only"),
        when(size($"u") < k,
          expr("size(array_except(sb, sa))").cast("double"))
          .otherwise($"n_bo".cast("double") / $"theta").as("est_b_only"))
      .orderBy($"seg_a", $"seg_b")
  }

  /** Exact companion to the rows-only [[segmentSetopsKmv]]: true
    * distinct-user union / intersection / difference cardinalities per
    * segment pair, all derived from the one (n_a, n_b, n_both) triple
    * by inclusion–exclusion — the oracle-gated ground truth KmvSpec
    * holds the sketch estimates against. Same plan as
    * [[segmentOverlapExact]]: one distinct exchange + one
    * candidate-bounded pair join. */
  def segmentSetopsExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val su = Tables(spark, dir, "events")
      .select($"event_type", $"user_id").distinct()
    val sz = su.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val both = su.as("a")
      .join(su.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("seg_a"), $"b.event_type".as("seg_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(sz.select($"event_type".as("seg_a"), $"n".as("n_a")), "seg_a")
      .join(sz.select($"event_type".as("seg_b"), $"n".as("n_b")), "seg_b")
      .select($"seg_a", $"seg_b",
        ($"n_a" + $"n_b" - $"n_both").as("n_union"),
        $"n_both".as("n_intersect"),
        ($"n_a" - $"n_both").as("n_a_only"),
        ($"n_b" - $"n_both").as("n_b_only"))
      .orderBy($"seg_a", $"seg_b")
  }

  val segmentSetopsExactSql: String =
    s"""WITH su AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |),
       |sz AS (SELECT event_type, COUNT(*) AS n FROM su GROUP BY 1),
       |ov AS (
       |  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
       |    COUNT(*) AS n_both
       |  FROM su a JOIN su b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT seg_a, seg_b,
       |  CAST(na.n + nb.n - n_both AS BIGINT) AS n_union,
       |  CAST(n_both AS BIGINT) AS n_intersect,
       |  CAST(na.n - n_both AS BIGINT) AS n_a_only,
       |  CAST(nb.n - n_both AS BIGINT) AS n_b_only
       |FROM ov
       |JOIN sz na ON na.event_type = seg_a
       |JOIN sz nb ON nb.event_type = seg_b
       |${sqlOrderBy(Seq("seg_a", "seg_b")).trim}""".stripMargin

  val segmentOverlapExactSql: String =
    s"""WITH su AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |),
       |sz AS (SELECT event_type, COUNT(*) AS n FROM su GROUP BY 1),
       |ov AS (
       |  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
       |    COUNT(*) AS n_both
       |  FROM su a JOIN su b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT seg_a, seg_b,
       |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
       |  CAST(n_both AS BIGINT) AS n_both,
       |  CAST(n_both AS DOUBLE)
       |    / CAST(na.n + nb.n - n_both AS DOUBLE) AS jaccard
       |FROM ov
       |JOIN sz na ON na.event_type = seg_a
       |JOIN sz nb ON nb.event_type = seg_b
       |${sqlOrderBy(Seq("seg_a", "seg_b")).trim}""".stripMargin

  /** `DataFrameStatFunctions.crosstab` — the contingency-table one-liner
    * (lang x source document counts): every (row, column) pair cell,
    * zero-filled, without hand-writing the 20-way conditional
    * aggregation the oracle spells out. Same plan class as
    * [[pivotCarriers]]: one partial-aggregated exchange, cells bounded
    * by \|langs\| x \|sources\|. */
  def statCrosstab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .stat.crosstab("lang", "source")
      .orderBy($"lang_source")
  }

  val statCrosstabSql: String = {
    val cols = (0 until 20).map(i =>
      s"""  CAST(COUNT(*) FILTER (source = 'src$i') AS BIGINT) AS "src$i"""")
      .mkString(",\n")
    s"""SELECT lang AS lang_source,
       |$cols
       |FROM documents GROUP BY lang
       |ORDER BY lang_source NULLS FIRST""".stripMargin
  }

  /** Chi-square independence test over the [[statCrosstab]] contingency
    * (is a document's language independent of its source?) — the
    * inferential companion to the crosstab, and the data-balance audit
    * a corpus mix needs before per-source sampling. Observed counts are
    * exact BIGINT; expected counts rᵢ·cⱼ/N are computed as
    * double·double/double (each factor an exact <2^53 int→double
    * conversion, so the IEEE sequence is engine-identical and can never
    * overflow, unlike a BIGINT product at cluster scale). MISSING cells
    * participate: the full |langs|×|sources| grid is materialized and
    * zero-filled before scoring, since an absent cell still contributes
    * E to the statistic. The bounded per-cell contributions are
    * quantized to 1e-9 fixed point (the norm-audit trick) so their SUM
    * is exact BIGINT arithmetic — summation order cannot flip the hash.
    * At 100 TB the quantized sum is a harness-determinism choice;
    * production would sum plain doubles (|cells| is bounded, the
    * statistic is inferential, and 1-ulp noise is irrelevant).
    *
    * Scale posture: one partial-agg exchange to |langs×sources| cells;
    * everything after runs on the bounded grid (broadcast joins). */
  def statChi2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, dir, "documents")
      .groupBy($"lang".as("f"), $"source".as("m"))
      .agg(count(lit(1)).as("o"))
    val rowt = cells.groupBy($"f").agg(sum($"o").as("rt"))
    val colt = cells.groupBy($"m").agg(sum($"o").as("ct"))
    val grid = rowt.crossJoin(colt)
      .join(cells, Seq("f", "m"), "left").na.fill(0L, Seq("o"))
    val tot = cells.agg(sum($"o").as("n"))
    val e = $"rt".cast("double") * $"ct".cast("double") / $"n".cast("double")
    grid.crossJoin(broadcast(tot))
      .select($"f", $"m", $"o", e.as("e"))
      .withColumn("q", expr(
        "CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e"
          + " * 1e9 + 0.5) AS BIGINT)"))
      .agg(
        (sum($"q").cast("double") / 1e9).as("chi2"),
        ((countDistinct($"f") - 1) * (countDistinct($"m") - 1)).as("dof"),
        count(lit(1)).as("n_cells"))
  }

  val statChi2Sql: String =
    s"""WITH cells AS (
       |  SELECT lang AS f, source AS m, COUNT(*) AS o
       |  FROM documents GROUP BY 1, 2
       |),
       |rowt AS (SELECT f, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY f),
       |colt AS (SELECT m, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY m),
       |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
       |grid AS (
       |  SELECT rowt.f, colt.m, rt, ct,
       |    COALESCE(cells.o, 0) AS o
       |  FROM rowt CROSS JOIN colt
       |  LEFT JOIN cells ON cells.f = rowt.f AND cells.m = colt.m
       |),
       |scored AS (
       |  SELECT f, m, o,
       |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
       |  FROM grid CROSS JOIN tot
       |)
       |SELECT
       |  CAST(CAST(SUM(CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
       |    * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9 AS chi2,
       |  (COUNT(DISTINCT f) - 1) * (COUNT(DISTINCT m) - 1) AS dof,
       |  COUNT(*) AS n_cells
       |FROM scored""".stripMargin

  /** Two-sample Kolmogorov–Smirnov drift report: for every document
    * source, the KS statistic of its length (n_chars) distribution
    * against the whole corpus — the per-source drift monitor a data
    * pipeline alarms on when one feed starts emitting truncated or
    * concatenated pages. D = max over jump points |F_src − F_corpus| is
    * computed EXACTLY as an integer numerator max |scum·n − ccum·n_s|
    * over the global value grid (counts are integers, so the only IEEE
    * op is the final division) — no float ECDF comparisons whose ties
    * could break differently per engine.
    *
    * Scale posture: the grid is |distinct n_chars| rows (bounded by the
    * value domain, not the corpus); the dense source×grid frame is
    * |sources|·|grid| — both windows run over that pre-aggregated frame,
    * never raw rows. At 100 TB the exact grid becomes an ε-grid from a
    * mergeable quantile sketch (same max-over-grid form, D known to ±ε);
    * the integer products cap at n·n_s, so the numerator moves to
    * DECIMAL(38,0) past ~3·10⁹ rows — shapes unchanged. */
  def statKsDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = Tables(spark, dir, "documents").select($"source", $"n_chars".as("x"))
    val tot = v.agg(count(lit(1)).as("n"))
    val grid = v.groupBy($"x").agg(count(lit(1)).as("cnt"))
      .withColumn("ccum", sum($"cnt").over(
        Window.orderBy($"x").rowsBetween(Window.unboundedPreceding, 0)))
      .select($"x", $"ccum")
    val st = v.groupBy($"source").agg(count(lit(1)).as("ns"))
    val sc = v.groupBy($"source", $"x").agg(count(lit(1)).as("scnt"))
    val dense = st.select($"source").crossJoin(grid)
      .join(sc, Seq("source", "x"), "left").na.fill(0L, Seq("scnt"))
      .withColumn("scum", sum($"scnt").over(
        Window.partitionBy($"source").orderBy($"x")
          .rowsBetween(Window.unboundedPreceding, 0)))
    dense.join(st, "source").crossJoin(broadcast(tot))
      .select($"source", $"ns", $"n",
        abs($"scum" * $"n" - $"ccum" * $"ns").as("num"))
      .groupBy($"source", $"ns", $"n")
      .agg(max($"num").as("d_num"))
      .select($"source", $"ns".as("n_source"),
        ($"d_num".cast("double") / ($"n" * $"ns").cast("double"))
          .as("ks_stat"))
      .orderBy($"source")
  }

  val statKsDriftSql: String =
    s"""WITH v AS (SELECT source, n_chars AS x FROM documents),
       |tot AS (SELECT COUNT(*) AS n FROM v),
       |grid AS (
       |  SELECT x, CAST(SUM(COUNT(*)) OVER (ORDER BY x) AS BIGINT) AS ccum
       |  FROM v GROUP BY x
       |),
       |st AS (SELECT source, COUNT(*) AS ns FROM v GROUP BY source),
       |sc AS (SELECT source, x, COUNT(*) AS scnt FROM v GROUP BY source, x),
       |dense AS (
       |  SELECT s.source, g.x, g.ccum, COALESCE(sc.scnt, 0) AS scnt
       |  FROM st s CROSS JOIN grid g
       |  LEFT JOIN sc ON sc.source = s.source AND sc.x = g.x
       |),
       |cum AS (
       |  SELECT source, x, ccum,
       |    CAST(SUM(scnt) OVER (PARTITION BY source ORDER BY x) AS BIGINT) AS scum
       |  FROM dense
       |)
       |SELECT * FROM (
       |  SELECT c.source AS source, st.ns AS n_source,
       |    CAST(MAX(ABS(c.scum * (SELECT n FROM tot) - c.ccum * st.ns)) AS DOUBLE)
       |      / CAST((SELECT n FROM tot) * st.ns AS DOUBLE) AS ks_stat
       |  FROM cum c JOIN st ON c.source = st.source
       |  GROUP BY c.source, st.ns
       |)${sqlOrderBy(Seq("source"))}""".stripMargin

  /** Oracle-checkable companion to the rows-only `agg_approx_distinct`
    * (the `text_heavy_guaranteed` pattern): the HLL estimate itself is
    * engine-specific and can never hash-match DuckDB, but its ERROR
    * CONTRACT can — this query emits the exact distinct count plus a
    * within-bounds flag at 3× the configured 5% rsd (the ±15% envelope
    * a production monitor would alarm outside), and the oracle states
    * the exact count with the expected all-clear flag. A Spark HLL
    * regression that drifts outside its own error envelope turns the
    * row red, which is exactly the property a sketch consumer relies
    * on. Spark's HLL is deterministic for fixed input, so the flag is a
    * constant of the corpus, not a flaky assertion. */
  def approxDistinctBounds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(countDistinct($"o_custkey").as("n_exact"),
        approx_count_distinct($"o_custkey", 0.05).as("n_approx"))
      .select($"o_orderpriority", $"n_exact",
        (abs($"n_approx" - $"n_exact").cast("double") <=
          $"n_exact".cast("double") * 0.15).cast("int").as("within_15pct"))
      .orderBy($"o_orderpriority")
  }

  val approxDistinctBoundsSql: String =
    s"""SELECT o_orderpriority,
       |  COUNT(DISTINCT o_custkey) AS n_exact,
       |  1 AS within_15pct
       |FROM orders GROUP BY o_orderpriority${sqlOrderBy(Seq("o_orderpriority"))}""".stripMargin

  /** Error-contract twin of the rows-only `agg_approx_percentile`
    * (round 15 — the r14 verdict flagged that sketch as both
    * `no_oracle` AND the bench's own floor-regression flag, i.e. fully
    * correctness-invisible): the t-digest estimate itself can never
    * hash-match another engine, but its CONTRACT can. With accuracy
    * 10000 the estimator guarantees rank error ≤ n/10000, so the
    * returned value must lie inside the exact quantile envelope
    * [q−0.02, q+0.02] — a 200× margin. This query emits the EXACT
    * discrete percentiles (hash-gated against DuckDB) plus the
    * within-envelope flags; the oracle states the exact values with
    * the expected all-clear. A percentile_approx regression outside
    * its own rank-error contract turns the row red. Deterministic:
    * t-digest on fixed input is reproducible, so the flag is a
    * constant of the corpus.
    *
    * Scale posture: one value-collapse groupBy + bounded window (the
    * [[percentileDisc]] machinery) and one sketch agg — two scans of
    * the same pruned column, both map-side combined. */
  def approxPercentileBounds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_returnflag").orderBy($"v")
    val wn = Window.partitionBy($"l_returnflag")
    val exact = Tables(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice".cast("double").as("v"))
      .groupBy($"l_returnflag", $"v")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(wn))
      .groupBy($"l_returnflag")
      .agg(
        min(when($"cum" >= ceil($"n" * 0.5), $"v")).as("p50_exact"),
        min(when($"cum" >= ceil($"n" * 0.9), $"v")).as("p90_exact"),
        min(when($"cum" >= ceil($"n" * 0.48), $"v")).as("lo50"),
        min(when($"cum" >= ceil($"n" * 0.52), $"v")).as("hi50"),
        min(when($"cum" >= ceil($"n" * 0.88), $"v")).as("lo90"),
        min(when($"cum" >= ceil($"n" * 0.92), $"v")).as("hi90"))
    val approx = Tables(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice".cast("double").as("v"))
      .groupBy($"l_returnflag")
      .agg(percentile_approx($"v", array(lit(0.5), lit(0.9)), lit(10000))
        .as("pcts"))
      .select($"l_returnflag", $"pcts" (0).as("a50"), $"pcts" (1).as("a90"))
    exact.join(approx, "l_returnflag")
      .select($"l_returnflag", $"p50_exact", $"p90_exact",
        ($"a50" >= $"lo50" && $"a50" <= $"hi50").cast("int")
          .as("p50_in_env"),
        ($"a90" >= $"lo90" && $"a90" <= $"hi90").cast("int")
          .as("p90_in_env"))
      .orderBy($"l_returnflag")
  }

  val approxPercentileBoundsSql: String =
    s"""WITH counts AS (
       |  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT l_returnflag, v,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
       |    SUM(c) OVER (PARTITION BY l_returnflag) AS n
       |  FROM counts
       |)
       |SELECT l_returnflag,
       |  MIN(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS p50_exact,
       |  MIN(CASE WHEN cum >= ceil(n * 0.9) THEN v END) AS p90_exact,
       |  1 AS p50_in_env, 1 AS p90_in_env
       |FROM r GROUP BY l_returnflag${sqlOrderBy(Seq("l_returnflag"))}""".stripMargin

  /** Error-contract twin of the rows-only `agg_hll_merge` (same round-
    * 15 rationale): the MERGE path — per-month DataSketches HLL
    * sketches union-merged to quarters — must estimate within ±15% of
    * the exact per-quarter distinct count (the configured sketch is
    * ~1.6% rsd; 15% is the alarm envelope a production monitor uses).
    * Emits the exact counts (hash-gated) plus the flag; a merge-path
    * regression (e.g. a union that drops a month's sketch) lands far
    * outside the envelope and turns the row red. */
  def hllMergeBounds(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_hllb")
    spark.sql(
      s"""WITH s AS (
         |  SELECT month(o_orderdate) AS m, hll_sketch_agg(o_custkey) AS sk
         |  FROM orders_hllb GROUP BY 1
         |),
         |est AS (
         |  SELECT CAST((m - 1) DIV 3 AS INT) AS quarter,
         |    hll_sketch_estimate(hll_union_agg(sk)) AS est
         |  FROM s GROUP BY 1
         |),
         |ex AS (
         |  SELECT CAST((month(o_orderdate) - 1) DIV 3 AS INT) AS quarter,
         |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
         |  FROM orders_hllb GROUP BY 1
         |)
         |SELECT ex.quarter, ex.n_exact,
         |  CAST(ABS(CAST(est.est AS DOUBLE) - n_exact) <= n_exact * 0.15
         |    AS INT) AS within_15pct
         |FROM ex JOIN est ON ex.quarter = est.quarter
         |ORDER BY ex.quarter""".stripMargin)
  }

  val hllMergeBoundsSql: String =
    s"""SELECT CAST((month(o_orderdate) - 1) // 3 AS INTEGER) AS quarter,
       |  COUNT(DISTINCT o_custkey) AS n_exact,
       |  1 AS within_15pct
       |FROM orders GROUP BY 1${sqlOrderBy(Seq("quarter"))}""".stripMargin

  /** Cramér's V effect size over the [[statChi2]] contingency — the
    * answer to the chi-square's scale problem: at 100 TB sample sizes
    * EVERY independence test "significant" (χ² grows linearly with n
    * for a fixed association), so pipelines alarm on the
    * sample-size-free effect size V = √(χ²/(n·min(r−1, c−1))) ∈ [0,1]
    * instead. Same quantized-integer χ² machinery, three more
    * correctly-rounded IEEE ops (two divisions, one sqrt) — fixed
    * sequence, bit-identical cross-engine.
    *
    * Scale posture: identical to statChi2 — one partial-agg exchange
    * to the bounded |langs|×|sources| grid. */
  def statCramersV(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, dir, "documents")
      .groupBy($"lang".as("f"), $"source".as("m"))
      .agg(count(lit(1)).as("o"))
    val rowt = cells.groupBy($"f").agg(sum($"o").as("rt"))
    val colt = cells.groupBy($"m").agg(sum($"o").as("ct"))
    val grid = rowt.crossJoin(colt)
      .join(cells, Seq("f", "m"), "left").na.fill(0L, Seq("o"))
    val tot = cells.agg(sum($"o").as("n"))
    val e = $"rt".cast("double") * $"ct".cast("double") / $"n".cast("double")
    grid.crossJoin(broadcast(tot))
      .select($"f", $"m", $"o", $"n", e.as("e"))
      .withColumn("q", expr(
        "CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e"
          + " * 1e9 + 0.5) AS BIGINT)"))
      .agg(
        (sum($"q").cast("double") / 1e9).as("chi2"),
        first($"n").as("n"),
        (least(countDistinct($"f"), countDistinct($"m")) - 1).as("min_dof"))
      .select($"chi2", $"n", $"min_dof",
        sqrt($"chi2" / ($"n".cast("double") * $"min_dof".cast("double")))
          .as("cramers_v"))
  }

  val statCramersVSql: String =
    s"""WITH cells AS (
       |  SELECT lang AS f, source AS m, COUNT(*) AS o
       |  FROM documents GROUP BY 1, 2
       |),
       |rowt AS (SELECT f, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY f),
       |colt AS (SELECT m, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY m),
       |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
       |grid AS (
       |  SELECT rowt.f, colt.m, rt, ct, COALESCE(cells.o, 0) AS o
       |  FROM rowt CROSS JOIN colt
       |  LEFT JOIN cells ON cells.f = rowt.f AND cells.m = colt.m
       |),
       |scored AS (
       |  SELECT f, m, o, n,
       |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
       |  FROM grid CROSS JOIN tot
       |),
       |agg AS (
       |  SELECT
       |    CAST(CAST(SUM(CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
       |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9 AS chi2,
       |    CAST(MIN(n) AS BIGINT) AS n,
       |    CAST(LEAST(COUNT(DISTINCT f), COUNT(DISTINCT m)) - 1 AS BIGINT)
       |      AS min_dof
       |  FROM scored
       |)
       |SELECT chi2, n, min_dof,
       |  sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(min_dof AS DOUBLE))) AS cramers_v
       |FROM agg""".stripMargin

  /** Per-source Total-Variation + Hellinger drift vs the corpus — the
    * bounded-metric companions to [[statKsDrift]] (KS sees only the worst
    * single CDF gap; TVD integrates ALL histogram mass moved, Hellinger
    * is the f-divergence that downweights bulk and flags tail swings).
    * Distributions are 100-char length histograms. TVD is EXACT integer
    * arithmetic until one final division: Σ|scnt·n − cnt·ns| / (2·ns·n).
    * Hellinger terms (√pₛ−√p_c)² use only correctly-rounded IEEE ops
    * (divide, sqrt, multiply) so each term is bit-identical cross-engine;
    * terms are quantized to 1e-9 fixed point and integer-summed (the
    * chi2 trick) so summation order cannot flip the hash.
    *
    * Scale posture: one partial-agg exchange to |sources|×|bins| cells
    * (bins bounded by the value domain / 100, not the corpus); the dense
    * source×bin frame is built from broadcast-size per-source and per-bin
    * totals. At 100 TB the integer TVD numerator caps at n·ns → moves to
    * DECIMAL(38,0) past ~3·10⁹ docs; shapes unchanged. */
  def statTvdDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = Tables(spark, dir, "documents")
      .select($"source", floor($"n_chars" / 100).as("b"))
    val cb = v.groupBy($"b").agg(count(lit(1)).as("cnt"))
    val st = v.groupBy($"source").agg(count(lit(1)).as("ns"))
    val sb = v.groupBy($"source", $"b").agg(count(lit(1)).as("scnt"))
    val tot = cb.agg(sum($"cnt").as("n"))
    val dense = st.crossJoin(cb)
      .join(sb, Seq("source", "b"), "left").na.fill(0L, Seq("scnt"))
      .crossJoin(broadcast(tot))
    val ps = $"scnt".cast("double") / $"ns".cast("double")
    val pc = $"cnt".cast("double") / $"n".cast("double")
    dense
      .withColumn("tvd_num", abs($"scnt" * $"n" - $"cnt" * $"ns"))
      .withColumn("hq", expr(
        "CAST(floor((sqrt(CAST(scnt AS DOUBLE) / CAST(ns AS DOUBLE))"
          + " - sqrt(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)))"
          + " * (sqrt(CAST(scnt AS DOUBLE) / CAST(ns AS DOUBLE))"
          + " - sqrt(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)))"
          + " * 1e9 + 0.5) AS BIGINT)"))
      .groupBy($"source", $"ns", $"n")
      .agg(sum($"tvd_num").as("tnum"), sum($"hq").as("hsum"),
        count(lit(1)).as("n_bins"))
      .select($"source", $"ns".as("n_source"), $"n_bins",
        ($"tnum".cast("double") /
          (lit(2.0) * $"ns".cast("double") * $"n".cast("double"))).as("tvd"),
        sqrt($"hsum".cast("double") / 2e9).as("hellinger"))
      .orderBy($"source")
  }

  val statTvdDriftSql: String =
    s"""WITH v AS (
       |  SELECT source, CAST(floor(n_chars / 100) AS BIGINT) AS b FROM documents
       |),
       |cb AS (SELECT b, COUNT(*) AS cnt FROM v GROUP BY b),
       |st AS (SELECT source, COUNT(*) AS ns FROM v GROUP BY source),
       |sb AS (SELECT source, b, COUNT(*) AS scnt FROM v GROUP BY source, b),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cb),
       |dense AS (
       |  SELECT st.source, st.ns, cb.b, cb.cnt, tot.n,
       |    COALESCE(sb.scnt, 0) AS scnt
       |  FROM st CROSS JOIN cb CROSS JOIN tot
       |  LEFT JOIN sb ON sb.source = st.source AND sb.b = cb.b
       |),
       |scored AS (
       |  SELECT source, ns, n,
       |    ABS(scnt * n - cnt * ns) AS tvd_num,
       |    CAST(floor((sqrt(CAST(scnt AS DOUBLE) / CAST(ns AS DOUBLE))
       |          - sqrt(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)))
       |        * (sqrt(CAST(scnt AS DOUBLE) / CAST(ns AS DOUBLE))
       |          - sqrt(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)))
       |        * 1e9 + 0.5) AS BIGINT) AS hq
       |  FROM dense
       |)
       |SELECT source, ns AS n_source, COUNT(*) AS n_bins,
       |  CAST(CAST(SUM(tvd_num) AS BIGINT) AS DOUBLE)
       |    / (2.0 * CAST(ns AS DOUBLE) * CAST(n AS DOUBLE)) AS tvd,
       |  sqrt(CAST(CAST(SUM(hq) AS BIGINT) AS DOUBLE) / 2e9) AS hellinger
       |FROM scored
       |GROUP BY source, ns, n${sqlOrderBy(Seq("source"))}""".stripMargin

  /** Mann–Whitney U (Wilcoxon rank-sum) per source vs the REST of the
    * corpus over document length — the nonparametric location test that
    * complements [[statKsDrift]]'s shape test: KS asks "is the
    * distribution different", U asks "does this feed run systematically
    * longer/shorter". Midranks over the combined sample are computed on
    * the value grid as EXACT integers in half-units (mr2 = 2·cum< +
    * t + 1), so the rank sum is integer until one final /2 — ties get
    * the textbook midrank treatment with zero float ambiguity. The
    * normal-approximation z uses the tie-corrected variance
    * ns·nr·((N+1)·N·(N−1) − Σ(t³−t)) / (12·N·(N−1)); every factor is an
    * exact <2^53 int→double conversion and the IEEE op sequence is
    * written identically in both engines, so z is bit-identical.
    *
    * Scale posture: the grid is |distinct n_chars| rows; rank sums are
    * one broadcast-grid join + per-source partial agg — raw rows are
    * touched exactly once (the value-count pass). At 100 TB the exact
    * grid becomes an ε-grid from a mergeable quantile sketch and the
    * integer rank sums move to DECIMAL(38,0) past ~2⁵³ half-ranks. */
  def statMannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = Tables(spark, dir, "documents").select($"source", $"n_chars".as("x"))
    val grid = v.groupBy($"x").agg(count(lit(1)).as("cnt"))
      .withColumn("cumb", coalesce(sum($"cnt").over(
        Window.orderBy($"x").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("mr2", lit(2) * $"cumb" + $"cnt" + 1)
    val tot = grid.agg(sum($"cnt").as("n"),
      sum($"cnt" * $"cnt" * $"cnt" - $"cnt").as("tsum"))
    val sc = v.groupBy($"source", $"x").agg(count(lit(1)).as("scnt"))
    val r2 = sc.join(grid.select($"x", $"mr2"), "x")
      .groupBy($"source")
      .agg(sum($"scnt" * $"mr2").as("r2"), sum($"scnt").as("ns"))
    val nr = $"n" - $"ns"
    val u = $"r2".cast("double") / 2.0 -
      ($"ns" * ($"ns" + 1)).cast("double") / 2.0
    val meanU = ($"ns" * nr).cast("double") / 2.0
    val grand = ($"n" + 1).cast("double") * $"n".cast("double") *
      ($"n" - 1).cast("double")
    val varU = $"ns".cast("double") * nr.cast("double") *
      (grand - $"tsum".cast("double")) /
      (lit(12.0) * $"n".cast("double") * ($"n" - 1).cast("double"))
    r2.crossJoin(broadcast(tot))
      .select($"source", $"ns".as("n_source"), u.as("u_stat"),
        ((u - meanU) / sqrt(varU)).as("z_score"))
      .orderBy($"source")
  }

  val statMannWhitneySql: String =
    s"""WITH v AS (SELECT source, n_chars AS x FROM documents),
       |grid0 AS (SELECT x, COUNT(*) AS cnt FROM v GROUP BY x),
       |grid AS (
       |  SELECT x, cnt,
       |    2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      + cnt + 1 AS mr2
       |  FROM grid0
       |),
       |tot AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
       |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
       |  FROM grid
       |),
       |sc AS (SELECT source, x, COUNT(*) AS scnt FROM v GROUP BY source, x),
       |r2 AS (
       |  SELECT source, CAST(SUM(scnt * mr2) AS BIGINT) AS r2,
       |    CAST(SUM(scnt) AS BIGINT) AS ns
       |  FROM sc JOIN grid ON sc.x = grid.x GROUP BY source
       |)
       |SELECT source, ns AS n_source,
       |  CAST(r2 AS DOUBLE) / 2.0 - CAST(ns * (ns + 1) AS DOUBLE) / 2.0 AS u_stat,
       |  (CAST(r2 AS DOUBLE) / 2.0 - CAST(ns * (ns + 1) AS DOUBLE) / 2.0
       |    - CAST(ns * (n - ns) AS DOUBLE) / 2.0)
       |  / sqrt(CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE)
       |      * (CAST(n + 1 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
       |         - CAST(tsum AS DOUBLE))
       |      / (12.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS z_score
       |FROM r2 CROSS JOIN tot${sqlOrderBy(Seq("source"))}""".stripMargin

  /** stat_kruskal_wallis: Kruskal–Wallis H across ALL sources over
    * document length — the k-sample completion of the nonparametric
    * family ([[statMannWhitney]] is the 2-sample member, `stat_anova_f`
    * the parametric sibling): one omnibus "do the feeds differ in
    * location AT ALL" answer before per-feed drill-down. Midranks ride
    * the exact half-unit integer grid [[statMannWhitney]] established
    * (mr2 = 2·cum< + t + 1), so each group's rank sum R_g = r2_g/2 is
    * integer-exact; the Σ R_g²/n_g term is quantized per group at
    * integer resolution (floor(x+0.5) — the statistic's CONTRACT, the
    * same hq discipline as `stat_tvd_drift`) so the cross-group sum is
    * an exact BIGINT in BOTH engines and H is bit-identical. Tie
    * correction C = 1 − Σ(t³−t)/(N³−N) (Kruskal & Wallis 1952 §6);
    * ε² = H·(N+1)/(N²−1) is the rank effect size.
    *
    * Scale posture: identical to [[statMannWhitney]] — raw rows touched
    * once (value-count pass), the midrank grid is |distinct n_chars|
    * rows, rank sums are one broadcast-grid join + per-source partials,
    * and everything downstream is |sources| rows. Two separate
    * precision thresholds govern the group term r2²/(4·ns): past
    * ~10⁴ docs r2 ≈ 2N² crosses the 2⁵³ double mantissa, so "quantized
    * at integer resolution" degrades to double-ulp resolution (relative
    * error ~1e-16 — cross-engine bit-identity still holds because both
    * engines evaluate the identical IEEE expression, which is the
    * gate); past ~2·10⁷ docs r2² would overflow even 2⁶³-scaled
    * integer headroom and the term must move to DECIMAL(38,0) to keep
    * the printed statistic meaningful. The grid itself goes
    * ε-quantile-sketch at 100 TB as documented on the 2-sample form. */
  def statKruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = Tables(spark, dir, "documents").select($"source", $"n_chars".as("x"))
    val grid = v.groupBy($"x").agg(count(lit(1)).as("cnt"))
      .withColumn("cumb", coalesce(sum($"cnt").over(
        Window.orderBy($"x").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("mr2", lit(2) * $"cumb" + $"cnt" + 1)
    val tot = grid.agg(sum($"cnt").as("n"),
      sum($"cnt" * $"cnt" * $"cnt" - $"cnt").as("tsum"))
    val sc = v.groupBy($"source", $"x").agg(count(lit(1)).as("scnt"))
    val r2 = sc.join(grid.select($"x", $"mr2"), "x")
      .groupBy($"source")
      .agg(sum($"scnt" * $"mr2").as("r2"), sum($"scnt").as("ns"))
    val terms = r2.agg(
      sum(floor($"r2".cast("double") * $"r2".cast("double") /
        (lit(4.0) * $"ns".cast("double")) + 0.5).cast("bigint")).as("sumq"),
      count(lit(1)).as("k"))
    val nd = $"n".cast("double")
    val hRaw = (lit(12.0) / (nd * ($"n" + 1).cast("double"))) *
      $"sumq".cast("double") - lit(3.0) * ($"n" + 1).cast("double")
    val tieC = lit(1.0) - $"tsum".cast("double") / (nd * nd * nd - nd)
    terms.crossJoin(broadcast(tot))
      .select($"n", $"k", $"tsum", hRaw.as("h_raw"), tieC.as("tie_c"))
      .select($"n", $"k", $"tsum", $"h_raw", $"tie_c",
        ($"h_raw" / $"tie_c").as("h_stat"),
        (($"h_raw" / $"tie_c") * ($"n" + 1).cast("double") /
          ($"n".cast("double") * $"n".cast("double") - lit(1.0)))
          .as("epsilon_sq"))
      .orderBy($"n")
  }

  val statKruskalWallisSql: String =
    s"""WITH v AS (SELECT source, n_chars AS x FROM documents),
       |grid0 AS (SELECT x, COUNT(*) AS cnt FROM v GROUP BY x),
       |grid AS (
       |  SELECT x, cnt,
       |    2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      + cnt + 1 AS mr2
       |  FROM grid0
       |),
       |tot AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
       |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
       |  FROM grid
       |),
       |sc AS (SELECT source, x, COUNT(*) AS scnt FROM v GROUP BY source, x),
       |r2 AS (
       |  SELECT source, CAST(SUM(scnt * mr2) AS BIGINT) AS r2,
       |    CAST(SUM(scnt) AS BIGINT) AS ns
       |  FROM sc JOIN grid ON sc.x = grid.x GROUP BY source
       |),
       |terms AS (
       |  SELECT CAST(SUM(CAST(floor(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
       |      / (4.0 * CAST(ns AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS sumq,
       |    CAST(COUNT(*) AS BIGINT) AS k
       |  FROM r2
       |),
       |kw AS (
       |  SELECT n, k, tsum,
       |    (12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))
       |      * CAST(sumq AS DOUBLE) - 3.0 * CAST(n + 1 AS DOUBLE) AS h_raw,
       |    1.0 - CAST(tsum AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
       |         - CAST(n AS DOUBLE)) AS tie_c
       |  FROM terms CROSS JOIN tot
       |)
       |SELECT n, k, tsum, h_raw, tie_c,
       |  h_raw / tie_c AS h_stat,
       |  (h_raw / tie_c) * CAST(n + 1 AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0) AS epsilon_sq
       |FROM kw${sqlOrderBy(Seq("n"))}""".stripMargin

  /** stat_friedman: Friedman's blocked rank test (Friedman 1937) +
    * Kendall's W concordance — the WITHIN-BLOCK companion to
    * [[statKruskalWallis]]: KW pools all observations into one rank
    * pool (and a month-scale revenue shift would swamp a priority
    * effect); Friedman ranks the k = |order priorities| treatments
    * INSIDE each month block, so only the within-month ordering
    * matters — "does some priority class consistently out-earn the
    * others, month after month". Cells are exact integer-cent revenue
    * sums on the dense month×priority grid (missing cells are zero
    * revenue — a stated deterministic contract, and zeros tie, which
    * is why the tie-corrected form is the only honest one); within-
    * block midranks ride the exact half-unit grid (mr2 = 2·cum< + t
    * + 1, per block). Conover's tie-corrected statistic clears to
    * pure integers in half-units:
    *   χ²_F = (k−1)·Σ_j (R2_j − n(k+1))² / (A4 − n·k·(k+1)²),
    * where R2_j = Σ mr2 over blocks and A4 = Σ mr2² — numerator and
    * denominator are exact BIGINTs in both engines; the statistic and
    * Kendall's W = χ²_F / (n(k−1)) are each one final IEEE division.
    *
    * Scale posture: the fact scan collapses map-side to the
    * |months|·k cell grid; ranking is a per-block window over k rows;
    * everything after is k rows + one scalar. At any fact volume the
    * post-scan cost is the bounded grid — the benign bounded-window
    * class. */
  def statFriedman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cells0 = Tables(spark, dir, "orders")
      .select(trunc(to_date($"o_orderdate"), "month").as("m"),
        $"o_orderpriority".as("prio"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"m", $"prio").agg(sum($"cents").as("rev"))
    val months = cells0.select($"m").distinct()
    val prios = cells0.select($"prio").distinct()
    val cells = months.crossJoin(prios)
      .join(cells0, Seq("m", "prio"), "left")
      .select($"m", $"prio", coalesce($"rev", lit(0L)).as("rev"))
    val vc = cells.groupBy($"m", $"rev").agg(count(lit(1)).as("t"))
      .withColumn("cumb", coalesce(sum($"t").over(
        Window.partitionBy($"m").orderBy($"rev")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("mr2", lit(2) * $"cumb" + $"t" + 1)
    val ranked = cells.join(vc.select($"m", $"rev", $"mr2"), Seq("m", "rev"))
    val tot = ranked.agg(
      sum($"mr2" * $"mr2").as("a4"),
      countDistinct($"m").as("n"),
      countDistinct($"prio").as("k"))
    val rj = ranked.groupBy($"prio").agg(sum($"mr2").as("r2"))
    val dev = rj.crossJoin(broadcast(tot))
      .select((($"r2" - $"n" * ($"k" + 1)) *
        ($"r2" - $"n" * ($"k" + 1))).as("d2"), $"a4", $"n", $"k")
      .groupBy($"a4", $"n", $"k").agg(sum($"d2").as("sdev"))
    dev.select($"n".as("n_blocks"), $"k",
      (($"k" - 1) * $"sdev").as("chi2_num"),
      ($"a4" - $"n" * $"k" * ($"k" + 1) * ($"k" + 1)).as("chi2_den"))
      .select($"n_blocks", $"k", $"chi2_num", $"chi2_den",
        ($"chi2_num".cast("double") / $"chi2_den".cast("double"))
          .as("chi2_f"),
        (($"chi2_num".cast("double") / $"chi2_den".cast("double")) /
          ($"n_blocks" * ($"k" - 1)).cast("double")).as("kendalls_w"))
      .orderBy($"n_blocks")
  }

  val statFriedmanSql: String =
    s"""WITH fcell0 AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    o_orderpriority AS prio,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev
       |  FROM orders GROUP BY 1, 2
       |),
       |fcells AS (
       |  SELECT g.m, g.prio, COALESCE(c.rev, 0) AS rev
       |  FROM (SELECT m, prio
       |        FROM (SELECT DISTINCT m FROM fcell0)
       |        CROSS JOIN (SELECT DISTINCT prio FROM fcell0)) g
       |  LEFT JOIN fcell0 c ON c.m = g.m AND c.prio = g.prio
       |),
       |fvc AS (
       |  SELECT m, rev, t,
       |    2 * COALESCE(CAST(SUM(t) OVER (PARTITION BY m ORDER BY rev
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      + t + 1 AS mr2
       |  FROM (SELECT m, rev, CAST(COUNT(*) AS BIGINT) AS t
       |        FROM fcells GROUP BY m, rev)
       |),
       |franked AS (
       |  SELECT c.m, c.prio, v.mr2
       |  FROM fcells c JOIN fvc v ON v.m = c.m AND v.rev = c.rev
       |),
       |ftot AS (
       |  SELECT CAST(SUM(mr2 * mr2) AS BIGINT) AS a4,
       |    CAST(COUNT(DISTINCT m) AS BIGINT) AS n,
       |    CAST(COUNT(DISTINCT prio) AS BIGINT) AS k
       |  FROM franked
       |),
       |frj AS (
       |  SELECT prio, CAST(SUM(mr2) AS BIGINT) AS r2
       |  FROM franked GROUP BY prio
       |),
       |fdev AS (
       |  SELECT a4, n, k,
       |    CAST(SUM((r2 - n * (k + 1)) * (r2 - n * (k + 1))) AS BIGINT)
       |      AS sdev
       |  FROM frj CROSS JOIN ftot GROUP BY a4, n, k
       |)
       |SELECT n AS n_blocks, k,
       |  CAST((k - 1) * sdev AS BIGINT) AS chi2_num,
       |  CAST(a4 - n * k * (k + 1) * (k + 1) AS BIGINT) AS chi2_den,
       |  CAST((k - 1) * sdev AS DOUBLE)
       |    / CAST(a4 - n * k * (k + 1) * (k + 1) AS DOUBLE) AS chi2_f,
       |  (CAST((k - 1) * sdev AS DOUBLE)
       |    / CAST(a4 - n * k * (k + 1) * (k + 1) AS DOUBLE))
       |    / CAST(n * (k - 1) AS DOUBLE) AS kendalls_w
       |FROM fdev${sqlOrderBy(Seq("n"))}""".stripMargin

  /** stat_cochran_q: Cochran's Q (Cochran 1950) — the BINARY-outcome
    * member of the blocked k-treatment family (`stat_friedman` is the
    * ordinal member on this same month×priority grid; McNemar is the
    * k=2 special case): did the treatments differ in a yes/no outcome
    * consistently across blocks? Blocks are months, treatments are
    * order priorities, and the outcome is "the cell's revenue meets
    * its month's mean cell revenue" — an exact integer cross-multiply
    * (rev·k ≥ month total, in DECIMAL(38,0)/HUGEINT so no cent total
    * can wrap), i.e. which priorities over-index within their month.
    * Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²) with C_j the treatment
    * column sums, R_i the block row sums, T the grand total — ALL
    * exact BIGINTs; the statistic is one terminal division, CASE-
    * guarded to NULL when the denominator is 0 (every block all-0 or
    * all-1) identically in both engines. Asymptotically χ²(k−1).
    *
    * Scale posture: one month×priority rollup (map-side combined),
    * dense grid |months|·k, everything after is k- or |months|-row
    * frames — one scan at any corpus size. */
  def statCochranQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells0 = Tables(spark, dir, "orders")
      .select(trunc(to_date($"o_orderdate"), "month").as("m"),
        $"o_orderpriority".as("prio"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"m", $"prio").agg(sum($"cents").as("rev"))
    val months = cells0.select($"m").distinct()
    val prios = cells0.select($"prio").distinct()
    val cells = months.crossJoin(prios)
      .join(cells0, Seq("m", "prio"), "left")
      .select($"m", $"prio", coalesce($"rev", lit(0L)).as("rev"))
    val kdf = cells.agg(countDistinct($"prio").as("k"))
    val x = cells
      .withColumn("mtot", sum($"rev".cast(dec)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"m")))
      .crossJoin(broadcast(kdf))
      .select($"m", $"prio", $"k",
        ($"rev".cast(dec) * $"k" >= $"mtot").cast("long").as("x"))
    val rows = x.groupBy($"m", $"k").agg(sum($"x").as("r"))
    val colsAgg = x.groupBy($"prio").agg(sum($"x").as("c"))
    val tot = rows.groupBy($"k").agg(sum($"r").as("t"),
      sum($"r" * $"r").as("sr2"), count(lit(1)).as("n_blocks"))
    val csum = colsAgg.agg(sum($"c" * $"c").as("sc2"))
    tot.crossJoin(broadcast(csum))
      .select($"n_blocks", $"k",
        (($"k" - 1) * ($"k" * $"sc2" - $"t" * $"t")).as("q_num"),
        ($"k" * $"t" - $"sr2").as("q_den"))
      .selectExpr("n_blocks", "k", "q_num", "q_den",
        """CASE WHEN q_den = 0 THEN CAST(NULL AS DOUBLE)
          |  ELSE CAST(q_num AS DOUBLE) / CAST(q_den AS DOUBLE)
          |END AS q_stat""".stripMargin.replace("\n", ""))
  }

  val statCochranQSql: String =
    s"""WITH cqc0 AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    o_orderpriority AS prio,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev
       |  FROM orders GROUP BY 1, 2
       |),
       |cqcells AS (
       |  SELECT g.m, g.prio, COALESCE(c.rev, 0) AS rev
       |  FROM (SELECT m, prio
       |        FROM (SELECT DISTINCT m FROM cqc0)
       |        CROSS JOIN (SELECT DISTINCT prio FROM cqc0)) g
       |  LEFT JOIN cqc0 c ON c.m = g.m AND c.prio = g.prio
       |),
       |cqk AS (SELECT CAST(COUNT(DISTINCT prio) AS BIGINT) AS k
       |        FROM cqcells),
       |cqx AS (
       |  SELECT m, prio,
       |    CASE WHEN CAST(rev AS HUGEINT) * (SELECT k FROM cqk)
       |      >= CAST(SUM(CAST(rev AS HUGEINT)) OVER (PARTITION BY m)
       |         AS HUGEINT)
       |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS x
       |  FROM cqcells
       |),
       |cqr AS (SELECT m, CAST(SUM(x) AS BIGINT) AS r FROM cqx GROUP BY m),
       |cqc AS (SELECT prio, CAST(SUM(x) AS BIGINT) AS c
       |        FROM cqx GROUP BY prio),
       |cqt AS (
       |  SELECT CAST(SUM(r) AS BIGINT) AS t,
       |    CAST(SUM(r * r) AS BIGINT) AS sr2,
       |    CAST(COUNT(*) AS BIGINT) AS n_blocks
       |  FROM cqr
       |),
       |cqs AS (SELECT CAST(SUM(c * c) AS BIGINT) AS sc2 FROM cqc)
       |SELECT n_blocks, (SELECT k FROM cqk) AS k,
       |  CAST(((SELECT k FROM cqk) - 1)
       |    * ((SELECT k FROM cqk) * sc2 - t * t) AS BIGINT) AS q_num,
       |  CAST((SELECT k FROM cqk) * t - sr2 AS BIGINT) AS q_den,
       |  CASE WHEN (SELECT k FROM cqk) * t - sr2 = 0
       |    THEN CAST(NULL AS DOUBLE)
       |    ELSE CAST(((SELECT k FROM cqk) - 1)
       |      * ((SELECT k FROM cqk) * sc2 - t * t) AS DOUBLE)
       |      / CAST((SELECT k FROM cqk) * t - sr2 AS DOUBLE)
       |  END AS q_stat
       |FROM cqt CROSS JOIN cqs""".stripMargin

  /** Bradley–Terry preference-strength estimation — the pairwise-
    * comparison ranking model behind RLHF preference data (and chess
    * Elo's maximum-likelihood cousin). Contests are derived from the
    * events table: for every user and every pair of event types both
    * present, the type with the larger exact-decimal engagement value
    * wins (decimal ties are no-contests). Two rounds of the standard
    * MM (minorize–maximize) update from a uniform start:
    * round 1 collapses to w1_i = 2*W_i/G_i (wins over games, an exact
    * integer ratio), round 2 is w2_i = W_i / Σ_j n_ij/(w1_i + w1_j)
    * with each rational term 1e9-quantized before the integer sum, so
    * the fixed-point iterate is bit-identical across engines and at
    * any parallelism — no logistic/exp anywhere (MM, not gradient).
    *
    * Scale posture: the heavy stage is contest generation — a
    * user-key equi self-join whose fan-out is bounded by
    * |event_types|² per user; everything after lives on the
    * |types|²-row contest matrix and |types|-row strength vector
    * (broadcast). At 100 TB the per-user agg map-side combines and
    * the solve cost is independent of row count. */
  def statBradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val s = Tables(spark, dir, "events")
      .groupBy($"user_id", $"event_type")
      .agg(sum($"value".cast(graft.Det.SumDec)).as("sv"))
    val a = s.select($"user_id", $"event_type".as("ta"), $"sv".as("sa"))
    val b = s.select($"user_id", $"event_type".as("tb"), $"sv".as("sb"))
    val p = a.join(b, "user_id")
      .filter($"ta" < $"tb" && $"sa" =!= $"sb")
      .groupBy($"ta", $"tb")
      .agg(count(lit(1)).as("games"),
        sum(when($"sa" > $"sb", 1L).otherwise(0L)).as("wins_a"))
    val sym = p.select($"ta".as("t"), $"tb".as("o"), $"games",
        $"wins_a".as("wins"))
      .unionAll(p.select($"tb".as("t"), $"ta".as("o"), $"games",
        ($"games" - $"wins_a").as("wins")))
    val tot = sym.groupBy($"t")
      .agg(sum($"games").as("g"), sum($"wins").as("w"))
      .withColumn("w1", ($"w" * 2).cast("double") / $"g".cast("double"))
    val den = sym
      .join(broadcast(tot.select($"t", $"w1")), "t")
      .join(broadcast(tot.select($"t".as("o"), $"w1".as("w1o"))), "o")
      .groupBy($"t")
      .agg(sum(floor($"games".cast("double") / ($"w1" + $"w1o") * 1e9 + 0.5)
        .cast("long")).as("q"))
    val strength = $"w".cast("double") * 1e9 / $"q".cast("double")
    tot.join(den, "t")
      .select($"t".as("event_type"), $"g".as("games"), $"w".as("wins"),
        $"w1", strength.as("strength"))
      .withColumn("rnk", row_number().over(
        Window.orderBy($"strength".desc, $"event_type")).cast("int"))
      .orderBy($"event_type")
  }

  val statBradleyTerrySql: String =
    s"""WITH s AS (
       |  SELECT user_id, event_type, SUM(CAST(value AS DECIMAL(28,5))) AS sv
       |  FROM events GROUP BY user_id, event_type
       |),
       |p AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb,
       |    CAST(COUNT(*) AS BIGINT) AS games,
       |    CAST(SUM(CASE WHEN a.sv > b.sv THEN 1 ELSE 0 END) AS BIGINT)
       |      AS wins_a
       |  FROM s a JOIN s b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  WHERE a.sv <> b.sv
       |  GROUP BY a.event_type, b.event_type
       |),
       |sym AS (
       |  SELECT ta AS t, tb AS o, games, wins_a AS wins FROM p
       |  UNION ALL
       |  SELECT tb AS t, ta AS o, games, games - wins_a AS wins FROM p
       |),
       |tot AS (
       |  SELECT t, CAST(SUM(games) AS BIGINT) AS g,
       |    CAST(SUM(wins) AS BIGINT) AS w
       |  FROM sym GROUP BY t
       |),
       |w1t AS (
       |  SELECT t, g, w, CAST(w * 2 AS DOUBLE) / CAST(g AS DOUBLE) AS w1
       |  FROM tot
       |),
       |den AS (
       |  SELECT sym.t AS t,
       |    CAST(SUM(CAST(floor(CAST(sym.games AS DOUBLE) / (x.w1 + y.w1)
       |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS q
       |  FROM sym JOIN w1t x ON sym.t = x.t JOIN w1t y ON sym.o = y.t
       |  GROUP BY sym.t
       |)
       |SELECT w1t.t AS event_type, g AS games, w AS wins, w1,
       |  CAST(w AS DOUBLE) * 1e9 / CAST(q AS DOUBLE) AS strength,
       |  CAST(row_number() OVER (
       |    ORDER BY CAST(w AS DOUBLE) * 1e9 / CAST(q AS DOUBLE) DESC, w1t.t)
       |    AS INTEGER) AS rnk
       |FROM w1t JOIN den ON w1t.t = den.t
       |${sqlOrderBy(Seq("event_type")).trim}""".stripMargin

  /** Permutation replicates / FDR level for [[statBhFdr]]. */
  private val BhB = 32
  private val BhAlpha = 0.1

  /** stat_bh_fdr: Benjamini–Hochberg step-up FDR control (Benjamini &
    * Hochberg 1995) over per-language two-sample permutation tests —
    * the selective-inference layer a segment-scanning pipeline needs
    * ("which of these m segments genuinely differ?") run with ZERO
    * transcendentals: each language's p-value is an exact add-one
    * randomization p (is this language's mean document length
    * different from the rest of the corpus?), and the BH step-up is
    * pure rational comparisons p_(i) <= i·α/m on exactly-agreed
    * doubles. Pseudo-membership for replicate b is the integer
    * cross-multiplied hash threshold u·N < n_l·2^32 (a Bernoulli
    * n_l/N label swap that is a pure function of (doc, b), shared
    * across all m tests so the replicate grid is built once).
    *
    * Scale posture: documents collapse to (doc, metric) once; the
    * replicate grid is |docs|×B rows map-side-combined into B×m cells
    * against broadcast language stats — no shuffle grows with B or m,
    * and the BH step runs on the m-row frame. */
  def statBhFdr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars".as("x"))
    val ls = docs.groupBy($"lang")
      .agg(count(lit(1)).as("nl"), sum($"x").as("sl"))
    val tot = ls.agg(sum($"nl").as("nn"), sum($"sl").as("ss"))
    def twoSample(sIn: Column, nIn: Column) =
      abs(sIn.cast("double") / nIn.cast("double") -
        ($"ss" - sIn).cast("double") / ($"nn" - nIn).cast("double"))
    val obs = ls.crossJoin(broadcast(tot))
      .select($"lang", twoSample($"sl", $"nl").as("obs_stat"))
    val gu = docs
      .select($"doc_id", $"x", explode(expr(s"sequence(0, ${BhB - 1})")).as("b"))
      .withColumn("u", expr(
        "cast(conv(substr(md5(cast(concat('bh:', cast(doc_id AS STRING), ':', cast(b AS STRING)) as binary)), 1, 8), 16, 10) as bigint)"))
    val perm = gu
      .crossJoin(broadcast(ls.select($"lang", $"nl")))
      .crossJoin(broadcast(tot))
      // DECIMAL(38,0) cross-multiply: u reaches 2^32-1, so u*nn wraps
      // 64-bit LONG once n_docs exceeds ~2^31 (Spark wraps silently;
      // DuckDB computes the oracle's compare exactly in HUGEINT) —
      // decimal keeps both engines exact out to ~1e38
      .filter($"u".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"nn" <
        $"nl".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * lit(4294967296L))
      .groupBy($"b", $"lang")
      .agg(count(lit(1)).as("n_in"), sum($"x").as("s_in"))
      .crossJoin(broadcast(tot))
      .select($"b", $"lang", twoSample($"s_in", $"n_in").as("stat"))
    val pv = perm.join(broadcast(obs), "lang")
      .groupBy($"lang")
      .agg(max($"obs_stat").as("obs_stat"),
        count(lit(1)).as("n_perms"),
        count_if($"stat" >= $"obs_stat").as("n_ge"))
      .select($"lang", $"obs_stat",
        (($"n_ge" + 1).cast("double") / ($"n_perms" + 1).cast("double"))
          .as("p_value"))
    val m = ls.agg(count(lit(1)).as("m"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pv.crossJoin(broadcast(m))
      .withColumn("rk",
        row_number().over(Window.orderBy($"p_value", $"lang")).cast("int"))
      .withColumn("sel", max(when(
        $"p_value" <= $"rk".cast("double") * lit(BhAlpha) / $"m".cast("double"),
        $"rk")).over(all))
      .select($"lang", $"obs_stat", $"p_value", $"rk",
        ($"rk" <= coalesce($"sel", lit(0))).cast("int").as("bh_selected"))
      .orderBy($"lang")
  }

  val statBhFdrSql: String =
    s"""WITH d AS (SELECT doc_id, lang, n_chars AS x FROM documents),
       |ls AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl,
       |    CAST(SUM(x) AS BIGINT) AS sl
       |  FROM d GROUP BY lang
       |),
       |tot AS (
       |  SELECT CAST(SUM(nl) AS BIGINT) AS nn, CAST(SUM(sl) AS BIGINT) AS ss
       |  FROM ls
       |),
       |obs AS (
       |  SELECT lang,
       |    abs(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
       |      - CAST(ss - sl AS DOUBLE) / CAST(nn - nl AS DOUBLE)) AS obs_stat
       |  FROM ls CROSS JOIN tot
       |),
       |gu AS (
       |  SELECT doc_id, x, b,
       |    CAST('0x' || substr(md5('bh:' || CAST(doc_id AS VARCHAR)
       |      || ':' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) AS u
       |  FROM (SELECT doc_id, x, unnest(range(0, $BhB)) AS b FROM d)
       |),
       |inr AS (
       |  SELECT b, lang, CAST(COUNT(*) AS BIGINT) AS n_in,
       |    CAST(SUM(x) AS BIGINT) AS s_in
       |  FROM gu CROSS JOIN ls CROSS JOIN tot
       |  WHERE CAST(u AS HUGEINT) * CAST(nn AS HUGEINT)
       |      < CAST(nl AS HUGEINT) * CAST(4294967296 AS HUGEINT)
       |  GROUP BY b, lang
       |),
       |perm AS (
       |  SELECT b, lang,
       |    abs(CAST(s_in AS DOUBLE) / CAST(n_in AS DOUBLE)
       |      - CAST(ss - s_in AS DOUBLE) / CAST(nn - n_in AS DOUBLE)) AS stat
       |  FROM inr CROSS JOIN tot
       |),
       |pv AS (
       |  SELECT perm.lang, MAX(obs_stat) AS obs_stat,
       |    CAST(COUNT(*) FILTER (stat >= obs_stat) + 1 AS DOUBLE)
       |      / CAST(COUNT(*) + 1 AS DOUBLE) AS p_value
       |  FROM perm JOIN obs ON perm.lang = obs.lang GROUP BY perm.lang
       |),
       |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ls),
       |rkd AS (
       |  SELECT lang, obs_stat, p_value,
       |    CAST(row_number() OVER (ORDER BY p_value, lang) AS INTEGER) AS rk,
       |    m
       |  FROM pv CROSS JOIN mm
       |),
       |sel AS (
       |  SELECT MAX(CASE WHEN p_value <= CAST(rk AS DOUBLE) * $BhAlpha
       |    / CAST(m AS DOUBLE) THEN rk END) AS sr
       |  FROM rkd
       |)
       |SELECT lang, obs_stat, p_value, rk,
       |  CAST(rk <= COALESCE(sr, 0) AS INTEGER) AS bh_selected
       |FROM rkd CROSS JOIN sel${sqlOrderBy(Seq("lang"))}""".stripMargin

  /** orders_kaplan_meier: Kaplan–Meier survival estimate (Kaplan &
    * Meier 1958) of time-to-first-ship with administrative
    * censoring at 1998-06-01 — the right-censored "how long until an
    * order completes" curve naive latency averages get wrong (they
    * silently drop the still-open orders that carry exactly the tail
    * signal). Orders placed before the cutoff enroll; first ship
    * after the cutoff censors at the cutoff. Risk sets and event
    * counts are exact integers; the product-limit estimator is an
    * INTEGER-SCALED left fold S_i = floor(S_{i-1}·(n_i−d_i)/n_i)
    * (S_0 = 10^9), so the running product is a pure integer recurrence
    * both engines replay bit-identically in ascending-time order — no
    * float accumulation exists (house determinism rule: quantize, then
    * integer arithmetic). `survival` is the one terminal double.
    *
    * Scale posture: one per-order min over lineitem (equi-shuffle),
    * one day-grain aggregation; the product fold runs on the
    * day-grain grid (≤ a few thousand rows regardless of corpus size
    * — bounded by the calendar, not the data), collected as ONE sorted
    * array. */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cut = to_date(lit("1998-06-01"))
    val fr = Tables(spark, dir, "lineitem")
      .groupBy($"l_orderkey").agg(min($"l_shipdate").as("first_ship"))
    val enrolled = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderdate")
      .filter($"o_orderdate" < cut)
      .join(fr, $"o_orderkey" === $"l_orderkey")
      .select(
        when($"first_ship" <= cut, lit(1)).otherwise(lit(0)).as("is_event"),
        when($"first_ship" <= cut, datediff($"first_ship", $"o_orderdate"))
          .otherwise(datediff(cut, $"o_orderdate")).as("t"))
    val nTot = enrolled.agg(count(lit(1)).as("n_total"))
    val grid = enrolled.groupBy($"t")
      .agg(count_if($"is_event" === 1).as("d_events"),
        count_if($"is_event" === 0).as("c_censored"))
    val prior = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = grid.crossJoin(broadcast(nTot))
      .withColumn("n_risk", ($"n_total" -
        coalesce(sum($"d_events" + $"c_censored").over(prior), lit(0L)))
        .cast("long"))
    risk
      .agg(sort_array(collect_list(
        struct($"t", $"d_events", $"c_censored", $"n_risk"))).as("g"))
      .select(posexplode($"g").as(Seq("pos", "s")), $"g")
      .select($"s.t".as("t_day"), $"s.n_risk".as("n_risk"),
        $"s.d_events".as("d_events"), $"s.c_censored".as("c_censored"),
        expr("""aggregate(slice(g, 1, pos + 1), CAST(1000000000 AS BIGINT),
                (acc, x) -> (acc * (x.n_risk - x.d_events)) div x.n_risk)""")
          .as("survival_scaled"))
      .withColumn("survival",
        $"survival_scaled".cast("double") / lit(1000000000L))
      .orderBy($"t_day")
  }

  val kaplanMeierSql: String =
    s"""WITH fr AS (
       |  SELECT l_orderkey, MIN(l_shipdate) AS first_ship
       |  FROM lineitem GROUP BY l_orderkey
       |),
       |enrolled AS (
       |  SELECT CASE WHEN fr.first_ship <= DATE '1998-06-01'
       |      THEN 1 ELSE 0 END AS is_event,
       |    CAST(CASE WHEN fr.first_ship <= DATE '1998-06-01'
       |      THEN datediff('day', o.o_orderdate, fr.first_ship)
       |      ELSE datediff('day', o.o_orderdate, DATE '1998-06-01')
       |      END AS INTEGER) AS t
       |  FROM orders o JOIN fr ON o.o_orderkey = fr.l_orderkey
       |  WHERE o.o_orderdate < DATE '1998-06-01'
       |),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM enrolled),
       |grid AS (
       |  SELECT t, CAST(count_if(is_event = 1) AS BIGINT) AS d_events,
       |    CAST(count_if(is_event = 0) AS BIGINT) AS c_censored
       |  FROM enrolled GROUP BY t
       |),
       |risk AS (
       |  SELECT t, d_events, c_censored,
       |    CAST(n_total - COALESCE(SUM(d_events + c_censored) OVER (
       |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS n_risk
       |  FROM grid CROSS JOIN nt
       |),
       |garr AS (
       |  SELECT list(struct_pack(t := t, d_events := d_events,
       |    c_censored := c_censored, n_risk := n_risk) ORDER BY t) AS g
       |  FROM risk
       |),
       |folded AS (
       |  SELECT s.t AS t_day, s.n_risk AS n_risk, s.d_events AS d_events,
       |    s.c_censored AS c_censored,
       |    list_reduce(
       |      list_prepend(
       |        struct_pack(f := CAST(1000000000 AS BIGINT),
       |                    n := CAST(1 AS BIGINT)),
       |        list_transform(g[1:pos],
       |          x -> struct_pack(f := x.n_risk - x.d_events,
       |                           n := x.n_risk))),
       |      (acc, x) -> struct_pack(f := (acc.f * x.f) // x.n,
       |                              n := CAST(1 AS BIGINT))).f
       |      AS survival_scaled
       |  FROM (SELECT unnest(g) AS s, generate_subscripts(g, 1) AS pos, g
       |        FROM garr)
       |)
       |SELECT t_day, n_risk, d_events, c_censored, survival_scaled,
       |  CAST(survival_scaled AS DOUBLE) / 1000000000 AS survival
       |FROM folded${sqlOrderBy(Seq("t_day"))}""".stripMargin

  /** Theil–Sen robust trend (Theil 1950 / Sen 1968): the median of all
    * pairwise slopes over the monthly revenue series, plus the matching
    * median intercept — the outlier-resistant alternative to OLS for
    * "is the business growing" (breakdown point 29%: a third of the
    * months can be garbage before the estimate moves). Exact, not
    * approximated: monthly revenue is an integer-cents sum, every
    * pairwise slope is one IEEE division of exactly-agreed doubles,
    * and the median is the deterministic lower-middle element under
    * (slope, m1, m2) ordering — bit-identical across engines.
    *
    * Scale posture: the O(M²) pair set is over MONTHS (M ≈ 84 here;
    * time-bounded, NOT data-bounded — 100 TB of orders still spans the
    * same calendar), produced by a broadcast self-join after the
    * map-side-combined monthly rollup. The heavy input collapses to M
    * rows before anything quadratic happens. */
  def statTheilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables(spark, dir, "orders")
      .select((year($"o_orderdate") * 12 + month($"o_orderdate"))
        .cast("long").as("m"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"m").agg(sum($"cents").as("rev"))
      .select($"m", $"rev".cast("double").as("y"))
    val sl = monthly.select($"m".as("m1"), $"y".as("y1"))
      .join(broadcast(monthly.select($"m".as("m2"), $"y".as("y2"))),
        $"m1" < $"m2")
      .select($"m1", $"m2",
        (($"y2" - $"y1") / ($"m2" - $"m1").cast("double")).as("slope"))
    val nP = sl.agg(count(lit(1)).as("n_pairs"))
    val med = sl
      .withColumn("rk", row_number().over(Window.orderBy($"slope", $"m1", $"m2")))
      .crossJoin(broadcast(nP))
      .filter($"rk" === expr("(n_pairs + 1) div 2"))
      .select($"slope", $"n_pairs")
    val nM = monthly.agg(count(lit(1)).as("n_months"))
    monthly.crossJoin(broadcast(med))
      .select($"m", ($"y" - $"slope" * $"m".cast("double")).as("b0"),
        $"slope", $"n_pairs")
      .withColumn("rk", row_number().over(Window.orderBy($"b0", $"m")))
      .crossJoin(broadcast(nM))
      .filter($"rk" === expr("(n_months + 1) div 2"))
      .select($"n_months", $"n_pairs", $"slope".as("slope_cents_per_month"),
        $"b0".as("intercept_cents"))
  }

  val statTheilSenSql: String =
    s"""WITH monthly AS (
       |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
       |      AS m,
       |    CAST(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
       |      AS HUGEINT) AS DOUBLE) AS y
       |  FROM orders GROUP BY 1
       |),
       |sl AS (
       |  SELECT a.m AS m1, b.m AS m2,
       |    (b.y - a.y) / CAST(b.m - a.m AS DOUBLE) AS slope
       |  FROM monthly a JOIN monthly b ON a.m < b.m
       |),
       |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM sl),
       |med AS (
       |  SELECT slope, n_pairs FROM (
       |    SELECT slope, row_number() OVER (ORDER BY slope, m1, m2) AS rk
       |    FROM sl
       |  ) r CROSS JOIN np WHERE rk = (n_pairs + 1) // 2
       |),
       |nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly),
       |b0s AS (
       |  SELECT m, y - slope * CAST(m AS DOUBLE) AS b0, slope, n_pairs
       |  FROM monthly CROSS JOIN med
       |)
       |SELECT n_months, n_pairs, slope AS slope_cents_per_month,
       |  b0 AS intercept_cents
       |FROM (
       |  SELECT b0s.*, row_number() OVER (ORDER BY b0, m) AS rk FROM b0s
       |) rb CROSS JOIN nm WHERE rk = (n_months + 1) // 2""".stripMargin

  /** EXACT distinct counting by BITMAP INDEX — Spark's `bitmap_*`
    * function family (the ClickHouse/Iceberg-style alternative to the
    * double-shuffle exact COUNT DISTINCT): keys hash into 32k-wide
    * buckets, each (group, bucket) partial-aggregates a fixed 4 KB
    * bitmap (`bitmap_construct_agg(bitmap_bit_position(k))`),
    * popcounts collapse per bucket, and the per-group rollup is a SUM
    * over ≤ |keyspace|/32k bucket rows. The shuffle carries bitmaps,
    * never raw keys — at 100 TB that is the difference between
    * exchanging 4 KB per (group, bucket) and exchanging every key
    * occurrence; bitmaps are also OR-mergeable, so the same state
    * serves incremental refresh. The DuckDB oracle runs the plain
    * COUNT(DISTINCT) — an independent algorithm confirming exactness,
    * plus the bucket-count arithmetic restated relationally. */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      // keys shift to the strictly-positive domain the bitmap family
      // indexes naturally (custkey starts at 0; value<=0 falls into a
      // differently-numbered bucket regime)
      .groupBy($"o_orderpriority",
        expr("bitmap_bucket_number(o_custkey + 1)").as("bkt"))
      .agg(expr(
        "bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey + 1)))")
        .as("c"))
      .groupBy($"o_orderpriority")
      .agg(sum($"c").as("n_distinct_customers"),
        count(lit(1)).as("n_buckets"))
      .orderBy($"o_orderpriority")
  }

  val bitmapDistinctSql: String =
    s"""SELECT o_orderpriority,
       |  COUNT(DISTINCT o_custkey) AS n_distinct_customers,
       |  COUNT(DISTINCT (o_custkey // 32768) + 1) AS n_buckets
       |FROM orders
       |GROUP BY o_orderpriority${sqlOrderBy(Seq("o_orderpriority"))}""".stripMargin

  /** Per-brand OLS regression (extended price vs quantity) by
    * SUFFICIENT STATISTICS — the canonical one-pass distributed
    * regression: each partition partial-aggregates the six moments
    * (n, Σx, Σy, Σxy, Σx², Σy²) and slope/intercept/R² assemble from
    * the merged moments, so a line fit over 100 TB is ONE scan + one
    * |groups|-row exchange, no iteration, no driver math. Inputs live
    * on exact grids (integer quantities, 2dp prices → cents), so every
    * moment is an exact DECIMAL(38,0) integer; the closed-form assembly
    * is a fixed IEEE op sequence over the moment-to-double conversions
    * (single correctly-rounded conversion per moment in both engines) —
    * bit-identical results at any parallelism.
    *
    * Overflow headroom: Σy² terms are ≤1e14 per row, so the decimal
    * sums hold ~1e24 rows; the double-converted moments then cap the
    * formula — no intermediate ever exceeds ~1e38 (R²'s numerator is a
    * squared double, fine). */
  def statOlsBrand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pts = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")), $"l_partkey" === $"p_partkey")
      .select($"p_brand",
        round($"l_quantity").cast("long").as("x"),
        round($"l_extendedprice" * 100).cast("long").as("y"))
    val m = pts.groupBy($"p_brand")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
        sum(($"x" * $"y").cast(dec)).as("sxy"),
        sum(($"x" * $"x").cast(dec)).as("sxx"),
        sum(($"y" * $"y").cast(dec)).as("syy"))
      .select($"p_brand", $"n",
        $"n".cast("double").as("nd"),
        $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"),
        $"sxy".cast("double").as("sxyd"),
        $"sxx".cast("double").as("sxxd"), $"syy".cast("double").as("syyd"))
      .select($"p_brand", $"n", $"nd", $"sxd", $"syd",
        ($"nd" * $"sxyd" - $"sxd" * $"syd").as("num_xy"),
        ($"nd" * $"sxxd" - $"sxd" * $"sxd").as("den_x"),
        ($"nd" * $"syyd" - $"syd" * $"syd").as("den_y"))
    m.select($"p_brand".as("brand"), $"n".as("n_points"),
      ($"num_xy" / $"den_x").as("slope_cents"),
      (($"syd" - ($"num_xy" / $"den_x") * $"sxd") / $"nd").as("intercept_cents"),
      (($"num_xy" * $"num_xy") / ($"den_x" * $"den_y")).as("r2"))
      .orderBy($"brand")
  }

  val statOlsBrandSql: String =
    s"""WITH pts AS (
       |  SELECT p_brand,
       |    CAST(round(l_quantity) AS BIGINT) AS x,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |),
       |m AS (
       |  SELECT p_brand, COUNT(*) AS n,
       |    CAST(CAST(SUM(x) AS HUGEINT) AS DOUBLE) AS sxd,
       |    CAST(CAST(SUM(y) AS HUGEINT) AS DOUBLE) AS syd,
       |    CAST(CAST(SUM(x * y) AS HUGEINT) AS DOUBLE) AS sxyd,
       |    CAST(CAST(SUM(x * x) AS HUGEINT) AS DOUBLE) AS sxxd,
       |    CAST(CAST(SUM(y * y) AS HUGEINT) AS DOUBLE) AS syyd
       |  FROM pts GROUP BY p_brand
       |),
       |f AS (
       |  SELECT p_brand, n, CAST(n AS DOUBLE) AS nd, sxd, syd,
       |    (CAST(n AS DOUBLE) * sxyd - sxd * syd) AS num_xy,
       |    (CAST(n AS DOUBLE) * sxxd - sxd * sxd) AS den_x,
       |    (CAST(n AS DOUBLE) * syyd - syd * syd) AS den_y
       |  FROM m
       |)
       |SELECT p_brand AS brand, n AS n_points,
       |  num_xy / den_x AS slope_cents,
       |  (syd - (num_xy / den_x) * sxd) / nd AS intercept_cents,
       |  (num_xy * num_xy) / (den_x * den_y) AS r2
       |FROM f${sqlOrderBy(Seq("brand"))}""".stripMargin

  /** Deterministic MODE: the most frequent l_quantity per return flag,
    * smallest value on frequency ties — stated as count+rank rather
    * than the engines' built-in `mode()` because neither engine
    * DEFINES its tie winner (Spark and DuckDB may legally disagree);
    * the rank formulation pins the contract and stays one exchange:
    * value-level counts partial-aggregate map-side, the rank window
    * runs over |distinct values| rows per group. */
  def modeQuantity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"c".desc, $"v")
    Tables(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_quantity".cast("double").as("v"))
      .groupBy($"l_returnflag", $"v")
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"l_returnflag", $"v".as("mode_qty"), $"c".as("mode_count"))
      .orderBy($"l_returnflag")
  }

  val modeQuantitySql: String =
    s"""WITH counts AS (
       |  SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
       |    ORDER BY c DESC, v) AS rn
       |  FROM counts
       |)
       |SELECT l_returnflag, v AS mode_qty, c AS mode_count
       |FROM r WHERE rn = 1${sqlOrderBy(Seq("l_returnflag"))}""".stripMargin

  /** DAU / WAU engagement (the stickiness ratio): per day, distinct
    * active users that day and across the trailing 7-day window. The
    * windowed distinct cannot ride an ordinary window frame (no
    * DISTINCT over windows), so the scalable form is: collapse to
    * distinct (day, user) FIRST — the only corpus-sized shuffle — then
    * a bounded interval join against the day grid (each activity row
    * lands in <= 7 day-buckets) feeds an exact distinct per day.
    *
    * Ratio is one IEEE division of exact counts — engine-identical. */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val du = Tables(spark, dir, "events")
      .select($"ts".cast("date").as("day"), $"user_id").distinct()
    val days = du.select($"day").distinct()
    val dau = du.groupBy($"day").agg(countDistinct($"user_id").as("dau"))
    val wau = days.as("g")
      .join(du.as("a"),
        $"a.day" >= date_sub($"g.day", 6) && $"a.day" <= $"g.day")
      .groupBy($"g.day".as("day"))
      .agg(countDistinct($"a.user_id").as("wau"))
    dau.join(wau, "day")
      .select($"day", $"dau", $"wau",
        ($"dau".cast("double") / $"wau".cast("double")).as("stickiness"))
      .orderBy($"day")
  }

  val dauWauSql: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |),
       |days AS (SELECT DISTINCT day FROM du),
       |dau AS (
       |  SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day
       |),
       |wau AS (
       |  SELECT g.day, COUNT(DISTINCT a.user_id) AS wau
       |  FROM days g JOIN du a
       |    ON a.day >= g.day - INTERVAL 6 DAY AND a.day <= g.day
       |  GROUP BY g.day
       |)
       |SELECT dau.day, dau, wau,
       |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
       |FROM dau JOIN wau ON dau.day = wau.day
       |ORDER BY dau.day NULLS FIRST""".stripMargin

  /** stat_hill_tail: Hill estimator of the Pareto tail index of
    * per-customer revenue (Hill 1975) — the quantitative form of the
    * whale-customer question beside Gini/HHI/Zipf: α ≈ 1 means a few
    * customers ARE the revenue (infinite-variance regime, where
    * mean-based forecasts and A/B tests misbehave); α > 2 means the
    * tail is tame. α̂⁻¹ = (1/k)·Σᵢ₌₁..k ln(x₍ᵢ₎/x₍k₊₁₎) over the k = 50
    * largest customer revenues, computed in the engine-portable qlog2
    * integer fixed point: the sum of log-RATIOS is an exact BIGINT
    * Σ(qlog2 xᵢ − qlog2 x₍k₊₁₎), converted to nats by one ln2 literal
    * multiply, with the degenerate all-ties case (sum = 0) guarded to
    * NULL identically in both engines.
    *
    * Scale posture: one customer-keyed rollup, then a top-(k+1) rank
    * window that compiles to a partial WindowGroupLimit below the
    * exchange (each partition forwards k+1 rows), then a k-row
    * aggregate — a 100 TB tail fit is one shuffle plus k rows. */
  def statHillTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val q = graft.llm.Curate.qlog2Spark _
    val rev = Tables(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val ranked = rev
      .withColumn("rk", row_number().over(
        Window.orderBy($"cents".desc, $"o_custkey")))
      .filter($"rk" <= 51)
      // 51 rows feeding TWO consumers (x_{k+1} + the top-k sum) —
      // checkpoint or the rollup + rank window replays per consumer.
      // r15: lazy — the xk1 broadcast build materializes it (guide §5).
      .localCheckpoint(false)
    val xk1 = ranked.filter($"rk" === 51)
      .select($"cents".as("xk1_cents"))
    ranked.filter($"rk" <= 50)
      .crossJoin(broadcast(xk1))
      .selectExpr("xk1_cents",
        s"(CAST(${q("cents")} AS BIGINT) - ${q("xk1_cents")}) AS dq")
      .groupBy($"xk1_cents")
      .agg(count(lit(1)).as("k"), sum($"dq").as("hill_sum_q"))
      .select($"k", $"xk1_cents", $"hill_sum_q",
        when($"hill_sum_q" === 0L, lit(null).cast("double"))
          .otherwise($"hill_sum_q".cast("double")
            / (lit(1024.0) * $"k".cast("double"))
            * lit(0.6931471805599453)).as("inv_alpha"),
        when($"hill_sum_q" === 0L, lit(null).cast("double"))
          .otherwise((lit(1024.0) * $"k".cast("double"))
            / $"hill_sum_q".cast("double")
            / lit(0.6931471805599453)).as("pareto_alpha"))
  }

  val statHillTailSql: String = {
    val q = graft.llm.Curate.qlog2Duck _
    s"""WITH hrev AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY o_custkey
       |),
       |hrk AS (
       |  SELECT cents,
       |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk
       |  FROM hrev
       |),
       |hk1 AS (SELECT cents AS xk1_cents FROM hrk WHERE rk = 51),
       |hq AS (
       |  SELECT xk1_cents,
       |    CAST(${q("cents")} AS BIGINT) - ${q("xk1_cents")} AS dq
       |  FROM hrk CROSS JOIN hk1 WHERE rk <= 50
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS k, xk1_cents,
       |  CAST(SUM(dq) AS BIGINT) AS hill_sum_q,
       |  CASE WHEN SUM(dq) = 0 THEN NULL
       |    ELSE CAST(SUM(dq) AS DOUBLE)
       |      / (CAST(1024.0 AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
       |      * CAST('0.6931471805599453' AS DOUBLE) END AS inv_alpha,
       |  CASE WHEN SUM(dq) = 0 THEN NULL
       |    ELSE (CAST(1024.0 AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
       |      / CAST(SUM(dq) AS DOUBLE)
       |      / CAST('0.6931471805599453' AS DOUBLE) END AS pareto_alpha
       |FROM hq GROUP BY xk1_cents""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_hill_tail" -> statHillTail,
    "agg_mode" -> modeQuantity,
    "events_dau_wau" -> dauWau,
    "stat_crosstab" -> statCrosstab,
    "stat_chi2" -> statChi2,
    "stat_cramers_v" -> statCramersV,
    "stat_ks_drift" -> statKsDrift,
    "stat_tvd_drift" -> statTvdDrift,
    "stat_mannwhitney" -> statMannWhitney,
    "stat_kruskal_wallis" -> statKruskalWallis,
    "stat_friedman" -> statFriedman,
    "stat_cochran_q" -> statCochranQ,
    "stat_bradley_terry" -> statBradleyTerry,
    "stat_theil_sen" -> statTheilSen,
    "orders_kaplan_meier" -> kaplanMeier,
    "stat_bh_fdr" -> statBhFdr,
    "stat_ols_brand" -> statOlsBrand,
    "agg_bitmap_distinct" -> bitmapDistinct,
    "segment_overlap_kmv" -> segmentOverlapKmv,
    "segment_setops_kmv" -> segmentSetopsKmv,
    "segment_setops_exact" -> segmentSetopsExact,
    "segment_overlap_exact" -> segmentOverlapExact,
    "agg_size_histogram" -> orderSizeHistogram,
    "agg_filter_clause" -> filterClause,
    "agg_stats_moments" -> statsMoments,
    "gold_cause_corr" -> causeCorr,
    "agg_winsorized_mean" -> winsorizedMean,
    "agg_bool_logic" -> boolAggs,
    "agg_weighted_median" -> weightedMedian,
    "agg_array_collect" -> arrayCollect,
    "agg_listagg" -> listAgg,
    "agg_pivot_multi" -> pivotMulti,
    "agg_grouping_id" -> groupingId,
    "agg_unpivot" -> unpivotNative,
    "agg_hll_merge" -> hllMerge,
    "agg_percentile_disc" -> percentileDisc,
    "agg_quantile_two_scan" -> quantileTwoScan,
    "agg_percentile_cont" -> percentileCont,
    "agg_approx_percentile" -> approxPercentile,
    "agg_pivot" -> pivotCarriers,
    "agg_rollup" -> rollup,
    "agg_cube" -> cube2,
    "agg_grouping_sets" -> groupingSets,
    "agg_count_distinct" -> countDistinct2,
    "agg_approx_distinct" -> approxDistinct,
    "agg_approx_distinct_bounds" -> approxDistinctBounds,
    "agg_approx_percentile_bounds" -> approxPercentileBounds,
    "agg_hll_merge_bounds" -> hllMergeBounds,
    "topk_orders" -> topkOrders,
    "events_daily" -> eventsDaily)

  val oracles: Map[String, String] = Map(
    "agg_mode" -> modeQuantitySql,
    "stat_hill_tail" -> statHillTailSql,
    "events_dau_wau" -> dauWauSql,
    "stat_crosstab" -> statCrosstabSql,
    "stat_chi2" -> statChi2Sql,
    "stat_cramers_v" -> statCramersVSql,
    "stat_ks_drift" -> statKsDriftSql,
    "stat_tvd_drift" -> statTvdDriftSql,
    "stat_mannwhitney" -> statMannWhitneySql,
    "stat_kruskal_wallis" -> statKruskalWallisSql,
    "stat_friedman" -> statFriedmanSql,
    "stat_cochran_q" -> statCochranQSql,
    "stat_bradley_terry" -> statBradleyTerrySql,
    "stat_theil_sen" -> statTheilSenSql,
    "orders_kaplan_meier" -> kaplanMeierSql,
    "stat_bh_fdr" -> statBhFdrSql,
    "stat_ols_brand" -> statOlsBrandSql,
    "agg_bitmap_distinct" -> bitmapDistinctSql,
    "agg_size_histogram" -> orderSizeHistogramSql,
    "agg_filter_clause" -> filterClauseSql,
    "agg_stats_moments" -> statsMomentsSql,
    "gold_cause_corr" -> causeCorrSql,
    "agg_winsorized_mean" -> winsorizedMeanSql,
    "agg_bool_logic" -> boolAggsSql,
    "agg_weighted_median" -> weightedMedianSql,
    "agg_array_collect" -> arrayCollectSql,
    "agg_listagg" -> listAggSql,
    "agg_pivot_multi" -> pivotMultiSql,
    "agg_grouping_id" -> groupingIdSql,
    "agg_unpivot" -> unpivotNativeSql,
    "agg_percentile_disc" -> percentileDiscSql,
    "agg_quantile_two_scan" -> quantileTwoScanSql,
    "agg_percentile_cont" -> percentileContSql,
    "agg_pivot" -> pivotCarriersSql,
    "agg_rollup" -> rollupSql,
    "agg_cube" -> cube2Sql,
    "agg_grouping_sets" -> groupingSetsSql,
    "agg_count_distinct" -> countDistinct2Sql,
    "agg_approx_distinct_bounds" -> approxDistinctBoundsSql,
    "agg_approx_percentile_bounds" -> approxPercentileBoundsSql,
    "agg_hll_merge_bounds" -> hllMergeBoundsSql,
    "segment_overlap_exact" -> segmentOverlapExactSql,
    "segment_setops_exact" -> segmentSetopsExactSql,
    "topk_orders" -> topkOrdersSql,
    "events_daily" -> eventsDailySql)
}
