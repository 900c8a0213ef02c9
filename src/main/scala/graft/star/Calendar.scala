package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.{sqlOrderBy, sqlSum}

/** Calendar-spine operators (`[EXT]`): a generated date dimension and
  * gap-filled time series — the two moves every BI layer needs that a
  * raw fact table cannot answer ("which months had NO sales" requires
  * rows that do not exist). Both derive the spine bounds from the data
  * with an aggregate → `sequence` → `explode` chain: no driver
  * collect, no hand-maintained calendar table, and the spine stays
  * |days| or |months| rows at ANY fact-table scale — generation cost
  * is independent of data volume.
  */
object Calendar extends graft.QueryModule {

  /** Date dimension spanning the fact table's order-date range:
    * ISO weekday arithmetic (Monday = 0) keeps both engines on the
    * same day-numbering convention (Spark `weekday` = DuckDB
    * `isodow - 1`). */
  def dimCalendar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .agg(min(to_date($"o_orderdate")).as("lo"),
        max(to_date($"o_orderdate")).as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("d"))
      .select($"d",
        year($"d").as("y"),
        month($"d").as("mo"),
        quarter($"d").as("q"),
        weekday($"d").as("dow"),
        (weekday($"d") >= 5).cast("int").as("is_weekend"))
      .orderBy($"d")
  }

  val dimCalendarSql: String =
    s"""WITH b AS (
       |  SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
       |         MAX(CAST(o_orderdate AS DATE)) AS hi
       |  FROM orders
       |),
       |s AS (
       |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
       |  FROM b
       |)
       |SELECT d,
       |  CAST(year(d) AS INTEGER) AS y,
       |  CAST(month(d) AS INTEGER) AS mo,
       |  CAST(quarter(d) AS INTEGER) AS q,
       |  CAST(isodow(d) - 1 AS INTEGER) AS dow,
       |  CAST(isodow(d) - 1 >= 5 AS INTEGER) AS is_weekend
       |FROM s${sqlOrderBy(Seq("d"))}""".stripMargin

  /** Gap-filled monthly revenue per order priority: the month spine ×
    * priority grid left-joins the actual monthly aggregate, zero-
    * filling absent cells — so "no sales that month" is a ROW, not an
    * inference. The spine (|months| × |priorities|) is broadcast
    * against the aggregate; the fact table is touched once. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables(spark, dir, "orders")
      .select($"o_orderpriority",
        trunc(to_date($"o_orderdate"), "month").as("m"),
        $"o_totalprice")
    val monthly = o.groupBy($"m", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        graft.Det.xsum($"o_totalprice").as("revenue"))
    val spine = o
      .agg(min($"m").as("lo"), max($"m").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("m"))
      .crossJoin(o.select($"o_orderpriority").distinct())
    spine.join(monthly, Seq("m", "o_orderpriority"), "left")
      .select($"m", $"o_orderpriority",
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"revenue", lit(0.0)).as("revenue"))
      .orderBy($"m", $"o_orderpriority")
  }

  val gapFillSql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority,
       |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    o_totalprice
       |  FROM orders
       |),
       |monthly AS (
       |  SELECT m, o_orderpriority, COUNT(*) AS n_orders,
       |    ${sqlSum("o_totalprice")} AS revenue
       |  FROM o GROUP BY 1, 2
       |),
       |b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM o),
       |spine AS (
       |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS m
       |  FROM b
       |),
       |grid AS (
       |  SELECT m, o_orderpriority
       |  FROM spine CROSS JOIN (SELECT DISTINCT o_orderpriority FROM o)
       |)
       |SELECT grid.m, grid.o_orderpriority,
       |  COALESCE(n_orders, 0) AS n_orders,
       |  COALESCE(revenue, CAST(0 AS DOUBLE)) AS revenue
       |FROM grid LEFT JOIN monthly
       |  ON grid.m = monthly.m AND grid.o_orderpriority = monthly.o_orderpriority
       |${sqlOrderBy(Seq("grid.m", "grid.o_orderpriority")).trim}""".stripMargin

  /** Linear interpolation across time-series gaps — the resample /
    * imputation companion to [[gapFill]] (which zero-fills): missing
    * months take the distance-weighted blend of the nearest known
    * months on each side. The series is a sparse deterministic order
    * subset (every 97th key) so interior gaps exist at EVERY scale
    * factor — an interpolator that never fires proves nothing.
    *
    * Numerics: month index is exact integer arithmetic; the blend
    * prev + (next-prev)·frac is three IEEE ops on decimal-exact inputs
    * with frac an exact small-int division — identical in both
    * engines. IGNORE NULLS running first/last over the bounded spine
    * (≤ |months| rows — the documented benign unpartitioned-window
    * class) finds the bracketing known points; spine endpoints are
    * known by construction (min/max known month), so every gap is
    * interior and the denominator is never zero. */
  def gapInterp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val sparse = Tables(spark, dir, "orders")
      .filter($"o_orderkey" % 97 === 0)
      .select(trunc(to_date($"o_orderdate"), "month").as("m"), $"o_totalprice")
    val monthly = sparse.groupBy($"m")
      .agg(graft.Det.xsum($"o_totalprice").as("rev"))
    val spine = sparse.agg(min($"m").as("lo"), max($"m").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("m"))
    val grid = spine.join(monthly, Seq("m"), "left")
      .withColumn("mi", year($"m") * 12 + month($"m"))
    val wPrev = Window.orderBy($"mi")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.orderBy($"mi")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      .withColumn("prev_rev", last($"rev", ignoreNulls = true).over(wPrev))
      .withColumn("prev_mi",
        last(when($"rev".isNotNull, $"mi"), ignoreNulls = true).over(wPrev))
      .withColumn("next_rev", first($"rev", ignoreNulls = true).over(wNext))
      .withColumn("next_mi",
        first(when($"rev".isNotNull, $"mi"), ignoreNulls = true).over(wNext))
      .select($"m",
        $"rev".isNotNull.cast("int").as("known"),
        when($"rev".isNotNull, $"rev").otherwise(
          $"prev_rev" + ($"next_rev" - $"prev_rev") *
            (($"mi" - $"prev_mi").cast("double") /
              ($"next_mi" - $"prev_mi").cast("double"))).as("revenue"))
      .orderBy($"m")
  }

  val gapInterpSql: String =
    s"""WITH sparse AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    o_totalprice
       |  FROM orders WHERE o_orderkey % 97 = 0
       |),
       |monthly AS (
       |  SELECT m, ${sqlSum("o_totalprice")} AS rev FROM sparse GROUP BY 1
       |),
       |b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM sparse),
       |spine AS (
       |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS m
       |  FROM b
       |),
       |grid AS (
       |  SELECT spine.m, rev,
       |    year(spine.m) * 12 + month(spine.m) AS mi
       |  FROM spine LEFT JOIN monthly ON spine.m = monthly.m
       |),
       |halo AS (
       |  SELECT m, rev, mi,
       |    last_value(rev IGNORE NULLS) OVER (ORDER BY mi
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_rev,
       |    last_value(CASE WHEN rev IS NOT NULL THEN mi END IGNORE NULLS)
       |      OVER (ORDER BY mi
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_mi,
       |    first_value(rev IGNORE NULLS) OVER (ORDER BY mi
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rev,
       |    first_value(CASE WHEN rev IS NOT NULL THEN mi END IGNORE NULLS)
       |      OVER (ORDER BY mi
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_mi
       |  FROM grid
       |)
       |SELECT m,
       |  CAST(rev IS NOT NULL AS INTEGER) AS known,
       |  CASE WHEN rev IS NOT NULL THEN rev
       |       ELSE prev_rev + (next_rev - prev_rev) *
       |         (CAST(mi - prev_mi AS DOUBLE) / CAST(next_mi - prev_mi AS DOUBLE))
       |  END AS revenue
       |FROM halo${sqlOrderBy(Seq("m"))}""".stripMargin

  /** Month-of-year seasonal index: average revenue of each calendar
    * month across years, divided by the grand monthly mean — the
    * classical decomposition input ("is December big because of trend
    * or season?"). All inputs are decimal-exact monthly sums (scale-5
    * doubles re-sum exactly), the two averages and their ratio are a
    * fixed IEEE sequence, and the 1-row grand mean rides a broadcast
    * cross join — the tfidf pattern, no driver collect. */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables(spark, dir, "orders")
      .groupBy(trunc(to_date($"o_orderdate"), "month").as("m"))
      .agg(graft.Det.xsum($"o_totalprice").as("rev"))
    val grand = monthly.agg(
      (graft.Det.xsum($"rev") / count(lit(1))).as("grand_avg"))
    monthly
      .groupBy(month($"m").as("month"))
      .agg(count(lit(1)).as("n_months"),
        (graft.Det.xsum($"rev") / count(lit(1))).as("avg_revenue"))
      .crossJoin(broadcast(grand))
      .select($"month", $"n_months", $"avg_revenue",
        ($"avg_revenue" / $"grand_avg").as("seasonal_index"))
      .orderBy($"month")
  }

  val seasonalIndexSql: String =
    s"""WITH monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    ${sqlSum("o_totalprice")} AS rev
       |  FROM orders GROUP BY 1
       |),
       |grand AS (
       |  SELECT (${sqlSum("rev")} / COUNT(*)) AS grand_avg FROM monthly
       |)
       |SELECT CAST(month(m) AS INTEGER) AS month,
       |  COUNT(*) AS n_months,
       |  (${sqlSum("rev")} / COUNT(*)) AS avg_revenue,
       |  (${sqlSum("rev")} / COUNT(*)) / grand_avg AS seasonal_index
       |FROM monthly CROSS JOIN grand
       |GROUP BY month(m), grand_avg${sqlOrderBy(Seq("month"))}""".stripMargin

  /** Exponentially-weighted moving average of monthly revenue with
    * DYADIC weights (1/2, 1/4, …, 1/64 over the trailing 7 observed
    * months) — the trend smoother next to [[seasonalIndex]], chosen so
    * the whole computation is exact integer arithmetic: revenue is
    * summed in cents (BIGINT), each lag is scaled by a power of two,
    * and the normalizer is the sum of the weights actually present at
    * the series head. Both engines then perform the identical single
    * IEEE division num/den — no pow(), no compounding float recurrence,
    * so the hash gate holds. The recursive form ewma_t = a·x_t +
    * (1-a)·ewma_{t-1} with a=1/2 truncated after 7 terms is exactly
    * this weighted sum.
    *
    * Scale posture: the fact scan aggregates to |months| rows before
    * the unpartitioned window (the documented benign bounded-window
    * class) — smoother cost is independent of fact-table volume. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables(spark, dir, "orders")
      .select(trunc(to_date($"o_orderdate"), "month").as("m"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"m").agg(sum($"cents").as("rev_c"))
    val w = Window.orderBy($"m")
    val terms = (0 to 6).map { k =>
      val weight = 1L << (6 - k)
      val lagged = if (k == 0) $"rev_c" else lag($"rev_c", k).over(w)
      (coalesce(lagged, lit(0L)) * lit(weight),
        when(lagged.isNotNull, lit(weight)).otherwise(lit(0L)))
    }
    monthly
      .withColumn("num", terms.map(_._1).reduce(_ + _))
      .withColumn("den", terms.map(_._2).reduce(_ + _))
      .select($"m",
        ($"rev_c".cast("double") / 100.0).as("revenue"),
        ($"num".cast("double") / ($"den" * 100L).cast("double"))
          .as("ewma_revenue"))
      .orderBy($"m")
  }

  val ewmaSql: String = {
    val lags = (1 to 6).map(k =>
      s"lag(rev_c, $k) OVER (ORDER BY m) AS l$k").mkString(",\n       |    ")
    val num = "rev_c * 64 + " + (1 to 6).map(k =>
      s"COALESCE(l$k, 0) * ${1L << (6 - k)}").mkString(" + ")
    val den = "64 + " + (1 to 6).map(k =>
      s"CASE WHEN l$k IS NULL THEN 0 ELSE ${1L << (6 - k)} END").mkString(" + ")
    s"""WITH monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_c
       |  FROM orders GROUP BY 1
       |),
       |lagged AS (
       |  SELECT m, rev_c,
       |    $lags
       |  FROM monthly
       |)
       |SELECT m,
       |  CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       |  CAST($num AS DOUBLE) / CAST(($den) * 100 AS DOUBLE) AS ewma_revenue
       |FROM lagged${sqlOrderBy(Seq("m"))}""".stripMargin
  }

  /** orders_holt_linear: Holt's double exponential smoothing (Holt
    * 1957) over the monthly revenue series — the level+trend
    * forecaster a demand dashboard runs where [[ewma]] only tracks
    * level. α = β = 1/2, so the textbook recursion
    *   l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    *   b_t = β(l_t−l_{t−1}) + (1−β)·b_{t−1}
    * is two exact halvings per step. The state lives in 1/1024-cent
    * fixed point (BIGINT) and each halving is the engine-agnostic
    * exact floor: a − ((a%2+2)%2) is even, so the following integer
    * division is EXACT in both engines regardless of floor-vs-truncate
    * semantics (verified: DuckDB `//` and Spark `div` both truncate;
    * the subtraction makes the operand divisible so it cannot matter).
    * The Spark side runs the recursion as ONE zero-shuffle `aggregate`
    * fold over the sorted month array; the DuckDB oracle runs its own
    * recursive CTE — two independent encodings of the identical
    * integer recursion. Emitted per month: observation, one-step-ahead
    * forecast f_t = l_{t−1}+b_{t−1}, the fixed-point state, and the
    * forecast error.
    *
    * Scale posture: the fact scan collapses map-side to |months| rows;
    * the fold is a bounded single-struct pass over that tiny series
    * (the benign bounded-window class — cost independent of fact
    * volume; per-segment series would partition the same fold by key). */
  def holtLinear(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def fdiv2(a: String) = s"((($a) - ((($a) % 2 + 2) % 2)) div 2)"
    val l2 = fdiv2("e.xq + acc.l + acc.b")
    val b2 = fdiv2(s"$l2 - acc.l + acc.b")
    val monthly = Tables(spark, dir, "orders")
      .select(trunc(to_date($"o_orderdate"), "month").as("m"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"m").agg((sum($"cents") * 1024L).as("xq"))
    monthly
      .agg(sort_array(collect_list(struct($"m", $"xq"))).as("ser"))
      .selectExpr(
        s"""explode(aggregate(
           |  ser,
           |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
           |    'init', false,
           |    'out', CAST(array() AS
           |      ARRAY<STRUCT<m: DATE, xq: BIGINT, fq: BIGINT,
           |                   lq: BIGINT, bq: BIGINT>>)),
           |  (acc, e) -> IF(NOT acc.init,
           |    named_struct('l', e.xq, 'b', CAST(0 AS BIGINT), 'init', true,
           |      'out', array(named_struct('m', e.m, 'xq', e.xq,
           |        'fq', e.xq, 'lq', e.xq, 'bq', CAST(0 AS BIGINT)))),
           |    named_struct('l', $l2, 'b', $b2, 'init', true,
           |      'out', concat(acc.out, array(named_struct('m', e.m,
           |        'xq', e.xq, 'fq', acc.l + acc.b,
           |        'lq', $l2, 'bq', $b2))))),
           |  acc -> acc.out)) AS r""".stripMargin)
      .select($"r.m".as("m"),
        ($"r.xq".cast("double") / 1024.0 / 100.0).as("revenue"),
        ($"r.fq".cast("double") / 1024.0 / 100.0).as("forecast"),
        $"r.lq".as("level_q"), $"r.bq".as("trend_q"),
        ($"r.xq" - $"r.fq").as("err_q"))
      .orderBy($"m")
  }

  val holtLinearSql: String = {
    def fdiv2(a: String) = s"((($a) - ((($a) % 2 + 2) % 2)) // 2)"
    val l2 = fdiv2("n.xq + hw.lq + hw.bq")
    val b2 = fdiv2(s"$l2 - hw.lq + hw.bq")
    s"""WITH RECURSIVE hw_monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      * 1024 AS xq
       |  FROM orders GROUP BY 1
       |),
       |hwidx AS (
       |  SELECT m, xq, row_number() OVER (ORDER BY m) AS i FROM hw_monthly
       |),
       |hw(i, m, xq, fq, lq, bq) AS (
       |  SELECT i, m, xq, xq, xq, CAST(0 AS BIGINT) FROM hwidx WHERE i = 1
       |  UNION ALL
       |  SELECT n.i, n.m, n.xq,
       |    hw.lq + hw.bq,
       |    $l2,
       |    $b2
       |  FROM hw JOIN hwidx n ON n.i = hw.i + 1
       |)
       |SELECT m, CAST(xq AS DOUBLE) / 1024.0 / 100.0 AS revenue,
       |  CAST(fq AS DOUBLE) / 1024.0 / 100.0 AS forecast,
       |  lq AS level_q, bq AS trend_q, xq - fq AS err_q
       |FROM hw${sqlOrderBy(Seq("m"))}""".stripMargin
  }

  /** orders_holt_winters: additive Holt–Winters triple exponential
    * smoothing (Holt 1957; Winters 1960) of monthly revenue — the
    * seasonal completion of the forecasting family ([[holtLinear]]
    * level+trend, [[seasonalDecompose]]'s static indices,
    * `orders_snaive_mase`'s benchmark): level, trend AND a 12-slot
    * seasonal state updated every month, with the one-step-ahead
    * forecast f_t = l + b + s_{t−12} emitted before each update.
    * α = β = γ = 1/2 keeps every update an EXACT floored halving in
    * 1/1024-cent integers (the [[holtLinear]] fdiv2 discipline):
    * l_t = ⌊(x_t − s_old + l + b)/2⌋, b_t = ⌊(l_t − l + b)/2⌋,
    * s_t = ⌊(x_t − l_t + s_old)/2⌋ — the recursion the oracle replays
    * month by month through a recursive CTE carrying the 12-element
    * seasonal list, so every compounded state is hash-exact.
    * Initialization contract: month 1 sets l = x₁, b = 0, s ≡ 0 (the
    * first year's updates LEARN the seasonal profile rather than
    * presetting it — deterministic and engine-portable, unlike
    * decompose-based seeding).
    *
    * Scale posture: the fact scan collapses map-side to |months| rows;
    * the inherently sequential smoothing then runs as a single
    * `aggregate` fold over the collected bounded series — the
    * [[holtLinear]] rule: sequential state over a bounded frame, never
    * over the corpus. */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def fdiv2(a: String) = s"((($a) - ((($a) % 2 + 2) % 2)) div 2)"
    val sOld = "element_at(acc.s, CAST((acc.i % 12) + 1 AS INT))"
    val l2 = fdiv2(s"e.xq - $sOld + acc.l + acc.b")
    val b2 = fdiv2(s"$l2 - acc.l + acc.b")
    val s2 = fdiv2(s"e.xq - $l2 + $sOld")
    val monthly = Tables(spark, dir, "orders")
      .select(trunc(to_date($"o_orderdate"), "month").as("m"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"m").agg((sum($"cents") * 1024L).as("xq"))
    monthly
      .agg(sort_array(collect_list(struct($"m", $"xq"))).as("ser"))
      .selectExpr(
        s"""explode(aggregate(
           |  ser,
           |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
           |    'i', CAST(0 AS BIGINT),
           |    's', array_repeat(CAST(0 AS BIGINT), 12), 'init', false,
           |    'out', CAST(array() AS
           |      ARRAY<STRUCT<m: DATE, xq: BIGINT, fq: BIGINT,
           |                   lq: BIGINT, bq: BIGINT, sq: BIGINT>>)),
           |  (acc, e) -> IF(NOT acc.init,
           |    named_struct('l', e.xq, 'b', CAST(0 AS BIGINT),
           |      'i', CAST(1 AS BIGINT), 's', acc.s, 'init', true,
           |      'out', array(named_struct('m', e.m, 'xq', e.xq,
           |        'fq', e.xq, 'lq', e.xq, 'bq', CAST(0 AS BIGINT),
           |        'sq', CAST(0 AS BIGINT)))),
           |    named_struct('l', $l2, 'b', $b2, 'i', acc.i + 1,
           |      's', transform(sequence(0, 11),
           |        j -> IF(j = CAST(acc.i % 12 AS INT), $s2,
           |          element_at(acc.s, j + 1))),
           |      'init', true,
           |      'out', concat(acc.out, array(named_struct('m', e.m,
           |        'xq', e.xq, 'fq', acc.l + acc.b + $sOld,
           |        'lq', $l2, 'bq', $b2, 'sq', $s2))))),
           |  acc -> acc.out)) AS r""".stripMargin)
      .select($"r.m".as("m"),
        ($"r.xq".cast("double") / 1024.0 / 100.0).as("revenue"),
        ($"r.fq".cast("double") / 1024.0 / 100.0).as("forecast"),
        $"r.lq".as("level_q"), $"r.bq".as("trend_q"),
        $"r.sq".as("seasonal_q"),
        ($"r.xq" - $"r.fq").as("err_q"))
      .orderBy($"m")
  }

  val holtWintersSql: String = {
    def fdiv2(a: String) = s"((($a) - ((($a) % 2 + 2) % 2)) // 2)"
    val sOld = "hws.sl[CAST((hws.i % 12) + 1 AS INT)]"
    val l2 = fdiv2(s"n.xq - $sOld + hws.lq + hws.bq")
    val b2 = fdiv2(s"$l2 - hws.lq + hws.bq")
    val s2 = fdiv2(s"n.xq - $l2 + $sOld")
    s"""WITH RECURSIVE hws_monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      * 1024 AS xq
       |  FROM orders GROUP BY 1
       |),
       |hwsidx AS (
       |  SELECT m, xq, row_number() OVER (ORDER BY m) AS i
       |  FROM hws_monthly
       |),
       |hws(i, m, xq, fq, lq, bq, sq, sl) AS (
       |  SELECT i, m, xq, xq, xq, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |    list_transform(range(0, 12), j -> CAST(0 AS BIGINT))
       |  FROM hwsidx WHERE i = 1
       |  UNION ALL
       |  SELECT n.i, n.m, n.xq,
       |    hws.lq + hws.bq + $sOld,
       |    $l2,
       |    $b2,
       |    $s2,
       |    list_transform(range(0, 12),
       |      j -> CASE WHEN j = hws.i % 12 THEN $s2
       |        ELSE hws.sl[CAST(j + 1 AS INT)] END)
       |  FROM hws JOIN hwsidx n ON n.i = hws.i + 1
       |)
       |SELECT m, CAST(xq AS DOUBLE) / 1024.0 / 100.0 AS revenue,
       |  CAST(fq AS DOUBLE) / 1024.0 / 100.0 AS forecast,
       |  lq AS level_q, bq AS trend_q, sq AS seasonal_q,
       |  xq - fq AS err_q
       |FROM hws${sqlOrderBy(Seq("m"))}""".stripMargin
  }

  /** orders_croston: Croston's method (Croston 1972) for INTERMITTENT
    * demand, per part — the forecaster the smoothing family is missing:
    * [[ewma]]/[[holtLinear]]/[[holtWinters]] assume a dense series,
    * but a 20 K-part catalog's per-part monthly demand is mostly
    * zeros, where plain SES collapses toward 0 between orders.
    * Croston separates the series into demand SIZES and demand
    * INTERVALS and smooths each only AT demand points:
    *   z_t = ⌊(q_t + z)/2⌋,  p_t = ⌊(gap_t + p)/2⌋   (α = 1/2),
    * forecast per period = z/p, plus the Syntetos–Boylan (2005)
    * bias-corrected variant (1 − α/2)·z/p = 0.75·z/p. State lives in
    * 1/1024-unit BIGINT fixed point and every halving is the
    * [[holtLinear]] fdiv2 exact-floor discipline, so the compounded
    * per-part state is hash-exact in both engines. Contract: month
    * index is the dense integer (year−1992)·12 + month; init at a
    * part's FIRST demand sets z = q₁, p = 1.0 (gaps start informing p
    * from the second demand on).
    *
    * Scale posture: the fact scan collapses map-side to (part, month)
    * demand rows; the inherently sequential smoothing then runs as the
    * [[holtLinear]] `aggregate` fold PARTITIONED BY PART — 20 K
    * independent bounded folds (≤ |months| steps each), i.e. the
    * "per-segment series would partition the same fold by key" posture
    * stated there, now demonstrated: per-key state never crosses keys,
    * so the stage is embarrassingly parallel at any part count. */
  def croston(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def fdiv2(a: String) = s"((($a) - ((($a) % 2 + 2) % 2)) div 2)"
    val z2 = fdiv2("e.qq + acc.z")
    val p2 = fdiv2("(e.idx - acc.prev) * 1024 + acc.p")
    val demand = Tables(spark, dir, "lineitem")
      .select($"l_partkey",
        ((year(to_date($"l_shipdate")) - 1992) * 12 +
          month(to_date($"l_shipdate"))).cast("long").as("idx"),
        round($"l_quantity").cast("long").as("q"))
      .groupBy($"l_partkey", $"idx")
      .agg((sum($"q") * 1024L).as("qq"))
    demand
      .groupBy($"l_partkey")
      .agg(sort_array(collect_list(struct($"idx", $"qq"))).as("ser"))
      .selectExpr("l_partkey",
        s"""aggregate(
           |  ser,
           |  named_struct('z', CAST(0 AS BIGINT), 'p', CAST(0 AS BIGINT),
           |    'prev', CAST(0 AS BIGINT), 'nd', CAST(0 AS BIGINT),
           |    'init', false),
           |  (acc, e) -> IF(NOT acc.init,
           |    named_struct('z', e.qq, 'p', CAST(1024 AS BIGINT),
           |      'prev', e.idx, 'nd', CAST(1 AS BIGINT), 'init', true),
           |    named_struct('z', $z2, 'p', $p2,
           |      'prev', e.idx, 'nd', acc.nd + 1, 'init', true)),
           |  acc -> acc) AS st""".stripMargin)
      .select($"l_partkey", $"st.nd".as("n_demands"),
        $"st.z".as("size_q"), $"st.p".as("interval_q"),
        ($"st.z".cast("double") / $"st.p".cast("double")).as("croston"),
        ($"st.z".cast("double") / $"st.p".cast("double") * lit(0.75))
          .as("sba"))
      .orderBy($"l_partkey")
  }

  val crostonSql: String = {
    def fdiv2(a: String) = s"((($a) - ((($a) % 2 + 2) % 2)) // 2)"
    val z2 = fdiv2("n.qq + cr.z")
    val p2 = fdiv2("(n.idx - cr.prev) * 1024 + cr.p")
    s"""WITH RECURSIVE cr_demand AS (
       |  SELECT l_partkey,
       |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
       |      AS BIGINT) AS idx,
       |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
       |      * 1024 AS qq
       |  FROM lineitem GROUP BY 1, 2
       |),
       |cridx AS (
       |  SELECT l_partkey, idx, qq,
       |    row_number() OVER (PARTITION BY l_partkey ORDER BY idx) AS i
       |  FROM cr_demand
       |),
       |cr(l_partkey, i, idx, z, p, prev, nd) AS (
       |  SELECT l_partkey, i, idx, qq, CAST(1024 AS BIGINT), idx,
       |    CAST(1 AS BIGINT)
       |  FROM cridx WHERE i = 1
       |  UNION ALL
       |  SELECT n.l_partkey, n.i, n.idx,
       |    $z2,
       |    $p2,
       |    n.idx,
       |    cr.nd + 1
       |  FROM cr JOIN cridx n
       |    ON n.l_partkey = cr.l_partkey AND n.i = cr.i + 1
       |),
       |crlast AS (
       |  SELECT l_partkey, z, p, nd,
       |    row_number() OVER (PARTITION BY l_partkey ORDER BY i DESC) AS rn
       |  FROM cr
       |)
       |SELECT l_partkey, nd AS n_demands, z AS size_q, p AS interval_q,
       |  CAST(z AS DOUBLE) / CAST(p AS DOUBLE) AS croston,
       |  CAST(z AS DOUBLE) / CAST(p AS DOUBLE) * 0.75 AS sba
       |FROM crlast WHERE rn = 1${sqlOrderBy(Seq("l_partkey"))}""".stripMargin
  }

  /** orders_seasonal_decompose: the classical additive decomposition
    * (Persons 1919; the `decompose()` every stats stack ships) of the
    * monthly revenue series — observed = trend + seasonal + residual —
    * in EXACT integer arithmetic end to end: the trend is the textbook
    * centered 2×12 moving average kept in 1/24-month-cent units
    * (trend24 = x_{t−6} + 2Σ_{t−5..t+5}x + x_{t+6}, defined only where
    * the full 13-month window exists), the detrended series
    * d = 24x − trend24 is integer, per-calendar-month seasonal indices
    * are exact floor-means re-centered by their own floor-mean, and
    * the residual is an integer subtraction. The only doubles are
    * display conversions. Where [[seasonalIndex]] reports one
    * multiplicative index per month-of-year, this emits the full
    * per-month decomposition a forecasting audit plots.
    *
    * Scale posture: the fact scan collapses map-side to |months| rows
    * before the bounded unpartitioned windows (the documented benign
    * class — window cost independent of fact volume); the seasonal
    * rollup is 12 rows broadcast back. */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables(spark, dir, "orders")
      .select(trunc(to_date($"o_orderdate"), "month").as("m"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"m").agg(sum($"cents").as("x"))
    val w = Window.orderBy($"m")
    val trended = monthly
      .withColumn("trend24",
        when(count($"x").over(w.rowsBetween(-6, 6)) === 13,
          lag($"x", 6).over(w) + lead($"x", 6).over(w)
            + lit(2L) * sum($"x").over(w.rowsBetween(-5, 5))))
      .withColumn("d", lit(24L) * $"x" - $"trend24")
      .withColumn("moy", month($"m"))
    val seas = trended.filter($"d".isNotNull)
      .groupBy($"moy").agg(expr("sum(d) div count(*)").as("s_raw"))
    val center = seas.agg(expr("sum(s_raw) div count(*)").as("sbar"))
    val seasonal = seas.crossJoin(broadcast(center))
      .select($"moy", ($"s_raw" - $"sbar").as("seasonal24"))
    trended.join(broadcast(seasonal), Seq("moy"), "left")
      .select($"m",
        ($"x".cast("double") / 100.0).as("revenue"),
        ($"trend24".cast("double") / 24.0 / 100.0).as("trend"),
        $"seasonal24",
        ($"d" - $"seasonal24").as("residual24"))
      .orderBy($"m")
  }

  val seasonalDecomposeSql: String =
    s"""WITH sd_monthly AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS x
       |  FROM orders GROUP BY 1
       |),
       |sd_tr AS (
       |  SELECT m, x,
       |    CAST(CASE WHEN COUNT(x) OVER (ORDER BY m
       |        ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) = 13
       |      THEN lag(x, 6) OVER (ORDER BY m) + lead(x, 6) OVER (ORDER BY m)
       |        + 2 * SUM(x) OVER (ORDER BY m
       |            ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
       |    END AS BIGINT) AS trend24,
       |    CAST(month(m) AS INTEGER) AS moy
       |  FROM sd_monthly
       |),
       |sd_d AS (
       |  SELECT sd_tr.*, CAST(24 * x - trend24 AS BIGINT) AS d FROM sd_tr
       |),
       |sd_seas AS (
       |  SELECT moy, CAST(SUM(d) // COUNT(*) AS BIGINT) AS s_raw
       |  FROM sd_d WHERE d IS NOT NULL GROUP BY moy
       |),
       |sd_center AS (
       |  SELECT CAST(SUM(s_raw) // COUNT(*) AS BIGINT) AS sbar FROM sd_seas
       |),
       |sd_seasonal AS (
       |  SELECT moy, s_raw - sbar AS seasonal24
       |  FROM sd_seas CROSS JOIN sd_center
       |)
       |SELECT d.m, CAST(d.x AS DOUBLE) / 100.0 AS revenue,
       |  CAST(d.trend24 AS DOUBLE) / 24.0 / 100.0 AS trend,
       |  CAST(s.seasonal24 AS BIGINT) AS seasonal24,
       |  CAST(d.d - s.seasonal24 AS BIGINT) AS residual24
       |FROM sd_d d LEFT JOIN sd_seasonal s ON d.moy = s.moy
       |${sqlOrderBy(Seq("d.m")).trim}""".stripMargin

  /** orders_seasonal_anomaly: robust anomaly flags over the
    * [[seasonalDecompose]] residuals — the composed alert a revenue
    * monitor actually pages on: a month is anomalous when its
    * detrended, deseasonalized residual sits more than 2 MADs from the
    * residual median (the robust fence that one whale month cannot
    * widen, unlike a σ fence). Median and MAD are exact rank-⌈n/2⌉
    * order statistics over the residual months ((value, m) tiebreak),
    * the flag |r − med| > 2·MAD is a pure integer comparison in the
    * decomposition's exact 1/24-cent units, and the DuckDB oracle
    * re-derives the whole composition — decomposition chain included.
    *
    * Scale posture: everything after the monthly rollup runs on the
    * |months|-bounded series (two rank windows + one broadcast of a
    * 1-row med/mad frame). */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val res = seasonalDecompose(spark, dir)
      .filter($"residual24".isNotNull)
      .select($"m", $"revenue", $"residual24")
      .localCheckpoint(false) // |months| rows; feeds two rank passes + output (r15: lazy)
    val wMed = Window.orderBy($"residual24", $"m")
    val med = res
      .withColumn("rk", row_number().over(wMed))
      .withColumn("n", count(lit(1)).over())
      .filter($"rk" === expr("(n + 1) div 2"))
      .select($"residual24".as("med"))
    val devs = res.crossJoin(broadcast(med))
      .withColumn("adev", abs($"residual24" - $"med"))
    val wMad = Window.orderBy($"adev", $"m")
    val mad = devs
      .withColumn("rk", row_number().over(wMad))
      .withColumn("n", count(lit(1)).over())
      .filter($"rk" === expr("(n + 1) div 2"))
      .select($"adev".as("mad"))
    devs.crossJoin(broadcast(mad))
      .select($"m", $"revenue", $"residual24", $"med", $"mad",
        ($"adev" > $"mad" * 2L).as("is_anomaly"))
      .orderBy($"m")
  }

  val seasonalAnomalySql: String = {
    val decomp = seasonalDecomposeSql
      .replaceFirst("(?s)SELECT d\\.m.*$", "")
      .stripSuffix("\n")
    s"""${decomp.trim}
       |, sa_res AS (
       |  SELECT d.m, CAST(d.x AS DOUBLE) / 100.0 AS revenue,
       |    CAST(d.d - s.seasonal24 AS BIGINT) AS residual24
       |  FROM sd_d d JOIN sd_seasonal s ON d.moy = s.moy
       |  WHERE d.d IS NOT NULL
       |),
       |sa_med AS (
       |  SELECT residual24 AS med FROM (
       |    SELECT residual24,
       |      row_number() OVER (ORDER BY residual24, m) AS rk,
       |      COUNT(*) OVER () AS n
       |    FROM sa_res
       |  ) WHERE rk = (n + 1) // 2
       |),
       |sa_dev AS (
       |  SELECT m, revenue, residual24, med,
       |    abs(residual24 - med) AS adev
       |  FROM sa_res CROSS JOIN sa_med
       |),
       |sa_mad AS (
       |  SELECT adev AS mad FROM (
       |    SELECT adev, row_number() OVER (ORDER BY adev, m) AS rk,
       |      COUNT(*) OVER () AS n
       |    FROM sa_dev
       |  ) WHERE rk = (n + 1) // 2
       |)
       |SELECT m, revenue, residual24, med, mad,
       |  adev > mad * 2 AS is_anomaly
       |FROM sa_dev CROSS JOIN sa_mad
       |${sqlOrderBy(Seq("m")).trim}""".stripMargin
  }

  /** CUSUM upward-shift detector over daily revenue — sequential
    * change detection (Page 1954) in one window pass: the textbook
    * recursion C_t = max(0, C_{t−1} + (x_t − k)) cannot run as a
    * plain window aggregate, but it EQUALS P_t − min(0, min_{i≤t} P_i)
    * where P is the prefix sum of deviations — so two stock windows
    * (running sum, running min) compute the exact recursion with no
    * recursive CTE and no UDF on either engine. The reference level k
    * is the integer-division daily mean (exact BIGINT — a fractional
    * mean would leak float into every prefix). All CUSUM values are
    * exact cents; the alarm flag (cusum > 20%% of k) is an integer
    * comparison.
    *
    * Scale posture: facts collapse to |days| rows before the bounded
    * windows (the benign unpartitioned-window class); at 100 TB the
    * same identity runs per segment under partitionBy. */
  /** orders_changepoint: single change-point detection by binary
    * segmentation over the monthly revenue series — the structural-
    * break localizer behind drift monitors (where [[cusum]] ALARMS on
    * a shift, this answers WHERE it happened). The split month
    * maximizes the between-segment sum of squares
    * S_L²/n_L + S_R²/n_R − S²/n (the SSE reduction of a one-break
    * piecewise-constant fit), computed entirely from integer-cent
    * prefix sums: the squares are exact DECIMAL(38,0)/HUGEINT integer
    * products cast to double, every division is a single IEEE op on
    * exactly-agreed inputs, and the argmax is deterministic under
    * (gain DESC, month) ordering — bit-identical across engines.
    *
    * Scale posture: the fact table collapses to |months| rows in one
    * map-side-combined rollup before anything quadratic-free but
    * windowed runs; the candidate scan is one |months|-row window
    * (time-bounded, not data-bounded). */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val monthly = Tables(spark, dir, "orders")
      .select((year($"o_orderdate") * 12 + month($"o_orderdate"))
        .cast("long").as("m"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"m").agg(sum($"cents").as("y"))
    val tot = monthly.agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val w = Window.orderBy($"m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sr = $"s" - $"sl"
    val gain =
      ($"sl".cast(dec) * $"sl".cast(dec)).cast("double") / $"t".cast("double") +
        (sr.cast(dec) * sr.cast(dec)).cast("double") /
          ($"n" - $"t").cast("double") -
        ($"s".cast(dec) * $"s".cast(dec)).cast("double") / $"n".cast("double")
    monthly
      .withColumn("t", row_number().over(Window.orderBy($"m")).cast("long"))
      .withColumn("sl", sum($"y").over(w))
      .crossJoin(broadcast(tot))
      .filter($"t" < $"n")
      .select($"m", $"t", $"n", gain.as("gain"),
        ($"sl".cast("double") / $"t".cast("double") / 100.0).as("mean_left"),
        (sr.cast("double") / ($"n" - $"t").cast("double") / 100.0)
          .as("mean_right"))
      .withColumn("rk", row_number().over(Window.orderBy($"gain".desc, $"m")))
      .filter($"rk" === 1)
      .select($"m".as("split_m"), $"n".as("n_months"), $"gain",
        $"mean_left", $"mean_right")
  }

  val changepointSql: String =
    s"""WITH monthly AS (
       |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
       |      AS m,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS y
       |  FROM orders GROUP BY 1
       |),
       |tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
       |  FROM monthly
       |),
       |pre AS (
       |  SELECT m,
       |    CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS t,
       |    CAST(SUM(y) OVER (ORDER BY m
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS sl
       |  FROM monthly
       |),
       |g AS (
       |  SELECT m, t, n,
       |    CAST(CAST(sl AS HUGEINT) * sl AS DOUBLE) / CAST(t AS DOUBLE)
       |      + CAST(CAST(s - sl AS HUGEINT) * (s - sl) AS DOUBLE)
       |        / CAST(n - t AS DOUBLE)
       |      - CAST(CAST(s AS HUGEINT) * s AS DOUBLE) / CAST(n AS DOUBLE)
       |      AS gain,
       |    CAST(sl AS DOUBLE) / CAST(t AS DOUBLE) / 100.0 AS mean_left,
       |    CAST(s - sl AS DOUBLE) / CAST(n - t AS DOUBLE) / 100.0
       |      AS mean_right
       |  FROM pre CROSS JOIN tot WHERE t < n
       |)
       |SELECT m AS split_m, n AS n_months, gain, mean_left, mean_right
       |FROM (SELECT g.*, row_number() OVER (ORDER BY gain DESC, m) AS rk
       |      FROM g)
       |WHERE rk = 1""".stripMargin

  def cusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "orders")
      .select(to_date($"o_orderdate").as("day"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"day").agg(sum($"cents").as("rev_c"))
    val k = daily.agg(expr("sum(rev_c) div count(1)").as("k"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(k))
      .withColumn("prefix", sum($"rev_c" - $"k").over(w))
      .withColumn("runmin", least(min($"prefix").over(w), lit(0L)))
      .select($"day",
        ($"rev_c".cast("double") / 100.0).as("revenue"),
        (($"prefix" - $"runmin").cast("double") / 100.0).as("cusum"),
        (($"prefix" - $"runmin") * 5L > $"k").cast("int").as("alarm"))
      .orderBy($"day")
  }

  val cusumSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_c
       |  FROM orders GROUP BY 1
       |),
       |kk AS (SELECT CAST(SUM(rev_c) // COUNT(*) AS BIGINT) AS k FROM daily),
       |p AS (
       |  SELECT day, rev_c, k,
       |    SUM(rev_c - k) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
       |  FROM daily CROSS JOIN kk
       |),
       |m AS (
       |  SELECT day, rev_c, k, prefix,
       |    LEAST(MIN(prefix) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS runmin
       |  FROM p
       |)
       |SELECT day,
       |  CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       |  CAST(prefix - runmin AS DOUBLE) / 100.0 AS cusum,
       |  CAST((prefix - runmin) * 5 > k AS INTEGER) AS alarm
       |FROM m${sqlOrderBy(Seq("day"))}""".stripMargin

  /** Autocorrelation of the monthly revenue series at lags 1–3 — the
    * seasonality/persistence fingerprint that decides whether a
    * forecasting layer needs AR terms at all (high ACF₁ → momentum;
    * ACF₁₂-style seasonal lags → [[seasonalIndex]] is the right model).
    * Computed in CLEARED-FRACTION integer form: with S = Σx and n
    * months, the centered term n·xₜ − S replaces xₜ − μ (the n² factors
    * cancel in the ratio), so numerators Σdₜ·dₜ₋ₖ and denominator Σdₜ²
    * are EXACT decimal integers and each ACF is one double division —
    * bit-identical cross-engine, no float accumulation.
    *
    * Scale posture: facts collapse to the |months| frame in one
    * partial-agg exchange; the lag windows run over ~84 bounded rows
    * (the monthlyRev single-partition note applies). The integer
    * centered terms cap at n·Σcents — DECIMAL(19,0) inputs keep the
    * products inside DECIMAL(38,0) up to ~1e6× this revenue. */
  def ordersAcf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val m = Tables(spark, dir, "orders")
      .groupBy(year($"o_orderdate").as("y"), month($"o_orderdate").as("mo"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
    val tot = m.agg(count(lit(1)).as("n"), sum($"x").as("s"))
    val w = Window.orderBy($"y", $"mo")
    val d0 = m.crossJoin(broadcast(tot))
      .select($"y", $"mo", ($"n" * $"x" - $"s").as("d"))
      .withColumn("d1", lag($"d", 1).over(w))
      .withColumn("d2", lag($"d", 2).over(w))
      .withColumn("d3", lag($"d", 3).over(w))
    d0.agg(count(lit(1)).as("n_months"),
        sum(($"d".cast(dec) * $"d".cast(dec))).as("den"),
        sum(($"d".cast(dec) * $"d1".cast(dec))).as("n1"),
        sum(($"d".cast(dec) * $"d2".cast(dec))).as("n2"),
        sum(($"d".cast(dec) * $"d3".cast(dec))).as("n3"))
      .select($"n_months",
        ($"n1".cast("double") / $"den".cast("double")).as("acf_lag1"),
        ($"n2".cast("double") / $"den".cast("double")).as("acf_lag2"),
        ($"n3".cast("double") / $"den".cast("double")).as("acf_lag3"))
  }

  val ordersAcfSql: String =
    s"""WITH m AS (
       |  SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
       |         CAST(month(o_orderdate) AS INTEGER) AS mo,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
       |  FROM orders GROUP BY 1, 2
       |),
       |tot AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s FROM m),
       |d0 AS (
       |  SELECT y, mo, n * x - s AS d FROM m CROSS JOIN tot
       |),
       |dl AS (
       |  SELECT d,
       |    lag(d, 1) OVER (ORDER BY y, mo) AS d1,
       |    lag(d, 2) OVER (ORDER BY y, mo) AS d2,
       |    lag(d, 3) OVER (ORDER BY y, mo) AS d3
       |  FROM d0
       |)
       |SELECT COUNT(*) AS n_months,
       |  CAST(SUM(CAST(d AS HUGEINT) * CAST(d1 AS HUGEINT)) AS DOUBLE)
       |    / CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DOUBLE) AS acf_lag1,
       |  CAST(SUM(CAST(d AS HUGEINT) * CAST(d2 AS HUGEINT)) AS DOUBLE)
       |    / CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DOUBLE) AS acf_lag2,
       |  CAST(SUM(CAST(d AS HUGEINT) * CAST(d3 AS HUGEINT)) AS DOUBLE)
       |    / CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DOUBLE) AS acf_lag3
       |FROM dl""".stripMargin

  /** orders_snaive_mase: seasonal-naive forecast backtest — predict
    * each month's revenue as the same month one year earlier, scored
    * by MASE (Hyndman & Koehler 2006), the scale-free forecast-quality
    * number every demand-planning dashboard quotes (MASE < 1 beats
    * the one-step naive). Stated in exact integer cents end-to-end:
    * numerator = seasonal-naive absolute errors over months 13+,
    * denominator = one-step-naive absolute errors over months 2+ (the
    * in-sample naive MAE convention), and the ratio is computed as
    * ONE division of two exact BIGINT cross-products
    * (Σe₁₂·n₁)/(Σe₁·n₁₂) — no intermediate float means.
    *
    * Scale posture: the month rollup is a map-combined groupBy to
    * |months| rows; the lag window sorts those |months| rows (time-
    * bounded, not data-bounded — the Theil–Sen argument); output one
    * row. */
  def snaiveMase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables(spark, dir, "orders")
      .groupBy(trunc(to_date($"o_orderdate"), "month").as("m"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"m")
    monthly
      .withColumn("l1", lag($"c", 1).over(w))
      .withColumn("l12", lag($"c", 12).over(w))
      .agg(count($"l1").as("n1"), sum(abs($"c" - $"l1")).as("e1"),
        count($"l12").as("n12"), sum(abs($"c" - $"l12")).as("e12"))
      .select($"n1".as("n_train"), $"n12".as("n_test"),
        ($"e1".cast("double") / 100.0 / $"n1".cast("double"))
          .as("mae_naive1"),
        ($"e12".cast("double") / 100.0 / $"n12".cast("double"))
          .as("mae_snaive"),
        (($"e12" * $"n1").cast("double") / ($"e1" * $"n12").cast("double"))
          .as("mase"))
  }

  val snaiveMaseSql: String =
    s"""WITH snm AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS c
       |  FROM orders GROUP BY 1
       |),
       |snl AS (
       |  SELECT c, lag(c, 1) OVER (ORDER BY m) AS l1,
       |    lag(c, 12) OVER (ORDER BY m) AS l12
       |  FROM snm
       |),
       |sna AS (
       |  SELECT CAST(COUNT(l1) AS BIGINT) AS n1,
       |    CAST(SUM(abs(c - l1)) AS BIGINT) AS e1,
       |    CAST(COUNT(l12) AS BIGINT) AS n12,
       |    CAST(SUM(abs(c - l12)) AS BIGINT) AS e12
       |  FROM snl
       |)
       |SELECT n1 AS n_train, n12 AS n_test,
       |  CAST(e1 AS DOUBLE) / 100.0 / CAST(n1 AS DOUBLE) AS mae_naive1,
       |  CAST(e12 AS DOUBLE) / 100.0 / CAST(n12 AS DOUBLE) AS mae_snaive,
       |  CAST(e12 * n1 AS DOUBLE) / CAST(e1 * n12 AS DOUBLE) AS mase
       |FROM sna""".stripMargin

  /** orders_mann_kendall: Mann–Kendall trend test on the monthly
    * revenue series (Mann 1945; Kendall 1975) — the nonparametric "is
    * revenue actually trending" answer beside the CUSUM/changepoint
    * detectors: S = Σ_{i<j} sgn(x_j − x_i) over all month pairs, with
    * the tie-corrected variance 18·Var = n(n−1)(2n+5) − Σ_g t(t−1)
    * (2t+5) and the continuity-corrected z = (S∓1)/√Var. Robust to
    * outliers and any monotone transform — the reason hydrology and
    * ops dashboards prefer it to an OLS slope t-test.
    *
    * Exactness: monthly revenues are exact integer cents, S is an
    * integer sum of CASE sgn terms over the bounded month×month grid
    * (the dense-grid crossJoin class — |months|² pairs, not data²),
    * the tie term and 18·Var are exact BIGINTs, and z is one terminal
    * IEEE assembly (divide by √(var18/18)) stated identically in both
    * engines.
    *
    * Scale posture: one month-grain rollup (map-side combined), then
    * every frame is |months|-bounded; a 100 TB trend test is one scan
    * plus an O(84²) grid. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables(spark, dir, "orders")
      .groupBy(year($"o_orderdate").as("y"), month($"o_orderdate").as("mo"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
      .select((($"y" * 12) + $"mo").as("t"), $"x")
      .localCheckpoint(false) // |months| rows feed pairs + ties + count (r15: lazy)
    val pairs = m.select($"t".as("t1"), $"x".as("x1"))
      .crossJoin(m.select($"t".as("t2"), $"x".as("x2")))
      .filter($"t1" < $"t2")
      .agg(sum(expr("CASE WHEN x2 > x1 THEN 1 WHEN x2 < x1 THEN -1" +
        " ELSE 0 END")).as("s_stat"))
    val ties = m.groupBy($"x").agg(count(lit(1)).as("tt"))
      .agg(count(lit(1)).as("n_value_groups"),
        sum(expr("tt * (tt - 1) * (2 * tt + 5)")).as("tie_term"))
    m.agg(count(lit(1)).as("n")).crossJoin(pairs).crossJoin(ties)
      .selectExpr("n AS n_months", "s_stat", "n_value_groups",
        "CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var18",
        """CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
          |  / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
          |         / CAST(18 AS DOUBLE))
          |WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
          |  / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
          |         / CAST(18 AS DOUBLE))
          |ELSE CAST(0 AS DOUBLE) END AS z""".stripMargin)
  }

  val mannKendallSql: String =
    s"""WITH mkm AS (
       |  SELECT CAST(year(o_orderdate) AS INTEGER) * 12
       |      + CAST(month(o_orderdate) AS INTEGER) AS t,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS x
       |  FROM orders GROUP BY 1
       |),
       |mkp AS (
       |  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
       |    WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |  FROM mkm a JOIN mkm b ON a.t < b.t
       |),
       |mkt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_value_groups,
       |    CAST(SUM(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT) AS tie_term
       |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM mkm GROUP BY x)
       |),
       |mkn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM mkm)
       |SELECT n AS n_months, s_stat, n_value_groups,
       |  CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var18,
       |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
       |    / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
       |           / CAST(18 AS DOUBLE))
       |  WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
       |    / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
       |           / CAST(18 AS DOUBLE))
       |  ELSE CAST(0 AS DOUBLE) END AS z
       |FROM mkn CROSS JOIN mkp CROSS JOIN mkt""".stripMargin

  /** orders_newsvendor: critical-fractile stocking levels per brand
    * (the newsvendor model, Arrow–Harris–Marschak 1951 form) — the
    * SERVICE-LEVEL leg of the inventory tier: `parts_abc_xyz` routes a
    * part to a policy, `orders_croston` forecasts the intermittent
    * mean, and the newsvendor quantile says HOW MUCH to stock: the
    * optimal level is the demand distribution's cu/(cu+co) quantile,
    * read here at the three canonical service levels 50/80/95% (80% =
    * the cu=4, co=1 underage/overage case). Demand observations are
    * per-lineitem order quantities at brand grain.
    *
    * Exactness: each level is the exact lower order statistic —
    * smallest q with 100·cum(q) ≥ level·n, an integer cross-multiply
    * on the per-brand (quantity, count) grid, never a float quantile;
    * mean demand is one terminal division of exact BIGINTs.
    *
    * Scale posture: one fact scan collapsing map-side to the
    * (brand, quantity) grid (|brands|·50 rows); the cumulative window
    * partitions by brand over ≤|distinct qty| rows — the
    * `stat_mannwhitney` value-grid class, no raw-row sort at any
    * corpus size. */
  def newsvendor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .select($"p_brand".as("brand"),
        round($"l_quantity").cast("long").as("q"))
    val grid = d.groupBy($"brand", $"q").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(
        Window.partitionBy($"brand").orderBy($"q")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum($"cnt").over(Window.partitionBy($"brand")))
    grid.groupBy($"brand").agg(
      max($"n").as("n_obs"),
      min(when($"cum" * 100 >= $"n" * 50, $"q")).as("q50"),
      min(when($"cum" * 100 >= $"n" * 80, $"q")).as("q80"),
      min(when($"cum" * 100 >= $"n" * 95, $"q")).as("q95"),
      (sum($"q" * $"cnt").cast("double") / max($"n").cast("double"))
        .as("mean_qty"))
      .orderBy($"brand")
  }

  val newsvendorSql: String =
    s"""WITH nvd AS (
       |  SELECT p.p_brand AS brand, CAST(round(l_quantity) AS BIGINT) AS q
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |),
       |nvg AS (
       |  SELECT brand, q, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM nvd GROUP BY brand, q
       |),
       |nvc AS (
       |  SELECT brand, q, cnt,
       |    CAST(SUM(cnt) OVER (PARTITION BY brand ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY brand) AS BIGINT) AS n
       |  FROM nvg
       |)
       |SELECT brand, MAX(n) AS n_obs,
       |  MIN(CASE WHEN cum * 100 >= n * 50 THEN q END) AS q50,
       |  MIN(CASE WHEN cum * 100 >= n * 80 THEN q END) AS q80,
       |  MIN(CASE WHEN cum * 100 >= n * 95 THEN q END) AS q95,
       |  CAST(CAST(SUM(CAST(q AS HUGEINT) * cnt) AS HUGEINT) AS DOUBLE)
       |    / CAST(MAX(n) AS DOUBLE) AS mean_qty
       |FROM nvc GROUP BY brand
       |${sqlOrderBy(Seq("brand")).trim}""".stripMargin

  /** parts_eoq: economic order quantity per brand (Harris 1913 — the
    * classic √(2DS/H) lot-size rule) — the ORDER-SIZING leg beside the
    * [[newsvendor]] service level: given horizon demand D (exact unit
    * count from the fact table), fixed ordering cost S = $100, and a
    * holding cost of 20% of the brand's mean unit retail price per
    * horizon, the cost-optimal lot is √(2DS/H) and the implied order
    * count is D/EOQ.
    *
    * Exactness: D and the retail-cent moments are exact BIGINTs;
    * EOQ's one sqrt is IEEE-correctly-rounded in BOTH engines (sqrt is
    * exact in a way libm log/exp are not — the reason this operator
    * can gate on hash while log-family formulas ride qlog2), and the
    * assembly is written operation-for-operation identically.
    *
    * Scale posture: one fact scan map-side combined to |brands| rows,
    * one broadcast part-dim rollup, terminal math on |brands| rows. */
  def partsEoq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dem = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand".as("brand"))
      .agg(sum(round($"l_quantity").cast("long")).as("d_units"))
    val price = Tables(spark, dir, "part")
      .groupBy($"p_brand".as("brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(round($"p_retailprice" * 100).cast("long")).as("cents"))
    dem.join(price, "brand")
      .select($"brand", $"d_units", $"n_parts",
        ($"cents".cast("double") / $"n_parts".cast("double") / lit(5.0))
          .as("h_cents"))
      .withColumn("eoq_units",
        sqrt(lit(2.0) * $"d_units".cast("double") * lit(10000.0)
          / $"h_cents"))
      .withColumn("n_orders", $"d_units".cast("double") / $"eoq_units")
      .orderBy($"brand")
  }

  val partsEoqSql: String =
    s"""WITH eqd AS (
       |  SELECT p.p_brand AS brand,
       |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
       |      AS d_units
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  GROUP BY 1
       |),
       |eqp AS (
       |  SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
       |    CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM part GROUP BY 1
       |),
       |eqh AS (
       |  SELECT d.brand, d.d_units, p.n_parts,
       |    CAST(cents AS DOUBLE) / CAST(n_parts AS DOUBLE)
       |      / CAST(5.0 AS DOUBLE) AS h_cents
       |  FROM eqd d JOIN eqp p ON d.brand = p.brand
       |)
       |SELECT brand, d_units, n_parts, h_cents,
       |  sqrt(CAST(2.0 AS DOUBLE) * CAST(d_units AS DOUBLE)
       |    * CAST(10000.0 AS DOUBLE) / h_cents) AS eoq_units,
       |  CAST(d_units AS DOUBLE)
       |    / sqrt(CAST(2.0 AS DOUBLE) * CAST(d_units AS DOUBLE)
       |      * CAST(10000.0 AS DOUBLE) / h_cents) AS n_orders
       |FROM eqh
       |${sqlOrderBy(Seq("brand")).trim}""".stripMargin

  /** orders_croston_tsb: Teunter–Syntetos–Babai intermittent-demand
    * smoothing per part (TSB, Teunter et al. 2011) — the OBSOLESCENCE-
    * AWARE successor to [[croston]]: Croston's interval estimate only
    * updates at demand points, so a part that stops selling keeps its
    * stale forecast forever; TSB instead smooths a demand PROBABILITY
    * every period (p ← p + β(d_t − p), here β = ½ as the exact
    * [[holtLinear]] fdiv2 halving on the 1/1024 grid, with 1024 ≡
    * certainty), decaying the forecast p·z through every demand-free
    * month. The per-part series is the DENSE month grid from the
    * part's first demand to the global horizon end — the gaps ARE the
    * signal.
    *
    * Exactness: z rides the croston 1/1024-unit grid, p the 1/1024
    * probability grid, both updated by exact floored halvings inside
    * the same `aggregate` fold; the forecast p·z is an exact BIGINT
    * product with ONE terminal division by 2²⁰.
    *
    * Scale posture: fact scan → (part, month) demand rollup (map-side
    * combined) → dense-grid explode bounded by |parts|·|months| →
    * independent bounded per-part folds (the croston posture; the
    * probability updates add |months|−|demands| no-demand steps per
    * part, still ≤|horizon| each). The oracle replays every month as
    * a recursive CTE over the same dense grid. */
  def crostonTsb(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def fdiv2(a: String) = s"((($a) - ((($a) % 2 + 2) % 2)) div 2)"
    val demand = Tables(spark, dir, "lineitem")
      .select($"l_partkey",
        ((year(to_date($"l_shipdate")) - 1992) * 12 +
          month(to_date($"l_shipdate"))).cast("long").as("idx"),
        round($"l_quantity").cast("long").as("q"))
      .groupBy($"l_partkey", $"idx")
      .agg((sum($"q") * 1024L).as("qq"))
    // r15 NOTE: a lazy localCheckpoint on demand was tried and REVERTED
    // (floor 3.40→5.59 s, reproduced by the bench confirm gate):
    // ReuseExchange already shares demand's one exchange across all
    // three consumers, so the checkpoint only added a blocking persist
    // of the rollup.
    // r15 (2nd session, guide §2.3/§2.4): the dense-grid explode
    // (|parts|·|months| rows through a left join and a sorted
    // collect_list) is gone — a run of g demand-free months only
    // halves p g times, and repeated exact floor-halving of a
    // NONNEGATIVE long is one shiftright (p starts at 1024 ≥ 0 and
    // every update keeps it ≥ 0), so the fold walks the |demand|-row
    // sparse series and applies the gap as `p >> (gap−1)` before each
    // demand step plus one terminal `p >> (midx − last)`. Shifts ≥ 63
    // clamp to 0 (Java shift semantics mask the amount; p < 2⁶³ makes
    // ≥63 halvings exactly 0). State values are bit-identical to the
    // dense fold — the oracle's dense recursive CTE and the
    // Round13OpsSpec dense-grid replay both gate that.
    val mx = demand.agg(max($"idx").as("midx"))
    def shr(p: String, s: String) =
      s"IF(($s) >= 63, CAST(0 AS BIGINT), shiftright($p, CAST($s AS INT)))"
    demand.groupBy($"l_partkey")
      .agg(sort_array(collect_list(struct($"idx", $"qq"))).as("ser"))
      .crossJoin(broadcast(mx))
      .selectExpr("l_partkey", "midx - ser[0].idx + 1 AS n_months",
        s"""aggregate(
           |  ser,
           |  named_struct('z', CAST(0 AS BIGINT), 'p', CAST(0 AS BIGINT),
           |    'nd', CAST(0 AS BIGINT), 'prev', CAST(0 AS BIGINT),
           |    'init', false),
           |  (acc, e) -> IF(NOT acc.init,
           |    named_struct('z', e.qq, 'p', CAST(1024 AS BIGINT),
           |      'nd', CAST(1 AS BIGINT), 'prev', e.idx, 'init', true),
           |    named_struct('z', ${fdiv2("e.qq + acc.z")},
           |      'p', ${fdiv2("1024 + " +
                  shr("acc.p", "e.idx - acc.prev - 1"))},
           |      'nd', acc.nd + 1, 'prev', e.idx, 'init', true)),
           |  acc -> named_struct('z', acc.z,
           |    'p', ${shr("acc.p", "midx - acc.prev")},
           |    'nd', acc.nd)) AS st""".stripMargin)
      .select($"l_partkey", $"n_months", $"st.nd".as("n_demands"),
        $"st.z".as("size_q"), $"st.p".as("prob_q"),
        (($"st.p" * $"st.z").cast("double") /
          lit(1048576L).cast("double")).as("tsb_forecast"))
      .orderBy($"l_partkey")
  }

  val crostonTsbSql: String = {
    def fdiv2(a: String) = s"((($a) - ((($a) % 2 + 2) % 2)) // 2)"
    s"""WITH RECURSIVE tsbd AS (
       |  SELECT l_partkey,
       |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
       |      AS BIGINT) AS idx,
       |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
       |      * 1024 AS qq
       |  FROM lineitem GROUP BY 1, 2
       |),
       |tsbf AS (SELECT l_partkey, MIN(idx) AS fidx FROM tsbd GROUP BY 1),
       |tsbmx AS (SELECT MAX(idx) AS midx FROM tsbd),
       |tsbg AS (
       |  SELECT l_partkey,
       |    unnest(range(fidx, (SELECT midx FROM tsbmx) + 1)) AS idx
       |  FROM tsbf
       |),
       |tsbx AS (
       |  SELECT g.l_partkey, g.idx, COALESCE(d.qq, -1) AS qq,
       |    row_number() OVER (PARTITION BY g.l_partkey ORDER BY g.idx)
       |      AS i
       |  FROM tsbg g LEFT JOIN tsbd d
       |    ON d.l_partkey = g.l_partkey AND d.idx = g.idx
       |),
       |tsb(l_partkey, i, z, p, nd) AS (
       |  SELECT l_partkey, i, qq, CAST(1024 AS BIGINT), CAST(1 AS BIGINT)
       |  FROM tsbx WHERE i = 1
       |  UNION ALL
       |  SELECT n.l_partkey, n.i,
       |    CASE WHEN n.qq >= 0 THEN ${fdiv2("n.qq + t.z")} ELSE t.z END,
       |    CASE WHEN n.qq >= 0 THEN ${fdiv2("1024 + t.p")}
       |      ELSE ${fdiv2("t.p")} END,
       |    t.nd + CASE WHEN n.qq >= 0 THEN 1 ELSE 0 END
       |  FROM tsb t JOIN tsbx n
       |    ON n.l_partkey = t.l_partkey AND n.i = t.i + 1
       |),
       |tsbl AS (
       |  SELECT l_partkey, i, z, p, nd,
       |    row_number() OVER (PARTITION BY l_partkey ORDER BY i DESC)
       |      AS rn
       |  FROM tsb
       |)
       |SELECT l_partkey, CAST(i AS BIGINT) AS n_months,
       |  nd AS n_demands, z AS size_q, p AS prob_q,
       |  CAST(p * z AS DOUBLE) / CAST(1048576 AS DOUBLE) AS tsb_forecast
       |FROM tsbl WHERE rn = 1${sqlOrderBy(Seq("l_partkey"))}""".stripMargin
  }

  /** orders_safety_stock: safety stock + reorder point per brand at a
    * 95% cycle-service level over a 7-day lead time (the σ√L rule
    * every inventory text pairs with [[partsEoq]]'s lot size and
    * [[newsvendor]]'s fractile): ss = z₀.₉₅·σ_d·√L over the DAILY
    * demand series including its zero days — the demand-free days an
    * order must survive are exactly what the variance must count, so
    * n is the brand's full calendar span, not its active days.
    *
    * Exactness: per-day unit totals and both moments (Σd, Σd²) are
    * exact BIGINTs (zero days contribute 0 to both, so only active
    * days are ever scanned); μ, σ, ss, and ROP = 7μ + ss are one
    * fixed-shape terminal IEEE assembly (sqrt correctly rounded in
    * both engines; z = 1.6449 embedded as the same shortest-repr
    * literal — the `events_ab_power` convention).
    *
    * Scale posture: one fact scan map-side combined to (brand, day)
    * rows, then |brands|-row moment aggregates and a broadcast 1-row
    * span join. */
  def safetyStock(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand".as("brand"), to_date($"l_shipdate").as("d"))
      .agg(sum(round($"l_quantity").cast("long")).as("units"))
    val span = Tables(spark, dir, "lineitem")
      .agg((datediff(max(to_date($"l_shipdate")),
        min(to_date($"l_shipdate"))) + 1).cast("long").as("n_days"))
    // second moment in DECIMAL(38,0): units*units in BIGINT would WRAP
    // silently under non-ANSI Spark at large per-brand daily volumes
    // while the HUGEINT oracle keeps going — the welchTTest/effectSizes
    // moment discipline (round-14 ADVICE fix)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    daily.groupBy($"brand")
      .agg(sum($"units").as("s"),
        sum($"units".cast(dec) * $"units".cast(dec)).as("ss"),
        count(lit(1)).as("active_days"))
      .crossJoin(broadcast(span))
      .select($"brand", $"n_days", $"active_days", $"s".as("total_units"),
        ($"s".cast("double") / $"n_days".cast("double")).as("mean_daily"),
        sqrt(($"ss".cast("double") -
          $"s".cast("double") * $"s".cast("double") /
            $"n_days".cast("double")) /
          ($"n_days" - 1L).cast("double")).as("sd_daily"))
      .withColumn("safety_stock_95",
        lit(1.6449) * $"sd_daily" * sqrt(lit(7.0)))
      .withColumn("reorder_point",
        lit(7.0) * $"mean_daily" + $"safety_stock_95")
      .orderBy($"brand")
  }

  val safetyStockSql: String =
    s"""WITH ssd AS (
       |  SELECT p.p_brand AS brand, CAST(l_shipdate AS DATE) AS d,
       |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
       |      AS units
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  GROUP BY 1, 2
       |),
       |ssn AS (
       |  SELECT CAST(date_diff('day', MIN(CAST(l_shipdate AS DATE)),
       |    MAX(CAST(l_shipdate AS DATE))) + 1 AS BIGINT) AS n_days
       |  FROM lineitem
       |),
       |ssm AS (
       |  -- ss stays HUGEINT (Spark side is DECIMAL(38,0)); the DOUBLE
       |  -- cast below routes through VARCHAR per the house HUGEINT rule
       |  SELECT brand, CAST(SUM(units) AS BIGINT) AS s,
       |    SUM(CAST(units AS HUGEINT) * units) AS ss,
       |    CAST(COUNT(*) AS BIGINT) AS active_days
       |  FROM ssd GROUP BY brand
       |),
       |ssa AS (
       |  SELECT brand, n_days, active_days, s AS total_units,
       |    CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
       |    sqrt((CAST(CAST(ss AS VARCHAR) AS DOUBLE)
       |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
       |        / CAST(n_days AS DOUBLE))
       |      / CAST(n_days - 1 AS DOUBLE)) AS sd_daily
       |  FROM ssm CROSS JOIN ssn
       |)
       |SELECT brand, n_days, active_days, total_units, mean_daily,
       |  sd_daily,
       |  CAST(1.6449 AS DOUBLE) * sd_daily * sqrt(CAST(7.0 AS DOUBLE))
       |    AS safety_stock_95,
       |  CAST(7.0 AS DOUBLE) * mean_daily
       |    + CAST(1.6449 AS DOUBLE) * sd_daily * sqrt(CAST(7.0 AS DOUBLE))
       |    AS reorder_point
       |FROM ssa
       |${sqlOrderBy(Seq("brand")).trim}""".stripMargin

  /** events_bass_diffusion: Bass product-diffusion model fit (Bass
    * 1969) over the purchase-adoption curve — the GROWTH-forecasting
    * member of the family (trend/seasonality live in Holt–Winters;
    * Bass models ADOPTION saturating at a market size m, the question
    * "how big does this get and how fast"). The discrete Bass form is
    * linear in the cumulative-adopter count: daily new adopters
    * S_t = β₀ + β₁·N_{t−1} + β₂·N²_{t−1} with p = β₀/m, q = β₁ + p,
    * m the positive root of β₂m² + β₁m + β₀ = 0 (Bass's own
    * regression-estimation procedure, §7 of the paper). Adopters are
    * users on their FIRST purchase day; the regression runs over the
    * daily adoption grid.
    *
    * Exactness: all eight normal-equation moments (n, Σx, Σx², Σx³,
    * Σx⁴, Σy, Σxy, Σx²y with x = N_{t−1}, y = S_t) are exact
    * DECIMAL(38,0)/HUGEINT integers — Σx⁴ ≤ |days|·|users|⁴ needs the
    * wide type from ~10⁵ users and caps the exact path at ~7·10⁸
    * adopters, past which x pre-scales to thousands (one exact integer
    * division) before the moments; Cramer's rule for the 3×3 solve and
    * the quadratic root for m are ONE fixed-shape terminal IEEE
    * assembly (sqrt is correctly rounded in both engines), det-0 and
    * negative-discriminant CASE-guarded to NULL identically. Fixture
    * verdict: the synthetic events table's first purchases arrive
    * near-uniformly, so the fitted quadratic opens UPWARD (β₂ > 0) and
    * m̂/p̂/q̂ are NULL at every SF — the guard correctly reporting "no
    * interior saturation in this horizon", which IS the Bass answer
    * for a non-saturating curve (β₀..β₂ remain the informative fit).
    *
    * Scale posture: one events scan → user-keyed first-purchase rollup
    * (map-side combined) → |days|-bounded daily grid; the cumulative
    * window and every later frame live on ≤|days| rows. */
  def bassDiffusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables(spark, dir, "events")
      .filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min(to_date($"ts")).as("d"))
      .groupBy($"d").agg(count(lit(1)).as("y"))
    val grid = daily
      .withColumn("x", coalesce(sum($"y").over(
        Window.orderBy($"d").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val m = grid.agg(
      count(lit(1)).as("n"),
      sum($"x".cast(dec)).as("sx"),
      sum($"x".cast(dec) * $"x".cast(dec)).as("sx2"),
      sum($"x".cast(dec) * $"x".cast(dec) * $"x".cast(dec)).as("sx3"),
      sum($"x".cast(dec) * $"x".cast(dec) * $"x".cast(dec) *
        $"x".cast(dec)).as("sx4"),
      sum($"y".cast(dec)).as("sy"),
      sum($"x".cast(dec) * $"y".cast(dec)).as("sxy"),
      sum($"x".cast(dec) * $"x".cast(dec) * $"y".cast(dec)).as("sx2y"))
    // Cramer's rule on the 3x3 normal equations, assembled in DOUBLE
    // from the exact moments with identical operation order both sides
    val assembled = m.selectExpr(
      "CAST(n AS BIGINT) AS n_days",
      "CAST(sy AS BIGINT) AS n_adopters",
      "CAST(n AS DOUBLE) AS dn", "CAST(sx AS DOUBLE) AS dsx",
      "CAST(sx2 AS DOUBLE) AS dsx2", "CAST(sx3 AS DOUBLE) AS dsx3",
      "CAST(sx4 AS DOUBLE) AS dsx4", "CAST(sy AS DOUBLE) AS dsy",
      "CAST(sxy AS DOUBLE) AS dsxy", "CAST(sx2y AS DOUBLE) AS dsx2y")
      .selectExpr("n_days", "n_adopters",
        """(dn * (dsx2 * dsx4 - dsx3 * dsx3)
          | - dsx * (dsx * dsx4 - dsx2 * dsx3)
          | + dsx2 * (dsx * dsx3 - dsx2 * dsx2)) AS det""".stripMargin
          .replace("\n", ""),
        """(dsy * (dsx2 * dsx4 - dsx3 * dsx3)
          | - dsx * (dsxy * dsx4 - dsx2y * dsx3)
          | + dsx2 * (dsxy * dsx3 - dsx2y * dsx2)) AS det0""".stripMargin
          .replace("\n", ""),
        """(dn * (dsxy * dsx4 - dsx2y * dsx3)
          | - dsy * (dsx * dsx4 - dsx2 * dsx3)
          | + dsx2 * (dsx * dsx2y - dsx2 * dsxy)) AS det1""".stripMargin
          .replace("\n", ""),
        """(dn * (dsx2 * dsx2y - dsx3 * dsxy)
          | - dsx * (dsx * dsx2y - dsx3 * dsy)
          | + dsy * (dsx * dsx3 - dsx2 * dsx2)) AS det2""".stripMargin
          .replace("\n", ""))
    assembled.selectExpr("n_days", "n_adopters",
      "CASE WHEN det = 0.0 THEN CAST(NULL AS DOUBLE) ELSE det0 / det END AS b0",
      "CASE WHEN det = 0.0 THEN CAST(NULL AS DOUBLE) ELSE det1 / det END AS b1",
      "CASE WHEN det = 0.0 THEN CAST(NULL AS DOUBLE) ELSE det2 / det END AS b2")
      .selectExpr("n_days", "n_adopters", "b0", "b1", "b2",
        """CASE WHEN b2 IS NULL OR b2 = 0.0
          |  OR b1 * b1 - 4.0 * b2 * b0 < 0.0 THEN CAST(NULL AS DOUBLE)
          |  ELSE (-b1 - sqrt(b1 * b1 - 4.0 * b2 * b0)) / (2.0 * b2)
          |END AS m_hat""".stripMargin.replace("\n", ""))
      .selectExpr("n_days", "n_adopters", "b0", "b1", "b2", "m_hat",
        """CASE WHEN m_hat IS NULL OR m_hat = 0.0 THEN CAST(NULL AS DOUBLE)
          |  ELSE b0 / m_hat END AS p_hat""".stripMargin.replace("\n", ""))
      .selectExpr("n_days", "n_adopters", "b0", "b1", "b2", "m_hat",
        "p_hat",
        """CASE WHEN p_hat IS NULL THEN CAST(NULL AS DOUBLE)
          |  ELSE b1 + p_hat END AS q_hat""".stripMargin.replace("\n", ""))
  }

  val bassDiffusionSql: String =
    s"""WITH bsu AS (
       |  SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events
       |  WHERE event_type = 'purchase' GROUP BY user_id
       |),
       |bsd AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS y
       |        FROM bsu GROUP BY d),
       |bsg AS (
       |  SELECT d, y, COALESCE(CAST(SUM(y) OVER (ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    0) AS x
       |  FROM bsd
       |),
       |bsm AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       |    CAST(SUM(y) AS BIGINT) AS n_adopters,
       |    CAST(COUNT(*) AS DOUBLE) AS dn,
       |    CAST(CAST(CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) AS dsx,
       |    CAST(CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) AS dsx2,
       |    CAST(CAST(CAST(SUM(CAST(x AS HUGEINT) * x * x) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) AS dsx3,
       |    CAST(CAST(CAST(SUM(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) AS dsx4,
       |    CAST(CAST(CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) AS dsy,
       |    CAST(CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) AS dsxy,
       |    CAST(CAST(CAST(SUM(CAST(x AS HUGEINT) * x * y) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) AS dsx2y
       |  FROM bsg
       |),
       |bsdet AS (
       |  SELECT n_days, n_adopters,
       |    (dn * (dsx2 * dsx4 - dsx3 * dsx3)
       |     - dsx * (dsx * dsx4 - dsx2 * dsx3)
       |     + dsx2 * (dsx * dsx3 - dsx2 * dsx2)) AS det,
       |    (dsy * (dsx2 * dsx4 - dsx3 * dsx3)
       |     - dsx * (dsxy * dsx4 - dsx2y * dsx3)
       |     + dsx2 * (dsxy * dsx3 - dsx2y * dsx2)) AS det0,
       |    (dn * (dsxy * dsx4 - dsx2y * dsx3)
       |     - dsy * (dsx * dsx4 - dsx2 * dsx3)
       |     + dsx2 * (dsx * dsx2y - dsx2 * dsxy)) AS det1,
       |    (dn * (dsx2 * dsx2y - dsx3 * dsxy)
       |     - dsx * (dsx * dsx2y - dsx3 * dsy)
       |     + dsy * (dsx * dsx3 - dsx2 * dsx2)) AS det2
       |  FROM bsm
       |),
       |bsb AS (
       |  SELECT n_days, n_adopters,
       |    CASE WHEN det = 0.0 THEN CAST(NULL AS DOUBLE)
       |      ELSE det0 / det END AS b0,
       |    CASE WHEN det = 0.0 THEN CAST(NULL AS DOUBLE)
       |      ELSE det1 / det END AS b1,
       |    CASE WHEN det = 0.0 THEN CAST(NULL AS DOUBLE)
       |      ELSE det2 / det END AS b2
       |  FROM bsdet
       |),
       |bsmh AS (
       |  SELECT n_days, n_adopters, b0, b1, b2,
       |    CASE WHEN b2 IS NULL OR b2 = 0.0
       |      OR b1 * b1 - 4.0 * b2 * b0 < 0.0 THEN CAST(NULL AS DOUBLE)
       |      ELSE (-b1 - sqrt(b1 * b1 - 4.0 * b2 * b0)) / (2.0 * b2)
       |    END AS m_hat
       |  FROM bsb
       |),
       |bsp AS (
       |  SELECT n_days, n_adopters, b0, b1, b2, m_hat,
       |    CASE WHEN m_hat IS NULL OR m_hat = 0.0 THEN CAST(NULL AS DOUBLE)
       |      ELSE b0 / m_hat END AS p_hat
       |  FROM bsmh
       |)
       |SELECT n_days, n_adopters, b0, b1, b2, m_hat, p_hat,
       |  CASE WHEN p_hat IS NULL THEN CAST(NULL AS DOUBLE)
       |    ELSE b1 + p_hat END AS q_hat
       |FROM bsp""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_newsvendor" -> newsvendor,
    "parts_eoq" -> partsEoq,
    "events_bass_diffusion" -> bassDiffusion,
    "orders_croston_tsb" -> crostonTsb,
    "orders_safety_stock" -> safetyStock,
    "orders_snaive_mase" -> snaiveMase,
    "orders_acf" -> ordersAcf,
    "orders_mann_kendall" -> mannKendall,
    "orders_holt_winters" -> holtWinters,
    "orders_cusum" -> cusum,
    "orders_changepoint" -> changepoint,
    "orders_ewma" -> ewma,
    "orders_holt_linear" -> holtLinear,
    "orders_croston" -> croston,
    "orders_seasonal_decompose" -> seasonalDecompose,
    "orders_seasonal_anomaly" -> seasonalAnomaly,
    "orders_seasonal_index" -> seasonalIndex,
    "dim_calendar" -> dimCalendar,
    "orders_gap_fill" -> gapFill,
    "orders_gap_interp" -> gapInterp)

  val oracles: Map[String, String] = Map(
    "orders_newsvendor" -> newsvendorSql,
    "parts_eoq" -> partsEoqSql,
    "events_bass_diffusion" -> bassDiffusionSql,
    "orders_croston_tsb" -> crostonTsbSql,
    "orders_safety_stock" -> safetyStockSql,
    "orders_snaive_mase" -> snaiveMaseSql,
    "orders_cusum" -> cusumSql,
    "orders_changepoint" -> changepointSql,
    "orders_acf" -> ordersAcfSql,
    "orders_mann_kendall" -> mannKendallSql,
    "orders_holt_winters" -> holtWintersSql,
    "orders_ewma" -> ewmaSql,
    "orders_holt_linear" -> holtLinearSql,
    "orders_croston" -> crostonSql,
    "orders_seasonal_decompose" -> seasonalDecomposeSql,
    "orders_seasonal_anomaly" -> seasonalAnomalySql,
    "orders_seasonal_index" -> seasonalIndexSql,
    "dim_calendar" -> dimCalendarSql,
    "orders_gap_fill" -> gapFillSql,
    "orders_gap_interp" -> gapInterpSql)
}
