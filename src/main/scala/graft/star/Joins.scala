package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.Det.{sqlSum, sqlOrderBy}

/** Join surface (SURVEY.md §2.3 J1-J5). The reference contains zero
  * joins (denormalized medallion design), so this tier is the `[EXT]`
  * join inventory the 100 TB north star requires, each with a DuckDB
  * oracle.
  *
  * Scale posture per join:
  *  - equi joins shuffle on their keys; AQE picks broadcast-hash when a
  *    side fits `spark.sql.autoBroadcastJoinThreshold` and handles skew
  *    (`skewJoin.enabled`) — we hint `broadcast()` only for genuinely
  *    bounded dims (region/nation/part-sizes).
  *  - the range join broadcasts a 50-row distinct-key side, so the
  *    nested-loop comparison count is |lineitem| x 50, linear in data.
  *  - the as-of join avoids any N^2 pairing: union the two event sets,
  *    one shuffle on user_id, one sort per partition, then a running
  *    `last(_, ignoreNulls)` — the standard streaming-friendly as-of
  *    formulation (no Spark built-in exists).
  */
object Joins extends graft.QueryModule {

  /** J1: 3-way equi inner join + aggregate — revenue per
    * (market segment, order priority). */
  def innerAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "orders"), $"c_custkey" === $"o_custkey")
      .join(Tables(spark, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"c_mktsegment", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        Det.xsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
      .orderBy($"c_mktsegment", $"o_orderpriority")
  }

  val innerAggSql: String =
    s"""SELECT c_mktsegment, o_orderpriority,
       |  COUNT(*) AS n_lines,
       |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY c_mktsegment, o_orderpriority${sqlOrderBy(Seq("c_mktsegment", "o_orderpriority"))}""".stripMargin

  /** J2: broadcast dimension join — lineitem x part, aggregated by
    * brand. `broadcast(part)` pins BroadcastHashJoin: no shuffle of the
    * fact side at any scale. */
  def broadcastDim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(
        count(lit(1)).as("n_items"),
        Det.xsum($"l_quantity").as("total_qty"),
        Det.xsum($"l_extendedprice").as("total_price"))
      .orderBy($"p_brand")
  }

  val broadcastDimSql: String =
    s"""SELECT p_brand,
       |  COUNT(*) AS n_items,
       |  ${sqlSum("l_quantity")} AS total_qty,
       |  ${sqlSum("l_extendedprice")} AS total_price
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand${sqlOrderBy(Seq("p_brand"))}""".stripMargin

  /** TPC-H Q5-shaped 6-way join: revenue by nation for ASIA customers
    * ordering in 1996, supplier co-located with customer nation. */
  def multiwayQ5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "region").filter($"r_name" === "ASIA")
      .join(broadcast(Tables(spark, dir, "nation")),
        $"r_regionkey" === $"n_regionkey")
      .join(Tables(spark, dir, "customer"), $"n_nationkey" === $"c_nationkey")
      .join(Tables(spark, dir, "orders"),
        $"c_custkey" === $"o_custkey" && year($"o_orderdate") === 1996)
      .join(Tables(spark, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .join(Tables(spark, dir, "supplier"),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(
        count(lit(1)).as("n_lines"),
        Det.xsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
      .orderBy($"n_name")
  }

  val multiwayQ5Sql: String =
    s"""SELECT n_name,
       |  COUNT(*) AS n_lines,
       |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM region
       |JOIN nation ON r_regionkey = n_regionkey
       |JOIN customer ON n_nationkey = c_nationkey
       |JOIN orders ON c_custkey = o_custkey AND CAST(year(o_orderdate) AS INTEGER) = 1996
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name${sqlOrderBy(Seq("n_name"))}""".stripMargin

  /** J1 left outer: every customer with order count and spend (zero for
    * customers without orders). */
  def leftOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "orders"), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        count($"o_orderkey").as("n_orders"),
        coalesce(Det.xsum($"o_totalprice"), lit(0.0)).as("total_spend"))
      .orderBy($"c_custkey")
  }

  val leftOuterSql: String =
    s"""SELECT c_custkey, c_name,
       |  COUNT(o_orderkey) AS n_orders,
       |  COALESCE(${sqlSum("o_totalprice")}, CAST(0 AS DOUBLE)) AS total_spend
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name${sqlOrderBy(Seq("c_custkey"))}""".stripMargin

  /** J1 right outer: the mirror form, registered in its own right —
    * the preserved side is the RIGHT input (orders RIGHT JOIN customer
    * keeps customers with no orders). Spark plans RightOuter either
    * directly or by flipping build sides under AQE; this query pins the
    * semantics regardless of which physical form wins. Distinct output
    * from [[leftOuter]]: counts only urgent-priority orders, so the
    * null-extension rows carry zeros from a FILTERED probe side. */
  def rightOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey",
        "right")
      .groupBy($"c_custkey", $"c_mktsegment")
      .agg(
        count($"o_orderkey").as("n_urgent"),
        coalesce(Det.xsum($"o_totalprice"), lit(0.0)).as("urgent_spend"))
      .orderBy($"c_custkey")
  }

  val rightOuterSql: String =
    s"""SELECT c_custkey, c_mktsegment,
       |  COUNT(o_orderkey) AS n_urgent,
       |  COALESCE(${sqlSum("o_totalprice")}, CAST(0 AS DOUBLE)) AS urgent_spend
       |FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') orders
       |RIGHT JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_mktsegment${sqlOrderBy(Seq("c_custkey"))}""".stripMargin

  /** J3 semi: customers with at least one open ('O') order. */
  def semi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "orders").filter($"o_orderstatus" === "O"),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  val semiSql: String =
    s"""SELECT c_custkey, c_name FROM customer
       |WHERE EXISTS (SELECT 1 FROM orders
       |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
       |${sqlOrderBy(Seq("c_custkey")).trim}""".stripMargin

  /** J3 anti: customers with no pending ('P') order. */
  def anti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "orders").filter($"o_orderstatus" === "P"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val antiSql: String =
    s"""SELECT c_custkey, c_name, c_mktsegment FROM customer
       |WHERE NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
       |${sqlOrderBy(Seq("c_custkey")).trim}""".stripMargin

  /** J4 range (non-equi) join: lineitems whose quantity falls within
    * +-1 of a part size — the small side is 50 distinct sizes, broadcast
    * into a nested-loop join (|fact| x 50 comparisons, linear). */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sizes = Tables(spark, dir, "part").select($"p_size").distinct()
    Tables(spark, dir, "lineitem")
      .join(broadcast(sizes),
        $"l_quantity" >= $"p_size" - 1 && $"l_quantity" <= $"p_size" + 1)
      .groupBy($"p_size")
      .agg(
        count(lit(1)).as("n_matched"),
        Det.xsum($"l_quantity").as("total_qty"))
      .orderBy($"p_size")
  }

  val rangeJoinSql: String =
    s"""SELECT p_size,
       |  COUNT(*) AS n_matched,
       |  ${sqlSum("l_quantity")} AS total_qty
       |FROM (SELECT DISTINCT p_size FROM part) s
       |JOIN lineitem ON l_quantity >= p_size - 1 AND l_quantity <= p_size + 1
       |GROUP BY p_size${sqlOrderBy(Seq("p_size"))}""".stripMargin

  /** Banded (bucketed) range join — the 100 TB rewrite of [[rangeJoin]]:
    * quantize the range predicate into interval buckets of width 2 (>=
    * the interval length, so each interval spans <= 2 buckets), expand
    * the small side to its covering buckets, EQUI-join on the bucket id,
    * then re-apply the exact range predicate. Same answer as the
    * nested-loop form (same DuckDB oracle proves it), but the join is a
    * hash join: per probe row one bucket lookup instead of |build|
    * predicate evaluations, and — unlike a nested loop — it shuffles/
    * co-partitions on the bucket key when neither side fits in a
    * broadcast. A point lands in exactly one bucket and each (size,
    * bucket) pair is listed once, so no post-join dedup is needed. */
  def rangeJoinBanded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 2
    val sizes = Tables(spark, dir, "part").select($"p_size").distinct()
      .select($"p_size", explode(sequence(
        floor(($"p_size" - 1).cast("double") / W).cast("bigint"),
        floor(($"p_size" + 1).cast("double") / W).cast("bigint"))).as("bucket"))
    Tables(spark, dir, "lineitem")
      .select($"l_quantity",
        floor($"l_quantity".cast("double") / W).cast("bigint").as("bucket"))
      .join(broadcast(sizes), Seq("bucket"))
      .filter($"l_quantity" >= $"p_size" - 1 && $"l_quantity" <= $"p_size" + 1)
      .groupBy($"p_size")
      .agg(
        count(lit(1)).as("n_matched"),
        Det.xsum($"l_quantity").as("total_qty"))
      .orderBy($"p_size")
  }

  /** J5 as-of join: for every click event, the most recent purchase by
    * the same user at ts <= click ts (inclusive). Spark has no built-in
    * as-of join; the scalable formulation used here is
    * union-tag -> one shuffle on user_id -> per-partition sort ->
    * running `last(ignoreNulls)` window. The DuckDB oracle uses its
    * native ASOF JOIN, so the two independent formulations check each
    * other. (user_id, ts) is duplicate-free in the data, so inclusive-
    * boundary semantics are unambiguous. */
  def asof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts",
        lit(null).cast("timestamp_ntz").as("p_ts"),
        lit(null).cast("double").as("p_value"),
        lit(1).as("is_click"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts",
        $"ts".as("p_ts"), $"value".as("p_value"), lit(0).as("is_click"))
    // purchases sort before clicks at an exact ts tie (is_click asc),
    // keeping a same-instant purchase visible — the >= contract; the
    // test corpus has ns-unique timestamps, so this is future-proofing
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"is_click")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_ts", last($"p_ts", ignoreNulls = true).over(w))
      .withColumn("asof_value", last($"p_value", ignoreNulls = true).over(w))
      .filter($"is_click" === 1)
      .select($"event_id", $"user_id", $"ts", $"asof_ts", $"asof_value")
      .orderBy($"event_id")
  }

  val asofSql: String =
    s"""SELECT c.event_id, c.user_id, c.ts, p.ts AS asof_ts, p.value AS asof_value
       |FROM (SELECT * FROM events WHERE event_type = 'click') c
       |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
       |  ON c.user_id = p.user_id AND c.ts >= p.ts
       |ORDER BY c.event_id NULLS FIRST""".stripMargin

  /** J5 with a staleness tolerance (pandas merge_asof's `tolerance`):
    * the nearest preceding purchase matches ONLY if it is at most 7
    * days old — an older one is nulled, not replaced by nothing newer
    * (tolerance filters the picked match; it never falls back to an
    * even older row). The attribution-window semantics every marketing
    * pipeline actually wants: a click shouldn't inherit a purchase
    * from months ago. Same one-shuffle union+window shape as [[asof]];
    * the tolerance is a post-pick CASE, so the plan cost is identical. */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts",
        lit(null).cast("timestamp_ntz").as("p_ts"),
        lit(null).cast("double").as("p_value"),
        lit(1).as("is_click"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts",
        $"ts".as("p_ts"), $"value".as("p_value"), lit(0).as("is_click"))
    // at an exact ts tie the purchase sorts first (is_click asc), so a
    // same-instant purchase is visible to the click — the >= contract
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"is_click")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fresh = $"asof_ts" >= $"ts" - expr("INTERVAL 7 DAYS")
    clicks.unionByName(purchases)
      .withColumn("asof_ts", last($"p_ts", ignoreNulls = true).over(w))
      .withColumn("asof_value", last($"p_value", ignoreNulls = true).over(w))
      .filter($"is_click" === 1)
      .select($"event_id", $"user_id", $"ts",
        when(fresh, $"asof_ts").as("asof_ts"),
        when(fresh, $"asof_value").as("asof_value"))
      .orderBy($"event_id")
  }

  val asofToleranceSql: String =
    s"""SELECT c.event_id, c.user_id, c.ts,
       |  CASE WHEN p.ts >= c.ts - INTERVAL 7 DAY THEN p.ts END AS asof_ts,
       |  CASE WHEN p.ts >= c.ts - INTERVAL 7 DAY THEN p.value END
       |    AS asof_value
       |FROM (SELECT * FROM events WHERE event_type = 'click') c
       |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
       |  ON c.user_id = p.user_id AND c.ts >= p.ts
       |ORDER BY c.event_id NULLS FIRST""".stripMargin

  /** J5 in the FORWARD direction (pandas merge_asof
    * `direction='forward'`): the nearest purchase AT or AFTER each
    * click — "what did this click lead to", the attribution mirror of
    * the backward form. Window flips to currentRow..unboundedFollowing
    * with `first(ignoreNulls)`; at an exact ts tie the click sorts
    * first so the same-instant purchase stays visible (the <=
    * contract, matching DuckDB's `ON c.ts <= p.ts`). */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts",
        lit(null).cast("timestamp_ntz").as("p_ts"),
        lit(null).cast("double").as("p_value"),
        lit(1).as("is_click"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts",
        $"ts".as("p_ts"), $"value".as("p_value"), lit(0).as("is_click"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"is_click".desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    clicks.unionByName(purchases)
      .withColumn("next_ts", first($"p_ts", ignoreNulls = true).over(w))
      .withColumn("next_value", first($"p_value", ignoreNulls = true).over(w))
      .filter($"is_click" === 1)
      .select($"event_id", $"user_id", $"ts", $"next_ts", $"next_value")
      .orderBy($"event_id")
  }

  val asofForwardSql: String =
    s"""SELECT c.event_id, c.user_id, c.ts,
       |  p.ts AS next_ts, p.value AS next_value
       |FROM (SELECT * FROM events WHERE event_type = 'click') c
       |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
       |  ON c.user_id = p.user_id AND c.ts <= p.ts
       |ORDER BY c.event_id NULLS FIRST""".stripMargin

  /** J5 again via the custom whole-operator implementation
    * (graft.plans.AsOfJoinExec): same semantics, one co-partitioning +
    * single-pass merge instead of union+window. Checked by the SAME
    * DuckDB ASOF JOIN oracle as [[asof]]. */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    graft.plans.AsOf.join(clicks, purchases, key = "user_id", ts = "ts")
      .select($"event_id", $"user_id", $"ts",
        $"ts_r".as("asof_ts"), $"value_r".as("asof_value"))
      .orderBy($"event_id")
  }

  /** [[asofNative]] with the operator's 7-day tolerance: the physical
    * merge nulls a picked match older than the tolerance — same
    * filter-the-pick contract as [[asofTolerance]], proven by the SAME
    * oracle. */
  def asofNativeTol(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    graft.plans.AsOf.join(clicks, purchases, key = "user_id", ts = "ts",
      toleranceMicros = Some(7L * 86400 * 1000000))
      .select($"event_id", $"user_id", $"ts",
        $"ts_r".as("asof_ts"), $"value_r".as("asof_value"))
      .orderBy($"event_id")
  }

  /** [[asofNative]] in the forward direction: the merge peeks (never
    * consumes) the first right row at ts >= left ts — proven by the
    * same oracle as [[asofForward]]. */
  def asofNativeFwd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    graft.plans.AsOf.join(clicks, purchases, key = "user_id", ts = "ts",
      forward = true)
      .select($"event_id", $"user_id", $"ts",
        $"ts_r".as("next_ts"), $"value_r".as("next_value"))
      .orderBy($"event_id")
  }

  /** Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other — required when a nullable dimension ("unknown"
    * bucket) must still pair up across two aggregates instead of
    * silently dropping. Spark plans `<=>` as an ordinary hash join
    * (EqualNullSafe is a valid equi-join key, hashed like any value),
    * so the scale story is identical to [[innerAgg]] — no nested loop.
    * The nullable key is derived (NULLIF of a low-cardinality status)
    * because the harness tables are null-free. */
  def nullSafe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables(spark, dir, "orders")
    val a = orders
      .groupBy(expr("NULLIF(o_orderstatus, 'P')").as("k"))
      .agg(count(lit(1)).as("n_orders"))
    val b = orders
      .groupBy(expr("NULLIF(o_orderstatus, 'P')").as("k"))
      .agg(countDistinct($"o_custkey").cast("long").as("n_custs"))
      .select($"k".as("kb"), $"n_custs")
    a.join(b, $"k" <=> $"kb")
      .select($"k", $"n_orders", $"n_custs")
      .orderBy($"k")
  }

  val nullSafeSql: String =
    s"""SELECT a.k, a.n_orders, b.n_custs FROM
       |  (SELECT NULLIF(o_orderstatus, 'P') AS k, COUNT(*) AS n_orders
       |   FROM orders GROUP BY 1) a
       |JOIN
       |  (SELECT NULLIF(o_orderstatus, 'P') AS k,
       |     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
       |   FROM orders GROUP BY 1) b
       |ON a.k IS NOT DISTINCT FROM b.k
       |${sqlOrderBy(Seq("a.k")).trim}""".stripMargin

  /** J1 full outer: the daily activity ledger — per-(user, day) click
    * counts FULL OUTER JOIN purchase counts, so a day with only one
    * kind of activity appears null-padded on the other side (~40% of
    * user-days each way in the test corpus). The reconciliation shape:
    * neither side may drop rows, which no composition of left/right
    * joins over the same two aggregates expresses in one pass.
    *
    * Scale posture: both aggregates and the join share the (user_id,
    * day) hash partitioning, so the whole ledger is ONE exchange per
    * side; full outer forces a shuffle join (no side can broadcast —
    * both must retain unmatched rows), which is the honest cost of the
    * semantics. */
  def fullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    def daily(kind: String, out: String) = ev
      .filter($"event_type" === kind)
      .groupBy($"user_id", $"ts".cast("date").as("day"))
      .agg(count(lit(1)).as(out))
    daily("click", "n_clicks")
      .join(daily("purchase", "n_purchases"), Seq("user_id", "day"),
        "full_outer")
      .orderBy($"user_id", $"day")
  }

  val fullOuterSql: String =
    s"""WITH c AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_clicks
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
       |),
       |p AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
       |)
       |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       |  COALESCE(c.day, p.day) AS day, n_clicks, n_purchases
       |FROM c FULL OUTER JOIN p
       |  ON c.user_id = p.user_id AND c.day = p.day
       |ORDER BY user_id NULLS FIRST, day NULLS FIRST""".stripMargin

  /** NEAREST as-of — the sensor-alignment variant completing the
    * direction family (backward / forward / tolerance / nearest): each
    * click matches whichever purchase is closer in time, looking BOTH
    * ways, with the backward candidate winning exact-distance ties
    * (pandas merge_asof `direction='nearest'` convention). One
    * union-tagged frame feeds BOTH direction windows over the same
    * user partitioning — still a single shuffle — and the nearer pick
    * is exact microsecond integer arithmetic. The DuckDB oracle runs
    * two native ASOF joins (one per direction) and restates the
    * nearer-pick CASE — an independent formulation of the same
    * contract. */
  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts",
        lit(null).cast("timestamp_ntz").as("p_ts"),
        lit(null).cast("double").as("p_value"),
        lit(1).as("is_click"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts",
        $"ts".as("p_ts"), $"value".as("p_value"), lit(0).as("is_click"))
    val wB = Window.partitionBy($"user_id").orderBy($"ts", $"is_click")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy($"user_id").orderBy($"ts", $"is_click".desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val us = unix_micros($"ts".cast("timestamp"))
    def dus(c: org.apache.spark.sql.Column) =
      abs(unix_micros(c.cast("timestamp")) - us)
    clicks.unionByName(purchases)
      .withColumn("b_ts", last($"p_ts", ignoreNulls = true).over(wB))
      .withColumn("b_value", last($"p_value", ignoreNulls = true).over(wB))
      .withColumn("f_ts", first($"p_ts", ignoreNulls = true).over(wF))
      .withColumn("f_value", first($"p_value", ignoreNulls = true).over(wF))
      .filter($"is_click" === 1)
      .withColumn("pick_fwd",
        $"b_ts".isNull || ($"f_ts".isNotNull && dus($"f_ts") < dus($"b_ts")))
      .select($"event_id", $"user_id", $"ts",
        when($"pick_fwd", $"f_ts").otherwise($"b_ts").as("nearest_ts"),
        when($"pick_fwd", $"f_value").otherwise($"b_value")
          .as("nearest_value"),
        when($"b_ts".isNull && $"f_ts".isNull, lit(null).cast("string"))
          .otherwise(when($"pick_fwd", lit("forward"))
            .otherwise(lit("backward"))).as("direction"))
      .orderBy($"event_id")
  }

  val asofNearestSql: String =
    s"""WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
       |purch AS (SELECT * FROM events WHERE event_type = 'purchase'),
       |b AS (
       |  SELECT c.event_id, c.user_id, c.ts, p.ts AS b_ts, p.value AS b_value
       |  FROM clicks c ASOF LEFT JOIN purch p
       |    ON c.user_id = p.user_id AND c.ts >= p.ts
       |),
       |f AS (
       |  SELECT c.event_id, p.ts AS f_ts, p.value AS f_value
       |  FROM clicks c ASOF LEFT JOIN purch p
       |    ON c.user_id = p.user_id AND c.ts <= p.ts
       |),
       |j AS (
       |  SELECT b.event_id, b.user_id, b.ts, b_ts, b_value, f_ts, f_value,
       |    (b_ts IS NULL OR (f_ts IS NOT NULL AND
       |      abs(epoch_us(f_ts) - epoch_us(b.ts))
       |        < abs(epoch_us(b_ts) - epoch_us(b.ts)))) AS pick_fwd
       |  FROM b JOIN f USING (event_id)
       |)
       |SELECT event_id, user_id, ts,
       |  CASE WHEN pick_fwd THEN f_ts ELSE b_ts END AS nearest_ts,
       |  CASE WHEN pick_fwd THEN f_value ELSE b_value END AS nearest_value,
       |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN CAST(NULL AS VARCHAR)
       |       WHEN pick_fwd THEN 'forward' ELSE 'backward' END AS direction
       |FROM j${graft.Det.sqlOrderBy(Seq("event_id"))}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_asof_nearest" -> asofNearest,
    "join_full_outer" -> fullOuter,
    "join_null_safe" -> nullSafe,
    "join_asof_native" -> asofNative,
    "join_inner_agg" -> innerAgg,
    "join_broadcast_dim" -> broadcastDim,
    "join_multiway_q5" -> multiwayQ5,
    "join_left_outer" -> leftOuter,
    "join_right_outer" -> rightOuter,
    "join_semi" -> semi,
    "join_anti" -> anti,
    "join_range" -> rangeJoin,
    "join_range_banded" -> rangeJoinBanded,
    "join_asof" -> asof,
    "join_asof_tolerance" -> asofTolerance,
    "join_asof_forward" -> asofForward,
    "join_asof_native_tol" -> asofNativeTol,
    "join_asof_native_fwd" -> asofNativeFwd)

  val oracles: Map[String, String] = Map(
    "join_asof_nearest" -> asofNearestSql,
    "join_full_outer" -> fullOuterSql,
    "join_null_safe" -> nullSafeSql,
    "join_asof_native" -> asofSql,
    "join_inner_agg" -> innerAggSql,
    "join_broadcast_dim" -> broadcastDimSql,
    "join_multiway_q5" -> multiwayQ5Sql,
    "join_left_outer" -> leftOuterSql,
    "join_right_outer" -> rightOuterSql,
    "join_semi" -> semiSql,
    "join_anti" -> antiSql,
    "join_range" -> rangeJoinSql,
    "join_range_banded" -> rangeJoinSql,
    "join_asof" -> asofSql,
    "join_asof_tolerance" -> asofToleranceSql,
    "join_asof_forward" -> asofForwardSql,
    "join_asof_native_tol" -> asofToleranceSql,
    "join_asof_native_fwd" -> asofForwardSql)
}
