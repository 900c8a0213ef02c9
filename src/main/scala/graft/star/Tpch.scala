package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.Det.{sqlOrderBy, sqlSum}

/** The two canonical TPC-H scan benchmarks, adapted to the harness
  * star schema — the queries every engine comparison starts with:
  *
  *  - Q1 (pricing summary): the wide-aggregate scan stressor — one
  *    pass, 8 aggregates, tiny group count.
  *  - Q6 (forecast revenue change): the predicate-pushdown stressor —
  *    3 selective filters then a single sum; the scan should do nearly
  *    all the work.
  *
  * Cross-engine numerics: the classic Q1/Q6 expressions multiply
  * decimals (`extendedprice·(1-discount)·(1+tax)`); here price,
  * discount and tax are 2-decimal DOUBLEs, so each row is first
  * re-quantized to exact integers (cents / basis points — the stored
  * doubles sit within 1e-10 of the true 2-decimal values, so round()
  * agrees in both engines), the per-row products and their sums are
  * EXACT BIGINT arithmetic, and one final int64→double conversion +
  * power-of-ten division (both IEEE-exact-rounded, engine-identical)
  * produces the dollar figures. No decimal cast of a full-entropy
  * double anywhere — the DecimalDot seam cannot arise.
  *
  * Scale posture: both are single-exchange partial aggregates; Q6's
  * filters push to the parquet scan (PushedFilters asserted for this
  * table family in SourcesSpec), so at 100 TB it reads row groups that
  * min/max-match the predicate window and nothing else.
  */
object Tpch extends graft.QueryModule {

  /** Q1: pricing summary report over lineitems shipped by 1998-09-02. */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02").cast("date"))
      .select($"l_returnflag", $"l_linestatus", $"l_quantity",
        $"l_extendedprice",
        round($"l_extendedprice" * 100).cast("bigint").as("ec"),
        round($"l_discount" * 100).cast("bigint").as("db"),
        round($"l_tax" * 100).cast("bigint").as("tb"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Det.xsum($"l_quantity").as("sum_qty"),
        Det.xsum($"l_extendedprice").as("sum_base_price"),
        (sum($"ec" * (lit(100L) - $"db")).cast("double") / 1e4)
          .as("sum_disc_price"),
        (sum($"ec" * (lit(100L) - $"db") * (lit(100L) + $"tb")).cast("double")
          / 1e6).as("sum_charge"),
        Det.xavg($"l_quantity").as("avg_qty"),
        Det.xavg($"l_extendedprice").as("avg_price"),
        (sum($"db").cast("double") / 100 / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    s"""WITH l AS (
       |  SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ec,
       |    CAST(round(l_discount * 100) AS BIGINT) AS db,
       |    CAST(round(l_tax * 100) AS BIGINT) AS tb
       |  FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
       |)
       |SELECT l_returnflag, l_linestatus,
       |  ${sqlSum("l_quantity")} AS sum_qty,
       |  ${sqlSum("l_extendedprice")} AS sum_base_price,
       |  CAST(CAST(SUM(ec * (100 - db)) AS BIGINT) AS DOUBLE) / 1e4
       |    AS sum_disc_price,
       |  CAST(CAST(SUM(ec * (100 - db) * (100 + tb)) AS BIGINT) AS DOUBLE) / 1e6
       |    AS sum_charge,
       |  (${sqlSum("l_quantity")} / COUNT(l_quantity)) AS avg_qty,
       |  (${sqlSum("l_extendedprice")} / COUNT(l_extendedprice)) AS avg_price,
       |  CAST(CAST(SUM(db) AS BIGINT) AS DOUBLE) / 100 / COUNT(*) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM l GROUP BY 1, 2${sqlOrderBy(Seq("l_returnflag", "l_linestatus"))}""".stripMargin

  /** Q6: revenue change from discount-band lineitems in one year. */
  def q6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1994-01-01").cast("date") &&
        $"l_shipdate" < lit("1995-01-01").cast("date") &&
        $"l_discount".between(0.05, 0.07) &&
        $"l_quantity" < 24)
      .select(
        round($"l_extendedprice" * 100).cast("bigint").as("ec"),
        round($"l_discount" * 100).cast("bigint").as("db"))
      .agg((sum($"ec" * $"db").cast("double") / 1e4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q6Sql: String =
    s"""SELECT
       |  CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
       |    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e4
       |    AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Q3 (shipping priority): the classic join-then-top-k — segment-
    * filtered customers, not-yet-shipped orders, revenue per order,
    * top 10. The harness orders table has `o_orderpriority` where TPC-H
    * has `o_shippriority`. Revenue is summed in exact cents x basis
    * points (see class doc), so the DESC ordering ties only where the
    * true values tie, and `l_orderkey` breaks those deterministically.
    *
    * Scale posture: customers filter to 1/5 then broadcast into orders
    * (AQE measures the filtered side); lineitem joins orders on the key
    * both sides shuffle once; final top-10 is TakeOrderedAndProject —
    * never a global sort of per-order revenues. */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1998-06-30").cast("date")
    Tables(spark, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      .join(Tables(spark, dir, "orders"),
        $"c_custkey" === $"o_custkey" && $"o_orderdate" < cutoff)
      .join(Tables(spark, dir, "lineitem"),
        $"o_orderkey" === $"l_orderkey" && $"l_shipdate" > cutoff)
      .select($"l_orderkey",
        $"o_orderdate".cast("date").as("o_orderdate"), $"o_orderpriority",
        round($"l_extendedprice" * 100).cast("bigint").as("ec"),
        round($"l_discount" * 100).cast("bigint").as("db"))
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg((sum($"ec" * (lit(100L) - $"db")).cast("double") / 1e4)
        .as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       |  o_orderpriority,
       |  CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
       |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |    AS DOUBLE) / 1e4 AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |  AND o_orderdate < DATE '1998-06-30'
       |JOIN lineitem ON o_orderkey = l_orderkey
       |  AND l_shipdate > DATE '1998-06-30'
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY 1, 2, 3
       |ORDER BY revenue DESC NULLS LAST, l_orderkey NULLS FIRST
       |LIMIT 10""".stripMargin

  /** Q18 (large-volume customer): orders whose total lineitem quantity
    * exceeds 300, with their customer — the classic "aggregate feeds a
    * join" shape. Quantities are small integers stored as doubles, so
    * their sums are exact in IEEE and identical cross-engine.
    *
    * Scale posture: the lineitem groupBy partial-aggregates map-side
    * and its >300 survivor set is tiny (46 orders at sf0.01), so AQE
    * broadcasts it into the orders join; customer joins on the orders
    * result, not raw lineitem. Top-100 via TakeOrderedAndProject. */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables(spark, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(Det.xsum($"l_quantity").as("total_qty"))
      .filter($"total_qty" > 300)
    Tables(spark, dir, "orders")
      .join(big, $"o_orderkey" === $"l_orderkey")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey",
        $"o_orderdate".cast("date").as("o_orderdate"),
        $"o_totalprice", $"total_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  val q18Sql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey, ${sqlSum("l_quantity")} AS total_qty
       |  FROM lineitem GROUP BY 1 HAVING ${sqlSum("l_quantity")} > 300
       |)
       |SELECT c_name, c_custkey, o_orderkey,
       |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, total_qty
       |FROM orders
       |JOIN big ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST
       |LIMIT 100""".stripMargin

  /** Q4 (order priority checking): orders of one quarter having at
    * least ONE slow lineitem (shipped >90 days after ordering — the
    * harness twin of TPC-H's commit/receipt lag), counted by priority.
    * The EXISTS shape: Catalyst plans the correlated EXISTS as a LEFT
    * SEMI join, so each order contributes once no matter how many slow
    * lines it has — a COUNT over a plain join would multiply-count.
    *
    * Scale posture: both sides filter before the semi join; only order
    * keys cross the wire; the aggregate carries |priorities| states. */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders").createOrReplaceTempView("orders")
    Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1996-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL '90' DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val q4Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
       |FROM orders
       |WHERE o_orderdate >= DATE '1996-01-01'
       |  AND o_orderdate < DATE '1996-04-01'
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem
       |    WHERE l_orderkey = o_orderkey
       |      AND l_shipdate > o_orderdate + INTERVAL '90' DAY)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  /** Q5 (local supplier volume): revenue per nation from orders where
    * the customer and the lineitem's supplier share that nation,
    * restricted to one region and one order year — the canonical
    * 6-table snowflake join. Revenue in exact cents×basis-points like
    * [[q3]]; the c_nationkey = s_nationkey equality rides the join.
    *
    * Scale posture: region/nation broadcast (tiny dims) and the
    * region filter prunes nations BEFORE any fact shuffles; the date
    * window pushes to the orders scan; customer⋈orders and
    * ⋈lineitem⋈supplier co-shuffle on their keys; output is
    * |nations| rows. */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nations = broadcast(
      Tables(spark, dir, "nation")
        .join(broadcast(Tables(spark, dir, "region"))
          .filter($"r_name" === "ASIA"),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name"))
    Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "orders"),
        $"c_custkey" === $"o_custkey" &&
          $"o_orderdate" >= lit("1996-01-01").cast("date") &&
          $"o_orderdate" < lit("1997-01-01").cast("date"))
      .join(Tables(spark, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .join(Tables(spark, dir, "supplier"),
        $"l_suppkey" === $"s_suppkey" &&
          $"c_nationkey" === $"s_nationkey")
      .join(nations, $"s_nationkey" === $"n_nationkey")
      .select($"n_name",
        round($"l_extendedprice" * 100).cast("bigint").as("ec"),
        round($"l_discount" * 100).cast("bigint").as("db"))
      .groupBy($"n_name")
      .agg((sum($"ec" * (lit(100L) - $"db")).cast("double") / 1e4)
        .as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q5Sql: String =
    s"""SELECT n_name,
       |  CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
       |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |    AS DOUBLE) / 1e4 AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |  AND o_orderdate >= DATE '1996-01-01'
       |  AND o_orderdate < DATE '1997-01-01'
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |  AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name
       |ORDER BY revenue DESC NULLS LAST, n_name NULLS FIRST""".stripMargin

  /** Q10 (returned-item reporting): top-20 customers by revenue lost
    * to returns in one quarter — the 4-table join + aggregate + top-k
    * composite. Revenue in exact cents×basis-points; the DESC
    * ordering ties only where true values tie, broken by c_custkey.
    *
    * Scale posture: nation broadcasts; orders' date filter and
    * lineitem's returnflag filter both push to their scans; customer
    * and the filtered join co-shuffle on the customer key; top-20 is
    * TakeOrderedAndProject over the |customers|-bounded aggregate. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "customer")
      .join(Tables(spark, dir, "orders"),
        $"c_custkey" === $"o_custkey" &&
          $"o_orderdate" >= lit("1996-10-01").cast("date") &&
          $"o_orderdate" < lit("1997-01-01").cast("date"))
      .join(Tables(spark, dir, "lineitem"),
        $"o_orderkey" === $"l_orderkey" && $"l_returnflag" === "R")
      .join(broadcast(Tables(spark, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"c_acctbal", $"n_name",
        (round($"l_extendedprice" * 100).cast("bigint")
          * (lit(100L) - round($"l_discount" * 100).cast("bigint")))
          .as("disc"))
      .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
      .agg((sum($"disc").cast("double") / 1e4).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
       |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |    AS DOUBLE) / 1e4 AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |  AND o_orderdate >= DATE '1996-10-01'
       |  AND o_orderdate < DATE '1997-01-01'
       |JOIN lineitem ON o_orderkey = l_orderkey AND l_returnflag = 'R'
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue DESC NULLS LAST, c_custkey NULLS FIRST
       |LIMIT 20""".stripMargin

  /** Q14 (promotion effect): the conditional-aggregate-over-a-join
    * shape — what share of one year's discounted revenue came from
    * PROMO parts. Both sums are exact cents×basis-points BIGINTs; the
    * percentage is ONE IEEE division of their double conversions, so
    * the figure is engine-identical.
    *
    * Scale posture: part is the small side and broadcasts; the
    * lineitem date filter pushes to the scan; one partial+final
    * aggregate pair with two states. */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("date") &&
        $"l_shipdate" < lit("1997-01-01").cast("date"))
      .join(broadcast(Tables(spark, dir, "part")),
        $"l_partkey" === $"p_partkey")
      .select($"p_type",
        (round($"l_extendedprice" * 100).cast("bigint")
          * (lit(100L) - round($"l_discount" * 100).cast("bigint")))
          .as("disc"))
      .agg(
        (sum(when($"p_type" === "PROMO", $"disc").otherwise(0L))
          .cast("double") * 100.0
          / sum($"disc").cast("double")).as("promo_pct"),
        (sum($"disc").cast("double") / 1e4).as("total_revenue"))
  }

  val q14Sql: String =
    s"""WITH l AS (
       |  SELECT p_type,
       |    CAST(round(l_extendedprice * 100) AS BIGINT)
       |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS disc
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= DATE '1996-01-01'
       |    AND l_shipdate < DATE '1997-01-01'
       |)
       |SELECT
       |  CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN disc ELSE 0 END)
       |    AS BIGINT) AS DOUBLE) * 100.0
       |    / CAST(CAST(SUM(disc) AS BIGINT) AS DOUBLE) AS promo_pct,
       |  CAST(CAST(SUM(disc) AS BIGINT) AS DOUBLE) / 1e4 AS total_revenue
       |FROM l""".stripMargin

  /** Q19 (discounted revenue, disjunctive predicate): three ORed
    * brand/size/quantity clauses over the join — the CNF-conversion
    * stressor: the common `p_partkey = l_partkey` stays an equi key,
    * the shared `p_size >= 1` conjunct is extractable from the OR, and
    * the disjunction itself evaluates post-join rather than forcing a
    * nested loop. */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")),
        $"l_partkey" === $"p_partkey" && (
          ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) &&
            $"l_quantity".between(1, 11)) ||
          ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) &&
            $"l_quantity".between(10, 20)) ||
          ($"p_brand" === "Brand#34" && $"p_size".between(1, 15) &&
            $"l_quantity".between(20, 30))))
      .select(
        (round($"l_extendedprice" * 100).cast("bigint")
          * (lit(100L) - round($"l_discount" * 100).cast("bigint")))
          .as("disc"))
      .agg((sum($"disc").cast("double") / 1e4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q19Sql: String =
    s"""SELECT
       |  CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
       |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |    AS DOUBLE) / 1e4 AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |       AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** Q15 (top supplier): revenue per supplier for one quarter, keeping
    * the supplier(s) whose revenue EQUALS the maximum — the
    * view-then-scalar-subquery shape (TPC-H defines it with a CREATE
    * VIEW; here the aggregate is a CTE consumed twice). Revenue is the
    * exact cents×basis-points BIGINT, so "equals max" cannot be split
    * by float noise and the answer is engine-identical. Ties all
    * surface (no LIMIT 1), making the query deterministic by value.
    *
    * Scale posture: one partial+final aggregate to |suppliers| rows;
    * the MAX is a 1-row broadcast back over that aggregate (Catalyst
    * plans the scalar subquery as a subquery reuse, not a rescan);
    * supplier joins the one-or-few winners. */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val revenue = Tables(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("date") &&
        $"l_shipdate" < lit("1996-04-01").cast("date"))
      .groupBy($"l_suppkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("bigint")
        * (lit(100L) - round($"l_discount" * 100).cast("bigint")))
        .as("rev_i"))
    val top = revenue.agg(max($"rev_i").as("rev_max"))
    Tables(spark, dir, "supplier")
      .join(revenue, $"s_suppkey" === $"l_suppkey")
      .join(broadcast(top), $"rev_i" === $"rev_max")
      .select($"s_suppkey", $"s_name",
        ($"rev_i".cast("double") / 1e4).as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  val q15Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey,
       |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
       |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |      AS rev_i
       |  FROM lineitem
       |  WHERE l_shipdate >= DATE '1996-01-01'
       |    AND l_shipdate < DATE '1996-04-01'
       |  GROUP BY l_suppkey
       |)
       |SELECT s_suppkey, s_name, CAST(rev_i AS DOUBLE) / 1e4 AS total_revenue
       |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
       |WHERE rev_i = (SELECT MAX(rev_i) FROM revenue)
       |ORDER BY s_suppkey NULLS FIRST""".stripMargin

  /** Q21 shape (suppliers who kept orders waiting): the hardest
    * correlation composite in TPC-H — the same fact table referenced
    * three times with OPPOSITE correlated quantifiers: an EXISTS
    * (another supplier participated in the order) and a NOT EXISTS
    * (no OTHER supplier was late), both correlated on the outer row's
    * order key AND inequality-correlated on its supplier key. Spark
    * must plan the pair as a left-semi plus a left-anti against the
    * shared scan (gated in PlanSpec). The synthetic schema has no
    * receipt/commit dates, so "late" is stood in by `l_returnflag =
    * 'R'` — the correlation structure, which is what Q21 exercises,
    * is unchanged (cf. TPC-H spec Q21; reference has no joins at all,
    * this is `[EXT]` tier).
    *
    * Scale posture: both subqueries shuffle lineitem by order key once
    * each alongside the outer fact join — three order-keyed exchanges
    * of key columns only; nation broadcasts; top-20 is TakeOrdered.
    * Count and ordering are exact integers; s_name is unique, so the
    * DESC order tie-breaks deterministically. */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "lineitem", "orders", "nation")
      .foreach(t => Tables(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(
      """SELECT s_name, n_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name, n_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)
  }

  val q21Sql: String =
    s"""SELECT s_name, n_name, COUNT(*) AS numwait
       |FROM supplier
       |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
       |JOIN orders ON o_orderkey = l1.l_orderkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE o_orderstatus = 'F'
       |  AND l1.l_returnflag = 'R'
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.l_returnflag = 'R')
       |GROUP BY s_name, n_name
       |ORDER BY numwait DESC NULLS LAST, s_name NULLS FIRST
       |LIMIT 20""".stripMargin

  /** Q7 (volume shipping): revenue flowing between two specific
    * nations, split by direction and year — the SAME dimension table
    * joined twice under different roles (supplier's nation vs
    * customer's nation) with a symmetric pair predicate. Exercises
    * dual-role broadcast of one dim, the disjunctive cross-role
    * filter, and a 5-table chain the reference never needed. Revenue
    * in exact cents×basis-points.
    *
    * Scale posture: nation broadcasts twice (two roles, both tiny);
    * lineitem→orders→customer chain shuffles each fact once on its
    * key; the pair predicate prunes at the broadcast joins, so only
    * matching-direction rows reach the final |2×years| aggregate. */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n1 = broadcast(Tables(spark, dir, "nation")
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation")))
    val n2 = broadcast(Tables(spark, dir, "nation")
      .select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation")))
    Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .join(Tables(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(Tables(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(n1, $"s_nationkey" === $"s_nk")
      .join(n2, $"c_nationkey" === $"c_nk")
      .filter(($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_8") ||
        ($"supp_nation" === "NATION_8" && $"cust_nation" === "NATION_3"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").as("l_year"))
      .agg((sum(round($"l_extendedprice" * 100).cast("bigint")
        * (lit(100L) - round($"l_discount" * 100).cast("bigint")))
        .cast("double") / 1e4).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q7Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
       |  CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
       |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |    AS DOUBLE) / 1e4 AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
       |   OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation NULLS FIRST, cust_nation NULLS FIRST,
       |  l_year NULLS FIRST""".stripMargin

  /** Q22 (global sales opportunity): customers with above-average
    * account balance with no order in the
    * final half-year of the data (dormant accounts), grouped by nation — the
    * scalar-subquery + NOT-EXISTS composite: the average is computed
    * over a FILTERED population (positive balances), compared per-row,
    * and the anti-join removes customers with any order. The harness
    * schema has no phone column, so TPC-H's country-code prefix is
    * stood in by the nation key — the plan shape (scalar subquery
    * broadcast + left-anti + aggregate) is unchanged.
    *
    * Balance sums in exact cents; the average and the per-row
    * comparison run on the SAME single-conversion double in both
    * engines, so the cut line is bit-identical.
    *
    * Scale posture: the scalar average is a 1-row broadcast; the
    * anti-join shuffles only order customer keys; output is |nations|
    * rows of exact-cent sums. */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables(spark, dir, "customer")
      .select($"c_custkey", $"c_nationkey",
        round($"c_acctbal" * 100).cast("bigint").as("bal_c"))
    val avgPos = cust.filter($"bal_c" > 0)
      .agg((sum($"bal_c").cast("double") / count(lit(1)).cast("double"))
        .as("avg_bal_c"))
    cust.crossJoin(broadcast(avgPos))
      .filter($"bal_c".cast("double") > $"avg_bal_c")
      .join(Tables(spark, dir, "orders")
        .filter($"o_orderdate" >= lit("1998-06-01").cast("date"))
        .select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        (sum($"bal_c").cast("double") / 100.0).as("totacctbal"))
      .orderBy($"c_nationkey")
  }

  val q22Sql: String =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_nationkey,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
       |  FROM customer
       |),
       |avg_pos AS (
       |  SELECT CAST(CAST(SUM(bal_c) AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS avg_bal_c
       |  FROM cust WHERE bal_c > 0
       |)
       |SELECT c_nationkey, COUNT(*) AS numcust,
       |  CAST(CAST(SUM(bal_c) AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
       |FROM cust, avg_pos
       |WHERE CAST(bal_c AS DOUBLE) > avg_bal_c
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey
       |      AND o_orderdate >= DATE '1998-06-01')
       |GROUP BY c_nationkey${sqlOrderBy(Seq("c_nationkey"))}""".stripMargin

  /** Q8 (national market share): of the ECONOMY-part revenue delivered
    * to ASIA customers in 1995-1996, the fraction supplied by NATION_2
    * suppliers, by order year — the classic CASE-sum ratio over a
    * 6-table snowflake join. Volumes are exact cents×basis-point
    * BIGINTs; one IEEE division per year row.
    *
    * Scale posture: part/nation/region prefilters broadcast; the fact
    * join chain shuffles lineitem once per key change (orders,
    * customer) with AQE free to re-plan; the final agg carries
    * |years| × 2 exact sums. */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asiaNations = Tables(spark, dir, "nation")
      .join(Tables(spark, dir, "region"), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA").select($"n_nationkey".as("cn_key"))
    val suppNation = Tables(spark, dir, "nation")
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")
        .filter($"p_type" === "ECONOMY").select($"p_partkey")),
        $"l_partkey" === $"p_partkey")
      .join(Tables(spark, dir, "orders")
        .filter($"o_orderdate" >= lit("1995-01-01").cast("date") &&
          $"o_orderdate" <= lit("1996-12-31").cast("date"))
        .select($"o_orderkey", $"o_custkey", year($"o_orderdate").as("o_year")),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables(spark, dir, "customer").select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(asiaNations), $"c_nationkey" === $"cn_key")
      .join(Tables(spark, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(suppNation), $"s_nationkey" === $"sn_key")
      .select($"o_year", $"supp_nation",
        (round($"l_extendedprice" * 100).cast("bigint")
          * (lit(100L) - round($"l_discount" * 100).cast("bigint")))
          .as("volume"))
      .groupBy($"o_year")
      .agg(
        (sum(when($"supp_nation" === "NATION_2", $"volume").otherwise(0L))
          .cast("double")
          / sum($"volume").cast("double")).as("mkt_share"),
        (sum($"volume").cast("double") / 1e4).as("total_volume"))
      .orderBy($"o_year")
  }

  val q8Sql: String =
    s"""WITH v AS (
       |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |    sn.n_name AS supp_nation,
       |    CAST(round(l_extendedprice * 100) AS BIGINT)
       |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
       |  JOIN orders ON l_orderkey = o_orderkey
       |    AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |)
       |SELECT o_year,
       |  CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
       |      ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(volume) AS BIGINT) AS DOUBLE) AS mkt_share,
       |  CAST(CAST(SUM(volume) AS BIGINT) AS DOUBLE) / 1e4 AS total_volume
       |FROM v GROUP BY o_year${sqlOrderBy(Seq("o_year"))}""".stripMargin

  /** Q13 (customer distribution): how many customers placed k orders,
    * for every k INCLUDING ZERO — the double-aggregation pattern
    * (count per customer, then count per count) whose outer join is
    * the part naive formulations drop. The priority filter lives in
    * the JOIN CONDITION, not a WHERE (a WHERE would erase the
    * never-ordered customers the query exists to expose).
    *
    * Scale posture: one key shuffle for the per-customer count, then a
    * tiny |distinct k| aggregate. Pure integer outputs. */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "customer").select($"c_custkey")
      .join(Tables(spark, dir, "orders")
        .filter($"o_orderpriority" =!= "1-URGENT")
        .select($"o_custkey", $"o_orderkey"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q13Sql: String =
    s"""SELECT c_count, COUNT(*) AS custdist
       |FROM (
       |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
       |  FROM customer LEFT JOIN orders
       |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
       |  GROUP BY c_custkey
       |)
       |GROUP BY c_count
       |ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST""".stripMargin

  /** Q17 (small-quantity-order revenue): average yearly revenue lost if
    * small orders (below 20% of the part's average quantity) were not
    * filled, for one brand/type — the correlated-average subquery,
    * decorrelated to a per-part aggregate + join. The 20%-of-average
    * comparison is exact: quantities quantized to cents, and
    * `q < 0.2·(sq/n)` restated integer-only as `5·n·qc < sq` — no
    * division on either engine.
    *
    * Scale posture: the per-part average aggregates map-side to
    * |parts in brand| rows and joins back keyed; the brand prefilter
    * broadcasts. */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brandParts = broadcast(Tables(spark, dir, "part")
      .filter($"p_brand" === "Brand#23" && $"p_type" === "MEDIUM")
      .select($"p_partkey"))
    val li = Tables(spark, dir, "lineitem")
      .join(brandParts, $"l_partkey" === $"p_partkey")
      .select($"l_partkey",
        round($"l_quantity" * 100).cast("bigint").as("qc"),
        round($"l_extendedprice" * 100).cast("bigint").as("ec"))
    val perPart = li.groupBy($"l_partkey".as("agg_key"))
      .agg(count(lit(1)).as("n"), sum($"qc").as("sq"))
    li.join(perPart, $"l_partkey" === $"agg_key")
      .filter($"qc" * lit(5L) * $"n" < $"sq")
      .agg((sum($"ec").cast("double") / 700.0).as("avg_yearly"),
        count(lit(1)).as("n_small_lines"))
  }

  val q17Sql: String =
    s"""WITH li AS (
       |  SELECT l_partkey,
       |    CAST(round(l_quantity * 100) AS BIGINT) AS qc,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ec
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
       |),
       |pp AS (
       |  SELECT l_partkey AS agg_key, COUNT(*) AS n,
       |    CAST(SUM(qc) AS BIGINT) AS sq
       |  FROM li GROUP BY l_partkey
       |)
       |SELECT
       |  CAST(CAST(SUM(ec) AS BIGINT) AS DOUBLE) / 700.0 AS avg_yearly,
       |  COUNT(*) AS n_small_lines
       |FROM li JOIN pp ON l_partkey = agg_key
       |WHERE qc * 5 * n < sq""".stripMargin

  // ---------------------------------------------------------------
  // Derived partsupp: the harness schema ships no partsupp table, so
  // the five queries that need one (q2/q9/q11/q16/q20) run over a
  // DERIVED part-supplier relation: the distinct (l_partkey,
  // l_suppkey) pairs actually traded, with availqty/supplycost as
  // deterministic integer functions of the keys — engine-portable
  // (plain modular arithmetic, no hashing), so DuckDB reconstructs the
  // identical relation and every query stays hash-gated. The QUERY
  // SHAPES (correlated min, global-scalar HAVING, NOT IN, nested
  // semi-joins) are the TPC-H originals.
  // ---------------------------------------------------------------

  private def partsupp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .select($"l_partkey".as("ps_partkey"), $"l_suppkey".as("ps_suppkey"))
      .distinct()
      .withColumn("ps_availqty",
        (lit(1L) + ($"ps_partkey" * 7 + $"ps_suppkey" * 13) % 9999)
          .cast("int"))
      .withColumn("ps_supplycost_c",
        lit(100L) + ($"ps_partkey" * 31 + $"ps_suppkey" * 17) % 99900L)
  }

  private val partsuppSqlCte: String =
    """ps AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    CAST(1 + (ps_partkey * 7 + ps_suppkey * 13) % 9999 AS INTEGER)
      |      AS ps_availqty,
      |    CAST(100 + (ps_partkey * 31 + ps_suppkey * 17) % 99900 AS BIGINT)
      |      AS ps_supplycost_c
      |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
      |          l_suppkey AS ps_suppkey FROM lineitem)
      |)""".stripMargin

  /** Q2 (min-cost supplier): for size-15 STANDARD parts, the EUROPE
    * supplier(s) achieving the part's minimum supply cost — the
    * correlated-MIN subquery, decorrelated to a per-part min aggregate
    * joined back (the plan Catalyst builds for the subquery form too).
    * Top 100 by account balance like the original.
    *
    * Scale posture: the eligible (part, supplier, cost) set is built
    * once and reused for both the min and the probe (self-agg + join,
    * no re-scan); region/nation/part prefilters broadcast. */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val europeSupp = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
        .join(Tables(spark, dir, "region"),
          $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "EUROPE").select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val eligible = partsupp(spark, dir)
      .join(broadcast(Tables(spark, dir, "part")
        .filter($"p_size" === 15 && $"p_type" === "STANDARD")
        .select($"p_partkey", $"p_name")),
        $"ps_partkey" === $"p_partkey")
      .join(europeSupp, $"ps_suppkey" === $"s_suppkey")
    val minCost = eligible.groupBy($"ps_partkey".as("min_key"))
      .agg(min($"ps_supplycost_c").as("min_cost_c"))
    eligible.join(minCost,
      $"ps_partkey" === $"min_key" && $"ps_supplycost_c" === $"min_cost_c")
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_name",
        ($"ps_supplycost_c".cast("double") / 100.0).as("supplycost"))
      .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
      .limit(100)
  }

  val q2Sql: String =
    s"""WITH $partsuppSqlCte,
       |eligible AS (
       |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       |    ps_supplycost_c
       |  FROM ps
       |  JOIN part ON ps_partkey = p_partkey
       |    AND p_size = 15 AND p_type = 'STANDARD'
       |  JOIN supplier ON ps_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
       |),
       |mc AS (
       |  SELECT p_partkey AS min_key, MIN(ps_supplycost_c) AS min_cost_c
       |  FROM eligible GROUP BY p_partkey
       |)
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       |  CAST(ps_supplycost_c AS DOUBLE) / 100.0 AS supplycost
       |FROM eligible JOIN mc
       |  ON p_partkey = min_key AND ps_supplycost_c = min_cost_c
       |ORDER BY s_acctbal DESC NULLS LAST, n_name NULLS FIRST,
       |  s_name NULLS FIRST, p_partkey NULLS FIRST
       |LIMIT 100""".stripMargin

  /** Q9 (product-type profit): per supplier nation and order year, the
    * profit on red parts — revenue minus supply cost, both carried in
    * EXACT 10⁻⁴-dollar integers (cents×basis-points and cents×
    * centi-quantity have the same unit, so the subtraction is exact
    * BIGINT; one division at the end).
    *
    * Scale posture: lineitem shuffles once per fact key (orders for
    * the year, the derived ps for cost); part/nation broadcast. */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")
        .filter($"p_name".like("red %")).select($"p_partkey")),
        $"l_partkey" === $"p_partkey")
      .join(partsupp(spark, dir),
        $"l_partkey" === $"ps_partkey" && $"l_suppkey" === $"ps_suppkey")
      .join(Tables(spark, dir, "orders")
        .select($"o_orderkey", year($"o_orderdate").as("o_year")),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables(spark, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables(spark, dir, "nation")
        .select($"n_nationkey", $"n_name".as("nation"))),
        $"s_nationkey" === $"n_nationkey")
      .select($"nation", $"o_year",
        // quantities are integral units, so the cost term is exact:
        // cents × qty × 100 lands in the same 1e-4-dollar unit as
        // cents × basis-points (no division anywhere)
        (round($"l_extendedprice" * 100).cast("bigint")
          * (lit(100L) - round($"l_discount" * 100).cast("bigint"))
          - $"ps_supplycost_c" * round($"l_quantity").cast("bigint") * 100L)
          .as("amount_u4"))
      .groupBy($"nation", $"o_year")
      .agg((sum($"amount_u4").cast("double") / 1e4).as("sum_profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  val q9Sql: String =
    s"""WITH $partsuppSqlCte,
       |profit AS (
       |  SELECT n_name AS nation,
       |    CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |    CAST(round(l_extendedprice * 100) AS BIGINT)
       |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
       |      - ps_supplycost_c * CAST(round(l_quantity) AS BIGINT) * 100
       |        AS amount_u4
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red %'
       |  JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |)
       |SELECT nation, o_year,
       |  CAST(CAST(SUM(amount_u4) AS BIGINT) AS DOUBLE) / 1e4 AS sum_profit
       |FROM profit GROUP BY nation, o_year
       |ORDER BY nation NULLS FIRST, o_year DESC NULLS LAST""".stripMargin

  /** Q11 (important stock): parts whose NATION_2-held stock value
    * exceeds 0.1% of that nation's total — the global-scalar HAVING.
    * The threshold compare is exact: per-part value and the grand
    * total are BIGINT cent-units, and `v > T/1000` is stated as
    * `v*1000 > T`.
    *
    * Scale posture: one keyed aggregate to |parts| rows; the grand
    * total is a 1-row broadcast, never a driver collect. */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val held = partsupp(spark, dir)
      .join(Tables(spark, dir, "supplier")
        .select($"s_suppkey", $"s_nationkey"),
        $"ps_suppkey" === $"s_suppkey")
      .join(broadcast(Tables(spark, dir, "nation")
        .filter($"n_name" === "NATION_2").select($"n_nationkey")),
        $"s_nationkey" === $"n_nationkey")
      .select($"ps_partkey",
        ($"ps_supplycost_c" * $"ps_availqty".cast("bigint")).as("value_c"))
    val total = held.agg(sum($"value_c").as("total_c"))
    held.groupBy($"ps_partkey")
      .agg(sum($"value_c").as("part_value_c"))
      .crossJoin(broadcast(total))
      .filter($"part_value_c" * 1000L > $"total_c")
      .select($"ps_partkey",
        ($"part_value_c".cast("double") / 100.0).as("stock_value"))
      .orderBy($"stock_value".desc, $"ps_partkey")
  }

  val q11Sql: String =
    s"""WITH $partsuppSqlCte,
       |held AS (
       |  SELECT ps_partkey,
       |    ps_supplycost_c * CAST(ps_availqty AS BIGINT) AS value_c
       |  FROM ps
       |  JOIN supplier ON ps_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_2'
       |),
       |tot AS (SELECT CAST(SUM(value_c) AS BIGINT) AS total_c FROM held)
       |SELECT ps_partkey,
       |  CAST(CAST(SUM(value_c) AS BIGINT) AS DOUBLE) / 100.0 AS stock_value
       |FROM held, tot
       |GROUP BY ps_partkey, total_c
       |HAVING CAST(SUM(value_c) AS BIGINT) * 1000 > total_c
       |ORDER BY stock_value DESC NULLS LAST, ps_partkey NULLS FIRST""".stripMargin

  /** Q12 (shipping priority classes, adapted): per line status (the
    * harness stand-in for ship mode — no l_shipmode/commitdate in this
    * schema), how many 1996-shipped lines belong to critical-priority
    * orders vs not — the two-level CASE-count rollup.
    *
    * Scale posture: one fact-key join + a 2-group aggregate; the date
    * filter pushes to the scan. */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val critical = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    Tables(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("date") &&
        $"l_shipdate" < lit("1997-01-01").cast("date"))
      .join(Tables(spark, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_linestatus")
      .agg(
        sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"l_linestatus")
  }

  val q12Sql: String =
    s"""SELECT l_linestatus,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_shipdate >= DATE '1996-01-01'
       |  AND l_shipdate < DATE '1997-01-01'
       |GROUP BY l_linestatus${sqlOrderBy(Seq("l_linestatus"))}""".stripMargin

  /** Q16 (parts/supplier relationship): distinct supplier count per
    * (brand, type, size) for selected sizes, excluding one brand, one
    * type class, and — the NOT IN — any supplier in deficit. Null-free
    * key, so the anti-join is a plain LeftAnti here.
    *
    * Scale posture: the dedup + count-distinct aggregate carries
    * (attrs, suppkey) pairs; the deficit-supplier exclusion list is a
    * broadcast anti side. */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    partsupp(spark, dir)
      .join(broadcast(Tables(spark, dir, "part")
        .filter($"p_brand" =!= "Brand#5" && $"p_type" =!= "PROMO" &&
          $"p_size".isin(1, 4, 9, 14, 23, 36, 45, 49))
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size")),
        $"ps_partkey" === $"p_partkey")
      .join(broadcast(Tables(spark, dir, "supplier")
        .filter($"s_acctbal" < 0).select($"s_suppkey")),
        $"ps_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"ps_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  val q16Sql: String =
    s"""WITH $partsuppSqlCte
       |SELECT p_brand, p_type, p_size,
       |  COUNT(DISTINCT ps_suppkey) AS supplier_cnt
       |FROM ps JOIN part ON ps_partkey = p_partkey
       |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
       |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
       |  AND ps_suppkey NOT IN
       |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC NULLS LAST, p_brand NULLS FIRST,
       |  p_type NULLS FIRST, p_size NULLS FIRST""".stripMargin

  /** Q20 (potential part promotion): suppliers holding more than half
    * a year's shipped volume of some red part — the nested semi-join
    * chain. The half-volume compare is exact integers:
    * `availqty > 0.5·qty` ⇔ `availqty·200 > qc_sum` (qc in
    * centi-units).
    *
    * DELIBERATE ADAPTATION vs spec Q20: the LEFT join + COALESCE(qc,0)
    * means a (part, supplier) pair with ZERO 1995 shipments qualifies
    * (any stock exceeds half of nothing) — the spec's correlated scalar
    * subquery yields NULL there, and `availqty > NULL` excludes the
    * pair. This harness's derived partsupp only contains pairs that
    * shipped at some point, so the difference is pairs that shipped
    * only outside 1995; including them reads "holds more than half of
    * [possibly zero] shipped volume", which suits the promotion use
    * case and keeps the aggregate a plain outer join instead of a
    * correlated rewrite. The oracle states the same semantics, so the
    * gate checks this adaptation, not spec text.
    *
    * Scale posture: the shipped-volume aggregate collapses map-side to
    * (part, supp) grain; both probes are semi-joins (existence only,
    * no row blow-up); nation filter broadcasts. */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shipped95 = Tables(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1995-01-01").cast("date") &&
        $"l_shipdate" < lit("1996-01-01").cast("date"))
      .groupBy($"l_partkey".as("sh_part"), $"l_suppkey".as("sh_supp"))
      .agg(sum(round($"l_quantity" * 100).cast("bigint")).as("qc_sum"))
    val redParts = Tables(spark, dir, "part")
      .filter($"p_name".like("red %")).select($"p_partkey")
    val qualifying = partsupp(spark, dir)
      .join(broadcast(redParts), $"ps_partkey" === $"p_partkey", "left_semi")
      .join(shipped95,
        $"ps_partkey" === $"sh_part" && $"ps_suppkey" === $"sh_supp", "left")
      .filter($"ps_availqty".cast("bigint") * 200L >
        coalesce($"qc_sum", lit(0L)))
      .select($"ps_suppkey").distinct()
    Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
        .filter($"n_name" === "NATION_7").select($"n_nationkey")),
        $"s_nationkey" === $"n_nationkey", "left_semi")
      .join(qualifying, $"s_suppkey" === $"ps_suppkey", "left_semi")
      .select($"s_name", $"s_suppkey")
      .orderBy($"s_name", $"s_suppkey")
  }

  val q20Sql: String =
    s"""WITH $partsuppSqlCte,
       |sh AS (
       |  SELECT l_partkey AS sh_part, l_suppkey AS sh_supp,
       |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
       |      AS qc_sum
       |  FROM lineitem
       |  WHERE l_shipdate >= DATE '1995-01-01'
       |    AND l_shipdate < DATE '1996-01-01'
       |  GROUP BY 1, 2
       |),
       |qual AS (
       |  SELECT DISTINCT ps_suppkey
       |  FROM ps
       |  LEFT JOIN sh ON ps_partkey = sh_part AND ps_suppkey = sh_supp
       |  WHERE ps_partkey IN (SELECT p_partkey FROM part
       |                       WHERE p_name LIKE 'red %')
       |    AND CAST(ps_availqty AS BIGINT) * 200 > COALESCE(qc_sum, 0)
       |)
       |SELECT s_name, s_suppkey
       |FROM supplier
       |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
       |                      WHERE n_name = 'NATION_7')
       |  AND s_suppkey IN (SELECT ps_suppkey FROM qual)
       |ORDER BY s_name NULLS FIRST, s_suppkey NULLS FIRST""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tpch_q2" -> q2,
    "tpch_q9" -> q9,
    "tpch_q11" -> q11,
    "tpch_q12" -> q12,
    "tpch_q16" -> q16,
    "tpch_q20" -> q20,
    "tpch_q8" -> q8,
    "tpch_q13" -> q13,
    "tpch_q17" -> q17,
    "tpch_q22" -> q22,
    "tpch_q7" -> q7,
    "tpch_q21" -> q21,
    "tpch_q15" -> q15,
    "tpch_q1" -> q1,
    "tpch_q3" -> q3,
    "tpch_q4" -> q4,
    "tpch_q5" -> q5,
    "tpch_q6" -> q6,
    "tpch_q10" -> q10,
    "tpch_q14" -> q14,
    "tpch_q18" -> q18,
    "tpch_q19" -> q19)

  val oracles: Map[String, String] = Map(
    "tpch_q2" -> q2Sql,
    "tpch_q9" -> q9Sql,
    "tpch_q11" -> q11Sql,
    "tpch_q12" -> q12Sql,
    "tpch_q16" -> q16Sql,
    "tpch_q20" -> q20Sql,
    "tpch_q8" -> q8Sql,
    "tpch_q13" -> q13Sql,
    "tpch_q17" -> q17Sql,
    "tpch_q22" -> q22Sql,
    "tpch_q7" -> q7Sql,
    "tpch_q21" -> q21Sql,
    "tpch_q15" -> q15Sql,
    "tpch_q1" -> q1Sql,
    "tpch_q3" -> q3Sql,
    "tpch_q4" -> q4Sql,
    "tpch_q5" -> q5Sql,
    "tpch_q6" -> q6Sql,
    "tpch_q10" -> q10Sql,
    "tpch_q14" -> q14Sql,
    "tpch_q18" -> q18Sql,
    "tpch_q19" -> q19Sql)
}
