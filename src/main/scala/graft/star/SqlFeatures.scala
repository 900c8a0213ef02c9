package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.Det.sqlSum

/** Advanced SQL surface (round 3): features a reference user migrating
  * real warehouse SQL would reach for next — recursive CTEs (Spark 4's
  * `WITH RECURSIVE`), correlated LATERAL subqueries, and calendar-
  * interval RANGE window frames. Each is stated as SQL because that IS
  * the feature under test; the DuckDB oracle runs the same text modulo
  * dialect (`DIV` vs `//`, explicit NULLS FIRST).
  *
  * Scale posture:
  *  - [[recursiveClosure]]: the recursion frontier stays |docs| rows and
  *    the depth is log2(max id) iterations — each step is an ordinary
  *    distributed self-join+union, so a 1000-executor cluster runs ~13
  *    bounded rounds for 100 TB, never a driver-side loop.
  *  - [[lateralTopn]]: Catalyst rewrites the correlated LATERAL LIMIT
  *    into a ranked window over the join — same physical shape as the
  *    explicit row_number top-N, proving the sugar costs nothing.
  *  - [[rangeInterval]]: the interval frame runs over the PRE-AGGREGATED
  *    daily grid (bounded at |event types| x |days|), not raw events —
  *    the only formulation that survives unbounded event volume.
  */
object SqlFeatures extends graft.QueryModule {

  private def view(spark: SparkSession, dir: String, t: String): Unit =
    Tables(spark, dir, t).createOrReplaceTempView(t)

  /** Recursive CTE: tree-depth census over the implicit binary-heap
    * hierarchy parent(n) = n DIV 2 derived from doc ids — the org-chart
    * / BOM-closure query shape, with a deterministic synthetic
    * hierarchy so the answer is a pure function of the corpus. */
  def recursiveClosure(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "documents")
    spark.sql(
      """WITH RECURSIVE walk(start_id, cur, depth) AS (
        |  SELECT doc_id, doc_id, 0 FROM documents
        |  UNION ALL
        |  SELECT start_id, cur DIV 2, depth + 1 FROM walk WHERE cur > 0
        |)
        |SELECT tree_depth, COUNT(*) AS n_docs FROM (
        |  SELECT start_id, MAX(depth) AS tree_depth FROM walk GROUP BY start_id
        |) GROUP BY tree_depth ORDER BY tree_depth""".stripMargin)
  }

  val recursiveClosureSql: String =
    """WITH RECURSIVE walk(start_id, cur, depth) AS (
      |  SELECT doc_id, doc_id, 0 FROM documents
      |  UNION ALL
      |  SELECT start_id, cur // 2, depth + 1 FROM walk WHERE cur > 0
      |)
      |SELECT tree_depth, COUNT(*) AS n_docs FROM (
      |  SELECT start_id, MAX(depth) AS tree_depth FROM walk GROUP BY start_id
      |) GROUP BY tree_depth ORDER BY tree_depth NULLS FIRST""".stripMargin

  /** Correlated LATERAL subquery with LIMIT: top-2 customers by account
    * balance per nation, written the way an analyst writes it. */
  def lateralTopn(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "nation"); view(spark, dir, "customer")
    spark.sql(
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)
  }

  val lateralTopnSql: String =
    """SELECT n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  WHERE c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n.n_name NULLS FIRST, t.c_acctbal DESC, t.c_custkey""".stripMargin

  /** Calendar-interval RANGE frame: trailing-7-day revenue per event
    * type over the daily grid (a RANGE frame sees a window defined by
    * VALUE distance, so date gaps shrink the frame — unlike the ROWS
    * moving averages in Windows.scala). Daily revenue is decimal-exact
    * at scale 5, so re-summing it in the frame stays exact. */
  def rangeInterval(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(28,5))) AS DOUBLE) AS rev
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, d, n, rev,
        |  CAST(SUM(CAST(rev AS DECIMAL(28,5))) OVER (
        |    PARTITION BY event_type ORDER BY d
        |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS rev_7d
        |FROM daily ORDER BY event_type, d""".stripMargin)
  }

  val rangeIntervalSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(28,5))) AS DOUBLE) AS rev
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT event_type, d, n, rev,
      |  CAST(SUM(CAST(rev AS DECIMAL(28,5))) OVER (
      |    PARTITION BY event_type ORDER BY d
      |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS rev_7d
      |FROM daily ORDER BY event_type NULLS FIRST, d NULLS FIRST""".stripMargin

  /** Correlated scalar subquery (TPC-H Q17 shape): lineitems whose
    * quantity falls below 0.3× the average for their part — a per-row
    * subquery in the WHERE clause. Catalyst decorrelates it into one
    * aggregate-then-join (proved by the plan: a single Aggregate on
    * l_partkey feeding a hash join — never a per-row re-scan), so the
    * cost at 100 TB is one partial-aggregated shuffle, same as writing
    * the join by hand. The quantity comparison is exact: avg is
    * decimal-summed then divided once as doubles (Det discipline) in
    * both engines. */
  def correlatedScalar(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "lineitem")
    spark.sql(
      """SELECT l_partkey, COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE) AS small_qty
        |FROM lineitem l1
        |WHERE l_quantity < 0.3 * (
        |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE)
        |         / COUNT(l_quantity)
        |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_partkey
        |HAVING COUNT(*) >= 3
        |ORDER BY l_partkey""".stripMargin)
  }

  val correlatedScalarSql: String =
    """SELECT l_partkey, COUNT(*) AS n_small,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE) AS small_qty
      |FROM lineitem l1
      |WHERE l_quantity < 0.3 * (
      |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE)
      |         / COUNT(l_quantity)
      |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY l_partkey
      |HAVING COUNT(*) >= 3
      |ORDER BY l_partkey NULLS FIRST""".stripMargin

  /** Spark 4 VARIANT (the typed binary semi-structured encoding — the
    * successor to string-path extraction for schemaless columns):
    * `parse_json` once into a variant, then typed `variant_get` paths.
    * Versus `func_json_path`'s `get_json_object`, the variant parses
    * the document a single time per row regardless of how many fields
    * are later read — the right shape for event analytics at 100 TB
    * (at rest it shreds to columnar storage where the format allows).
    * All extracted values are integers, so aggregation is exact; the
    * DuckDB oracle reads the same fields through its native JSON
    * extraction — two independent semi-structured engines, one answer. */
  def variantProps(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "events")
    spark.sql(
      """WITH v AS (
        |  SELECT event_type, parse_json(props) AS pv FROM events
        |)
        |SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(variant_get(pv, '$.k', 'bigint')) AS BIGINT) AS sum_k,
        |  CAST(MAX(variant_get(pv, '$.k', 'bigint')) AS BIGINT) AS max_k,
        |  CAST(COUNT(CASE WHEN variant_get(pv, '$.k', 'bigint') > 50
        |    THEN 1 END) AS BIGINT) AS n_big
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val variantPropsSql: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      |  CAST(COUNT(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
      |    THEN 1 END) AS BIGINT) AS n_big
      |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin

  /** SQL-defined scalar functions (Spark 4 `CREATE FUNCTION … RETURN`):
    * the zero-JVM way to package reusable business logic — declared in
    * SQL, inlined by Catalyst into the calling plan (no UDF node, full
    * codegen — the opposite of a black-box Scala/Python UDF). The
    * guarded-ratio function here is the reference's pervasive
    * CASE/NULLIF KPI idiom (SURVEY §2.2 P4) as a named function; the
    * oracle states the expansion literally, proving inlining preserved
    * semantics. */
  def sqlUdf(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "lineitem")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION zero_ratio(n DOUBLE, d DOUBLE)
        |RETURNS DOUBLE RETURN CASE WHEN d = 0 THEN 0.0 ELSE n / d END
        |""".stripMargin)
    spark.sql(
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE) AS qty,
        |  zero_ratio(
        |    CAST(SUM(CAST(CASE WHEN l_discount > 0.05 THEN l_quantity END
        |      AS DECIMAL(28,5))) AS DOUBLE),
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE))
        |    AS discounted_share
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val sqlUdfSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE) AS qty,
      |  CASE WHEN CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE) = 0
      |    THEN 0.0
      |    ELSE CAST(SUM(CAST(CASE WHEN l_discount > 0.05 THEN l_quantity END
      |      AS DECIMAL(28,5))) AS DOUBLE)
      |      / CAST(SUM(CAST(l_quantity AS DECIMAL(28,5))) AS DOUBLE)
      |  END AS discounted_share
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** NOT IN vs NOT EXISTS under NULLs — the SQL-standard trap every
    * warehouse migration trips on once: `x NOT IN (subquery)` is
    * three-valued, so ONE null in the subquery empties the whole
    * result, while the NOT EXISTS form ignores null keys and keeps
    * matching rows. Both forms are stated over the same null-bearing
    * key stream (`nullif(o_custkey, 42)`), side by side, so the output
    * documents the divergence (0 vs the real count) rather than hiding
    * it. Spark plans the NOT IN as a null-aware anti join (broadcast
    * NAAJ) — the only correct hash-join form — which is exactly what a
    * naive anti-join rewrite would get wrong.
    *
    * Scale posture: both branches are one anti-join each; the NOT IN
    * build side must broadcast (null-aware anti join is broadcast-only
    * in Spark), which is the honest constraint of its semantics — the
    * scalable rewrite IS the NOT EXISTS form next to it. */
  def notInNull(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "customer")
    view(spark, dir, "orders")
    spark.sql(
      """SELECT 'not_in' AS form, COUNT(*) AS n_customers FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT nullif(o_custkey, 42) FROM orders)
        |UNION ALL
        |SELECT 'not_exists', COUNT(*) FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE nullif(o_custkey, 42) = c_custkey)
        |ORDER BY form""".stripMargin)
  }

  val notInNullSql: String =
    """SELECT 'not_in' AS form, COUNT(*) AS n_customers FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT nullif(o_custkey, 42) FROM orders)
      |UNION ALL
      |SELECT 'not_exists', COUNT(*) FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE nullif(o_custkey, 42) = c_custkey)
      |ORDER BY form NULLS FIRST""".stripMargin

  /** `GROUP BY ALL` / `ORDER BY ALL` — the analyst-ergonomics syntax
    * both engines adopted (Spark 4 and DuckDB): every non-aggregate
    * select item becomes a grouping key, and ALL orders by the full
    * select list left-to-right. Feature parity checked literally —
    * BOTH sides run the ALL syntax, so a divergence in what "ALL"
    * binds to would hash-mismatch, not just a result check of
    * hand-expanded columns. */
  def groupByAll(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem_gba")
    spark.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  COUNT(*) AS n_lines,
         |  ${sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem_gba
         |GROUP BY ALL
         |ORDER BY ALL""".stripMargin)
  }

  val groupByAllSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  COUNT(*) AS n_lines,
       |  ${sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY ALL
       |ORDER BY ALL""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_group_by_all" -> groupByAll,
    "func_sql_udf" -> sqlUdf,
    "func_variant" -> variantProps,
    "sql_recursive_closure" -> recursiveClosure,
    "sql_lateral_topn" -> lateralTopn,
    "sql_correlated_scalar" -> correlatedScalar,
    "sql_not_in_null" -> notInNull,
    "window_range_interval" -> rangeInterval)

  val oracles: Map[String, String] = Map(
    "sql_group_by_all" -> groupByAllSql,
    "func_sql_udf" -> sqlUdfSql,
    "func_variant" -> variantPropsSql,
    "sql_recursive_closure" -> recursiveClosureSql,
    "sql_lateral_topn" -> lateralTopnSql,
    "sql_correlated_scalar" -> correlatedScalarSql,
    "sql_not_in_null" -> notInNullSql,
    "window_range_interval" -> rangeIntervalSql)
}
