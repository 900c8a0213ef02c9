package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Set operations (SURVEY.md §2.8 `[EXT]`): UNION / INTERSECT / EXCEPT
  * with SQL (distinct) semantics, over the 1995-vs-1996 buyer cohorts.
  *
  * Scale posture: Spark implements intersect/except as aggregate or
  * hash-join plans on the compared columns; the inputs here are already
  * distinct key projections, so the shuffle carries only keys.
  */
object SetOps extends graft.QueryModule {

  private def buyers(spark: SparkSession, dir: String, yr: Int): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .filter(year($"o_orderdate") === yr)
      .select($"o_custkey").distinct()
  }

  private def buyersSql(yr: Int): String =
    s"SELECT DISTINCT o_custkey FROM orders WHERE CAST(year(o_orderdate) AS INTEGER) = $yr"

  /** UNION (distinct): customers buying in 1995 or 1996. */
  def union2(spark: SparkSession, dir: String): DataFrame =
    buyers(spark, dir, 1995).union(buyers(spark, dir, 1996)).distinct()
      .orderBy("o_custkey")

  val union2Sql: String =
    s"(${buyersSql(1995)}) UNION (${buyersSql(1996)})${sqlOrderBy(Seq("o_custkey"))}"

  /** INTERSECT: customers buying in both years. */
  def intersect2(spark: SparkSession, dir: String): DataFrame =
    buyers(spark, dir, 1995).intersect(buyers(spark, dir, 1996))
      .orderBy("o_custkey")

  val intersect2Sql: String =
    s"(${buyersSql(1995)}) INTERSECT (${buyersSql(1996)})${sqlOrderBy(Seq("o_custkey"))}"

  /** EXCEPT: 1995 buyers who did not buy in 1996. */
  def except2(spark: SparkSession, dir: String): DataFrame =
    buyers(spark, dir, 1995).except(buyers(spark, dir, 1996))
      .orderBy("o_custkey")

  val except2Sql: String =
    s"(${buyersSql(1995)}) EXCEPT (${buyersSql(1996)})${sqlOrderBy(Seq("o_custkey"))}"

  /** Multiset (ALL-semantics) inputs: per-order (customer, priority)
    * rows — duplicates are MEANINGFUL (two urgent orders ≠ one). */
  private def orderKeys(spark: SparkSession, dir: String, yr: Int): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .filter(year($"o_orderdate") === yr)
      .select($"o_custkey", $"o_orderpriority")
  }

  private def orderKeysSql(yr: Int): String =
    s"""SELECT o_custkey, o_orderpriority FROM orders
       | WHERE CAST(year(o_orderdate) AS INTEGER) = $yr""".stripMargin.replace("\n", "")

  /** INTERSECT ALL (bag semantics): each (customer, priority) pair
    * survives min(count95, count96) times — the distinct-free variant
    * a churn model needs when FREQUENCY carries signal. Spark plans
    * both ALL variants as a count-compare aggregate + generate, never
    * a row-pairing join — same one-shuffle class as the distinct form. */
  def intersectAll2(spark: SparkSession, dir: String): DataFrame =
    orderKeys(spark, dir, 1995).intersectAll(orderKeys(spark, dir, 1996))
      .orderBy("o_custkey", "o_orderpriority")

  val intersectAll2Sql: String =
    s"(${orderKeysSql(1995)}) INTERSECT ALL (${orderKeysSql(1996)})" +
      sqlOrderBy(Seq("o_custkey", "o_orderpriority"))

  /** EXCEPT ALL: surplus multiplicity — count95 − count96 copies kept. */
  def exceptAll2(spark: SparkSession, dir: String): DataFrame =
    orderKeys(spark, dir, 1995).exceptAll(orderKeys(spark, dir, 1996))
      .orderBy("o_custkey", "o_orderpriority")

  val exceptAll2Sql: String =
    s"(${orderKeysSql(1995)}) EXCEPT ALL (${orderKeysSql(1996)})" +
      sqlOrderBy(Seq("o_custkey", "o_orderpriority"))

  /** Schema-evolution union (`unionByName(allowMissingColumns)`): the
    * lake reality where old partitions lack columns new ones carry —
    * position-based UNION would silently misalign; by-name union with
    * NULL back-fill is the correct merge. The census output proves the
    * fill pattern (every row keeps its cohort's populated columns). */
  def unionByName2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val legacy = Tables(spark, dir, "orders")
      .filter(year($"o_orderdate") === 1995)
      .select($"o_custkey", $"o_totalprice".as("legacy_price"))
    val modern = Tables(spark, dir, "orders")
      .filter(year($"o_orderdate") === 1996)
      .select($"o_custkey", $"o_totalprice".as("price"),
        $"o_orderpriority".as("priority"))
    legacy.unionByName(modern, allowMissingColumns = true)
      .agg(
        count(lit(1)).as("n_rows"),
        count($"legacy_price").as("n_legacy"),
        count($"price").as("n_modern"),
        count($"priority").as("n_priority"))
  }

  val unionByName2Sql: String =
    s"""WITH u AS (
       |  SELECT o_custkey, o_totalprice AS legacy_price,
       |    CAST(NULL AS DOUBLE) AS price, CAST(NULL AS VARCHAR) AS priority
       |  FROM orders WHERE CAST(year(o_orderdate) AS INTEGER) = 1995
       |  UNION ALL
       |  SELECT o_custkey, CAST(NULL AS DOUBLE), o_totalprice, o_orderpriority
       |  FROM orders WHERE CAST(year(o_orderdate) AS INTEGER) = 1996
       |)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(COUNT(legacy_price) AS BIGINT) AS n_legacy,
       |  CAST(COUNT(price) AS BIGINT) AS n_modern,
       |  CAST(COUNT(priority) AS BIGINT) AS n_priority
       |FROM u""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "setop_union" -> union2,
    "setop_intersect" -> intersect2,
    "setop_except" -> except2,
    "setop_intersect_all" -> intersectAll2,
    "setop_except_all" -> exceptAll2,
    "setop_union_by_name" -> unionByName2)

  val oracles: Map[String, String] = Map(
    "setop_union" -> union2Sql,
    "setop_intersect" -> intersect2Sql,
    "setop_except" -> except2Sql,
    "setop_intersect_all" -> intersectAll2Sql,
    "setop_except_all" -> exceptAll2Sql,
    "setop_union_by_name" -> unionByName2Sql)
}
