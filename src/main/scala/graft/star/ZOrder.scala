package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Z-order (Morton) clustering math (round 3) — the layout behind
  * multi-dimensional data skipping (Delta OPTIMIZE ZORDER BY, Hudi
  * clustering): interleave the bits of two sort dimensions so that
  * sorting by the single z-value keeps BOTH dimensions locally dense,
  * letting per-file min/max stats prune scans on either predicate.
  *
  * [[locality]] computes the 32-bit z-value of (customer, order-day),
  * groups rows into z-ranges (the "files" a z-sorted write would
  * produce), and reports each range's min/max extent in both
  * dimensions — the exact stats a scan planner consults. The unrolled
  * 16-term interleave is integer-only (bit shifts and masks), fully
  * codegen'd in Spark and stated identically in DuckDB arithmetic, so
  * the hash gate proves the layout math end-to-end.
  *
  * Scale posture: the z-value is a pure map (no shuffle); the z-range
  * census is one partial-aggregated groupBy on a 64-value key. An
  * actual re-layout would `repartitionByRange(zval)` + write — the
  * sort cost is the one-off clustering price, after which every
  * 2-D-selective scan prunes. */
object ZOrder extends graft.QueryModule {

  /** Unrolled 16-bit × 2 Morton interleave. `shl(e, n)` is the
    * engine's shift-left syntax; the arithmetic is identical. */
  private def zExpr(ck: String, dy: String,
                    shl: (String, Int) => String,
                    shr: (String, Int) => String): String =
    (0 until 16).map { i =>
      s"(${shl(s"(${shr(ck, i)} & 1)", 2 * i)} + " +
        s"${shl(s"(${shr(dy, i)} & 1)", 2 * i + 1)})"
    }.mkString("(", " + ", ")")

  private val sparkZ = zExpr("ck", "dy",
    (e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)")
  private val duckZ = zExpr("ck", "dy",
    (e, n) => s"($e << $n)", (e, n) => s"($e >> $n)")

  /** Per-z-range locality census over orders: z >> 18 ranges,
    * row count and both dimensions' min/max extents per range. */
  def locality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .selectExpr(
        "cast(o_custkey & 65535 as bigint) AS ck",
        "cast(datediff(o_orderdate, DATE '1992-01-01') & 65535 as bigint) AS dy")
      .selectExpr("ck", "dy", s"$sparkZ AS z")
      .groupBy(expr("cast(shiftright(z, 18) as int)").as("z_range"))
      .agg(
        count(lit(1)).as("n_orders"),
        min($"ck").as("ck_min"), max($"ck").as("ck_max"),
        min($"dy").as("dy_min"), max($"dy").as("dy_max"))
      .orderBy($"z_range")
  }

  val localitySql: String =
    s"""WITH d AS (
       |  SELECT CAST(o_custkey & 65535 AS BIGINT) AS ck,
       |    CAST(date_diff('day', DATE '1992-01-01', o_orderdate) & 65535 AS BIGINT)
       |      AS dy
       |  FROM orders
       |),
       |z AS (SELECT ck, dy, $duckZ AS z FROM d)
       |SELECT CAST(z >> 18 AS INTEGER) AS z_range,
       |  COUNT(*) AS n_orders,
       |  MIN(ck) AS ck_min, MAX(ck) AS ck_max,
       |  MIN(dy) AS dy_min, MAX(dy) AS dy_max
       |FROM z GROUP BY 1${sqlOrderBy(Seq("z_range"))}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zorder_locality" -> locality)

  val oracles: Map[String, String] = Map(
    "zorder_locality" -> localitySql)
}
