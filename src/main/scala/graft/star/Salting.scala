package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.Det.{sqlSum, sqlOrderBy}

/** Skew mitigation for large-x-large equi-joins (SURVEY.md §7 hard part
  * 5; AQE's skewJoin handles sort-merge skew automatically, this is the
  * explicit salting pattern for when AQE can't — e.g. a skewed key that
  * is also the aggregation key downstream).
  *
  * The probe side gets a uniform pseudo-random salt in [0, salts); the
  * build side is replicated `salts` times; the join key becomes
  * (key, salt), so one hot key's rows spread over `salts` reducers.
  * Join RESULTS are invariant to the salt assignment, so a
  * nondeterministic per-row salt is safe here (and retry-safe: a
  * re-computed task re-salts its rows, joining identically).
  */
object Salting extends graft.QueryModule {

  def saltedEquiJoin(probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String, salts: Int): DataFrame = {
    val salted = probe.withColumn("_salt",
      pmod(pmod(hash(monotonically_increasing_id()), lit(salts)) + lit(salts),
        lit(salts)))
    val replicated = build.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated,
      salted(probeKey) === replicated(buildKey) &&
        salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }

  /** Oracle-checked proof that the skew machinery is answer-invariant:
    * the salted orders x customer join aggregated per market segment
    * carries the SAME DuckDB oracle as the plain equi-join — identical
    * results regardless of the (nondeterministic) salt assignment. */
  def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    saltedEquiJoin(
      Tables(spark, dir, "orders"), Tables(spark, dir, "customer"),
      "o_custkey", "c_custkey", salts = 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Det.xsum($"o_totalprice").as("revenue"))
      .orderBy($"c_mktsegment")
  }

  val saltedJoinAggSql: String =
    s"""SELECT c_mktsegment,
       |  COUNT(*) AS n_orders,
       |  ${sqlSum("o_totalprice")} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment${sqlOrderBy(Seq("c_mktsegment"))}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_salted_skew" -> saltedJoinAgg)

  val oracles: Map[String, String] = Map(
    "join_salted_skew" -> saltedJoinAggSql)
}
