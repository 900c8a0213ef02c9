package graft.sources.v2

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Det
import graft.Det.sqlOrderBy

/** Registered query surface for the DSv2 synthetic connector. The
  * oracle regenerates the identical table in DuckDB from `range()`
  * (the row content is a pure function of the id — see
  * [[SyntheticTable]]), so the connector's generation, pushdown, and
  * pruning paths are all inside the hash-checked loop, not just
  * unit-tested. */
object Synth extends graft.QueryModule {

  /** Aggregate through the connector with an id-range filter that the
    * source prunes at partition-planning time (asserted in
    * SyntheticSourceSpec): only 3/4 of the table is ever generated. */
  def agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft.sources.v2.SyntheticProvider")
      .option("rows", 200000).option("parts", 8).load()
      .filter($"id" >= 50000)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_rows"), Det.xsum($"val").as("total_val"))
      .orderBy($"label")
  }

  val aggSql: String =
    s"""SELECT 'L' || CAST(id % 7 AS VARCHAR) AS label,
       |  COUNT(*) AS n_rows,
       |  ${Det.sqlSum("(id * 37 % 1000) / 100.0")} AS total_val
       |FROM range(200000) t(id)
       |WHERE id >= 50000
       |GROUP BY 1${sqlOrderBy(Seq("label"))}""".stripMargin

  /** Ungrouped count/min/max through the connector: completely pushed
    * (SupportsPushDownAggregates) and answered from range arithmetic —
    * zero rows generated (plan-gated in SyntheticSourceSpec). */
  def countPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft.sources.v2.SyntheticProvider")
      .option("rows", 200000).option("parts", 8).load()
      .filter($"id" >= 50000 && $"id" < 175000)
      .agg(count(lit(1)).as("n_rows"),
        min($"id").as("id_min"), max($"id").as("id_max"))
  }

  val countPushdownSql: String =
    s"""SELECT COUNT(*) AS n_rows,
       |  MIN(id) AS id_min, MAX(id) AS id_max
       |FROM range(200000) t(id)
       |WHERE id >= 50000 AND id < 175000""".stripMargin

  /** Top-N through the connector: `ORDER BY id LIMIT 12` after an
    * id-range filter fully pushes (SupportsPushDownTopN, asserted in
    * SyntheticSourceSpec) — the source generates exactly 12 rows and
    * Spark drops its sort. The oracle regenerates the same prefix. */
  def topnPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft.sources.v2.SyntheticProvider")
      .option("rows", 200000).option("parts", 8).load()
      .filter($"id" >= 123450)
      .orderBy($"id")
      .limit(12)
  }

  val topnPushdownSql: String =
    s"""SELECT id,
       |  (id * 37 % 1000) / 100.0 AS val,
       |  'L' || CAST(id % 7 AS VARCHAR) AS label
       |FROM range(200000) t(id)
       |WHERE id >= 123450
       |ORDER BY id NULLS FIRST LIMIT 12""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "synth_source_agg" -> agg,
    "synth_source_count" -> countPushdown,
    "synth_source_topn" -> topnPushdown)

  val oracles: Map[String, String] = Map(
    "synth_source_agg" -> aggSql,
    "synth_source_count" -> countPushdownSql,
    "synth_source_topn" -> topnPushdownSql)
}
