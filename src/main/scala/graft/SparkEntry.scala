package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every key in [[queries]]
  * with an entry in [[oracleSql]] is hash-compared by the driver against
  * DuckDB running that SQL over the same parquet tables; keys without an
  * oracle get a weaker rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pipeline.Gold.goldMonthly(spark, "/root/testdata/sf0.001")

  /** The registering modules, each listed once. */
  lazy val modules: Seq[QueryModule] = Seq(
    pipeline.Gold,
    pipeline.Views,
    pipeline.SilverJson,
    sources.AvroBronze,
    sources.CsvBronze,
    sources.XmlBronze,
    sources.JsonLake,
    sources.OrcLake,
    sources.v2.Synth,
    sources.v2.LineSink,
    star.Joins,
    star.Salting,
    star.Windows,
    star.Aggs,
    star.SetOps,
    star.Extended,
    star.EventWindows,
    star.Warehouse,
    star.Calendar,
    star.SqlFeatures,
    star.ZOrder,
    star.Tpch,
    star.Inference,
    star.Linkage,
    star.Attribution,
    llm.Dedup,
    llm.Curate,
    llm.Cluster,
    llm.Search,
    llm.TextStats,
    llm.Similarity,
    multimodal.Media)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = modules.flatMap(_.oracles).toMap
}

/** A module that registers queries: its operators by name, and the DuckDB
  * oracle SQL of those that have one. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
