package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.Det.{sqlSum, sqlOrderBy}

/** ORC lake tier (SURVEY.md §2.1 source-format extension): a real
  * `format("orc")` round trip — write a partitioned ORC table, read it
  * back with partition pruning, aggregate. A lake that standardizes on
  * parquet still ingests ORC from upstream Hive/Hadoop estates, so a
  * complete engine needs the second columnar format as a first-class
  * scan, not a conversion step.
  *
  * The oracle never touches ORC (DuckDB reads no ORC): it runs the same
  * filter+aggregate on the PARQUET lineitem, so the check proves the
  * ORC round trip is lossless — values survive the format conversion
  * bit-exactly — not merely self-consistent.
  *
  * Scale posture: the write is a single shuffle-free pass laid out by
  * `partitionBy(l_returnflag)`; the read prunes to one partition
  * directory (PartitionFilters, asserted in SourcesSpec) and pushes the
  * residual filter into the ORC reader. ORC stripes are splittable, so
  * the scan parallelizes exactly like parquet at any size.
  */
object OrcLake extends graft.QueryModule {

  /** Deterministic subset keeps the fixture write cheap. */
  private val subset = "l_orderkey % 4 = 0"

  /** Write the ORC fixture once per `lineitem` content and writer code
    * (`graft.Workspace.fixture`). */
  def writeOrc(spark: SparkSession, dir: String): String = {
    val lineitem = Tables(spark, dir, "lineitem")
    graft.Workspace.fixture(graft.Workspace.lake("orc_lake", dir), lineitem)(
      lineitem
        .filter(subset)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_linestatus"),
          col("l_returnflag"))
        .repartition(col("l_returnflag")) // one task per partition dir
        .write.mode("overwrite").partitionBy("l_returnflag")
        .format("orc").save(_))
  }

  /** Returned-lines revenue by line status, read from the pruned ORC
    * partition. The `l_returnflag = 'R'` predicate is a partition
    * filter (directory pruning — no other partition's files are even
    * listed); `l_quantity >= 10` pushes into the ORC reader. */
  def orcAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = writeOrc(spark, dir)
    spark.read.format("orc").load(root)
      .filter($"l_returnflag" === "R" && $"l_quantity" >= 10)
      .groupBy($"l_linestatus")
      .agg(count(lit(1)).as("n_lines"),
        Det.xsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
      .orderBy($"l_linestatus")
  }

  val orcAggSql: String =
    s"""SELECT l_linestatus,
       |  COUNT(*) AS n_lines,
       |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem
       |WHERE l_orderkey % 4 = 0 AND l_returnflag = 'R' AND l_quantity >= 10
       |GROUP BY l_linestatus${sqlOrderBy(Seq("l_linestatus"))}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orc_lake_agg" -> orcAgg)

  val oracles: Map[String, String] = Map(
    "orc_lake_agg" -> orcAggSql)
}
