package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Star-schema table loaders over the driver's parquet test data
  * (SURVEY.md §2.1 S10, TESTDATA.md).
  *
  * Scale posture: a parquet read plans as a V1 `FileSourceScanExec`
  * (parquet is in `spark.sql.sources.useV1SourceList` by default) —
  * partition discovery, column pruning and filter pushdown are handled
  * by Catalyst, so every downstream operator in this library composes a
  * declarative plan on top of a prunable columnar scan. At 100 TB the
  * same call reads a directory of thousands of files; nothing here
  * assumes a single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` of the lake at `dir`. The schema comes from one parquet
    * footer read on the driver ([[ParquetRead]]) — the footer Spark's own
    * inference would pick — so constructing the frame runs no Spark job. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else fanOut(spark, ParquetRead(spark, s"$dir/$name.parquet"),
      s"$dir/$name.parquet")

  /** The harness parquet files are written as ONE row group each, so a
    * raw scan is a single task and every downstream map pipeline runs
    * single-threaded. A real lake has thousands of splits and never hits
    * this; for the harness layout we repartition IFF the scan yields
    * fewer partitions than cores (at scale `scanParts >= cores`, so this
    * is a no-op there — no extra shuffle). Column pruning and the
    * decimal-exact aggregates are unaffected by the round-robin
    * exchange. */
  /** r15: `df.rdd.getNumPartitions` compiles a full physical plan for
    * the scan just to read one integer; a 400-query bench session pays
    * that ~900 times for an answer that is a constant of the (static)
    * file layout. Memoize the scan partition count per path — the
    * repartition DECISION still uses the live session's parallelism,
    * only the scan-split count is cached. (A JVM that later scans a
    * mutated path would see a stale count; the harness data dirs are
    * immutable within a process lifetime.) */
  private val scanPartsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def fanOut(spark: SparkSession, df: DataFrame,
      path: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val parts: Int = scanPartsMemo.computeIfAbsent(
      path, _ => df.rdd.getNumPartitions)
    // r15 (guide §2.5): keyless repartition(n) is RoundRobinPartitioning,
    // which LOCALLY SORTS every input partition first
    // (spark.sql.execution.sortBeforeRepartition, on since SPARK-23207,
    // so retried tasks reproduce the same row placement) — with the
    // harness's one-row-group files that is a full single-threaded sort
    // of the table before any query work starts. Hash-repartitioning on
    // the leading column (a high-cardinality key in every harness
    // table) skips the local sort, is deterministic under task retry
    // without it, and leaves a reusable hashpartitioning for downstream
    // exchanges keyed the same way. Row placement changes; results are
    // unaffected (every registered query orders its output and every
    // oracle aggregate is partition-order exact).
    if (parts < target) df.repartition(target, df(df.schema.head.name))
    else df
  }

  /** `events.ts` arrives in two physical encodings depending on the
    * producer: parquet TIMESTAMP(NANOS) — which Spark's reader rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless read as long — or a plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark reads
    * natively as TIMESTAMP_NTZ. Normalize BOTH to microsecond
    * TIMESTAMP_NTZ here so every downstream operator sees one
    * session-TZ-independent type (nanos path truncates — identical to
    * DuckDB's ns->us read). */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = ParquetRead(spark, s"$dir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case LongType => expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
      case TimestampNTZType => col("ts")
      case _ => expr("cast(ts as timestamp_ntz)")
    }
    fanOut(spark, raw.withColumn("ts", ts), s"$dir/events.parquet#ntz")
  }
}
