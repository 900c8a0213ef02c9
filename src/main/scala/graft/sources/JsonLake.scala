package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Malformed-record JSONL ingest (S-tier, round 3): real lakes contain
  * broken lines — truncated writes, encoding damage, half-flushed
  * buffers — and the reference's own silver path exists because its
  * capture bodies arrive damaged (truncated tails). Spark's PERMISSIVE
  * mode + `columnNameOfCorruptRecord` is the production answer: parse
  * what parses, quarantine the rest as raw text in-row, and let the
  * pipeline AUDIT rather than abort. This module proves that path
  * end-to-end on a fixture whose corruption is a pure function of the
  * source table (doc_id % 7 == 0 → the line is truncated mid-object),
  * so the DuckDB oracle can state the expected audit from `documents`
  * without ever reading JSON.
  *
  * Scale posture: the JSONL scan is a parallel text scan (one task per
  * split); PERMISSIVE parsing is per-row with no cross-row state; the
  * audit is a |langs|-row aggregate. Nothing here is harder at 100 TB
  * than the scan itself.
  */
object JsonLake extends graft.QueryModule {

  private def lakeRoot(dir: String): String =
    s"target/json_lake/${new java.io.File(dir).getName}"

  /** Write the JSONL fixture: one line per document; every 7th doc_id
    * emits a line truncated mid-object (unparseable, deterministic).
    * Cached per source-content fingerprint like [[AvroBronze]]. */
  def writeLake(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val root = lakeRoot(dir)
    val fp = AvroBronze.fingerprint(dir)
    val fpFile = new java.io.File(s"$root/_SOURCE_FINGERPRINT")
    val cached = new java.io.File(s"$root/_SUCCESS").isFile && fpFile.isFile &&
      new String(java.nio.file.Files.readAllBytes(fpFile.toPath), "UTF-8") == fp
    if (!cached) {
      Tables(spark, dir, "documents")
        .select(
          when($"doc_id" % 7 === 0,
            concat(lit("{\"doc_id\":"), $"doc_id", lit(",\"lang\":\"tr")))
            .otherwise(to_json(struct($"doc_id", $"lang", $"n_chars")))
            .as("value"))
        .write.mode("overwrite").text(root)
      java.nio.file.Files.write(fpFile.toPath, fp.getBytes("UTF-8"))
    }
    root
  }

  /** Ingest audit: PERMISSIVE read with a corrupt-record column, then a
    * per-lang census — parsed doc counts and character volume, with the
    * quarantined lines surfacing as the NULL-lang row. An ingest that
    * silently drops bad lines is a data-loss bug; one that aborts on
    * them is a 100 TB outage. */
  def corruptAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = writeLake(spark, dir)
    spark.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(root)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_lines"),
        count($"_corrupt_record").as("n_corrupt"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  val corruptAuditSql: String =
    s"""SELECT
       |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
       |  COUNT(*) AS n_lines,
       |  CAST(COUNT(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS BIGINT) AS n_corrupt,
       |  CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN n_chars END) AS BIGINT) AS sum_chars
       |FROM documents GROUP BY 1${sqlOrderBy(Seq("lang"))}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "json_corrupt_audit" -> corruptAudit)

  val oracles: Map[String, String] = Map(
    "json_corrupt_audit" -> corruptAuditSql)
}
