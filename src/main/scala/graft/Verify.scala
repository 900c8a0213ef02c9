package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // dev-only: optional query-name filter (driver always passes 2 args)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "5000") // see Bench
      .config("spark.sql.session.timeZone", "UTC")
      // r15: same planner config as Bench, so the verified plans ARE
      // the benched plans (shuffled-hash join allowed where its size
      // conditions hold — guide §3.1).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Det.silenceBenignWindowWarning()
    new java.io.File(outDir).mkdirs()
    // HERMETIC correctness (round 15): every derived on-disk tier —
    // the graft_*_cache materializations and the fingerprint-gated
    // media lakes — is rebuilt from the source lake within THIS run,
    // so builder-side cache state can never surface as an oracle
    // mismatch (the r14 adjudication's alternative cause for the two
    // reds). One-time rebuild cost at the verify SF; the serve-path
    // economics are Bench's concern, and its warm passes keep them.
    val t = new java.io.File("target")
    Option(t.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        (n.startsWith("graft_") && n.endsWith("_cache")) ||
          n.startsWith("media_")
      }
      .foreach(f => Fs.deleteTree(f.toPath))
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
