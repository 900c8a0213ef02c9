package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Fs, JobLog, SparkSpec}

/** The fixed cost of a served gold read: on an unchanged lake the
  * file-metadata gate, the manifest-resolved read and the planning launch
  * no Spark job, and the execution is one job (a one-partition scan and
  * local sort of |groups| rows). */
class GoldServeCostSpec extends SparkSpec {

  /** Serves goldMonthly once over a copy of `lake` (building it), then
    * again over the unchanged copy; returns the jobs that second read's
    * construction + planning and its execution launched. */
  private def serveJobs(lake: DataFrame => DataFrame): (Seq[String], Seq[String]) = {
    val work = Files.createTempDirectory("gold_serve_cost").toString
    lake(spark.read.parquet(s"$sf0001/lineitem.parquet"))
      .write.parquet(s"$work/lineitem.parquet")
    // Gold's served tables live under this working-directory root
    val cache = Paths.get("target/graft_gold_cache/v1",
      java.net.URLEncoder.encode(work, "UTF-8")).toAbsolutePath
    val jobs = new JobLog(spark)
    try {
      val built = Gold.goldMonthly(spark, work).collect().toSeq
      assert(built.nonEmpty)
      val (df, planJobs) = jobs {
        val df = Gold.goldMonthly(spark, work)
        df.queryExecution.executedPlan
        df
      }
      val (rows, execJobs) = jobs(df.collect().toSeq)
      assert(rows == built)
      (planJobs, execJobs)
    } finally {
      jobs.close()
      Fs.deleteTree(cache)
      Fs.deleteTree(Paths.get(work))
    }
  }

  test("on an unchanged one-year lake goldMonthly plans with no job and executes as one") {
    val (plan, exec) = serveJobs(_.filter(year(col("l_shipdate")) === 1995))
    assert(plan.isEmpty, s"construct + plan launched $plan")
    assert(exec.size == 1, s"execution launched $exec")
  }

  test("past 32 served months the only planning job is Spark's parallel file listing") {
    // spark.sql.sources.parallelPartitionDiscovery.threshold (32): a read
    // of more root paths lists them with a job; the fixture has 83 months
    val (plan, exec) = serveJobs(identity)
    assert(plan.size == 1 &&
      plan.head.startsWith("Listing leaf files and directories for 83 paths"),
      s"construct + plan launched $plan")
    assert(exec.size == 1, s"execution launched $exec")
  }
}
