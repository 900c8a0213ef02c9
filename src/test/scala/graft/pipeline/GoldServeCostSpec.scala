package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Fs, JobLog, SparkSpec, Workspace}

/** The fixed cost of a served gold read: on an unchanged lake the
  * file-metadata gate, the manifest-resolved read and the planning launch
  * no Spark job, and the execution is one job (a one-partition scan and
  * local sort of |groups| rows). A one-month correction adds the jobs of
  * fingerprinting the one changed file and rebuilding its month. */
class GoldServeCostSpec extends SparkSpec {

  /** Serves goldMonthly once over a copy of `lake` (building it), then
    * again over the unchanged copy; returns the jobs that second read's
    * construction + planning and its execution launched. */
  private def serveJobs(lake: DataFrame => DataFrame): (Seq[String], Seq[String]) = {
    val work = Files.createTempDirectory("gold_serve_cost").toString
    lake(spark.read.parquet(s"$sf0001/lineitem.parquet"))
      .write.parquet(s"$work/lineitem.parquet")
    val cache = Paths.get(Workspace.cache("gold", 1, work))
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

  test("past 32 served months goldMonthly still plans with no job") {
    // the read is built over the manifest's leaf files, listed once on
    // the driver: no parallel listing job past
    // spark.sql.sources.parallelPartitionDiscovery.threshold (32); the
    // fixture has 83 months
    val (plan, exec) = serveJobs(identity)
    assert(plan.isEmpty, s"construct + plan launched $plan")
    assert(exec.size == 1, s"execution launched $exec")
  }

  test("a one-month correction cycle serving gold_monthly and view_monthly_trend runs 6 jobs") {
    val work = Files.createTempDirectory("gold_correction_cost")
    val li = work.resolve("lineitem.parquet")
    Files.createDirectories(li)
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .withColumn("__m", date_format(col("l_shipdate"), "yyyy-MM"))
    var stamp = System.currentTimeMillis()
    /** Lands `df` as the one file of `month`, as a corrected month lands. */
    def land(month: String, df: DataFrame): Unit = {
      val tmp = work.resolve(s"tmp-$month")
      df.drop("__m").coalesce(1).write.parquet(tmp.toString)
      val file = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      stamp += 2000
      Files.setLastModifiedTime(file, FileTime.fromMillis(stamp))
      Files.move(file, li.resolve(s"$month.parquet"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      Fs.deleteTree(tmp)
    }
    def month(m: String) = lineitem.filter(col("__m") === m)
    val months = (1 to 12).map(m => f"1995-$m%02d")
    months.foreach(m => land(m, month(m)))
    val dir = work.toString
    def cycle() = Seq(Gold.goldMonthly(spark, dir), Views.monthlyTrend(spark, dir))
      .map(_.collect().toSeq)
    val jobs = new JobLog(spark)
    try {
      val before = cycle()
      land("1995-06", month("1995-06").withColumn("l_quantity", col("l_quantity") + 1))
      val (after, cycleJobs) = jobs(cycle())
      assert(cycleJobs.size == 6, s"the correction cycle launched $cycleJobs")
      def byMonth(rows: Seq[org.apache.spark.sql.Row]) =
        rows.map(r => r.getAs[String]("year_month") -> r).toMap
      val (b, a) = (byMonth(before.head), byMonth(after.head))
      assert(a.keySet == months.toSet && a.keySet == b.keySet)
      assert(months.filter(m => a(m) != b(m)) == Seq("1995-06"))
    } finally {
      jobs.close()
      Fs.deleteTree(Paths.get(Workspace.cache("gold", 1, dir)))
      Fs.deleteTree(work)
    }
  }
}
