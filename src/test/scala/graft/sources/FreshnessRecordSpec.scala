package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{Fs, JobLog, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** `Incremental.serve`'s per-file freshness record: a changed lake file
  * is fingerprinted alone, the months it held are rebuilt from the files
  * that hold them while the fingerprint runs, and every outcome equals a
  * from-scratch derivation. The lakes are one parquet file per month
  * under a directory whose name holds a space and a `%`, the two
  * characters `_metadata.file_path` percent-encodes. */
class FreshnessRecordSpec extends SparkSpec {

  private val partCol = "ym"
  private val months = (1 to 12).map(m => f"1995-$m%02d")

  private def derive(src: DataFrame): DataFrame =
    src.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_orders"),
        graft.Det.xsum(col("o_totalprice")).as("revenue"))

  private lazy val orders: DataFrame = graft.Tables(spark, sf0001, "orders")
    .withColumn(partCol, date_format(col("o_orderdate"), "yyyy-MM"))
    .filter(col(partCol).isin(months: _*))

  private var stamp = System.currentTimeMillis()

  /** Writes `df` as the single parquet file `file`, atomically, with an
    * mtime later than any file written before. */
  private def writeFile(df: DataFrame, file: Path): Unit = {
    val tmp = Files.createTempDirectory("freshness_one")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("t").toString)
    val part = Files.list(tmp.resolve("t")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    stamp += 2000
    Files.setLastModifiedTime(part, FileTime.fromMillis(stamp))
    Files.move(part, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteTree(tmp)
  }

  /** A lake of one file per month of 1995 and the served table's path. */
  private def withLake(f: (Path, String) => Unit): Unit = {
    val work = Files.createTempDirectory("freshness")
    val lake = work.resolve("lake dir %41x")
    Files.createDirectories(lake)
    months.foreach(m => writeFile(orders.filter(col(partCol) === m),
      lake.resolve(s"$m.parquet")))
    try f(lake, work.resolve("gold").toString) finally Fs.deleteTree(work)
  }

  private def serve(lake: Path, out: String): DataFrame =
    serveOf(spark.read.parquet(lake.toString), out)

  private def serveOf(source: DataFrame, out: String): DataFrame =
    Incremental.serve(spark, source, partCol, derive, out, kernelFp = Some(1L))

  private def rows(df: DataFrame) = df.orderBy(partCol).collect().toSeq

  private def fromScratch(lake: Path) =
    rows(derive(spark.read.parquet(lake.toString)))

  private def listing(dir: Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def gens(out: String): Map[String, Long] =
    Incremental.currentEntries(out).map(e => e.part -> e.gen).toMap

  private def manifest(out: String): Seq[String] =
    Files.readAllLines(Paths.get(out, "_MANIFEST")).asScala.toSeq

  /** Files read by each file scan of the queries `body` runs, from their
    * executed plans. A marker query after the block flushes the
    * listener. */
  private def scans[T](body: => T): (T, Seq[Long]) = {
    val seen = new ConcurrentLinkedQueue[Long]()
    val marker = java.util.UUID.randomUUID().toString
    @volatile var flushed = false
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(fileScans)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) flushed = true
        else fileScans(qe.executedPlan).foreach(s => seen.add(s.metrics("numFiles").value))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!flushed) {
        require(System.nanoTime() < deadline, "listener never saw the marker query")
        Thread.sleep(5)
      }
      (out, seen.asScala.toSeq.sorted)
    } finally spark.listenerManager.unregister(listener)
  }

  test("path forms: inputFiles' file:/// and _metadata.file_path's file:/ agree, escapes kept") {
    assert(Incremental.filePath("file:///a%20b/c%2541x/p.parquet") ==
      "file:/a%20b/c%2541x/p.parquet")
    assert(Incremental.filePath("file:/a%20b/p.parquet") == "file:/a%20b/p.parquet")
    assert(Incremental.filePath("hdfs://nn:8020/a%20b") == "hdfs://nn:8020/a%20b")
  }

  test("a one-month correction fingerprints one file and rebuilds from one file") {
    withLake { (lake, out) =>
      val (_, first) = scans(serve(lake, out))
      assert(first == Seq(12L, 12L), "a first build fingerprints and derives the whole lake")
      val record = Incremental.readRecord(out).get
      assert(Files.readAllLines(Paths.get(out, "_SOURCE_FILES")).get(0) == "kernel\t1\tper-file")
      assert(record.files.map(f => f.path.split('/').last -> f.parts.map(_._1)) ==
        months.map(m => s"$m.parquet" -> Seq(m)))
      assert(record.files.forall(_.path.contains("/lake%20dir%20%2541x/")))
      val before = gens(out)
      val target = "1995-03"
      writeFile(orders.filter(col(partCol) === target).limit(1)
          .withColumn("o_orderkey", lit(888888888L))
          .unionByName(orders.filter(col(partCol) === target)),
        lake.resolve(s"$target.parquet"))
      val (served, files) = scans(serve(lake, out))
      assert(files == Seq(1L, 1L),
        s"expected one file in the fingerprint and one in the rebuild, got $files")
      val after = gens(out)
      assert(after.keySet == before.keySet)
      assert(after.filter { case (p, g) => before(p) != g }.keySet == Set(target))
      assert(rows(served) == fromScratch(lake))
    }
  }

  test("touching a file without changing its bytes rebuilds nothing and commits no manifest") {
    withLake { (lake, out) =>
      serve(lake, out)
      val m = Paths.get(out, "_MANIFEST")
      val (lines, mtime) = (manifest(out), Files.getLastModifiedTime(m))
      val gensBefore = listing(Paths.get(out))
      val file = lake.resolve("1995-06.parquet")
      stamp += 2000
      Files.setLastModifiedTime(file, FileTime.fromMillis(stamp))
      val (served, files) = scans(serve(lake, out))
      assert(files == Seq(1L, 1L), "the touched file is fingerprinted (and its month started)")
      assert(manifest(out) == lines && Files.getLastModifiedTime(m) == mtime)
      assert(listing(Paths.get(out)) == gensBefore, "the started generation is vacuumed")
      assert(Incremental.readRecord(out).get.files
        .find(_.path.endsWith("/1995-06.parquet")).get.mtime == stamp)
      assert(rows(served) == fromScratch(lake))
      // the record now holds the new mtime: the next serve is a read
      assert(scans(serve(lake, out))._2.isEmpty)
    }
  }

  test("a replaced file that gains a row of another month rebuilds both months") {
    withLake { (lake, out) =>
      serve(lake, out)
      val before = gens(out)
      // 1995-05's file gains a row of its own month and one of 1995-09, a
      // month it never held
      def extra(m: String, key: Long) = orders.filter(col(partCol) === m).limit(1)
        .withColumn("o_orderkey", lit(key))
      writeFile(orders.filter(col(partCol) === "1995-05")
          .unionByName(extra("1995-05", 666666666L))
          .unionByName(extra("1995-09", 777777777L)),
        lake.resolve("1995-05.parquet"))
      val (served, files) = scans(serve(lake, out))
      // fingerprint: the changed file; started 1995-05: the changed file;
      // then 1995-09: its own file and the changed one
      assert(files == Seq(1L, 1L, 2L), files)
      val after = gens(out)
      assert(after.filter { case (p, g) => before(p) != g }.keySet ==
        Set("1995-05", "1995-09"))
      assert(after("1995-09") == after("1995-05") + 1,
        "the month no file was known to hold is derived after the fingerprint")
      assert(rows(served) == fromScratch(lake))
    }
  }

  test("deleting files evicts or rebuilds their months without a fingerprint scan") {
    withLake { (lake, out) =>
      // 1995-01 split over two files
      val jan = orders.filter(col(partCol) === "1995-01")
      writeFile(jan.filter(col("o_orderkey") % 2 === 0), lake.resolve("1995-01.parquet"))
      writeFile(jan.filter(col("o_orderkey") % 2 =!= 0), lake.resolve("1995-01b.parquet"))
      serve(lake, out)
      val before = gens(out)
      Files.delete(lake.resolve("1995-01b.parquet"))
      Files.delete(lake.resolve("1995-12.parquet"))
      val (served, files) = scans(serve(lake, out))
      assert(files == Seq(1L), s"only the rebuild of 1995-01 reads, from its one file: $files")
      val after = gens(out)
      assert(!after.contains("1995-12"), "the vanished month is evicted")
      assert(after.filter { case (p, g) => before(p) != g }.keySet == Set("1995-01"))
      assert(rows(served) == fromScratch(lake))
    }
  }

  test("a kernel fingerprint change rebuilds every month from the whole lake") {
    withLake { (lake, out) =>
      serve(lake, out)
      val before = gens(out)
      val (_, files) = scans(Incremental.serve(spark, spark.read.parquet(lake.toString),
        partCol, derive, out, kernelFp = Some(2L)))
      assert(files == Seq(12L, 12L), files)
      val after = gens(out)
      assert(after.keySet == before.keySet && after.forall { case (p, g) => g > before(p) })
      assert(Incremental.readRecord(out).get.kernel == 2L)
    }
  }

  test("a table without a record is served with no partition rebuilt; only the record is written") {
    withLake { (lake, out) =>
      // a table whose freshness record is lost
      Incremental.refresh(spark, spark.read.parquet(lake.toString), partCol,
        derive, out, kernelFp = Some(1L))
      Files.delete(Paths.get(out, "_SOURCE_FILES"))
      val lines = manifest(out)
      val mtime = Files.getLastModifiedTime(Paths.get(out, "_MANIFEST"))
      val (served, files) = scans(serve(lake, out))
      assert(files == Seq(12L), "one fingerprint scan and no rebuild")
      assert(manifest(out) == lines &&
        Files.getLastModifiedTime(Paths.get(out, "_MANIFEST")) == mtime)
      assert(Incremental.readRecord(out).exists(_.files.size == 12))
      assert(rows(served) == fromScratch(lake))
    }
  }

  test("a source the session has cached is gated by its files: a repeat serve runs no job") {
    withLake { (lake, out) =>
      val cached = spark.read.parquet(lake.toString).cache()
      val jobs = new JobLog(spark)
      try {
        serveOf(cached, out)
        assert(Incremental.readRecord(out).exists(_.files.size == 12),
          "serving a cached source must write the per-file record")
        val (served, sites) = jobs(serveOf(cached, out))
        assert(sites.isEmpty, s"a repeat serve over a cached source launched $sites")
        assert(rows(served) == fromScratch(lake))
      } finally { jobs.close(); cached.unpersist() }
    }
  }

  test("an error in the started derive propagates, leaves the manifest and no job running") {
    withLake { (lake, out) =>
      val boom = udf { (k: Long) =>
        if (k == 999999999L) throw new IllegalStateException("planted derive failure")
        k
      }
      def failing(src: DataFrame): DataFrame =
        derive(src.filter(boom(col("o_orderkey")) =!= -1L))
      def serveFailing() = Incremental.serve(spark, spark.read.parquet(lake.toString),
        partCol, failing, out, kernelFp = Some(1L))
      serveFailing()
      val lines = manifest(out)
      val record = Incremental.readRecord(out)
      writeFile(orders.filter(col(partCol) === "1995-07")
          .withColumn("o_orderkey", lit(999999999L)).limit(1)
          .unionByName(orders.filter(col(partCol) === "1995-07")),
        lake.resolve("1995-07.parquet"))
      val e = intercept[Exception](serveFailing())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => String.valueOf(c.getMessage)
        .contains("planted derive failure")), e)
      assert(manifest(out) == lines, "the failed refresh must not commit")
      assert(Incremental.readRecord(out) == record)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "a job of the failed refresh is still running")
    }
  }
}
