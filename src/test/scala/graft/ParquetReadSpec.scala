package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.Incremental

/** [[ParquetRead]] must resolve exactly the schema `spark.read.parquet`
  * infers, for every layout the program reads, without launching a job. */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val sf001 = Paths.get(sf0001).resolveSibling("sf0.01").toString

  private def inferred(paths: String*): StructType =
    spark.read.parquet(paths: _*).schema

  /** ParquetRead's schema for `paths`, asserting that no job ran. */
  private def resolved(jobs: JobLog, paths: String*): StructType = {
    val (df, sites) = jobs(ParquetRead(spark, paths: _*))
    assert(sites.isEmpty, s"resolving ${paths.mkString(", ")} launched $sites")
    df.schema
  }

  private def withJobs(f: JobLog => Unit): Unit = {
    val jobs = new JobLog(spark)
    try f(jobs) finally jobs.close()
  }

  test("every lake table at sf0.001 and sf0.01 resolves the inferred schema, events included") {
    // Tables.events reads with nanosAsLong on; the converter must see it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withJobs { jobs =>
      for (dir <- Seq(sf0001, sf001); t <- Tables.names) {
        val p = s"$dir/$t.parquet"
        assert(resolved(jobs, p) == inferred(p), p)
      }
      // the session's parquet flags reach the converter: events.ts is a
      // TIMESTAMP(MICROS) without UTC adjustment, NTZ only when inferred so
      val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
      spark.conf.set(ntz, "false")
      try for (dir <- Seq(sf0001, sf001)) {
        val p = s"$dir/events.parquet"
        assert(resolved(jobs, p) == inferred(p), s"$p with $ntz=false")
      } finally spark.conf.unset(ntz)
    }
  }

  test("a multi-generation Incremental table after compact resolves the inferred schema") {
    val work = Files.createTempDirectory("parquet_read_inc").toString
    val src = s"$work/source"
    val out = s"$work/table"
    spark.range(0, 3000).select($"id", ($"id" % 3).as("p"),
        ($"id" * 0.5).as("x"), $"id".cast("string").as("s"))
      .repartition(8).write.parquet(src)
    // gen=0: every partition as up to 8 files
    Incremental.refresh(spark, spark.read.parquet(src), "p", identity, out)
    // gen=1: partition 0 changes and is rewritten as one file
    spark.range(5000, 5003).select($"id", lit(0L).as("p"),
        ($"id" * 0.5).as("x"), $"id".cast("string").as("s"))
      .write.mode("append").parquet(src)
    assert(Incremental.refresh(spark, spark.read.parquet(src), "p",
      _.coalesce(1), out) == Seq("0"))
    // gen=2: the many-file partitions 1 and 2 are compacted
    assert(Incremental.compact(spark, out, "p", maxFiles = 2).sorted ==
      Seq("1", "2"))
    val entries = Incremental.currentEntries(out)
    assert(entries.map(_.gen).distinct.size == 2, entries)
    val dirs = entries.map(e => s"$out/gen=${e.gen}/${e.dir}")
    withJobs { jobs =>
      val (df, sites) = jobs(Incremental.read(spark, out))
      assert(sites.isEmpty, s"Incremental.read launched $sites")
      assert(df.schema == inferred(dirs: _*))
      assert(resolved(jobs, dirs: _*) == inferred(dirs: _*))
      assert(df.count() == 3003)
    }
    Fs.deleteTree(Paths.get(work))
  }

  test("hidden, checksum, temp and summary files are picked as Spark's inference picks them") {
    val work = Paths.get(Files.createTempDirectory("parquet_read_dir").toString)
    // a `%` escape in the path, as in the gold cache roots
    val dir = work.resolve("t%2Fx")
    spark.range(0, 10).select($"id", ($"id" * 2).as("v"))
      .write.parquet(dir.toString)
    // one-file parquet tables of other schemas to plant under other names
    def other(name: String, cols: String*) = {
      val d = work.resolve(name)
      spark.range(0, 1).select(cols.map(c => lit(c).as(c)): _*).coalesce(1)
        .write.parquet(d.toString)
      Files.list(d).filter(_.toString.endsWith(".parquet")).findFirst().get
    }
    // names that sort before every data file but are never inferred from
    Files.copy(other("landing", "landing"), dir.resolve(".x.landing"))
    Files.copy(other("hidden", "hidden"), dir.resolve("_x.parquet"))
    assert(Files.list(dir).anyMatch(_.toString.endsWith(".crc")))
    assert(Files.exists(dir.resolve("_SUCCESS")))
    withJobs { jobs =>
      assert(inferred(dir.toString).fieldNames.toSeq == Seq("id", "v"))
      assert(resolved(jobs, dir.toString) == inferred(dir.toString))
      // summary files come first, _common_metadata before _metadata
      Files.copy(other("meta", "meta"), dir.resolve("_metadata"))
      assert(inferred(dir.toString).fieldNames.toSeq == Seq("meta"))
      assert(resolved(jobs, dir.toString) == inferred(dir.toString))
      Files.copy(other("common", "common"), dir.resolve("_common_metadata"),
        StandardCopyOption.REPLACE_EXISTING)
      assert(inferred(dir.toString).fieldNames.toSeq == Seq("common"))
      assert(resolved(jobs, dir.toString) == inferred(dir.toString))
    }
    Fs.deleteTree(work)
  }
}
