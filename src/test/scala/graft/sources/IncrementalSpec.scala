package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialization contract: first run builds everything,
  * an unchanged source rewrites nothing, a one-partition change
  * recomputes exactly that partition (other partitions' files
  * untouched on disk), and the incremental result always equals a
  * from-scratch rebuild. */
class IncrementalSpec extends SparkSpec {

  private val partCol = "ym"

  private def derive(src: DataFrame): DataFrame =
    src.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_orders"),
        graft.Det.xsum(col("o_totalprice")).as("revenue"))

  private def withFixture(f: (String, String) => Unit): Unit = {
    val work = Files.createTempDirectory("inc_spec").toFile.getAbsolutePath
    val srcPath = s"$work/source"
    val outPath = s"$work/gold"
    graft.Tables(spark, sf0001, "orders")
      .withColumn(partCol, date_format(col("o_orderdate"), "yyyy-MM"))
      .write.parquet(srcPath)
    f(srcPath, outPath)
  }

  private def readSrc(p: String) = spark.read.parquet(p)

  test("build, no-op, targeted refresh, and rebuild equality") {
    withFixture { (srcPath, outPath) =>
      // 1. initial build touches every partition
      val first = Incremental.refresh(spark, readSrc(srcPath), partCol,
        derive, outPath)
      val nParts = readSrc(srcPath).select(partCol).distinct().count()
      assert(first.size == nParts && nParts > 10)

      // 2. unchanged source: zero stale partitions, files untouched
      // (partition dirs are resolved via the committed manifest —
      // part value -> immutable generation subdir and its file mtimes)
      def partFiles() = Incremental.currentEntries(outPath)
        .filter(_.dir.nonEmpty).map { e =>
          val d = new java.io.File(s"$outPath/gen=${e.gen}/${e.dir}")
          e.part -> ((e.gen, d.listFiles().map(f =>
            (f.getName, f.lastModified())).toSet))
        }.toMap
      val before = partFiles()
      assert(Incremental.refresh(spark, readSrc(srcPath), partCol,
        derive, outPath).isEmpty)
      assert(partFiles() == before)

      // 3. append one row to ONE month (full schema: clone an existing
      // row with a fresh key) — only that partition must refresh
      val target = "1995-03"
      readSrc(srcPath).filter(col(partCol) === target).limit(1)
        .withColumn("o_orderkey", lit(99999L))
        .write.mode("append").parquet(srcPath)
      val third = Incremental.refresh(spark, readSrc(srcPath), partCol,
        derive, outPath)
      assert(third == Seq(target), s"stale set was $third")
      val after = partFiles()
      assert(after.keySet == before.keySet)
      before.foreach { case (p, files) =>
        if (p != target)
          assert(after(p) == files, s"untouched partition $p rewritten")
      }
      assert(after(target) != before(target), "stale partition not refreshed")

      // 4. incremental state equals a from-scratch rebuild
      val rebuilt = derive(readSrc(srcPath))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val incremental = Incremental.read(spark, outPath)
        .select(col(partCol), col("n_orders"), col("revenue"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(incremental == rebuilt)
    }
  }

  test("cardinality guard: a near-unique partition column fails fast") {
    withFixture { (srcPath, outPath) =>
      // partition by the order KEY — partition-grained it is not; the
      // driver-metadata bound must refuse before collecting the world
      val keyed = readSrc(srcPath)
        .withColumn("badpart", col("o_orderkey").cast("string"))
      val e = intercept[IllegalArgumentException] {
        Incremental.refresh(spark, keyed, "badpart",
          src => src.groupBy(col("badpart")).agg(count(lit(1)).as("n")),
          s"$outPath/bad", maxParts = 50)
      }
      assert(e.getMessage.contains("driver bound"))
      // nothing was materialized on the refused path
      assert(!new java.io.File(s"$outPath/bad").exists())
    }
  }

  test("refresh refuses a source that is not one file scan: an in-memory frame, a join") {
    withFixture { (srcPath, outPath) =>
      import spark.implicits._
      val inMemory = Seq(("1995-01", 1L), ("1995-02", 2L)).toDF(partCol, "o_orderkey")
      val joined = readSrc(srcPath).join(inMemory.select(col(partCol)), partCol)
      for (source <- Seq(inMemory, joined)) {
        val e = intercept[IllegalArgumentException] {
          Incremental.refresh(spark, source, partCol, derive, outPath)
        }
        assert(e.getMessage.contains("must be one file scan"), e.getMessage)
      }
      assert(!new java.io.File(outPath).exists(), "a refused source materialized something")
    }
  }

  test("data path restricts stale partitions with a literal InSet, no join") {
    withFixture { (srcPath, _) =>
      val parts = readSrc(srcPath).select(partCol).distinct()
        .collect().map(_.getString(0)).toSeq.take(20)
      assert(parts.size > 10) // past OptimizeIn's InSet threshold
      val restricted = Incremental.ofParts(readSrc(srcPath), partCol, parts)
      val plan = restricted.queryExecution.optimizedPlan.toString
      assert(plan.contains("INSET") && !plan.contains("Join"),
        s"expected an InSet filter and no join:\n$plan")
      assert(restricted.count() ==
        readSrc(srcPath).filter(col(partCol).isin(parts: _*)).count())
    }
  }

  test("a vanished source partition is evicted (no ghost rows served)") {
    withFixture { (srcPath, outPath) =>
      Incremental.refresh(spark, readSrc(srcPath), partCol, derive, outPath)
      val dropped = "1995-03"
      assert(Incremental.read(spark, outPath)
        .filter(col(partCol) === dropped).count() == 1)

      // shrink the corpus: rewrite the lake without one month (the
      // regression ADVICE r13 flagged — the cur-left-join diff kept the
      // removed month's manifest entry forever)
      val work = Files.createTempDirectory("inc_shrink").toFile.getAbsolutePath
      val shrunkPath = s"$work/source"
      readSrc(srcPath).filter(col(partCol) =!= dropped)
        .write.parquet(shrunkPath)

      // deletion-only refresh: nothing recomputes, but the manifest
      // commit evicts the ghost partition
      val stale = Incremental.refresh(spark,
        spark.read.parquet(shrunkPath), partCol, derive, outPath)
      assert(stale.isEmpty, s"deletion must not recompute, got $stale")
      assert(!Incremental.currentEntries(outPath).exists(_.part == dropped))
      assert(Incremental.read(spark, outPath)
        .filter(col(partCol) === dropped).count() == 0)

      // the eviction leaves the incremental state equal to a
      // from-scratch rebuild over the LIVE source
      val rebuilt = derive(spark.read.parquet(shrunkPath))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val incremental = Incremental.read(spark, outPath)
        .select(col(partCol), col("n_orders"), col("revenue"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(incremental == rebuilt)

      // the orphaned directory is vacuum food once unreferenced
      val reclaimed = Incremental.vacuum(outPath)
      assert(reclaimed.exists(_.contains("1995-03")),
        s"vacuum must reclaim the evicted partition dir, got $reclaimed")

      // deletion + mutation in ONE refresh: drop another month and
      // dirty a third — exactly the dirty one recomputes, both ghosts gone
      val dropped2 = "1995-04"
      val target = "1995-05"
      val work2 = Files.createTempDirectory("inc_shrink2").toFile
        .getAbsolutePath
      val bothPath = s"$work2/source"
      val base = spark.read.parquet(shrunkPath)
      base.filter(col(partCol) =!= dropped2)
        .unionByName(base.filter(col(partCol) === target).limit(1)
          .withColumn("o_orderkey", lit(88888L)))
        .write.parquet(bothPath)
      val stale2 = Incremental.refresh(spark,
        spark.read.parquet(bothPath), partCol, derive, outPath)
      assert(stale2 == Seq(target), s"stale set was $stale2")
      val parts = Incremental.currentEntries(outPath).map(_.part).toSet
      assert(!parts(dropped) && !parts(dropped2) && parts(target))
    }
  }
}
