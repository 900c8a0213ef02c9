package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries are materialized through the `noop` v2 sink — unlike
  * `count()`, which lets Catalyst prune every projected column and
  * under-reports, noop forces full row production (what a real consumer
  * would pay) while writing nothing.
  */
object Bench {
  /** The one Spark session of the program: Bench, Verify, the test suites
    * (`SparkSpec`) and every tool under `graft.tools` plan under it, so
    * the tested, verified, profiled and benched plans are the same.
    *
    * The chain lives here, first in this file, because the benchmark
    * build (`perfbench/run.py`, `check_session`) reads the first session
    * builder chain of `Bench.scala` and refuses to build unless its calls
    * equal the benchmark session's; keep its calls in step with
    * `perfbench/src/Main.scala`. */
  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    // static conf, default 100 generated classes: a 120+-query
    // registry × several codegen stages each thrashes it completely,
    // so pass 2 re-pays Janino for EVERY query and min-of-2 never
    // sees steady state (measured: dedup_clusters 19.7s both passes
    // vs 4.6s in-session steady). Size it to hold the whole registry.
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // allow shuffled-hash join where its size conditions hold instead
    // of always sort-merge (no sort pass), and let AQE rewrite a planned
    // SMJ to SHJ when every post-shuffle partition is small. Both are
    // size-gated planner choices, not local-mode tuning: the same
    // settings are the production recommendation, and partitions that
    // exceed the threshold keep sort-merge.
    .config("spark.sql.join.preferSortMergeJoin", "false")
    .config(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Local slots for the mains and tools: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev-only: optional query-name filter (driver passes no args)
    val only = args.toSet
    def selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    Det.silenceBenignWindowWarning()
    // JVM/codegen warm-up outside the timed region: run every query once
    // at the smallest scale factor so generated code, Jackson, and
    // decimal paths are JIT-compiled before timing (steady-state numbers;
    // first-run was measured 3-4x slower purely from compilation)
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    // Three timed passes, MEDIAN per query (+ min/max spread recorded):
    // the sf0.001 warm-up compiles the small-scale plans, but AQE picks
    // DIFFERENT physical plans at the bench SF, so pass 1 still pays
    // their Janino compilation (measured 8s cold vs 2s steady on the
    // percentile window); medians also stop round-over-round comparisons
    // from chasing co-tenant machine variance (r5: two same-code runs
    // differed ~15% on total). Failures are tracked per pass — a run
    // with crashed queries must never masquerade as a clean artifact.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def timedPass(): Map[String, Double] = {
      // operators that persist() an intermediate (LOF's edge list) must
      // re-pay it every pass — a pass-2 cache hit on pass 1's plan-
      // canonical match would understate the floor
      spark.catalog.clearCache()
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    val passes = Seq(timedPass(), timedPass(), timedPass())
    val names = passes.head.keys.toSeq.sorted
    // per-query observations: the three timed passes, plus (for floor-
    // gate candidates only) a confirmation re-run appended below
    val times = scala.collection.mutable.Map[String, Seq[Double]](
      names.map(n => n -> passes.map(_(n))): _*)
    def stats(n: String): (Double, Double, Double) = {
      val med = passes.map(_(n)).sorted.apply(1) // median of the 3 passes
      val ts = times(n)
      (med, ts.min, ts.max)
    }
    // Floor-regression gate: compare each query's min floor against the
    // previous committed artifact for this SF. The floor (not the median)
    // is the comparison statistic — additive co-tenant load inflates
    // medians asymmetrically, while a floor that moved >50% on unchanged
    // code is either a real plan regression or a window worth a second
    // look (the r7 `text_winnowing` 1.08→4.37 s case this gate exists to
    // auto-adjudicate). Thresholds: ratio > 1.5× AND absolute delta
    // > 0.5 s, so sub-second jitter on cheap queries never flags.
    val outFile = java.nio.file.Paths.get(
      "out", s"bench_${new java.io.File(sfDir).getName}.json")
    val regressions: Seq[(String, Double, Double)] =
      if (!java.nio.file.Files.exists(outFile)) Nil
      else {
        // scope the parse to the "spread" object — the artifact also
        // carries "floor_regressions" entries of the same [a,b] shape
        val prev = new String(
          java.nio.file.Files.readAllBytes(outFile), "UTF-8")
          .split(""""spread":""").last.split(""""failures"""").head
        val prevFloors = raw""""([A-Za-z0-9_]+)":\[([0-9.Ee+\-]+),"""
          .r.findAllMatchIn(prev)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        def over(n: String): Option[(String, Double, Double)] =
          prevFloors.get(n).collect {
            case p if stats(n)._2 > p * 1.5 && stats(n)._2 - p > 0.5 =>
              (n, p, stats(n)._2)
          }
        val candidates = names.flatMap(over(_).map(_._1))
        // Reproduce-before-record (round 9): a floor is three samples of
        // a noisy machine — the round-8 artifact recorded four phantom
        // regressions from one loaded window. Each candidate gets ONE
        // confirmation re-run at the end of the session (the machine has
        // had time to quiet down; the query is JIT-steady); the confirm
        // time folds into the floor, so a candidate stays recorded only
        // if the regression REPRODUCES.
        if (candidates.nonEmpty) {
          spark.catalog.clearCache()
          candidates.foreach { n =>
            val t0 = System.nanoTime()
            try selected(n)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              failed += n
              System.err.println(s"[bench] $n confirm failed: ${e.getMessage}")
            }
            times(n) = times(n) :+ (System.nanoTime() - t0) / 1e9
          }
        }
        names.flatMap(over)
      }
    // JSON assembly AFTER the gate so any confirmation re-run is folded
    // into the recorded floors (a self-consistent artifact: the spread
    // the NEXT round parses as prevFloors includes the confirm sample)
    val qs = names.map(n => "\"" + n + "\":" + stats(n)._1)
      .mkString("{", ",", "}")
    val spread = names.map { n =>
      val (_, lo, hi) = stats(n); "\"" + n + "\":[" + lo + "," + hi + "]"
    }.mkString("{", ",", "}")
    val total = names.map(stats(_)._1).sum
    // the min floor is the co-tenancy-robust statistic: additive machine
    // load inflates medians asymmetrically (observed: 125% median rel
    // spread under load), while the per-query min approximates the
    // unloaded steady state — compare rounds on the floor, read the
    // median+spread for what the machine was doing
    val totalMin = names.map(stats(_)._2).sum
    val failJson = failed.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val regJson = regressions
      .map { case (n, p, c) => "\"" + n + s"""":[$p,$c]""" }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"sf":"$sfDir","passes":3,"value_min_floor":$totalMin,""" +
      s""""spread":$spread,"failures":$failJson,""" +
      s""""floor_regressions":$regJson}"""
    println(json)
    if (regressions.nonEmpty) {
      System.err.println(
        s"[bench] ${regressions.size} floor regression(s) vs previous artifact:")
      System.err.println("[bench]   query | prev floor s | this floor s")
      regressions.foreach { case (n, p, c) =>
        System.err.println(f"[bench]   $n | $p%.2f | $c%.2f")
      }
    }
    // auditable artifact: the one-line stdout JSON can be truncated by
    // log capture, so also persist the full per-query map in-repo —
    // full CLEAN runs only: a dev-filtered run must never clobber the
    // round artifact with a partial map, and a run with crashed queries
    // must never commit elapsed-until-failure times as if real
    if (only.isEmpty && failed.isEmpty) {
      java.nio.file.Files.createDirectories(outFile.getParent)
      java.nio.file.Files.write(outFile, json.getBytes("UTF-8"))
    } else if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries failed — " +
        "artifact not written: " + failed.mkString(", "))
    spark.stop()
  }
}
