package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Det, SparkEntry}
import graft.pipeline.{SilverJson, Views}
import graft.sources.{AvroBronze, Incremental}
import graft.streaming.SilverStream

/** Options of one benchmark process (see perfbench/run.py, which builds
  * them from the benchmark's command line). */
final case class Opts(
    workload: String, lake: String, twins: String, seed: Long,
    seconds: Double, trace: Boolean, cpus: Int, tracedPasses: Int, queries: Seq[String], plantWrong: Boolean,
    out: String, spansOut: String)

/** Construct, plan and execute times of one query call, and the hash of
  * the rows it produced. */
final case class Timed(construct: Double, plan: Double, exec: Double,
    hash: (Long, Long)) {
  def total: Double = construct + plan + exec
}

/** Shared state of one run: the session, the closed-loop counters, the
  * tracer and the per-layer samples of the traced sequence. */
final class Ctx(val spark: SparkSession, val o: Opts) {
  type Query = (SparkSession, String) => DataFrame

  val registry: Map[String, Query] = SparkEntry.queries
  val tracer = new Tracer
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var flagged = false

  /** Records a per-layer sample; only the traced sequence records. */
  def sample(name: String, v: Double): Unit =
    if (tracer.on) layer.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  private def note(msg: String): Unit = {
    if (errors.size < 20) errors += msg
    System.err.println(s"[perfbench] $msg")
  }

  /** Marks the current operation failed by an output check. */
  def flag(msg: String): Unit = { flagged = true; note(msg) }

  /** Share of its CPU time the host gave each successful operation, in
    * order (see [[HostCpu]]). */
  val given = mutable.ArrayBuffer[Double]()

  /** Runs one operation: counts it, charges its Spark jobs to `id`, and
    * counts it failed if it throws or a check flags it. Returns the
    * operation's latency, scaled by the share of CPU time the host gave
    * it, unless it threw. */
  def operation(id: String)(body: => Double): Option[Double] = {
    attempted += 1
    flagged = false
    val sc = spark.sparkContext
    sc.setLocalProperty(Meter.OpKey, id)
    try {
      val before = HostCpu.read()
      val v = body
      val g = HostCpu.given(before, HostCpu.read())
      if (flagged) failed += 1
      System.err.println(f"[perfbench] $id%s $v%.3f s, host gave $g%.3f")
      given += g
      Some(v * g)
    } catch {
      case NonFatal(e) =>
        failed += 1
        note(s"$id threw: $e")
        None
    } finally sc.setLocalProperty(Meter.OpKey, null)
  }

  /** Runs the benchmark's own checks outside the operation's metering. */
  def unmetered[T](body: => T): T = {
    val sc = spark.sparkContext
    val id = sc.getLocalProperty(Meter.OpKey)
    sc.setLocalProperty(Meter.OpKey, null)
    try body finally sc.setLocalProperty(Meter.OpKey, id)
  }

  /** One query call through the program's public function: construct
    * (`fn(spark, dir)`, including any eager work it does), plan (forcing
    * the executed plan) and execute (running that plan once and hashing
    * every row it produces, so the output check needs no second run). */
  def query(op: String, parent: String, fn: Query, dir: String): Timed = {
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val h = Ctx.materialize(df)
    val t3 = System.nanoTime()
    tracer.add(op, "construct", parent, t0, t1)
    tracer.add(op, "plan", parent, t1, t2)
    tracer.add(op, "exec", parent, t2, t3)
    val t = Timed((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, h)
    sample("engine.construct_s", t.construct)
    sample("engine.plan_s", t.plan)
    sample("engine.exec_s", t.exec)
    t
  }

  /** Partition -> generation of a served table's committed manifest. */
  def manifest(root: Path): Map[String, Long] = {
    val m = root.resolve("_MANIFEST")
    if (!Files.exists(m)) Map.empty
    else Files.readAllLines(m).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", 5)
      f(4) -> f(0).toLong
    }.toMap
  }

  /** Deletes the process's derived state: every CWD-relative `target/`
    * root of the program, and Spark's cached data. Refuses to run
    * outside a benchmark workspace. */
  def resetDerived(): Unit = {
    require(Files.exists(Paths.get(".perfbench-workspace")),
      "working directory is not a benchmark workspace")
    Ctx.deleteTree(Paths.get("target"))
    spark.catalog.clearCache()
  }

  /** Shuffled order of `names` for pass `pass`, seeded by the run. */
  def order(names: Seq[String], pass: Long): Seq[String] =
    new Random(o.seed * 1000003L + pass).shuffle(names)
}

object Ctx {
  /** Runs the frame's executed plan once; returns the order-independent
    * hash of its rows and their count. */
  def materialize(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var h = 0L
      var n = 0L
      rows.foreach { r => h += mix(proj(r).hashCode); n += 1 }
      Iterator((h, n))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** 64-bit finalizer of a row hash; rows are summed, so the result hash
    * is independent of row order and partitioning. */
  def mix(x: Int): Long = {
    var z = x.toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 31)) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 29)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  def diskMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum / 1048576.0
      finally s.close()
    }

  /** Registering module of a registry query: the package under `graft`
    * of the object whose method the function value is. */
  def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.split("\\$\\$Lambda").head.split('.') match {
      case Array("graft", m, _*) => m
      case other => other.mkString(".")
    }
}

/** A workload: a set-up step that is timed from empty derived state and
  * repeated, a warm-up, and an endless seeded sequence of operations
  * grouped in passes. */
trait Workload {
  /** Operations per pass; timed sequences always end on a pass boundary. */
  def passLen: Int
  /** Builds the program-side fixtures and derived caches the operations
    * read, from empty derived state (the caller resets it). */
  def build(rep: Int): Unit
  /** Untimed operations that warm the JVM once the first build is done;
    * records expected results the build has not. */
  def warm(): Unit = ()
  /** Runs operation `i` of the sequence; returns its latency. */
  def op(i: Long): Double
}

/** One-month late corrections beside the served reads: each cycle lands
  * a seeded month's corrected (or, when already corrected, original)
  * lineitem file and serves the monthly gold table and the monthly trend
  * view that reads it. */
final class LateCorrection(ctx: Ctx) extends Workload {
  import ctx._
  private val serve = Seq("gold_monthly", "view_monthly_trend")
  /** The served monthly table's root, as `graft.pipeline.Gold` lays it
    * out under the working directory. */
  private val gold = Paths.get("target/graft_gold_cache/v1",
    java.net.URLEncoder.encode(o.lake, "UTF-8"), "monthly").toAbsolutePath
  private val liDir = Paths.get(o.lake, "lineitem.parquet")
  private val months: IndexedSeq[String] = {
    val s = Files.list(liDir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      .toIndexedSeq.sorted
    finally s.close()
  }
  private val corrected = mutable.Set[String]()
  private val rng = new Random(o.seed)
  private var stamp = 0L
  def passLen: Int = 1

  private def land(month: String): Unit = {
    val twin = if (corrected(month)) "original" else "corrected"
    val tmp = liDir.resolve(s".$month.landing")
    Files.copy(Paths.get(o.twins, s"$month.$twin.parquet"), tmp,
      StandardCopyOption.REPLACE_EXISTING)
    // a landed file is always newer than the one it replaces
    stamp = math.max(System.currentTimeMillis(), stamp + 1000)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(stamp))
    Files.move(tmp, liDir.resolve(s"$month.parquet"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    if (corrected(month)) corrected -= month else corrected += month
  }

  def build(rep: Int): Unit = operation(s"build$rep") {
    serve.map(q => query(s"build$rep", q, registry(q), o.lake).total).sum
  }

  override def warm(): Unit =
    operation("warm.cycle")(cycle("warm.cycle", rng.nextInt(months.size)))

  def op(i: Long): Double = cycle(s"op$i", rng.nextInt(months.size))

  private def cycle(id: String, m: Int): Double = {
    val before = manifest(gold)
    val t0 = System.nanoTime()
    land(months(m))
    val t1 = System.nanoTime()
    tracer.add(id, "land", "cycle", t0, t1)
    var refresh = 0.0
    serve.foreach { q =>
      val pre = if (tracer.on) manifest(gold) else Map.empty
      val s0 = System.nanoTime()
      val t = query(id, s"serve.$q", registry(q), o.lake)
      tracer.add(id, s"serve.$q", "cycle", s0, System.nanoTime())
      if (tracer.on) {
        if (manifest(gold) == pre) sample("sources.gate_s", t.construct)
        else refresh += t.construct
      }
    }
    val t2 = System.nanoTime()
    tracer.add(id, "cycle", "", t0, t2)
    sample("sources.refresh_s", refresh)
    unmetered {
      val rebuilt = manifest(gold).count { case (p, g) => !before.get(p).contains(g) }
      sample("sources.parts_rebuilt", rebuilt)
      if (rebuilt != 1) flag(s"$id: gold_monthly rebuilt $rebuilt partitions, expected 1")
      Checks.goldTotals(ctx, id, gold)
      sample("sources.cache_mb", Ctx.diskMb(Paths.get("target/graft_gold_cache")))
    }
    (t2 - t0) / 1e9
  }
}

/** The bronze -> silver ETL: one `Trigger.AvailableNow` run of the
  * capture-tree stream into a parquet sink per operation, each with a
  * fresh checkpoint and sink. */
final class BronzeBackfill(ctx: Ctx) extends Workload {
  import ctx._
  private var root: String = _
  private var envelopes = -1L
  private var expectedSilver = -1L
  private val streams = Paths.get("streams").toAbsolutePath
  def passLen: Int = 1

  def build(rep: Int): Unit = {
    Ctx.deleteTree(streams)
    operation(s"build$rep.capture") {
      val t0 = System.nanoTime()
      root = AvroBronze.writeCapture(spark, o.lake)
      val env = AvroBronze.readCapture(spark, root)
      val (e, s) = (env.count(), SilverJson.silverFrom(spark, env).count())
      if (envelopes < 0) {
        envelopes = e
        expectedSilver = if (o.plantWrong) s + 1 else s
      } else if (e != envelopes || (s != expectedSilver && !o.plantWrong))
        flag(s"capture rep $rep: $e envelopes / $s silver rows, " +
          s"expected $envelopes / $expectedSilver")
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Three untimed backfills: a backfill's time still falls over its
    * first few runs in a JVM (1.8 s to 1.4 s on a 4-vCPU host), and the
    * timed ones should start past that fall. */
  override def warm(): Unit = (1 to 3).foreach { k =>
    operation(s"warm$k.backfill")(backfill(s"warm$k.backfill"))
  }

  def op(i: Long): Double = backfill(s"op$i")

  private def backfill(id: String): Double = {
    val dir = streams.resolve(id)
    val t0 = System.nanoTime()
    val q = SilverStream.silver(spark,
        SilverStream.captureEnvelopes(spark, root, BronzeBackfill.FilesPerTrigger))
      .writeStream.format("parquet")
      .option("path", dir.resolve("sink").toString)
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    val t1 = System.nanoTime()
    q.awaitTermination()
    val t2 = System.nanoTime()
    tracer.add(id, "start", "backfill", t0, t1)
    tracer.add(id, "backfill", "", t0, t2)
    val progress = q.recentProgress.toSeq
    unmetered {
      val rows = spark.read.parquet(dir.resolve("sink").toString).count()
      val input = progress.map(_.numInputRows).sum
      if (rows != expectedSilver)
        flag(s"$id: $rows silver rows committed, expected $expectedSilver")
      if (input != envelopes) flag(s"$id: $input envelopes read, expected $envelopes")
      if (tracer.on) {
        val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
        progress.foreach { p =>
          val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + offset
          val ms = p.durationMs.asScala.getOrElse("triggerExecution", java.lang.Long.valueOf(0L))
          tracer.add(id, s"batch.${p.batchId}", "backfill", s, s + ms.longValue * 1000000L)
        }
        def total(k: String): Double =
          progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
        sample("engine.construct_s", (t1 - t0) / 1e9)
        sample("engine.plan_s", total("queryPlanning") / 1e3)
        sample("engine.exec_s", (t2 - t1) / 1e9)
        sample("streaming.add_batch_ms", total("addBatch"))
        sample("streaming.wal_commit_ms", total("walCommit"))
        sample("streaming.commit_offsets_ms", total("commitOffsets"))
        sample("streaming.latest_offset_ms", total("latestOffset"))
        sample("streaming.query_planning_ms", total("queryPlanning"))
        sample("streaming.batches", progress.map(_.batchId).distinct.size)
        sample("streaming.rows_dropped", input - rows)
        sample("streaming.ingest_records_per_s", rows / ((t2 - t0) / 1e9))
      }
      Ctx.deleteTree(dir)
    }
    (t2 - t0) / 1e9
  }
}

object BronzeBackfill {
  /** Four of the capture tree's twelve monthly files per micro-batch:
    * three batches per backfill, so the per-batch bookkeeping is measured. */
  val FilesPerTrigger = 4
}

/** A fixed list of registry queries in seeded, shuffled passes, with the
  * cache cleared between passes as `graft.Bench` does. */
final class RegistryMix(ctx: Ctx) extends Workload {
  import ctx._
  private val names = o.queries
  private val expected = mutable.Map[String, (Long, Long)]()
  private val servedGold = Set("gold_carrier", "gold_monthly", "gold_causes")
  names.filterNot(registry.contains).foreach(n =>
    throw new IllegalArgumentException(s"registry has no query $n"))
  def passLen: Int = names.size

  /** The queries build their own caches on first use, so the build is one
    * pass; it also records (first build) or checks the expected results. */
  def build(rep: Int): Unit = {
    names.foreach { n =>
      operation(s"build$rep.$n") {
        val t = query(s"build$rep.$n", "", registry(n), o.lake)
        Checks.expectHash(ctx, expected, n, t.hash, plant = n == names.head)
        t.total
      }
    }
  }

  def op(i: Long): Double = {
    if (i % passLen == 0) spark.catalog.clearCache()
    val n = order(names, i / passLen)((i % passLen).toInt)
    val id = s"op$i"
    val t0 = System.nanoTime()
    val t = query(id, "op", registry(n), o.lake)
    tracer.add(id, "op", "", t0, System.nanoTime())
    Checks.expectHash(ctx, expected, n, t.hash, plant = false)
    sample(s"registry.${Ctx.moduleOf(registry(n))}.p50_s", t.total)
    // the gold tier is fresh here, so a served call's construct is the gate
    if (servedGold(n)) sample("sources.gate_s", t.construct)
    t.total
  }
}

object Checks {
  /** The first result of a query is its expected result (optionally
    * planted wrong, to prove the check fires); later results must match. */
  def expectHash(ctx: Ctx, expected: mutable.Map[String, (Long, Long)],
      name: String, h: (Long, Long), plant: Boolean): Unit =
    expected.get(name) match {
      case None =>
        expected(name) = if (plant && ctx.o.plantWrong) (h._1 + 1, h._2) else h
      case Some(e) if e != h =>
        ctx.flag(s"$name: result hash $h differs from expected $e")
      case _ => ()
    }

  /** The served monthly gold table's totals equal the same totals
    * computed by the unserved path straight from the lake. Sums run in
    * decimal, so the comparison is exact. */
  def goldTotals(ctx: Ctx, id: String, gold: Path): Unit = {
    import ctx.{spark, o}
    val cols = Seq("total_flights", "total_del15", "total_cancelled",
      "total_diverted", "total_delay")
    def dsum(c: String) = sum(col(c).cast("decimal(38,5)")).cast("double").as(c)
    val kpi = Views.overallKpis(spark, o.lake)
      .withColumnRenamed("total_delay_minutes", "total_delay").head()
    val served = Incremental.read(spark, gold.toString)
      .agg(dsum(cols.head), cols.tail.map(dsum): _*).head()
    cols.foreach { c =>
      val want = kpi.getAs[Double](c) +
        (if (o.plantWrong && c == cols.head) 1.0 else 0.0)
      if (served.getAs[Double](c) != want)
        ctx.flag(s"$id: gold_monthly $c = ${served.getAs[Double](c)}, lake says $want")
    }
  }
}

/** CPU time of the whole host from the first line of /proc/stat, in
  * jiffies: time its CPUs ran (user, nice, system, irq, softirq) and time
  * they were ready to run while the hypervisor ran another guest (steal).
  * On a shared virtual machine steal comes in episodes that slow every
  * timing of a run alike (a quarter of the host's CPU time for minutes),
  * so each timing is scaled by the share of the CPU time wanted during it
  * that the host gave: a run without steal keeps its wall times. */
object HostCpu {
  def read(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Share of the wanted CPU time the host gave between two readings;
    * 1 without steal or without /proc/stat. */
  def given(a: (Long, Long), b: (Long, Long)): Double = {
    val (ran, stolen) = (b._1 - a._1, b._2 - a._2)
    if (ran + stolen <= 0) 1.0 else ran.toDouble / (ran + stolen)
  }
}

object Main {
  /** From-empty set-ups per run; setup_s takes their median. */
  val SetupReps = 3

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Driver heap in use after clearing Spark's cache and full GCs. Spark's
    * context cleaner frees broadcast and shuffle state asynchronously once
    * a GC finds it unreachable, so GCs repeat until the figure settles. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var settled = false
    var i = 0
    while (!settled && i < 10) {
      Thread.sleep(100)
      val now = used()
      settled = math.abs(now - last) < (1L << 20)
      last = now
      i += 1
    }
    last / 1048576.0
  }

  /** The program's own session configuration, as `graft.Bench` builds it
    * (perfbench/run.py refuses to build when the two differ). */
  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.join.preferSortMergeJoin", "false")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def workload(ctx: Ctx): Workload = ctx.o.workload match {
    case "late_correction" => new LateCorrection(ctx)
    case "bronze_backfill" => new BronzeBackfill(ctx)
    case "registry_mix" => new RegistryMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val o = Opts(
      workload = a("workload"), lake = a("lake"), twins = a.getOrElse("twins", ""),
      seed = a("seed").toLong, seconds = a("seconds").toDouble,
      trace = a("trace") == "1", cpus = a("cpus").toInt,
      tracedPasses = a("traced-passes").toInt,
      queries = a.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq,
      plantWrong = a.getOrElse("plant-wrong", "0") == "1",
      out = a("out"), spansOut = a("spans-out"))
    val cpu0 = HostCpu.read()
    val spark = session(o.cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    Det.silenceBenignWindowWarning()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 *
      HostCpu.given(cpu0, HostCpu.read())
    val ctx = new Ctx(spark, o)
    val w = workload(ctx)
    def secs(body: => Unit): Double = {
      val (c0, t0) = (HostCpu.read(), System.nanoTime())
      body
      (System.nanoTime() - t0) / 1e9 * HostCpu.given(c0, HostCpu.read())
    }
    var next = 0L
    /** The closed loop: each operation starts when the previous ended.
      * Runs `passes` whole passes, or whole passes until `seconds`. */
    def sequence(seconds: Double, passes: Int): Seq[Double] = {
      val lat = mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      val first = next
      def more = if (passes > 0) next - first < passes.toLong * w.passLen
        else (System.nanoTime() - t0) / 1e9 < seconds || next % w.passLen != 0
      while (more) {
        val i = next
        next += 1
        ctx.operation(s"op$i")(w.op(i)).foreach(lat += _)
      }
      lat.toSeq
    }

    def setup(rep: Int): Double = secs { ctx.resetDerived(); w.build(rep) }
    val setupReps = (1 to SetupReps).map(setup)
    w.warm()
    val firstTimed = ctx.given.size
    val untraced = sequence(o.seconds, 0)
    val heap = retainedHeapMb(spark)
    val result = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS, "setup_rep_s" -> setupReps,
      "op_s" -> untraced, "op_given" -> ctx.given.drop(firstTimed).toSeq,
      "heap_mb" -> heap)

    if (o.trace) {
      // untraced reference and traced set-ups and passes alternate, so
      // warm-up drift does not land on one side of the tracing overhead
      val meter = new Meter
      val sc = spark.sparkContext
      val refRep = setup(SetupReps + 1)
      sc.addSparkListener(meter)
      val rep = setup(SetupReps + 2)
      meter.settle()
      sc.removeSparkListener(meter)
      val origin = System.nanoTime()
      val reference, traced = mutable.ArrayBuffer[Double]()
      val tracedOps = mutable.ArrayBuffer[String]()
      var gc = 0.0
      (1 to o.tracedPasses).foreach { _ =>
        reference ++= sequence(0, 1)
        sc.addSparkListener(meter)
        ctx.tracer.on = true
        val (gc0, first) = (gcSeconds(), next)
        traced ++= sequence(0, 1)
        gc += gcSeconds() - gc0
        tracedOps ++= (first until next).map(i => s"op$i")
        ctx.tracer.on = false
        meter.settle()
        sc.removeSparkListener(meter)
      }
      val counters = meter.snapshot()
      val ops = tracedOps.flatMap(counters.get)
      val n = math.max(1, traced.size).toDouble
      def per(f: OpCounters => Long): Double = ops.map(f).sum / n
      val engine = Map[String, Double](
        "engine.jobs_per_op" -> per(_.jobs),
        "engine.stages_per_op" -> per(_.stages),
        "engine.tasks_per_op" -> per(_.tasks),
        "engine.task_busy_frac" ->
          ops.map(_.runMs).sum / 1e3 / math.max(1e-9, traced.sum * o.cpus),
        "engine.scan_mb" -> per(_.scanBytes) / 1048576.0,
        "engine.shuffle_mb" -> per(_.shuffleBytes) / 1048576.0,
        "engine.spill_mb" -> per(_.spillBytes) / 1048576.0,
        "engine.gc_s" -> gc / n)
      val layers = ctx.layer.map { case (k, v) => k -> v.toSeq }.toMap ++
        engine.map { case (k, v) => k -> Seq(v) }
      result ++= Seq(
        "reference_setup_rep_s" -> refRep, "traced_setup_rep_s" -> rep,
        "reference_op_s" -> reference.toSeq, "traced_op_s" -> traced.toSeq,
        "traced_heap_mb" -> retainedHeapMb(spark), "layers" -> layers)
      Files.write(Paths.get(o.spansOut),
        ctx.tracer.lines(origin).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    result ++= Seq("attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "errors" -> ctx.errors.toSeq)
    Files.write(Paths.get(o.out), Json.obj(result.toSeq).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Training run of the build's class-data-sharing archive: one set-up and
  * one operation of each workload on a small lake, in one JVM, so the
  * archive holds the classes benchmark runs load.
  * Usage: `Train <lake> <twins> <cpus> <registry queries, comma-separated>`. */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(lake, twins, cpus, queries) = args
    val spark = Main.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Seq("late_correction", "bronze_backfill", "registry_mix").foreach { name =>
      val ctx = new Ctx(spark, Opts(name, lake, twins, 1L, 0.0, false,
        cpus.toInt, 1, queries.split(",").toSeq, false, "", ""))
      val w = Main.workload(ctx)
      ctx.resetDerived()
      w.build(1)
      w.warm()
      ctx.operation("op0")(w.op(0))
    }
    spark.stop()
  }
}
