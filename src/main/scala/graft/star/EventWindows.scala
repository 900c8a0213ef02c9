package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.Det.{sqlSum, sqlOrderBy}

/** Event-time windowing beyond tumbling (SURVEY.md §2.9 T5 extension
  * tier): gap-based sessionization via Spark's native `session_window`
  * and sliding windows via `window(ts, len, slide)` — each checked
  * against an independent DuckDB formulation (lag+cumsum for sessions,
  * window-enumeration for sliding), so the built-in operators' semantics
  * are verified, not assumed.
  *
  * Scale posture: both group by (user/window) after a single shuffle;
  * session_window in batch mode sorts within user partitions — state
  * never exceeds a user's events in a task. The sliding window fan-out
  * is exactly len/slide rows per event (2x here), expanded *before*
  * partial aggregation so the shuffle carries window aggregates.
  */
object EventWindows extends graft.QueryModule {

  /** 30-minute-gap sessions per user: native session_window. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        Det.xsum($"value").as("total_value"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start")
  }

  /** Oracle: the classic lag+cumsum sessionization. Spark's
    * session_window end = last event + gap. */
  val sessionizeSql: String =
    s"""WITH g AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
       |              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
       |  FROM events
       |),
       |s AS (
       |  SELECT user_id, ts, value,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM g
       |)
       |SELECT user_id,
       |  MIN(ts) AS session_start,
       |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       |  COUNT(*) AS n_events,
       |  ${sqlSum("value")} AS total_value
       |FROM s GROUP BY user_id, session_id${sqlOrderBy(Seq("user_id", "session_start"))}""".stripMargin

  /** Sliding 10-minute windows every 5 minutes, per event type. */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        Det.xsum($"value").as("total_value"))
      .select($"w.start".as("window_start"), $"event_type",
        $"n_events", $"total_value")
      .orderBy($"window_start", $"event_type")
  }

  /** Oracle: enumerate the two 5-min-aligned windows containing each
    * event ([trunc5(ts) - i*5min, +10min) for i in 0..1). */
  val slidingSql: String =
    s"""WITH e AS (
       |  SELECT event_type, value,
       |    time_bucket(INTERVAL 5 MINUTE, ts) - i * INTERVAL 5 MINUTE AS window_start
       |  FROM events, (SELECT unnest(range(2)) AS i)
       |)
       |SELECT window_start, event_type,
       |  COUNT(*) AS n_events,
       |  ${sqlSum("value")} AS total_value
       |FROM e GROUP BY window_start, event_type${sqlOrderBy(Seq("window_start", "event_type"))}""".stripMargin

  /** Ordered conversion funnel view → click → purchase: a user counts
    * for a stage only if the event happened STRICTLY AFTER the previous
    * stage's first qualifying event (a click before any view is not a
    * conversion). The windowless-join formulation: running "seen
    * previous stage" flags over a strictly-before frame, so the whole
    * funnel is ONE shuffle on user_id + one in-partition sort (chained
    * window + aggregate reuse the same partitioning) — no self-joins,
    * no per-user event list in memory, state bounded by a frame flag.
    * That is the sequence-analytics shape that survives 100 TB of
    * events; a join-per-stage formulation shuffles once per stage. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // strictly-before frame; event_id tiebreak makes the order total
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = Tables(spark, dir, "events")
      .withColumn("is_view", ($"event_type" === "view").cast("int"))
      .withColumn("seen_view", coalesce(max($"is_view").over(w), lit(0)))
      .withColumn("click_ok",
        (($"event_type" === "click") && $"seen_view" === 1).cast("int"))
      .withColumn("seen_click", coalesce(max($"click_ok").over(w), lit(0)))
      .withColumn("purchase_ok",
        (($"event_type" === "purchase") && $"seen_click" === 1).cast("int"))
    staged.groupBy($"user_id")
      .agg(max($"is_view").as("v"), max($"click_ok").as("c"),
        max($"purchase_ok").as("p"))
      .agg(
        count(lit(1)).as("n_users"),
        sum($"v").as("n_view"),
        sum($"c").as("n_click_after_view"),
        sum($"p").as("n_purchase_after_click"),
        (sum($"c") / nullif(sum($"v"), lit(0)).cast("double"))
          .as("view_to_click"),
        (sum($"p") / nullif(sum($"c"), lit(0)).cast("double"))
          .as("click_to_purchase"))
  }

  val funnelSql: String =
    s"""WITH e AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view
       |  FROM events
       |),
       |s1 AS (
       |  SELECT *, COALESCE(MAX(is_view) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seen_view
       |  FROM e
       |),
       |s2 AS (
       |  SELECT *, CASE WHEN event_type = 'click' AND seen_view = 1
       |    THEN 1 ELSE 0 END AS click_ok
       |  FROM s1
       |),
       |s3 AS (
       |  SELECT *, COALESCE(MAX(click_ok) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seen_click
       |  FROM s2
       |),
       |s4 AS (
       |  SELECT *, CASE WHEN event_type = 'purchase' AND seen_click = 1
       |    THEN 1 ELSE 0 END AS purchase_ok
       |  FROM s3
       |),
       |u AS (
       |  SELECT user_id, MAX(is_view) AS v, MAX(click_ok) AS c,
       |    MAX(purchase_ok) AS p
       |  FROM s4 GROUP BY user_id
       |)
       |SELECT COUNT(*) AS n_users,
       |  CAST(SUM(v) AS BIGINT) AS n_view,
       |  CAST(SUM(c) AS BIGINT) AS n_click_after_view,
       |  CAST(SUM(p) AS BIGINT) AS n_purchase_after_click,
       |  SUM(c) / CAST(NULLIF(SUM(v), 0) AS DOUBLE) AS view_to_click,
       |  SUM(p) / CAST(NULLIF(SUM(c), 0) AS DOUBLE) AS click_to_purchase
       |FROM u""".stripMargin

  /** Typed `cogroup` (the Dataset-API escape hatch for "merge two keyed
    * groups with arbitrary logic"): per user, click and purchase
    * histories meet in one function — here computing attribution
    * counts, the kind of per-key merge (custom sessionizers, interval
    * stitching, rule engines) that has no single relational operator.
    * The relational twin IS the oracle: three aggregates + left joins
    * produce the same table, proving the escape hatch wasn't needed
    * for THIS logic — the point is the API surface, exercised and
    * checked. Scale: cogroup = one co-partitioned shuffle of each side
    * on user_id; per-user state is that user's events only. */
  def cogroupAttrib(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.time.LocalDateTime
    val ev = Tables(spark, dir, "events")
    def side(t: String) = ev.filter($"event_type" === t)
      .select($"user_id", $"ts").as[(Long, LocalDateTime)]
    val out = side("click").groupByKey(_._1)
      .cogroup(side("purchase").groupByKey(_._1)) { (uid, cs, ps) =>
        val clicks = cs.map(_._2).toArray
        val purchases = ps.map(_._2).toArray
        val after =
          if (clicks.isEmpty) 0
          else {
            val fc = clicks.min(Ordering.fromLessThan[LocalDateTime](_ isBefore _))
            purchases.count(p => !p.isBefore(fc))
          }
        Iterator((uid, clicks.length, purchases.length, after))
      }
      .toDF("user_id", "n_clicks", "n_purchases", "n_after_first_click")
    out.orderBy($"user_id")
  }

  val cogroupAttribSql: String =
    s"""WITH c AS (
       |  SELECT user_id, CAST(COUNT(*) AS INTEGER) AS nc, MIN(ts) AS fc
       |  FROM events WHERE event_type = 'click' GROUP BY 1
       |),
       |p AS (
       |  SELECT user_id, CAST(COUNT(*) AS INTEGER) AS np
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1
       |),
       |a AS (
       |  SELECT e.user_id, CAST(COUNT(*) AS INTEGER) AS na
       |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.fc
       |  WHERE e.event_type = 'purchase' GROUP BY 1
       |),
       |u AS (
       |  SELECT DISTINCT user_id FROM events
       |  WHERE event_type IN ('click', 'purchase')
       |)
       |SELECT u.user_id,
       |  COALESCE(nc, 0) AS n_clicks,
       |  COALESCE(np, 0) AS n_purchases,
       |  COALESCE(na, 0) AS n_after_first_click
       |FROM u LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
       |  LEFT JOIN a USING (user_id)
       |${sqlOrderBy(Seq("u.user_id")).trim}""".stripMargin

  /** Per-user event-cadence profile — the behavioral bot signal: a
    * human's inter-event gaps are irregular, a scripted client's are
    * clockwork (stddev ≈ 0). Gaps are EXACT microsecond integers
    * (epoch-µs differences), so mean/stddev use the same exact-moment
    * form as agg_stats_moments — sums are exact BIGINTs (µs gaps ~1e9,
    * squares ~1e18 / 1e6-scaled to stay in range), and the flag is an
    * integer-threshold comparison. One user_id shuffle for the lag
    * window, then a per-user aggregate — same partitioning reused. */
  def cadenceProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gaps = Tables(spark, dir, "events")
      .select($"user_id", $"event_id", $"ts",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("gap_s",
        (($"us" - lag($"us", 1).over(w)) / 1000000L).cast("bigint"))
      .filter($"gap_s".isNotNull)
    gaps.groupBy($"user_id")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum($"gap_s").as("sg"),
        sum($"gap_s" * $"gap_s").as("sgg"))
      .filter($"n" >= 5)
      .select($"user_id",
        $"n".cast("long").as("n_gaps"),
        ($"sg".cast("double") / $"n").as("mean_gap_s"),
        sqrt(($"sgg".cast("double") -
          $"sg".cast("double") * $"sg".cast("double") / $"n") / ($"n" - 1))
          .as("stddev_gap_s"))
      .orderBy($"user_id")
  }

  val cadenceProfileSql: String =
    s"""WITH g AS (
       |  SELECT user_id,
       |    CAST((epoch_us(ts) - lag(epoch_us(ts)) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
       |      AS BIGINT) AS gap_s
       |  FROM events
       |),
       |a AS (
       |  SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(gap_s) AS BIGINT) AS sg,
       |    CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
       |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1
       |)
       |SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
       |  CAST(sg AS DOUBLE) / n AS mean_gap_s,
       |  sqrt((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / n)
       |    / (n - 1)) AS stddev_gap_s
       |FROM a WHERE n >= 5${sqlOrderBy(Seq("user_id"))}""".stripMargin

  /** Typed secondary sort (`flatMapSortedGroups`, Spark 3.4+): longest
    * strictly-increasing run of event values per user in time order.
    * The shuffle itself delivers each group's iterator ALREADY sorted
    * by (ts, value) — the classic MapReduce secondary-sort contract —
    * so the per-group logic is a one-pass O(1)-memory fold, unlike
    * [[cogroupAttrib]]'s toArray (bounded there by a per-user cap, not
    * bounded here: a power user's history can exceed memory as an
    * array but never as a sorted stream). The run-length fold needs
    * strict ordering, which is exactly what groupByKey + mapGroups
    * CANNOT guarantee without this operator.
    *
    * Scale posture: one co-partitioned shuffle with in-shuffle sort (the
    * sort-merge-join machinery, not a per-group array sort); state is
    * three scalars per group. The relational twin (oracle) is the
    * gaps-and-islands window form — same answer, proven. */
  def longestRun(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.time.LocalDateTime
    val ev = Tables(spark, dir, "events")
      .select($"user_id", $"ts", $"value")
      .as[(Long, LocalDateTime, Double)]
    ev.groupByKey(_._1)
      .flatMapSortedGroups(col("ts"), col("value")) { (uid, it) =>
        var best = 0; var cur = 0; var prev = Double.NaN
        for ((_, _, v) <- it) {
          cur = if (prev.isNaN || v > prev) cur + 1 else 1
          if (cur > best) best = cur
          prev = v
        }
        Iterator((uid, best))
      }
      .toDF("user_id", "longest_run")
      .orderBy($"user_id")
  }

  val longestRunSql: String =
    s"""WITH s AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN value > lag(value)
       |      OVER (PARTITION BY user_id ORDER BY ts, value)
       |      THEN 0 ELSE 1 END AS brk
       |  FROM events
       |),
       |g AS (
       |  SELECT user_id,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, value
       |      ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM s
       |),
       |runs AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2)
       |SELECT user_id, CAST(MAX(len) AS INTEGER) AS longest_run
       |FROM runs GROUP BY user_id${sqlOrderBy(Seq("user_id"))}""".stripMargin

  /** Click→purchase conversion latency distribution — the funnel-speed
    * metric built by COMPOSING two registered operators: the forward
    * as-of join ([[Joins.asofForward]]) attributes each click to its
    * next purchase, latencies land as exact microsecond integers, and
    * the discrete-percentile formulation ([[Aggs.percentileDisc]])
    * reads p50/p90 off the cumulative counts — every intermediate an
    * actual data value, no interpolation. One final /1e6 per output is
    * the only floating-point step.
    *
    * Scale posture: the as-of shuffle dominates; the percentile runs
    * over value-level counts of |converted clicks| rows. */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Joins.asofForward(spark, dir)
    val nClicks = pairs.agg(count(lit(1)).as("n_clicks"))
    val conv = pairs.filter($"next_ts".isNotNull)
      .select((unix_micros($"next_ts".cast("timestamp")) -
        unix_micros($"ts".cast("timestamp"))).as("lat_us"))
    val wCum = Window.orderBy($"lat_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    conv.groupBy($"lat_us").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("tot", sum($"c").over(wAll))
      .agg(
        max($"tot").as("n_converted"),
        (min(when($"cum" >= ceil($"tot" * 0.5), $"lat_us"))
          .cast("double") / 1e6).as("p50_s"),
        (min(when($"cum" >= ceil($"tot" * 0.9), $"lat_us"))
          .cast("double") / 1e6).as("p90_s"))
      .crossJoin(broadcast(nClicks))
      .select($"n_clicks", $"n_converted", $"p50_s", $"p90_s")
  }

  val conversionLatencySql: String =
    s"""WITH pairs AS (
       |  SELECT c.ts, p.ts AS next_ts
       |  FROM (SELECT * FROM events WHERE event_type = 'click') c
       |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
       |    ON c.user_id = p.user_id AND c.ts <= p.ts
       |),
       |lat AS (
       |  SELECT epoch_us(next_ts) - epoch_us(ts) AS lat_us
       |  FROM pairs WHERE next_ts IS NOT NULL
       |),
       |counts AS (SELECT lat_us, COUNT(*) AS c FROM lat GROUP BY 1),
       |r AS (
       |  SELECT lat_us,
       |    SUM(c) OVER (ORDER BY lat_us) AS cum,
       |    SUM(c) OVER () AS n
       |  FROM counts
       |)
       |SELECT (SELECT COUNT(*) FROM pairs) AS n_clicks,
       |  CAST(MAX(cum) AS BIGINT) AS n_converted,
       |  CAST(MIN(CASE WHEN cum >= ceil(n * 0.5) THEN lat_us END) AS DOUBLE)
       |    / 1e6 AS p50_s,
       |  CAST(MIN(CASE WHEN cum >= ceil(n * 0.9) THEN lat_us END) AS DOUBLE)
       |    / 1e6 AS p90_s
       |FROM r""".stripMargin

  /** Interval-island coverage — the gaps-and-islands MERGE: each event
    * opens a 60-second activity window; overlapping (or touching)
    * windows per user coalesce into maximal islands, and the per-user
    * answer is how many islands and how much wall-clock they cover.
    * This is the time-coverage dedup every usage-metering and
    * session-audit layer needs, and it is NOT expressible as a plain
    * aggregate: island boundaries depend on the running maximum of
    * prior interval ends (an event wholly inside an earlier long
    * window must not split the island), so the chain is running-max →
    * boundary flag → running-sum island id → two-level aggregate.
    * All arithmetic is exact epoch microseconds; the only division is
    * the final /1e6 per output row.
    *
    * Scale posture: one user-keyed shuffle; the three windows and both
    * aggregates reuse that single partitioning (per-user in-partition
    * sort, no second exchange until the tiny final agg). */
  def coverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = Tables(spark, dir, "events")
      .select($"user_id",
        unix_micros($"ts".cast("timestamp")).as("s"))
      .withColumn("e", $"s" + lit(60000000L))
    val w = Window.partitionBy($"user_id").orderBy($"s", $"e")
    val flagged = iv
      .withColumn("prev_max_e",
        max($"e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when($"prev_max_e".isNull || $"s" > $"prev_max_e", 1L).otherwise(0L))
      .withColumn("island",
        sum($"new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("n_ev"), min($"s").as("is"), max($"e").as("ie"))
      .groupBy($"user_id")
      .agg(sum($"n_ev").as("n_events"),
        count(lit(1)).as("n_islands"),
        (sum($"ie" - $"is").cast("double") / 1e6).as("covered_s"))
      .orderBy($"user_id")
  }

  val coverageSql: String =
    s"""WITH iv AS (
       |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 60000000 AS e
       |  FROM events
       |),
       |flagged AS (
       |  SELECT user_id, s, e,
       |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
       |  FROM iv
       |),
       |islands AS (
       |  SELECT user_id, s, e,
       |    SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM flagged
       |),
       |per_island AS (
       |  SELECT user_id, island, COUNT(*) AS n_ev,
       |    MIN(s) AS i_s, MAX(e) AS i_e
       |  FROM islands GROUP BY 1, 2
       |)
       |SELECT user_id,
       |  CAST(SUM(n_ev) AS BIGINT) AS n_events,
       |  COUNT(*) AS n_islands,
       |  CAST(CAST(SUM(i_e - i_s) AS BIGINT) AS DOUBLE) / 1e6 AS covered_s
       |FROM per_island GROUP BY user_id${sqlOrderBy(Seq("user_id"))}""".stripMargin

  /** M4 time-series downsampling (Jugel et al., "M4: A
    * Visualization-Oriented Time Series Data Aggregation", VLDB 2014):
    * per fixed time bucket emit the FIRST, LAST, MIN and MAX points —
    * the four values that make a line chart rendered from the reduced
    * series pixel-identical to one rendered from the full series. The
    * canonical dashboard-serving reducer: |buckets|×4 rows out
    * regardless of input volume. First/last are argmin/argmax by
    * event time with the unique event_id as tiebreaker (row_number
    * over (us, event_id) — deterministic under timestamp ties, where
    * bare min_by/arg_min in either engine is not); min/max of value
    * are plain extremes. Bucketing is exact integer microsecond
    * arithmetic on 6-hour windows.
    *
    * Scale posture: one bucket-keyed shuffle; the two rank windows
    * and the aggregate reuse it (millions of small per-bucket
    * windows, never a global sort). */
  def m4Downsample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val width = 6L * 3600 * 1000000 // 6h in µs
    val pts = Tables(spark, dir, "events")
      .select($"event_id", $"value",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("bucket", floor($"us" / lit(width)) * lit(width))
    val wAsc = Window.partitionBy($"bucket").orderBy($"us", $"event_id")
    val wDesc = Window.partitionBy($"bucket")
      .orderBy($"us".desc, $"event_id".desc)
    pts
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_points"),
        max(when($"rn_a" === 1, $"value")).as("first_value"),
        max(when($"rn_d" === 1, $"value")).as("last_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
      .orderBy($"bucket")
  }

  val m4DownsampleSql: String =
    s"""WITH pts AS (
       |  SELECT event_id, value, epoch_us(ts) AS us,
       |    (epoch_us(ts) // 21600000000) * 21600000000 AS bucket
       |  FROM events
       |),
       |ranked AS (
       |  SELECT bucket, value,
       |    row_number() OVER (PARTITION BY bucket
       |      ORDER BY us, event_id) AS rn_a,
       |    row_number() OVER (PARTITION BY bucket
       |      ORDER BY us DESC, event_id DESC) AS rn_d
       |  FROM pts
       |)
       |SELECT bucket, COUNT(*) AS n_points,
       |  MAX(CASE WHEN rn_a = 1 THEN value END) AS first_value,
       |  MAX(CASE WHEN rn_d = 1 THEN value END) AS last_value,
       |  MIN(value) AS min_value,
       |  MAX(value) AS max_value
       |FROM ranked GROUP BY bucket${sqlOrderBy(Seq("bucket"))}""".stripMargin

  /** events_hazard_table: discrete-time life table + Nelson–Aalen
    * cumulative hazard (Nelson 1972; Aalen 1978) for time-to-first-
    * purchase — the events-table survival companion to
    * `orders_kaplan_meier`: where KM integrates survival, the hazard
    * table answers the per-day question growth teams actually ask
    * ("WHEN do users convert — day 0, day 7, never?") with the
    * censoring done right: a user who never purchases is at risk only
    * until their last observed activity, not forever. Clock starts at
    * each user's first event; event = first purchase; censoring = last
    * activity. Per day t: at-risk count n_t (users whose event or
    * censoring time ≥ t), events d_t, censored c_t, hazard d_t/n_t,
    * and the Nelson–Aalen cumulative hazard Σ_{s≤t} d_s/n_s.
    *
    * Exactness: all counts are exact BIGINTs (the at-risk series is
    * total − exclusive cumulative, integer arithmetic); each hazard is
    * ONE division, and the Nelson–Aalen sum is an ORDERED window sum
    * of those doubles — both engines add the same IEEE terms in the
    * same ascending-t order, so the float accumulation is
    * deterministic (the estimator IS a sum of rationals, which is why
    * NA is the hash-gateable choice where a float product would not
    * be; KM's product lives on the integer-scaled fold next door).
    *
    * Scale posture: one user-keyed rollup (map-side combined), then a
    * |days|-bounded grid and bounded windows — the calendar, not the
    * corpus, sizes everything after the first aggregate. */
  def hazardTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(min($"ts").as("first_ts"),
        min(when($"event_type" === "purchase", $"ts")).as("purch_ts"),
        max($"ts").as("last_ts"))
      .select(
        when($"purch_ts".isNotNull, lit(1)).otherwise(lit(0))
          .as("is_event"),
        when($"purch_ts".isNotNull,
          datediff(to_date($"purch_ts"), to_date($"first_ts")))
          .otherwise(datediff(to_date($"last_ts"), to_date($"first_ts")))
          .cast("int").as("t"))
    val nTot = perUser.agg(count(lit(1)).as("n_total"))
    val grid = perUser.groupBy($"t")
      .agg(count_if($"is_event" === 1).as("n_events"),
        count_if($"is_event" === 0).as("n_censored"))
    val prior = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.crossJoin(broadcast(nTot))
      .withColumn("n_at_risk", ($"n_total" -
        coalesce(sum($"n_events" + $"n_censored").over(prior), lit(0L)))
        .cast("long"))
      .withColumn("hazard",
        $"n_events".cast("double") / $"n_at_risk".cast("double"))
      .withColumn("cum_hazard", sum($"hazard").over(upto))
      .select($"t", $"n_at_risk", $"n_events", $"n_censored",
        $"hazard", $"cum_hazard")
      .orderBy($"t")
  }

  val hazardTableSql: String =
    s"""WITH hzu AS (
       |  SELECT user_id, MIN(ts) AS first_ts,
       |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
       |    MAX(ts) AS last_ts
       |  FROM events GROUP BY user_id
       |),
       |hze AS (
       |  SELECT CASE WHEN purch_ts IS NOT NULL THEN 1 ELSE 0 END
       |      AS is_event,
       |    CAST(CASE WHEN purch_ts IS NOT NULL
       |      THEN datediff('day', CAST(first_ts AS DATE),
       |        CAST(purch_ts AS DATE))
       |      ELSE datediff('day', CAST(first_ts AS DATE),
       |        CAST(last_ts AS DATE)) END AS INTEGER) AS t
       |  FROM hzu
       |),
       |hzn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM hze),
       |hzg AS (
       |  SELECT t, CAST(count_if(is_event = 1) AS BIGINT) AS n_events,
       |    CAST(count_if(is_event = 0) AS BIGINT) AS n_censored
       |  FROM hze GROUP BY t
       |),
       |hzr AS (
       |  SELECT t, n_events, n_censored,
       |    (SELECT n_total FROM hzn)
       |      - COALESCE(CAST(SUM(n_events + n_censored) OVER (
       |          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
       |          AND 1 PRECEDING) AS BIGINT), 0) AS n_at_risk
       |  FROM hzg
       |),
       |hzh AS (
       |  SELECT t, n_at_risk, n_events, n_censored,
       |    CAST(n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS hazard
       |  FROM hzr
       |)
       |SELECT t, n_at_risk, n_events, n_censored, hazard,
       |  SUM(hazard) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW) AS cum_hazard
       |FROM hzh
       |${sqlOrderBy(Seq("t")).trim}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_hazard_table" -> hazardTable,
    "events_m4_downsample" -> m4Downsample,
    "events_coverage" -> coverage,
    "events_conversion_latency" -> conversionLatency,
    "events_longest_run" -> longestRun,
    "events_cadence_profile" -> cadenceProfile,
    "events_cogroup_attrib" -> cogroupAttrib,
    "events_sessionize" -> sessionize,
    "events_sliding" -> sliding,
    "events_funnel" -> funnel)

  val oracles: Map[String, String] = Map(
    "events_hazard_table" -> hazardTableSql,
    "events_m4_downsample" -> m4DownsampleSql,
    "events_coverage" -> coverageSql,
    "events_conversion_latency" -> conversionLatencySql,
    "events_longest_run" -> longestRunSql,
    "events_cadence_profile" -> cadenceProfileSql,
    "events_cogroup_attrib" -> cogroupAttribSql,
    "events_sessionize" -> sessionizeSql,
    "events_sliding" -> slidingSql,
    "events_funnel" -> funnelSql)
}
