package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Marketing/touchpoint attribution tier (`[EXT]`) over the `events`
  * stream — which channels get credit for conversions. Completes the
  * journey family ([[Warehouse]]'s `events_path_markov` transition
  * model, `events_funnel`, `events_cogroup_attrib`) with the two
  * standard answer classes: heuristic position credit
  * ([[creditAttribution]]) and the game-theoretic Shapley value
  * ([[shapleyAttribution]], Shapley 1953; data-driven formulation as
  * in Zhao, Mahboobi, Bagheri 2018 and the GA/Ads attribution
  * literature).
  *
  * Conversion contract shared by both operators: a *user* converts if
  * they have ≥1 `purchase` event; their journey/coalition is their
  * `purchase`-excluded event-type history. House numeric discipline:
  * all credit is exact integer arithmetic (counts, ppm integer
  * divisions, factorial-weighted BIGINT Shapley numerators); each
  * output double is one terminal division of exactly-agreed integers.
  */
object Attribution extends graft.QueryModule {

  /** events_shapley_attrib: exact Shapley-value channel attribution.
    * Channels are the non-purchase event types (bit = alphabetic
    * dense rank); each user contributes their touched-channel set as a
    * bitmask coalition; the cooperative game is the monotone
    * "reachable conversions" set function v(S) = #converted users
    * whose coalition ⊆ S (the cumulative form that makes v defined on
    * ALL 2ⁿ subsets from observed data, not just observed sets). The
    * Shapley value of channel i is the exact rational
    * φ_i = Σ_{S∌i} |S|!·(n−|S|−1)!/n! · (v(S∪i) − v(S)), carried as
    * the BIGINT numerator φ_i·n! (factorials are native exact in both
    * engines for n ≤ 20); Σφ_i = v(N) − v(∅) by the efficiency axiom,
    * which the `share` column normalizes by. φ itself is one terminal
    * division.
    *
    * Scale posture: the corpus collapses to one user-keyed rollup
    * (mask via bit_or, converted flag), then to ≤2ⁿ observed-coalition
    * counts; every structure after that — the 2ⁿ subset frame, the
    * subset⊇coalition containment join (2ⁿ·2ⁿ at worst), the marginal
    * join, the factorial weights — is bounded by the CHANNEL count,
    * not the data. n is |event types|; past n≈20 exact Shapley is
    * intractable for any engine and the standard move is permutation
    * sampling over the same per-user masks (shapes unchanged). */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .select($"user_id", $"event_type")
    val chan = ev.filter($"event_type" =!= "purchase")
      .select($"event_type".as("channel")).distinct()
      .withColumn("bit",
        (dense_rank().over(Window.orderBy($"channel")) - 1).cast("int"))
    val nchan = chan.agg(count(lit(1)).cast("int").as("n"))
    val userMask = ev.filter($"event_type" =!= "purchase")
      .join(broadcast(chan), $"event_type" === $"channel")
      .groupBy($"user_id")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("mask"))
    val conv = ev.groupBy($"user_id")
      .agg(max(($"event_type" === "purchase").cast("int")).as("converted"))
      .join(userMask, Seq("user_id"), "left")
      .na.fill(0L, Seq("mask"))
      .filter($"converted" === 1)
      .groupBy($"mask").agg(count(lit(1)).as("c"))
      .localCheckpoint() // ≤2ⁿ coalition rows; ends the corpus lineage (r15 NOTE: lazy reverted — parallel consumers)
    val subsets = nchan.select($"n",
      explode(expr("sequence(CAST(0 AS BIGINT)," +
        " shiftleft(CAST(1 AS BIGINT), n) - 1)")).as("s"))
    val vS = subsets.join(conv, (conv("mask").bitwiseAND(subsets("s")))
        === conv("mask"), "left")
      .groupBy($"s", $"n").agg(coalesce(sum($"c"), lit(0L)).as("v"))
      .localCheckpoint() // 2ⁿ rows feeding THREE consumers (r15 NOTE: lazy reverted — parallel consumers)
    val marg = chan.crossJoin(broadcast(nchan))
      .join(vS.select($"s", $"v".as("v_s")),
        expr("(s & shiftleft(CAST(1 AS BIGINT), bit)) = 0"))
      .join(vS.select($"s".as("s1"), $"v".as("v_si")),
        expr("s1 = (s | shiftleft(CAST(1 AS BIGINT), bit))"))
      .selectExpr("channel", "bit", "n",
        "factorial(bit_count(s)) * factorial(n - bit_count(s) - 1)" +
          " * (v_si - v_s) AS w_delta")
      .groupBy($"channel", $"bit", $"n")
      .agg(sum($"w_delta").as("phi_num"))
    val tot = vS.agg(
      max(when($"s" === expr("shiftleft(CAST(1 AS BIGINT), n) - 1"), $"v"))
        .as("v_full"),
      max(when($"s" === 0L, $"v")).as("v_empty"))
    marg.crossJoin(broadcast(tot))
      .selectExpr("channel", "bit", "phi_num",
        "CAST(factorial(n) AS BIGINT) AS n_fact", "v_full", "v_empty",
        "CAST(phi_num AS DOUBLE) / CAST(factorial(n) AS DOUBLE)" +
          " AS phi_conversions",
        "CAST(phi_num AS DOUBLE)" +
          " / (CAST(factorial(n) AS DOUBLE)" +
          " * CAST(v_full - v_empty AS DOUBLE)) AS share")
      .orderBy($"channel")
  }

  val shapleyAttributionSql: String =
    s"""WITH sev AS (
       |  SELECT user_id, event_type FROM events
       |),
       |schan AS (
       |  SELECT channel,
       |    CAST(dense_rank() OVER (ORDER BY channel) - 1 AS INTEGER) AS bit
       |  FROM (SELECT DISTINCT event_type AS channel FROM sev
       |        WHERE event_type <> 'purchase')
       |),
       |snch AS (SELECT CAST(COUNT(*) AS INTEGER) AS n FROM schan),
       |sumask AS (
       |  SELECT user_id,
       |    CAST(bit_or(CAST(1 AS BIGINT) << bit) AS BIGINT) AS mask
       |  FROM sev JOIN schan ON sev.event_type = schan.channel
       |  GROUP BY user_id
       |),
       |sconv AS (
       |  SELECT COALESCE(m.mask, 0) AS mask, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT user_id,
       |          MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |            AS converted
       |        FROM sev GROUP BY user_id) u
       |  LEFT JOIN sumask m ON u.user_id = m.user_id
       |  WHERE u.converted = 1
       |  GROUP BY 1
       |),
       |ssub AS (
       |  SELECT n, CAST(unnest(range(0, (CAST(1 AS BIGINT) << n)))
       |    AS BIGINT) AS s
       |  FROM snch
       |),
       |svs AS (
       |  SELECT s, n, CAST(COALESCE(SUM(c), 0) AS BIGINT) AS v
       |  FROM ssub LEFT JOIN sconv ON (sconv.mask & ssub.s) = sconv.mask
       |  GROUP BY s, n
       |),
       |smarg AS (
       |  SELECT ch.channel, ch.bit, a.n,
       |    CAST(SUM(CAST(factorial(bit_count(a.s)) AS BIGINT)
       |      * CAST(factorial(a.n - bit_count(a.s) - 1) AS BIGINT)
       |      * (b.v - a.v)) AS BIGINT) AS phi_num
       |  FROM schan ch
       |  JOIN svs a ON (a.s & (CAST(1 AS BIGINT) << ch.bit)) = 0
       |  JOIN svs b ON b.s = (a.s | (CAST(1 AS BIGINT) << ch.bit))
       |  GROUP BY ch.channel, ch.bit, a.n
       |),
       |stot AS (
       |  SELECT MAX(CASE WHEN s = (CAST(1 AS BIGINT) << n) - 1
       |      THEN v END) AS v_full,
       |    MAX(CASE WHEN s = 0 THEN v END) AS v_empty
       |  FROM svs
       |)
       |SELECT channel, bit, phi_num,
       |  CAST(factorial(n) AS BIGINT) AS n_fact, v_full, v_empty,
       |  CAST(phi_num AS DOUBLE) / CAST(factorial(n) AS DOUBLE)
       |    AS phi_conversions,
       |  CAST(phi_num AS DOUBLE) / (CAST(factorial(n) AS DOUBLE)
       |    * CAST(v_full - v_empty AS DOUBLE)) AS share
       |FROM smarg CROSS JOIN stot
       |${sqlOrderBy(Seq("channel")).trim}""".stripMargin

  /** events_attrib_credit: the four standard heuristic attribution
    * rules in one per-channel scorecard — first-touch, last-touch,
    * linear, and U-shaped (position-based 40/20/40) — the models a
    * marketing dashboard shows side by side with [[shapleyAttribution]]
    * and the Markov path model. Journeys are each converting user's
    * non-purchase events in (ts, event_id) order. Fractional credit is
    * carried in exact parts-per-million INTEGER DIVISIONS (1e6 div J —
    * both engines floor identically), so per-channel sums are exact
    * BIGINT and the per-user remainder loss (< J ppm) is a stated
    * convention rather than float drift. U-shape: J=1 → 1e6 to the
    * only touch; J=2 → 500 000 each (the 40/40 pair renormalized);
    * J≥3 → 400 000 first, 400 000 last, 200 000 div (J−2) per middle
    * touch.
    *
    * Scale posture: one user-partitioned rank window over converting
    * users' events (the journey key IS the experiment key — a single
    * hash partitioning serves window + rollup), then a
    * |channels|-row aggregate. */
  def creditAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val convUsers = ev.filter($"event_type" === "purchase")
      .select($"user_id").distinct()
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val journeys = ev.filter($"event_type" =!= "purchase")
      .join(convUsers, Seq("user_id"), "left_semi")
      .withColumn("pos", row_number().over(w))
      .withColumn("j", count(lit(1)).over(Window.partitionBy($"user_id")))
    journeys
      .withColumn("linear_ppm", expr("CAST(1000000 AS BIGINT) div j"))
      .withColumn("ushape_ppm", expr(
        """CASE WHEN j = 1 THEN CAST(1000000 AS BIGINT)
          |     WHEN j = 2 THEN CAST(500000 AS BIGINT)
          |     WHEN pos = 1 OR pos = j THEN CAST(400000 AS BIGINT)
          |     ELSE CAST(200000 AS BIGINT) div (j - 2) END""".stripMargin))
      .groupBy($"event_type".as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        count_if($"pos" === 1).as("first_touch"),
        count_if($"pos" === $"j").as("last_touch"),
        sum($"linear_ppm").as("linear_ppm"),
        sum($"ushape_ppm").as("ushape_ppm"))
      .select($"channel", $"n_touches", $"first_touch", $"last_touch",
        $"linear_ppm", $"ushape_ppm",
        ($"linear_ppm".cast("double") / 1e6).as("linear_conversions"),
        ($"ushape_ppm".cast("double") / 1e6).as("ushape_conversions"))
      .orderBy($"channel")
  }

  val creditAttributionSql: String =
    s"""WITH cuj AS (
       |  SELECT e.event_type AS channel,
       |    row_number() OVER (PARTITION BY e.user_id
       |      ORDER BY e.ts, e.event_id) AS pos,
       |    COUNT(*) OVER (PARTITION BY e.user_id) AS j
       |  FROM events e
       |  WHERE e.event_type <> 'purchase'
       |    AND e.user_id IN (SELECT DISTINCT user_id FROM events
       |                      WHERE event_type = 'purchase')
       |),
       |cred AS (
       |  SELECT channel, pos, j,
       |    CAST(1000000 AS BIGINT) // j AS linear_ppm,
       |    CASE WHEN j = 1 THEN CAST(1000000 AS BIGINT)
       |         WHEN j = 2 THEN CAST(500000 AS BIGINT)
       |         WHEN pos = 1 OR pos = j THEN CAST(400000 AS BIGINT)
       |         ELSE CAST(200000 AS BIGINT) // (j - 2) END AS ushape_ppm
       |  FROM cuj
       |)
       |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       |  CAST(COUNT(*) FILTER (WHERE pos = 1) AS BIGINT) AS first_touch,
       |  CAST(COUNT(*) FILTER (WHERE pos = j) AS BIGINT) AS last_touch,
       |  CAST(SUM(linear_ppm) AS BIGINT) AS linear_ppm,
       |  CAST(SUM(ushape_ppm) AS BIGINT) AS ushape_ppm,
       |  CAST(SUM(linear_ppm) AS DOUBLE) / 1e6 AS linear_conversions,
       |  CAST(SUM(ushape_ppm) AS DOUBLE) / 1e6 AS ushape_conversions
       |FROM cred GROUP BY channel
       |${sqlOrderBy(Seq("channel")).trim}""".stripMargin

  /** events_attrib_removal: Markov removal-effect attribution (Anderl,
    * Becker, von Wangenheim, Schumann 2016) — the third standard
    * attribution model beside the heuristic credits and exact Shapley:
    * build the first-order journey chain (START → channel touches →
    * absorbing CONV at the first `purchase`, absorbing NULL for users
    * who never convert), compute the chain's conversion probability
    * from START, then recompute it with each channel i REMOVED (every
    * transition into i redirected to NULL — the Anderl et al. rule);
    * channel i's removal effect is 1 − P_conv(−i)/P_conv(full) and its
    * credit is its share of Σ removal effects.
    *
    * Absorption probability a(s) = P(absorb in CONV | start at s)
    * solves a = R_conv + Q·a; both engines run the SAME T = 8
    * truncated power-iteration rounds from a⁰ = 0 in parts-per-billion
    * integers, every term floor(p·x + 0.5) quantized back to ppb (the
    * `events_markov_stationary` schedule, unrolled round by round in
    * the oracle), so eight compounded rounds stay hash-exact. T is a
    * fixed contract: both the full and every removed chain truncate
    * identically, so the RATIO the removal effect takes is meaningful
    * while the absolute a(START) is the 8-step absorption mass.
    * Removal monotonicity (each removed-chain term sums over a subset
    * of the full chain's terms, floor is monotone) makes every
    * re_ppb ≥ 0 by induction, so credits are a true distribution. The
    * credit denominator Σ re_ppb is an exact BIGINT sum; removal
    * effect and credit are terminal IEEE divisions. Scenario sentinel
    * names START/CONV/NULL/FULL are disjoint from the fixture's event
    * types by contract.
    *
    * Scale posture: one user-keyed window pass builds the journey
    * transitions (the corpus-sized stage); everything after the
    * localCheckpoint is (K+1)·K² bounded rows — K = |channels| — for
    * the scenario frame and 8 rounds of broadcastable K-row joins. */
  def removalAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ranked = Tables(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("rn", row_number().over(w))
    // r15 NOTE: checkpoints on ranked/journey tried and reverted (floor
    // 2.53→3.63 s) — the whole chain pipelines on one user_id exchange,
    // so the persists only blocked it (crostonTsb rationale).
    val firstP = ranked.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"rn").as("prn"))
    val journey = ranked.join(firstP, Seq("user_id"), "left")
      .filter($"prn".isNull || $"rn" <= $"prn")
      .select($"user_id", $"rn", $"prn",
        when($"rn" === $"prn", lit("CONV"))
          .otherwise($"event_type").as("state"))
    val w2 = Window.partitionBy($"user_id").orderBy($"rn")
    val seq = journey
      .withColumn("prev", coalesce(lag($"state", 1).over(w2), lit("START")))
      .select($"prev", $"state".as("next"))
    val ends = journey.filter($"prn".isNull)
      .groupBy($"user_id")
      .agg(expr("max_by(state, rn)").as("prev"))
      .select($"prev", lit("NULL").as("next"))
    val trans = seq.unionByName(ends)
      .groupBy($"prev", $"next").agg(count(lit(1)).as("n"))
    val fromTot = trans.groupBy($"prev").agg(sum($"n").as("n_from"))
    val pr = trans.join(fromTot, "prev")
      .select($"prev", $"next",
        ($"n".cast("double") / $"n_from".cast("double")).as("p"))
      .localCheckpoint() // K×K bounded; ends the corpus lineage (r15 NOTE: lazy reverted — see shapley)
    val chans = pr.select($"prev".as("channel"))
      .filter($"channel" =!= "START").distinct()
    val scen = chans.select($"channel".as("scenario"))
      .unionByName(spark.range(1).select(lit("FULL").as("scenario")))
    val st = scen.crossJoin(pr).filter($"prev" =!= $"scenario")
      .localCheckpoint() // (K+1)·K² rows feed all 8 rounds (r15 NOTE: lazy reverted — action-free round loop)
    var a = st.select($"scenario", $"prev".as("st")).distinct()
      .withColumn("a_ppb", lit(0L))
    for (_ <- 1 to 8) {
      a = st.join(a.select($"scenario", $"st".as("next"), $"a_ppb"),
          Seq("scenario", "next"), "left")
        .selectExpr("scenario", "prev",
          """CAST(floor(p * CASE
            |  WHEN next = 'CONV' THEN CAST(1000000000 AS DOUBLE)
            |  WHEN next = 'NULL' OR next = scenario THEN CAST(0 AS DOUBLE)
            |  ELSE CAST(coalesce(a_ppb, CAST(0 AS BIGINT)) AS DOUBLE)
            |  END + 0.5) AS BIGINT) AS term""".stripMargin)
        .groupBy($"scenario", $"prev").agg(sum($"term").as("a_ppb"))
        .select($"scenario", $"prev".as("st"), $"a_ppb")
    }
    val res = a.filter($"st" === "START").select($"scenario", $"a_ppb")
    val full = res.filter($"scenario" === "FULL")
      .select($"a_ppb".as("full_conv_ppb"))
    val rem = chans.join(res, $"channel" === $"scenario")
      .select($"channel", $"a_ppb".as("removal_conv_ppb"))
      .crossJoin(broadcast(full))
      .withColumn("re_ppb", $"full_conv_ppb" - $"removal_conv_ppb")
    val tot = rem.agg(sum($"re_ppb").as("sum_re"))
    rem.crossJoin(broadcast(tot))
      .select($"channel", $"removal_conv_ppb", $"full_conv_ppb", $"re_ppb",
        when($"full_conv_ppb" > 0,
          $"re_ppb".cast("double") / $"full_conv_ppb".cast("double"))
          .as("removal_effect"),
        when($"sum_re" > 0,
          $"re_ppb".cast("double") / $"sum_re".cast("double")).as("credit"))
      .orderBy($"channel")
  }

  val removalAttributionSql: String = {
    val rounds = (1 to 8).map { i =>
      s"""ra$i AS (
         |  SELECT x.scenario, x.prev AS st,
         |    CAST(SUM(CAST(floor(x.p * CASE
         |      WHEN x.next = 'CONV' THEN CAST(1000000000 AS DOUBLE)
         |      WHEN x.next = 'NULL' OR x.next = x.scenario
         |        THEN CAST(0 AS DOUBLE)
         |      ELSE CAST(COALESCE(a.a_ppb, CAST(0 AS BIGINT)) AS DOUBLE)
         |      END + 0.5) AS BIGINT)) AS BIGINT) AS a_ppb
         |  FROM rstx x LEFT JOIN ra${i - 1} a
         |    ON a.scenario = x.scenario AND a.st = x.next
         |  GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH rke AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events
       |),
       |rfp AS (
       |  SELECT user_id, MIN(rn) AS prn FROM rke
       |  WHERE event_type = 'purchase' GROUP BY 1
       |),
       |rjny AS (
       |  SELECT r.user_id, r.rn, f.prn,
       |    CASE WHEN r.rn = f.prn THEN 'CONV' ELSE r.event_type END AS state
       |  FROM rke r LEFT JOIN rfp f USING (user_id)
       |  WHERE f.prn IS NULL OR r.rn <= f.prn
       |),
       |rsq AS (
       |  SELECT COALESCE(lag(state) OVER (PARTITION BY user_id
       |      ORDER BY rn), 'START') AS prev,
       |    state AS next
       |  FROM rjny
       |),
       |ren AS (
       |  SELECT state AS prev, 'NULL' AS next FROM (
       |    SELECT state, row_number() OVER (PARTITION BY user_id
       |        ORDER BY rn DESC) AS rr
       |    FROM rjny WHERE prn IS NULL)
       |  WHERE rr = 1
       |),
       |rtr AS (
       |  SELECT prev, next, COUNT(*) AS n FROM (
       |    SELECT * FROM rsq UNION ALL SELECT * FROM ren)
       |  GROUP BY 1, 2
       |),
       |rtt AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS n_from
       |        FROM rtr GROUP BY 1),
       |rpr AS (
       |  SELECT rtr.prev, rtr.next,
       |    CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
       |  FROM rtr JOIN rtt USING (prev)
       |),
       |rch AS (SELECT DISTINCT prev AS channel FROM rpr
       |        WHERE prev <> 'START'),
       |rsc AS (SELECT channel AS scenario FROM rch
       |        UNION ALL SELECT 'FULL'),
       |rstx AS (
       |  SELECT s.scenario, rpr.prev, rpr.next, rpr.p
       |  FROM rsc s CROSS JOIN rpr WHERE rpr.prev <> s.scenario
       |),
       |ra0 AS (SELECT scenario, prev AS st, CAST(0 AS BIGINT) AS a_ppb
       |        FROM rstx GROUP BY 1, 2),
       |$rounds,
       |rres AS (SELECT scenario, a_ppb FROM ra8 WHERE st = 'START'),
       |rfull AS (SELECT a_ppb AS full_conv_ppb FROM rres
       |          WHERE scenario = 'FULL'),
       |rrem AS (
       |  SELECT rch.channel, r.a_ppb AS removal_conv_ppb, full_conv_ppb,
       |    CAST(full_conv_ppb - r.a_ppb AS BIGINT) AS re_ppb
       |  FROM rch JOIN rres r ON r.scenario = rch.channel
       |  CROSS JOIN rfull
       |),
       |rtot AS (SELECT CAST(SUM(re_ppb) AS BIGINT) AS sum_re FROM rrem)
       |SELECT channel, removal_conv_ppb, full_conv_ppb, re_ppb,
       |  CASE WHEN full_conv_ppb > 0 THEN
       |    CAST(re_ppb AS DOUBLE) / CAST(full_conv_ppb AS DOUBLE) END
       |    AS removal_effect,
       |  CASE WHEN sum_re > 0 THEN
       |    CAST(re_ppb AS DOUBLE) / CAST(sum_re AS DOUBLE) END AS credit
       |FROM rrem CROSS JOIN rtot
       |${sqlOrderBy(Seq("channel")).trim}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_shapley_attrib" -> shapleyAttribution,
    "events_attrib_credit" -> creditAttribution,
    "events_attrib_removal" -> removalAttribution)

  val oracles: Map[String, String] = Map(
    "events_shapley_attrib" -> shapleyAttributionSql,
    "events_attrib_credit" -> creditAttributionSql,
    "events_attrib_removal" -> removalAttributionSql)
}
