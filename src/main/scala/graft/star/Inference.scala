package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Predictive-inference tier (`[EXT]`): distribution-free uncertainty
  * and calibration diagnostics for the models the curation stack trains
  * — split conformal prediction intervals (Vovk et al. 2005; Lei et al.
  * 2018, JASA), Brier-score reliability binning (Brier 1950; Murphy
  * 1973 decomposition), and t-closeness privacy audit (Li, Li,
  * Venkatasubramanian, ICDE 2007) completing the k-anonymity /
  * l-diversity family in [[Warehouse]].
  *
  * House numeric discipline throughout: every aggregate is an exact
  * BIGINT count/sum (money in cents, probabilities in 1e-6 micro-units
  * quantized through ONE shape-identical IEEE round), order statistics
  * are deterministic rank-k selections, and each output double is a
  * single terminal division of exactly-agreed integers — bit-identical
  * across engines and across any parallelism.
  */
object Inference extends graft.QueryModule {

  /** stat_conformal: split conformal prediction intervals per order
    * priority — the distribution-free coverage guarantee (P(y ∈ Ĉ(x))
    * ≥ 1−α for ANY data distribution, Vovk 2005) that a forecasting
    * or labeling pipeline quotes instead of Gaussian ±2σ. Three-way
    * deterministic split by orderkey mod 3: fold 0 trains the
    * point model (per-priority floor-mean of cents), fold 1
    * calibrates (the conformal radius is the ⌈(n+1)(1−α)⌉-th smallest
    * absolute residual, α = 0.1 — an EXACT order statistic, not an
    * interpolated percentile), fold 2 measures empirical coverage.
    * The k-th-smallest selection orders by (residual, orderkey) so the
    * picked VALUE is engine-independent even under ties.
    *
    * Scale posture: one map-side-combined aggregate per fold (train
    * means, calibration ranks, test coverage), one rank window
    * partitioned by priority over the calibration fold only (1/3 of
    * rows, |priority| partitions), and two broadcast joins of
    * |priority|-row model/radius frames back onto the folds. At 100 TB
    * the window is the only shuffle and it rides the same key as the
    * final aggregate. */
  def conformal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority".as("prio"),
        round($"o_totalprice" * 100).cast("long").as("cents"),
        ($"o_orderkey" % 3).as("fold"))
    // fold 0: per-priority floor-mean point model (exact integer)
    val model = o.filter($"fold" === 0)
      .groupBy($"prio")
      .agg(expr("sum(cents) div count(*)").as("mu"),
        count(lit(1)).as("n_train"))
    // fold 1: conformal radius = ceil((n+1)*0.9)-th smallest |resid|
    val calib = o.filter($"fold" === 1)
      .join(broadcast(model), Seq("prio"))
      .withColumn("resid", abs($"cents" - $"mu"))
    val w = Window.partitionBy($"prio").orderBy($"resid", $"o_orderkey")
    val radius = calib
      .withColumn("rk", row_number().over(w))
      .withColumn("n_cal", count(lit(1)).over(Window.partitionBy($"prio")))
      .filter($"rk" === expr("((n_cal + 1) * 9 + 9) div 10"))
      .select($"prio", $"resid".as("q_radius"), $"n_cal")
    // fold 2: empirical coverage of mu ± q_radius
    o.filter($"fold" === 2)
      .join(broadcast(model), Seq("prio"))
      .join(broadcast(radius), Seq("prio"))
      .groupBy($"prio", $"mu", $"n_train", $"q_radius", $"n_cal")
      .agg(count(lit(1)).as("n_test"),
        count_if(abs($"cents" - $"mu") <= $"q_radius").as("covered"))
      .select($"prio".as("o_orderpriority"),
        ($"mu".cast("double") / 100.0).as("point_pred"),
        $"n_train", $"n_cal",
        ($"q_radius".cast("double") / 100.0).as("conformal_radius"),
        $"n_test", $"covered",
        ($"covered".cast("double") / $"n_test").as("coverage"))
      .orderBy($"o_orderpriority")
  }

  val conformalSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderpriority AS prio,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    o_orderkey % 3 AS fold
       |  FROM orders
       |),
       |model AS (
       |  SELECT prio, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mu,
       |    CAST(COUNT(*) AS BIGINT) AS n_train
       |  FROM o WHERE fold = 0 GROUP BY prio
       |),
       |calib AS (
       |  SELECT o.prio, abs(cents - mu) AS resid, o_orderkey,
       |    ROW_NUMBER() OVER (PARTITION BY o.prio
       |      ORDER BY abs(cents - mu), o_orderkey) AS rk,
       |    COUNT(*) OVER (PARTITION BY o.prio) AS n_cal
       |  FROM o JOIN model ON o.prio = model.prio WHERE fold = 1
       |),
       |radius AS (
       |  SELECT prio, resid AS q_radius, CAST(n_cal AS BIGINT) AS n_cal
       |  FROM calib WHERE rk = ((n_cal + 1) * 9 + 9) // 10
       |)
       |SELECT o.prio AS o_orderpriority,
       |  CAST(mu AS DOUBLE) / 100.0 AS point_pred,
       |  n_train, n_cal,
       |  CAST(q_radius AS DOUBLE) / 100.0 AS conformal_radius,
       |  CAST(COUNT(*) AS BIGINT) AS n_test,
       |  CAST(COUNT(*) FILTER (WHERE abs(cents - mu) <= q_radius)
       |    AS BIGINT) AS covered,
       |  CAST(COUNT(*) FILTER (WHERE abs(cents - mu) <= q_radius)
       |    AS DOUBLE) / COUNT(*) AS coverage
       |FROM o
       |  JOIN model ON o.prio = model.prio
       |  JOIN radius ON o.prio = radius.prio
       |WHERE fold = 2
       |GROUP BY o.prio, mu, n_train, q_radius, n_cal
       |${sqlOrderBy(Seq("o_orderpriority")).trim}""".stripMargin

  /** stat_anova_f: one-way ANOVA F statistic for order value across
    * the five priorities — the classic k-group mean-difference test
    * completing the two-sample tier (Mann–Whitney, permutation test,
    * CUPED). Everything reduces to exact integer-cent moments: per
    * group (n_g, Σx, Σx²) in DECIMAL(38,0), then
    * SSB = Σ_g S_g²/n_g − S²/n and SSW = Σx² − Σ_g S_g²/n_g. The
    * between-group accumulator Σ_g S_g²/n_g is a float sum over
    * |groups| rows — shuffle-order-dependent, so each group's term is
    * taken as the EXACT integer quotient ⌊S_g²/n_g⌋ via the
    * remainder identity (S_g² − S_g² mod n_g)/n_g entirely in
    * DECIMAL(38,0)/HUGEINT and summed the same way: order-free and
    * overflow-free (the earlier floor(double) form returned LONG on
    * the Spark side and wrapped silently once a term crossed 2⁶³ —
    * observed at sf0.1, where S_g²/n_g ≈ 1.9·10¹⁹ flipped SSB
    * negative), identical to the true term within 1 part in ~10¹⁸.
    * F = (SSB/(k−1))/(SSW/(n−k)) with the df as plain integers (the
    * p-value needs the F CDF — transcendental, so the statistic and
    * df ARE the contract, per the house rule).
    *
    * Scale posture: one map-side-combined moment aggregation to
    * |groups| rows, one 1-row reduce — a 100 TB ANOVA is one scan. */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val g = Tables(spark, dir, "orders")
      .select($"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_g"),
        sum($"cents".cast(dec)).as("s_g"),
        sum($"cents".cast(dec) * $"cents".cast(dec)).as("q_g"))
    g.agg(
      count(lit(1)).as("k"),
      sum($"n_g").as("n"),
      sum($"s_g").as("s"),
      sum($"q_g").as("q"),
      sum(expr("CAST(((s_g * s_g) - ((s_g * s_g) %" +
        " CAST(n_g AS DECIMAL(38,0)))) / CAST(n_g AS DECIMAL(38,0))" +
        " AS DECIMAL(38,0))")).as("sbq"))
      .withColumn("sb_part", $"sbq".cast("double"))
      .select($"k", $"n",
        ($"sb_part" - ($"s" * $"s").cast("double") / $"n".cast("double"))
          .as("ss_between"),
        ($"q".cast("double") - $"sb_part").as("ss_within"),
        ((($"sb_part" - ($"s" * $"s").cast("double") / $"n".cast("double"))
          / ($"k" - 1L).cast("double"))
          / (($"q".cast("double") - $"sb_part")
            / ($"n" - $"k").cast("double"))).as("f_stat"))
  }

  val anovaFSql: String =
    s"""WITH g AS (
       |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_g,
       |    CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |      AS HUGEINT)) AS HUGEINT) AS s_g,
       |    CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |      AS HUGEINT) * CAST(round(o_totalprice * 100) AS BIGINT))
       |      AS HUGEINT) AS q_g
       |  FROM orders GROUP BY o_orderpriority
       |),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |    CAST(SUM(n_g) AS BIGINT) AS n,
       |    CAST(SUM(s_g) AS HUGEINT) AS s,
       |    CAST(SUM(q_g) AS HUGEINT) AS q,
       |    -- HUGEINT→DOUBLE via VARCHAR: DuckDB's direct conversion
       |    -- double-rounds past 2⁶⁴ (observed 1-ulp drift at sf0.1);
       |    -- the string parse is correctly rounded, matching Spark's
       |    -- Decimal.toDouble
       |    CAST(CAST(CAST(SUM(CAST((s_g * s_g) // n_g AS HUGEINT))
       |      AS HUGEINT) AS VARCHAR) AS DOUBLE) AS sb_part
       |  FROM g
       |)
       |SELECT k, n,
       |  sb_part - CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
       |    / CAST(n AS DOUBLE) AS ss_between,
       |  CAST(CAST(q AS VARCHAR) AS DOUBLE) - sb_part AS ss_within,
       |  ((sb_part - CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
       |      / CAST(n AS DOUBLE))
       |    / CAST(k - 1 AS DOUBLE))
       |  / ((CAST(CAST(q AS VARCHAR) AS DOUBLE) - sb_part)
       |    / CAST(n - k AS DOUBLE)) AS f_stat
       |FROM m""".stripMargin

  /** stat_levene: Levene's variance-homogeneity test (Levene 1960,
    * Brown–Forsythe median variant) across the five priorities — the
    * pre-flight [[anovaF]]'s equal-variance assumption is checked
    * with: W = the ANOVA F statistic computed on the absolute
    * deviations |x − median_g| from each group's median. The median is
    * an exact rank-⌈n/2⌉ order statistic (deterministic under the
    * (cents, orderkey) tiebreak), the deviations are exact BIGINT
    * cents, and the F assembly reuses the same exact-quotient
    * DECIMAL(38,0) discipline as [[anovaF]] — no float sum anywhere
    * before the terminal divisions.
    *
    * Scale posture: one rank window per priority partition for the
    * median, a broadcast |groups|-row median join back over the scan,
    * then the one-pass moment aggregation — two scans total at any
    * volume. */
  def levene(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val o = Tables(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"), $"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val w = Window.partitionBy($"prio").orderBy($"cents", $"o_orderkey")
    val med = o
      .withColumn("rk", row_number().over(w))
      .withColumn("n_g", count(lit(1)).over(Window.partitionBy($"prio")))
      .filter($"rk" === expr("(n_g + 1) div 2"))
      .select($"prio", $"cents".as("med"))
    val g = o.join(broadcast(med), "prio")
      .withColumn("z", abs($"cents" - $"med"))
      .groupBy($"prio")
      .agg(count(lit(1)).as("n_g"),
        sum($"z".cast(dec)).as("s_g"),
        sum($"z".cast(dec) * $"z".cast(dec)).as("q_g"))
    g.agg(
      count(lit(1)).as("k"),
      sum($"n_g").as("n"),
      sum($"s_g").as("s"),
      sum($"q_g").as("q"),
      sum(expr("CAST(((s_g * s_g) - ((s_g * s_g) %" +
        " CAST(n_g AS DECIMAL(38,0)))) / CAST(n_g AS DECIMAL(38,0))" +
        " AS DECIMAL(38,0))")).as("sbq"))
      .withColumn("sb_part", $"sbq".cast("double"))
      .select($"k", $"n",
        ((($"sb_part" - ($"s" * $"s").cast("double") / $"n".cast("double"))
          / ($"k" - 1L).cast("double"))
          / (($"q".cast("double") - $"sb_part")
            / ($"n" - $"k").cast("double"))).as("levene_w"))
  }

  val leveneSql: String =
    s"""WITH lo AS (
       |  SELECT o_orderpriority AS prio, o_orderkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders
       |),
       |lmed AS (
       |  SELECT prio, cents AS med FROM (
       |    SELECT prio, cents,
       |      row_number() OVER (PARTITION BY prio
       |        ORDER BY cents, o_orderkey) AS rk,
       |      COUNT(*) OVER (PARTITION BY prio) AS n_g
       |    FROM lo
       |  ) WHERE rk = (n_g + 1) // 2
       |),
       |lg AS (
       |  SELECT lo.prio, CAST(COUNT(*) AS BIGINT) AS n_g,
       |    CAST(SUM(CAST(abs(cents - med) AS HUGEINT)) AS HUGEINT) AS s_g,
       |    CAST(SUM(CAST(abs(cents - med) AS HUGEINT)
       |      * abs(cents - med)) AS HUGEINT) AS q_g
       |  FROM lo JOIN lmed ON lo.prio = lmed.prio
       |  GROUP BY lo.prio
       |),
       |lm AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |    CAST(SUM(n_g) AS BIGINT) AS n,
       |    CAST(SUM(s_g) AS HUGEINT) AS s,
       |    CAST(SUM(q_g) AS HUGEINT) AS q,
       |    CAST(CAST(CAST(SUM(CAST((s_g * s_g) // n_g AS HUGEINT))
       |      AS HUGEINT) AS VARCHAR) AS DOUBLE) AS sb_part
       |  FROM lg
       |)
       |SELECT k, n,
       |  ((sb_part - CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
       |      / CAST(n AS DOUBLE))
       |    / CAST(k - 1 AS DOUBLE))
       |  / ((CAST(CAST(q AS VARCHAR) AS DOUBLE) - sb_part)
       |    / CAST(n - k AS DOUBLE)) AS levene_w
       |FROM lm""".stripMargin

  /** Batch-trained per-event-type conformal band — the model artifact
    * behind [[eventsConformalGate]] and the streaming
    * [[graft.streaming.ConformalGateStream]]: fold 0 (event_id mod 3)
    * trains the per-type floor-mean of 1e-6-quantized `value`, fold 1
    * calibrates the rank-⌈(n+1)(1−α)⌉ absolute residual (α = 0.1).
    * Output: (event_type, mu_q, q_radius, n_train, n_cal). */
  def eventsConformalModel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "events")
      .select($"event_id", $"event_type",
        round($"value" * 1e6).cast("long").as("vq"),
        ($"event_id" % 3).as("fold"))
    val model = e.filter($"fold" === 0)
      .groupBy($"event_type")
      .agg(expr("sum(vq) div count(*)").as("mu_q"),
        count(lit(1)).as("n_train"))
    val w = Window.partitionBy($"event_type").orderBy($"resid", $"event_id")
    e.filter($"fold" === 1)
      .join(broadcast(model), Seq("event_type"))
      .withColumn("resid", abs($"vq" - $"mu_q"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_cal",
        count(lit(1)).over(Window.partitionBy($"event_type")))
      .filter($"rk" === expr("((n_cal + 1) * 9 + 9) div 10"))
      .select($"event_type", $"mu_q", $"resid".as("q_radius"),
        $"n_train", $"n_cal")
  }

  private[graft] val eventsConformalModelSqlCtes: String =
    s"""ce AS (
       |  SELECT event_id, event_type,
       |    CAST(round(value * 1e6) AS BIGINT) AS vq,
       |    event_id % 3 AS fold
       |  FROM events
       |),
       |cmodel AS (
       |  SELECT event_type, CAST(SUM(vq) // COUNT(*) AS BIGINT) AS mu_q,
       |    CAST(COUNT(*) AS BIGINT) AS n_train
       |  FROM ce WHERE fold = 0 GROUP BY event_type
       |),
       |ccalib AS (
       |  SELECT ce.event_type, abs(vq - mu_q) AS resid,
       |    ROW_NUMBER() OVER (PARTITION BY ce.event_type
       |      ORDER BY abs(vq - mu_q), event_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY ce.event_type) AS n_cal
       |  FROM ce JOIN cmodel USING (event_type) WHERE fold = 1
       |),
       |cband AS (
       |  SELECT c.event_type, m.mu_q, c.resid AS q_radius, m.n_train,
       |    CAST(c.n_cal AS BIGINT) AS n_cal
       |  FROM ccalib c JOIN cmodel m USING (event_type)
       |  WHERE rk = ((n_cal + 1) * 9 + 9) // 10
       |)""".stripMargin

  /** events_conformal_gate: the batch scorecard of the conformal
    * anomaly gate — fold 2 of the event stream scored against the
    * [[eventsConformalModel]] band: per event type, how many events
    * fall outside mu ± q (the distribution-free anomaly flag whose
    * false-alarm rate is ≤ α by construction). The streaming twin
    * ([[graft.streaming.ConformalGateStream]]) applies the identical
    * verdict per event at ingest with zero state; this aggregate is
    * what lands on the monitoring dashboard.
    *
    * Scale posture: same shape as [[conformal]] — fold-filtered scans,
    * one bounded rank window over the calibration fold only, broadcast
    * |event_type|-row band, map-side-combined final rollup. */
  def eventsConformalGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "events")
      .select($"event_id", $"event_type",
        round($"value" * 1e6).cast("long").as("vq"),
        ($"event_id" % 3).as("fold"))
    e.filter($"fold" === 2)
      .join(broadcast(eventsConformalModel(spark, dir)), Seq("event_type"))
      .groupBy($"event_type", $"mu_q", $"q_radius", $"n_train", $"n_cal")
      .agg(count(lit(1)).as("n_scored"),
        count_if(abs($"vq" - $"mu_q") > $"q_radius").as("n_anomalous"))
      .select($"event_type",
        ($"mu_q".cast("double") / 1e6).as("band_center"),
        ($"q_radius".cast("double") / 1e6).as("band_radius"),
        $"n_train", $"n_cal", $"n_scored", $"n_anomalous",
        ($"n_anomalous".cast("double") / $"n_scored").as("anomaly_rate"))
      .orderBy($"event_type")
  }

  val eventsConformalGateSql: String =
    s"""WITH $eventsConformalModelSqlCtes
       |SELECT ce.event_type,
       |  CAST(mu_q AS DOUBLE) / 1e6 AS band_center,
       |  CAST(q_radius AS DOUBLE) / 1e6 AS band_radius,
       |  n_train, n_cal,
       |  CAST(COUNT(*) AS BIGINT) AS n_scored,
       |  CAST(COUNT(*) FILTER (WHERE abs(vq - mu_q) > q_radius) AS BIGINT)
       |    AS n_anomalous,
       |  CAST(COUNT(*) FILTER (WHERE abs(vq - mu_q) > q_radius) AS DOUBLE)
       |    / COUNT(*) AS anomaly_rate
       |FROM ce JOIN cband USING (event_type)
       |WHERE fold = 2
       |GROUP BY ce.event_type, mu_q, q_radius, n_train, n_cal
       |${sqlOrderBy(Seq("event_type")).trim}""".stripMargin

  /** stat_brier_calibration: reliability diagram + Brier score for the
    * [[graft.llm.Curate.qualityLpm]] near-dup screen — the calibration
    * audit a production quality classifier ships with (a screen whose
    * 0.8 means 80% is actionable; one whose 0.8 means 50% is not).
    * The LPM probability is clamped to [0,1] and quantized ONCE to
    * 1e-6 integer micro-units (both engines round the identical
    * double expression), then every bin statistic — count, Σp̂, Σy,
    * Σ(p̂−y)² — is exact BIGINT arithmetic in micro-units; per-bin
    * mean-confidence / mean-outcome / Brier contribution are terminal
    * divisions. Bins are p̂-deciles (micro-units div 100000, top bin
    * closed).
    *
    * Scale posture: rides qualityLpm's one-pass moment training (the
    * labels reuse the bucketed LSH candidate graph — no all-pairs);
    * the scoring pass is map-only under a broadcast 1-row model, and
    * the diagram is a 10-row aggregate. */
  def brierCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = graft.llm.Curate.lpmScored(spark, dir)
      .withColumn("p6",
        round(greatest(least($"pred_p", lit(1.0)), lit(0.0)) * 1e6)
          .cast("long"))
      .withColumn("bin", least($"p6" / 100000L, lit(9L)).cast("long"))
    scored.groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        sum($"p6").as("sp6"),
        sum($"y").as("sy"),
        sum(($"p6" - $"y" * 1000000L) * ($"p6" - $"y" * 1000000L))
          .as("sq12"))
      .select($"bin", $"n",
        ($"sp6".cast("double") / ($"n" * 1000000L).cast("double"))
          .as("mean_confidence"),
        ($"sy".cast("double") / $"n".cast("double")).as("mean_outcome"),
        ($"sq12".cast("double") / ($"n".cast("double") * 1e12))
          .as("brier_bin"))
      .orderBy($"bin")
  }

  val brierCalibrationSql: String =
    s"""WITH ${graft.llm.Curate.lpmScoredSqlAll},
       |quant AS (
       |  SELECT y,
       |    CAST(round(greatest(least(pred_p, 1.0), 0.0) * 1e6) AS BIGINT)
       |      AS p6
       |  FROM lpm_scored
       |)
       |SELECT least(p6 // 100000, 9) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(p6) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE)
       |    AS mean_confidence,
       |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_outcome,
       |  CAST(SUM((p6 - y * 1000000) * (p6 - y * 1000000)) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS brier_bin
       |FROM quant GROUP BY 1${sqlOrderBy(Seq("bin"))}""".stripMargin

  /** dq_t_closeness: t-closeness audit (Li et al., ICDE 2007) over the
    * documents table — the stronger-than-l-diversity privacy test: a
    * quasi-identifier class leaks if the DISTRIBUTION of the sensitive
    * attribute within the class sits far from the global distribution,
    * even when it is diverse. QI = (lang, source); sensitive = ordinal
    * 500-char length band. For ordinal attributes the Earth-Mover
    * Distance with unit ground distance is
    * EMD = (1/(m−1)) · Σᵢ |F_class(i) − F_global(i)| over the m bands
    * (the 1-D Wasserstein identity). The cumulative fractions are
    * compared CROSS-MULTIPLIED (|cum_g·N − cum_all·n_g| — exact BIGINT)
    * so the only doubles are the terminal division; missing bands are
    * zero-filled through an explicit QI×band grid so both engines walk
    * the identical support.
    *
    * Scale posture: counts collapse to |QI×bands| cells map-side; the
    * grid cross join is |QI|×|bands| (hundreds of rows) and the
    * cumulative window is per-QI over ≤ m rows — all post-aggregation.
    * At 100 TB only the first rollup touches the corpus. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val banded = Tables(spark, dir, "documents")
      .select($"lang", $"source", expr("n_chars div 500").as("band"))
    val cells = banded.groupBy($"lang", $"source", $"band")
      .agg(count(lit(1)).as("c"))
    val groups = cells.groupBy($"lang", $"source")
      .agg(sum($"c").as("n_g"))
    val bands = cells.groupBy($"band").agg(sum($"c").as("c_all"))
    val total = banded.agg(count(lit(1)).as("n_all"),
      countDistinct($"band").as("m"))
    val grid = groups.crossJoin(bands).crossJoin(broadcast(total))
      .join(cells, Seq("lang", "source", "band"), "left")
      .withColumn("c", coalesce($"c", lit(0L)))
    val w = Window.partitionBy($"lang", $"source")
      .orderBy($"band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_g", sum($"c").over(w))
      .withColumn("cum_all", sum($"c_all").over(w))
      .groupBy($"lang", $"source", $"n_g", $"n_all", $"m")
      .agg(sum(abs($"cum_g" * $"n_all" - $"cum_all" * $"n_g"))
        .as("emd_num"))
      .select($"lang", $"source", $"n_g".as("n_docs"), $"m".as("n_bands"),
        ($"emd_num".cast("double") /
          ($"n_g" * $"n_all" * ($"m" - 1L)).cast("double"))
          .as("t_closeness"))
      .orderBy($"lang", $"source")
  }

  val tClosenessSql: String =
    s"""WITH banded AS (
       |  SELECT lang, source, n_chars // 500 AS band FROM documents
       |),
       |cells AS (
       |  SELECT lang, source, band, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM banded GROUP BY lang, source, band
       |),
       |groups AS (
       |  SELECT lang, source, CAST(SUM(c) AS BIGINT) AS n_g
       |  FROM cells GROUP BY lang, source
       |),
       |bands AS (
       |  SELECT band, CAST(SUM(c) AS BIGINT) AS c_all FROM cells GROUP BY band
       |),
       |total AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
       |    CAST(COUNT(DISTINCT band) AS BIGINT) AS m
       |  FROM banded
       |),
       |grid AS (
       |  SELECT g.lang, g.source, b.band, g.n_g, b.c_all, t.n_all, t.m,
       |    COALESCE(c.c, 0) AS c
       |  FROM groups g CROSS JOIN bands b CROSS JOIN total t
       |  LEFT JOIN cells c
       |    ON c.lang = g.lang AND c.source = g.source AND c.band = b.band
       |),
       |cum AS (
       |  SELECT lang, source, n_g, n_all, m,
       |    SUM(c) OVER (PARTITION BY lang, source ORDER BY band
       |      ROWS UNBOUNDED PRECEDING) AS cum_g,
       |    SUM(c_all) OVER (PARTITION BY lang, source ORDER BY band
       |      ROWS UNBOUNDED PRECEDING) AS cum_all
       |  FROM grid
       |)
       |SELECT lang, source, n_g AS n_docs, m AS n_bands,
       |  CAST(SUM(abs(cum_g * n_all - cum_all * n_g)) AS DOUBLE)
       |    / CAST(n_g * n_all * (m - 1) AS DOUBLE) AS t_closeness
       |FROM cum GROUP BY lang, source, n_g, n_all, m
       |${sqlOrderBy(Seq("lang", "source")).trim}""".stripMargin

  /** stat_spearman: Spearman rank correlation between order value and
    * order date per priority — "do later orders run larger?", the
    * robust monotone-association audit (the rank twin of the
    * Theil–Sen / OLS tier, immune to whale-order outliers). Ranks are
    * row_number over (raw value, o_orderkey) — a TOTAL deterministic
    * order because o_orderkey is unique, which is the load-bearing
    * choice: the lineitem fixture carries full-duplicate rows, where
    * no within-engine tiebreak exists and the two windows can pair
    * duplicate rows differently across engines (observed: sd2 off by
    * parts-per-million). With identical total orders Σd² is an exact
    * BIGINT; ρ = 1 − 6Σd²/(n(n²−1)) with the denominator computed in
    * DOUBLE from n (n³ would overflow BIGINT at 100 TB group sizes —
    * the numerator Σd² stays integer-exact).
    *
    * Scale posture: two rank windows per priority partition (the
    * standard |rows|-shuffle window class, both riding ONE hash
    * partitioning on the priority), then a map-side-combined
    * aggregate to |priorities| rows. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables(spark, dir, "orders")
      .select($"o_orderpriority", $"o_orderkey",
        $"o_totalprice", $"o_orderdate")
    val byPrio = Window.partitionBy($"o_orderpriority")
    val ranked = o
      .withColumn("r1", row_number().over(
        byPrio.orderBy($"o_totalprice", $"o_orderkey")))
      .withColumn("r2", row_number().over(
        byPrio.orderBy($"o_orderdate", $"o_orderkey")))
      .withColumn("d", ($"r1" - $"r2").cast("long"))
    ranked.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"d" * $"d").as("sd2"))
      .select($"o_orderpriority", $"n", $"sd2",
        (lit(1.0) - ($"sd2" * 6L).cast("double")
          / ($"n".cast("double")
            * ($"n".cast("double") * $"n".cast("double") - 1.0)))
          .as("spearman_rho"))
      .orderBy($"o_orderpriority")
  }

  val spearmanSql: String =
    s"""WITH ranked AS (
       |  SELECT o_orderpriority,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY o_totalprice, o_orderkey) AS r1,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY o_orderdate, o_orderkey) AS r2
       |  FROM orders
       |)
       |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sd2,
       |  1.0 - CAST(SUM((r1 - r2) * (r1 - r2)) * 6 AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE)
       |      * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1.0))
       |    AS spearman_rho
       |FROM ranked GROUP BY o_orderpriority
       |${sqlOrderBy(Seq("o_orderpriority")).trim}""".stripMargin

  /** dq_completeness_profile: the per-column profiling pass every
    * warehouse onboarding/monitoring job runs over a new feed — for
    * each column of `orders`: row count, non-null count, exact
    * distinct cardinality, null fraction, and distinct ratio (the
    * key-candidate / constant-column detector). One row per column,
    * exact counts, two terminal divisions each.
    *
    * Scale posture: one aggregate over the scan; the multi-column
    * exact COUNT(DISTINCT) plans as Spark's Expand (one row replica
    * per distinct-aggregate) — the standard profiling trade, paid
    * once per feed release, map-side combinable per column. The
    * result pivots to rows driver-free via one explode of a 6-struct
    * literal array. */
  def completenessProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"))
    }
    val row = Tables(spark, dir, "orders")
      .agg(count(lit(1)).as("n"), aggs: _*)
    val structs = cols.map { c =>
      s"named_struct('column_name', '$c', 'n', n, " +
        s"'n_nonnull', nn_$c, 'n_distinct', nd_$c)"
    }.mkString(", ")
    row.selectExpr(s"explode(array($structs)) AS p")
      .select($"p.column_name", $"p.n", $"p.n_nonnull", $"p.n_distinct",
        (lit(1.0) - $"p.n_nonnull".cast("double") / $"p.n".cast("double"))
          .as("null_frac"),
        ($"p.n_distinct".cast("double") / $"p.n".cast("double"))
          .as("distinct_ratio"))
      .orderBy($"column_name")
  }

  val completenessProfileSql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  1.0 - CAST(COUNT($c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS null_frac,
         |  CAST(COUNT(DISTINCT $c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS distinct_ratio
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name NULLS FIRST")
  }

  /** stat_auc_lpm: ROC-AUC of the [[graft.llm.Curate.lpmScored]]
    * dup-risk screen — the threshold-free ranking-quality companion to
    * [[brierCalibration]] (Brier grades the probabilities, AUC grades
    * the ordering; a screen can be well-calibrated and still unable to
    * rank). Computed via the Mann–Whitney identity over the DISTINCT
    * quantized scores: p̂ is clamped and quantized once to 1e-6
    * micro-units (the Brier quantization), per-score (pos, neg) counts
    * collapse the corpus, and
    * 2·U = Σ_s pos_s · (2·neg_below(s) + neg_s) — the trapezoidal
    * tie-handling (each pos/neg tie pair counts ½) kept in exact
    * BIGINT by carrying the doubled numerator. AUC and the Gini
    * coefficient 2·AUC−1 are terminal IEEE assemblies.
    *
    * Scale posture: rides lpmScored's one-pass moment training +
    * map-only scoring; the per-score rollup is bounded by the 1e6+1
    * quantization grid (NOT the corpus), and the cumulative window
    * runs over that bounded grid — a 100 TB AUC is one scan plus a
    * ≤1e6-row window. */
  def aucLpm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byScore = graft.llm.Curate.lpmScored(spark, dir)
      .withColumn("p6",
        round(greatest(least($"pred_p", lit(1.0)), lit(0.0)) * 1e6)
          .cast("long"))
      .groupBy($"p6")
      .agg(count_if($"y" === 1L).as("pos"),
        count_if($"y" === 0L).as("neg"))
    val w = Window.orderBy($"p6")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("neg_below", coalesce(sum($"neg").over(w), lit(0L)))
      .agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
        sum($"pos" * ($"neg_below" * 2L + $"neg")).as("auc_num2"))
      .select($"n_pos", $"n_neg", $"auc_num2",
        ($"auc_num2".cast("double")
          / (lit(2.0) * $"n_pos".cast("double") * $"n_neg".cast("double")))
          .as("auc"))
      .withColumn("gini_coef", lit(2.0) * $"auc" - lit(1.0))
  }

  val aucLpmSql: String =
    s"""WITH ${graft.llm.Curate.lpmScoredSqlAll},
       |by_score AS (
       |  SELECT CAST(round(greatest(least(pred_p, 1.0), 0.0) * 1e6)
       |      AS BIGINT) AS p6,
       |    CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS pos,
       |    CAST(COUNT(*) FILTER (WHERE y = 0) AS BIGINT) AS neg
       |  FROM lpm_scored GROUP BY 1
       |),
       |cum AS (
       |  SELECT pos, neg,
       |    COALESCE(SUM(neg) OVER (ORDER BY p6
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS neg_below
       |  FROM by_score
       |)
       |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       |  CAST(SUM(neg) AS BIGINT) AS n_neg,
       |  CAST(SUM(pos * (neg_below * 2 + neg)) AS BIGINT) AS auc_num2,
       |  CAST(SUM(pos * (neg_below * 2 + neg)) AS DOUBLE)
       |    / (CAST(2.0 AS DOUBLE) * CAST(SUM(pos) AS DOUBLE)
       |      * CAST(SUM(neg) AS DOUBLE)) AS auc,
       |  CAST(2.0 AS DOUBLE) * (CAST(SUM(pos * (neg_below * 2 + neg))
       |      AS DOUBLE)
       |    / (CAST(2.0 AS DOUBLE) * CAST(SUM(pos) AS DOUBLE)
       |      * CAST(SUM(neg) AS DOUBLE))) - CAST(1.0 AS DOUBLE)
       |    AS gini_coef
       |FROM cum""".stripMargin

  /** dq_mutual_info: mutual information (in bits) between order
    * priority and order status — the nonparametric dependence audit
    * completing the crosstab/χ²/Cramér's-V family: MI answers "how many
    * bits does knowing the status tell you about the priority", which
    * is the feature-redundancy number a feature store profiles. All
    * logarithms are the engine-portable qlog2 integer fixed point
    * (1/1024-bit units, the [[graft.llm.Curate.qlog2Spark]] identity
    * used by the JS-divergence and Zipf legs): each cell contributes
    * c·(qlog2(c·N) − qlog2(rt·ct)) — an exact BIGINT product of exact
    * integers — so MI_q = Σ cells is order-free; the marginal entropies
    * H(X)_q, H(Y)_q use the same machinery and the redundancy score
    * 2·MI/(H_X+H_Y) is one terminal IEEE assembly. Zero cells
    * contribute zero and are simply absent (0·log 0 = 0), so no grid
    * zero-fill is needed — unlike χ², MI's missing cells carry no mass.
    *
    * Scale posture: one partial-agg exchange to |priority×status|
    * cells; everything downstream runs on that bounded grid. The
    * integer products cap at c·N — past ~3·10⁹ rows the qlog2 operand
    * moves to DECIMAL(38,0)/HUGEINT with the identical identity (bin()
    * over the decimal's long mantissa), shapes unchanged. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = graft.llm.Curate.qlog2Spark _
    val cells = Tables(spark, dir, "orders")
      .groupBy($"o_orderpriority".as("a"), $"o_orderstatus".as("b"))
      .agg(count(lit(1)).as("c"))
      // r15: the bounded contingency grid feeds four frames — one fact
      // scan, not four (clusterNmiAri's ct discipline).
      .localCheckpoint(false)
    val rowt = cells.groupBy($"a").agg(sum($"c").as("rt"))
    val colt = cells.groupBy($"b").agg(sum($"c").as("ct"))
    val tot = cells.agg(sum($"c").as("n"))
    val joint = cells
      .join(broadcast(rowt), "a").join(broadcast(colt), "b")
      .crossJoin(broadcast(tot))
      .selectExpr("a", "b", "c", "rt", "ct", "n",
        s"c * (CAST(${q("(c * n)")} AS BIGINT) - ${q("(rt * ct)")}) AS miq")
    val hx = rowt.crossJoin(broadcast(tot))
      .selectExpr(s"rt * (CAST(${q("n")} AS BIGINT) - ${q("rt")}) AS hq")
      .agg(sum($"hq").as("hx_q"))
    val hy = colt.crossJoin(broadcast(tot))
      .selectExpr(s"ct * (CAST(${q("n")} AS BIGINT) - ${q("ct")}) AS hq")
      .agg(sum($"hq").as("hy_q"))
    joint.groupBy($"n")
      .agg(sum($"miq").as("mi_q"), count(lit(1)).as("n_cells"))
      .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select($"n_cells", $"mi_q", $"hx_q", $"hy_q",
        ($"mi_q".cast("double") / ($"n" * 1024L).cast("double"))
          .as("mi_bits"),
        ($"hx_q".cast("double") / ($"n" * 1024L).cast("double"))
          .as("hx_bits"),
        ($"hy_q".cast("double") / ($"n" * 1024L).cast("double"))
          .as("hy_bits"),
        (lit(2.0) * $"mi_q".cast("double")
          / ($"hx_q" + $"hy_q").cast("double")).as("redundancy"))
  }

  val mutualInfoSql: String = {
    val q = graft.llm.Curate.qlog2Duck _
    s"""WITH micells AS (
       |  SELECT o_orderpriority AS a, o_orderstatus AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM orders GROUP BY 1, 2
       |),
       |mirow AS (SELECT a, CAST(SUM(c) AS BIGINT) AS rt FROM micells GROUP BY a),
       |micol AS (SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM micells GROUP BY b),
       |mitot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM micells),
       |mij AS (
       |  SELECT CAST(SUM(c * (CAST(${q("(c * n)")} AS BIGINT)
       |      - ${q("(rt * ct)")})) AS BIGINT) AS mi_q,
       |    CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    MAX(n) AS n
       |  FROM micells
       |    JOIN mirow USING (a) JOIN micol USING (b) CROSS JOIN mitot
       |),
       |mihx AS (
       |  SELECT CAST(SUM(rt * (CAST(${q("n")} AS BIGINT) - ${q("rt")}))
       |    AS BIGINT) AS hx_q
       |  FROM mirow CROSS JOIN mitot
       |),
       |mihy AS (
       |  SELECT CAST(SUM(ct * (CAST(${q("n")} AS BIGINT) - ${q("ct")}))
       |    AS BIGINT) AS hy_q
       |  FROM micol CROSS JOIN mitot
       |)
       |SELECT n_cells, mi_q, hx_q, hy_q,
       |  CAST(mi_q AS DOUBLE) / CAST(n * 1024 AS DOUBLE) AS mi_bits,
       |  CAST(hx_q AS DOUBLE) / CAST(n * 1024 AS DOUBLE) AS hx_bits,
       |  CAST(hy_q AS DOUBLE) / CAST(n * 1024 AS DOUBLE) AS hy_bits,
       |  CAST(2.0 AS DOUBLE) * CAST(mi_q AS DOUBLE)
       |    / CAST(hx_q + hy_q AS DOUBLE) AS redundancy
       |FROM mij CROSS JOIN mihx CROSS JOIN mihy""".stripMargin
  }

  /** stat_median_ci: distribution-free confidence interval for the
    * median order value per priority — the binomial order-statistic
    * interval (the sign-test inversion: P(X₍l₎ ≤ m ≤ X₍u₎) ≥ 95% for
    * ANY continuous distribution, normal-approximated ranks
    * l = ⌈(n − z√n)/2⌉, u = n + 1 − l with z₀.₉₇₅ a source literal) —
    * the right error bar for the skewed, whale-heavy revenue
    * distributions where a mean ± 2σ band is meaningless. Rank
    * selection is deterministic under the (cents, orderkey) total
    * order; the only IEEE ops are z√n and the two floor/ceil rank
    * assemblies, stated identically in both engines.
    *
    * Scale posture: one rank window per priority partition (single
    * hash partitioning serves window + rollup), |priorities| rows out.
    * At 100 TB the exact ranks come from the same window; a sketch
    * variant would quote ±ε ranks with the identical interval form. */
  def medianCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = 1.959963984540054
    val o = Tables(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"), $"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val w = Window.partitionBy($"prio").orderBy($"cents", $"o_orderkey")
    o.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"prio")))
      .withColumn("l_rk", greatest(lit(1L),
        ceil(($"n".cast("double") - lit(z) * sqrt($"n".cast("double")))
          / lit(2.0)).cast("long")))
      .withColumn("u_rk", $"n" + 1L - $"l_rk")
      .withColumn("m_rk", expr("(n + 1) div 2"))
      .filter($"rk" === $"l_rk" || $"rk" === $"u_rk" || $"rk" === $"m_rk")
      .groupBy($"prio", $"n", $"l_rk", $"u_rk")
      .agg(
        (max(when($"rk" === $"m_rk", $"cents")).cast("double") / 100.0)
          .as("median"),
        (max(when($"rk" === $"l_rk", $"cents")).cast("double") / 100.0)
          .as("ci_lo"),
        (max(when($"rk" === $"u_rk", $"cents")).cast("double") / 100.0)
          .as("ci_hi"))
      .select($"prio".as("o_orderpriority"), $"n", $"l_rk", $"u_rk",
        $"median", $"ci_lo", $"ci_hi")
      .orderBy($"o_orderpriority")
  }

  val medianCiSql: String =
    s"""WITH mco AS (
       |  SELECT o_orderpriority AS prio, o_orderkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders
       |),
       |mcr AS (
       |  SELECT prio, cents,
       |    row_number() OVER (PARTITION BY prio
       |      ORDER BY cents, o_orderkey) AS rk,
       |    COUNT(*) OVER (PARTITION BY prio) AS n
       |  FROM mco
       |),
       |mcb AS (
       |  SELECT prio, cents, rk, CAST(n AS BIGINT) AS n,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(ceil((CAST(n AS DOUBLE)
       |        - CAST('1.959963984540054' AS DOUBLE)
       |          * sqrt(CAST(n AS DOUBLE))) / CAST(2.0 AS DOUBLE))
       |        AS BIGINT)) AS l_rk
       |  FROM mcr
       |)
       |SELECT prio AS o_orderpriority, n, l_rk, n + 1 - l_rk AS u_rk,
       |  CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN cents END) AS DOUBLE)
       |    / 100.0 AS median,
       |  CAST(MAX(CASE WHEN rk = l_rk THEN cents END) AS DOUBLE)
       |    / 100.0 AS ci_lo,
       |  CAST(MAX(CASE WHEN rk = n + 1 - l_rk THEN cents END) AS DOUBLE)
       |    / 100.0 AS ci_hi
       |FROM mcb
       |WHERE rk = l_rk OR rk = n + 1 - l_rk OR rk = (n + 1) // 2
       |GROUP BY prio, n, l_rk
       |${sqlOrderBy(Seq("o_orderpriority")).trim}""".stripMargin

  /** stat_screen_prf: the full confusion-matrix scorecard of the LPM
    * dup-risk screen — precision, recall, F1, and the Matthews
    * correlation coefficient (the balanced single number that stays
    * honest under class imbalance, where accuracy and even F1
    * flatter a majority-class screen) — completing the screen-quality
    * triptych: [[brierCalibration]] grades the probabilities,
    * [[aucLpm]] the ranking, this the 0.5-threshold decisions. The
    * four cells are exact BIGINT counts; P/R/F1 are terminal
    * divisions and MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn))
    * is assembled in doubles cast from the exact cells (the BIGINT
    * product would overflow at ~10⁵ docs per cell pair), sqrt
    * correctly rounded in both engines.
    *
    * Scale posture: rides the qualityLpm chassis — one moment pass,
    * map-only scoring, a 1-row rollup. */
  def screenPrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.llm.Curate.qualityLpm(spark, dir)
      .select($"tp", $"fp", $"tn", $"fn")
      .select($"tp", $"fp", $"tn", $"fn",
        // every denominator can be zero on a degenerate screen (tiny
        // SFs never cross the 0.5 cut) — NULL-guard identically in
        // both engines (Spark ANSI raises on /0; DuckDB does not)
        when($"tp" + $"fp" === 0L, lit(null).cast("double"))
          .otherwise($"tp".cast("double") / ($"tp" + $"fp").cast("double"))
          .as("precision"),
        when($"tp" + $"fn" === 0L, lit(null).cast("double"))
          .otherwise($"tp".cast("double") / ($"tp" + $"fn").cast("double"))
          .as("recall"),
        when($"tp" * 2L + $"fp" + $"fn" === 0L, lit(null).cast("double"))
          .otherwise(lit(2.0) * $"tp".cast("double")
            / (lit(2.0) * $"tp".cast("double")
              + $"fp".cast("double") + $"fn".cast("double"))).as("f1"),
        when(($"tp" + $"fp") * ($"tp" + $"fn")
            * ($"tn" + $"fp") * ($"tn" + $"fn") === 0L,
          lit(null).cast("double"))
          .otherwise(($"tp".cast("double") * $"tn".cast("double")
            - $"fp".cast("double") * $"fn".cast("double"))
            / sqrt(($"tp" + $"fp").cast("double")
              * ($"tp" + $"fn").cast("double")
              * ($"tn" + $"fp").cast("double")
              * ($"tn" + $"fn").cast("double"))).as("mcc"))
  }

  val screenPrfSql: String =
    s"""WITH ${graft.llm.Curate.lpmScoredSqlAll},
       |prf AS (
       |  SELECT
       |    CAST(COUNT(*) FILTER (WHERE pred_p >= CAST(0.5 AS DOUBLE)
       |      AND y = 1) AS BIGINT) AS tp,
       |    CAST(COUNT(*) FILTER (WHERE pred_p >= CAST(0.5 AS DOUBLE)
       |      AND y = 0) AS BIGINT) AS fp,
       |    CAST(COUNT(*) FILTER (WHERE pred_p < CAST(0.5 AS DOUBLE)
       |      AND y = 0) AS BIGINT) AS tn,
       |    CAST(COUNT(*) FILTER (WHERE pred_p < CAST(0.5 AS DOUBLE)
       |      AND y = 1) AS BIGINT) AS fn
       |  FROM lpm_scored
       |)
       |SELECT tp, fp, tn, fn,
       |  CASE WHEN tp + fp = 0 THEN NULL
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
       |    AS precision,
       |  CASE WHEN tp + fn = 0 THEN NULL
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       |  CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
       |    ELSE CAST(2.0 AS DOUBLE) * CAST(tp AS DOUBLE)
       |      / (CAST(2.0 AS DOUBLE) * CAST(tp AS DOUBLE)
       |        + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)) END AS f1,
       |  CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0
       |    THEN NULL
       |    ELSE (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
       |      - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
       |      / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
       |        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) END
       |    AS mcc
       |FROM prf""".stripMargin

  /** stat_cohens_kappa: chance-corrected agreement (Cohen 1960)
    * between the two independent document screens the curation stack
    * runs — the LPM dup-risk flag (pred ≥ 0.5) and the 4-rule quality
    * filter's reject verdict. Raw percent-agreement flatters two
    * screens that both pass almost everything; κ subtracts the
    * agreement their marginal rates would produce by chance, which is
    * the number that tells a pipeline whether a second screen adds
    * signal or just re-counts the first. Entirely exact integers via
    * the cross-multiplied form κ = (n·(n₁₁+n₀₀) − pe_num)/(n² − pe_num)
    * with pe_num = a₁·b₁ + (n−a₁)(n−b₁) — ONE terminal division
    * (past ~3·10⁹ docs the n² products move to DECIMAL(38,0)/HUGEINT,
    * shapes unchanged).
    *
    * Scale posture: rides the lpmScored chassis + the map-only rule
    * flags; one doc-keyed join, a 1-row rollup. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = graft.llm.Curate.lpmScored(spark, dir)
      .select($"doc_id", ($"pred_p" >= 0.5).cast("long").as("fa"))
    val b = graft.llm.Curate.filterVerdicts(spark, dir)
      .select($"doc_id", (lit(1L) - $"keep").as("fb"))
    a.join(b, "doc_id")
      .agg(count(lit(1)).as("n"),
        count_if($"fa" === 1L && $"fb" === 1L).as("n11"),
        count_if($"fa" === 0L && $"fb" === 0L).as("n00"),
        sum($"fa").as("a1"), sum($"fb").as("b1"))
      .select($"n", $"n11", $"n00", $"a1".as("flag_lpm"),
        $"b1".as("flag_rules"),
        (($"n11" + $"n00").cast("double") / $"n".cast("double")).as("po"),
        (($"a1" * $"b1" + ($"n" - $"a1") * ($"n" - $"b1")).cast("double")
          / ($"n" * $"n").cast("double")).as("pe"),
        when($"n" * $"n" ===
          $"a1" * $"b1" + ($"n" - $"a1") * ($"n" - $"b1"),
          lit(null).cast("double"))
          .otherwise(($"n" * ($"n11" + $"n00")
            - ($"a1" * $"b1" + ($"n" - $"a1") * ($"n" - $"b1")))
            .cast("double")
            / ($"n" * $"n"
              - ($"a1" * $"b1" + ($"n" - $"a1") * ($"n" - $"b1")))
              .cast("double")).as("kappa"))
  }

  val cohensKappaSql: String =
    s"""WITH ${graft.llm.Curate.lpmScoredSqlAll},
       |cka AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN pred_p >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END
       |      AS BIGINT) AS fa
       |  FROM lpm_scored
       |),
       |ckb AS (
       |  SELECT doc_id, CAST(1 - keep AS BIGINT) AS fb
       |  FROM (${graft.llm.Curate.filterVerdictsSql.replace("\n", "\n  ")}) fv
       |),
       |ckm AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(*) FILTER (WHERE fa = 1 AND fb = 1) AS BIGINT) AS n11,
       |    CAST(COUNT(*) FILTER (WHERE fa = 0 AND fb = 0) AS BIGINT) AS n00,
       |    CAST(SUM(fa) AS BIGINT) AS a1, CAST(SUM(fb) AS BIGINT) AS b1
       |  FROM cka JOIN ckb USING (doc_id)
       |)
       |SELECT n, n11, n00, a1 AS flag_lpm, b1 AS flag_rules,
       |  CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |  CAST(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE)
       |    / CAST(n * n AS DOUBLE) AS pe,
       |  CASE WHEN n * n = a1 * b1 + (n - a1) * (n - b1) THEN NULL
       |    ELSE CAST(n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1))
       |        AS DOUBLE)
       |      / CAST(n * n - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE) END
       |    AS kappa
       |FROM ckm""".stripMargin

  /** dq_fd_violations: approximate functional-dependency audit
    * (Kivinen & Mannila 1995's g₃ error; the profiling pass behind FD
    * discovery à la TANE, Huhtala et al. 1999) — for each candidate
    * rule X → Y, the minimum number of rows that must be removed for
    * the dependency to hold exactly: g₃ = N − Σ_{x∈X-groups} max_y
    * count(x, y). The DQ question this answers at 100 TB is "which
    * integrity rules does this lake ACTUALLY satisfy, and how far off
    * are the rest" — the five audited candidates span the star schema
    * and the document lake (a key-implied FD that must hold, two
    * fact-grain rules that should fail, a dimension rule, and the
    * doc-lake source→lang rule the lang-drift monitors assume).
    *
    * Exactness: pure integer counting — N, group counts, and the
    * argmax mass are exact BIGINTs; g₃_error is one terminal division;
    * `holds` is an integer equality.
    *
    * Scale posture: per FD, one (X, Y)-grain rollup (map-side
    * combined) then an |X-groups| max/sum pass — the two-level
    * aggregate shape, never a self-join; candidates are audited in one
    * union so Spark schedules them as independent stages. */
  def fdViolations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def audit(df: DataFrame, fd: String, lhs: String,
        rhs: String): DataFrame =
      // r15: group by the NATIVE column types — the string cast is
      // injective on every audited column (int keys / already-string
      // dims), so group counts are identical, and the pre-aggregation
      // shuffle carries 8-byte ints instead of their decimal-string
      // renderings (guide §2.3 narrower types). The grouped keys never
      // reach the output (each audit collapses to one row), so the
      // cross-audit union schema is unchanged.
      df.groupBy(col(lhs).as("x"), col(rhs).as("y"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy($"x").agg(max($"cnt").as("mx"), sum($"cnt").as("nx"))
        .agg(sum($"nx").as("n_rows"), count(lit(1)).as("n_lhs_groups"),
          (sum($"nx") - sum($"mx")).as("n_violations"))
        .select(lit(fd).as("fd"), $"n_rows", $"n_lhs_groups",
          $"n_violations")
    val fds = Seq(
      audit(Tables(spark, dir, "customer"),
        "customer: c_custkey -> c_nationkey", "c_custkey", "c_nationkey"),
      audit(Tables(spark, dir, "documents"),
        "documents: source -> lang", "source", "lang"),
      audit(Tables(spark, dir, "lineitem"),
        "lineitem: l_partkey -> l_suppkey", "l_partkey", "l_suppkey"),
      audit(Tables(spark, dir, "orders"),
        "orders: o_custkey -> o_orderpriority", "o_custkey",
        "o_orderpriority"),
      audit(Tables(spark, dir, "part"),
        "part: p_brand -> p_type", "p_brand", "p_type"))
    fds.reduce(_ unionByName _)
      .select($"fd", $"n_rows", $"n_lhs_groups", $"n_violations",
        ($"n_violations".cast("double") / $"n_rows".cast("double"))
          .as("g3_error"),
        ($"n_violations" === 0L).as("holds"))
      .orderBy($"fd")
  }

  val fdViolationsSql: String = {
    def audit(table: String, fd: String, lhs: String, rhs: String) =
      s"""SELECT '$fd' AS fd, CAST(SUM(nx) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
         |  CAST(SUM(nx) - SUM(mx) AS BIGINT) AS n_violations
         |FROM (
         |  SELECT x, MAX(cnt) AS mx, SUM(cnt) AS nx FROM (
         |    SELECT CAST($lhs AS VARCHAR) AS x, CAST($rhs AS VARCHAR) AS y,
         |      CAST(COUNT(*) AS BIGINT) AS cnt
         |    FROM $table GROUP BY 1, 2
         |  ) GROUP BY x
         |)""".stripMargin
    val parts = Seq(
      audit("customer", "customer: c_custkey -> c_nationkey",
        "c_custkey", "c_nationkey"),
      audit("documents", "documents: source -> lang", "source", "lang"),
      audit("lineitem", "lineitem: l_partkey -> l_suppkey",
        "l_partkey", "l_suppkey"),
      audit("orders", "orders: o_custkey -> o_orderpriority",
        "o_custkey", "o_orderpriority"),
      audit("part", "part: p_brand -> p_type", "p_brand", "p_type"))
      .mkString("\nUNION ALL\n")
    s"""SELECT fd, n_rows, n_lhs_groups, n_violations,
       |  CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE)
       |    AS g3_error,
       |  n_violations = 0 AS holds
       |FROM (
       |$parts
       |)
       |${sqlOrderBy(Seq("fd")).trim}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_fd_violations" -> fdViolations,
    "dq_completeness_profile" -> completenessProfile,
    "stat_cohens_kappa" -> cohensKappa,
    "stat_screen_prf" -> screenPrf,
    "stat_median_ci" -> medianCi,
    "stat_auc_lpm" -> aucLpm,
    "dq_mutual_info" -> mutualInfo,
    "stat_anova_f" -> anovaF,
    "stat_levene" -> levene,
    "stat_spearman" -> spearman,
    "stat_conformal" -> conformal,
    "events_conformal_gate" -> eventsConformalGate,
    "stat_brier_calibration" -> brierCalibration,
    "dq_t_closeness" -> tCloseness)

  val oracles: Map[String, String] = Map(
    "dq_fd_violations" -> fdViolationsSql,
    "dq_completeness_profile" -> completenessProfileSql,
    "stat_cohens_kappa" -> cohensKappaSql,
    "stat_screen_prf" -> screenPrfSql,
    "stat_median_ci" -> medianCiSql,
    "stat_auc_lpm" -> aucLpmSql,
    "dq_mutual_info" -> mutualInfoSql,
    "stat_anova_f" -> anovaFSql,
    "stat_levene" -> leveneSql,
    "stat_spearman" -> spearmanSql,
    "stat_conformal" -> conformalSql,
    "events_conformal_gate" -> eventsConformalGateSql,
    "stat_brier_calibration" -> brierCalibrationSql,
    "dq_t_closeness" -> tClosenessSql)
}
