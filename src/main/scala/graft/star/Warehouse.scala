package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables
import graft.Det.sqlOrderBy

/** Warehouse-analytics tier (`[EXT]`, SURVEY.md §2 extension inventory):
  * the recurring product-analytics / dimensional-modeling shapes a user
  * of the reference's medallion warehouse would reach for next — cohort
  * retention, SCD2 change capture, market-basket co-occurrence, and
  * robust outlier flagging. Each is one-to-two exchanges, partial-agg
  * friendly, and oracle-checked against an independent DuckDB
  * formulation.
  *
  * Scale posture:
  *  - retention: two shuffles (first-touch per user, then cohort cells);
  *    the user->cohort join co-partitions on user_id with the first-touch
  *    aggregate, and the output is |cohorts|x|offsets| cells.
  *  - SCD2: ONE shuffle on the business key; both window passes and the
  *    change-row filter reuse that partitioning (filter preserves
  *    distribution), so change capture over 100 TB of history is a
  *    single exchange + per-partition sorts.
  *  - basket pairs: the pair explosion is bounded by (items-per-basket)²
  *    per order — never |corpus|² — and collapses through map-side
  *    partial aggregation before any pair row crosses the wire.
  *  - outliers: group moments (n, Σx, Σx²) partial-agg to |groups| rows,
  *    broadcast back over the fact scan; the flag compares integer-exact
  *    cents arithmetic, so no variance/stddev floating-point divergence
  *    can flip a row between engines (z² in squared form — sqrt-free).
  */
object Warehouse extends graft.QueryModule {

  /** Daily purchase-cohort retention: users bucketed by the day of
    * their first purchase; a cohort cell counts the distinct users of
    * that cohort purchasing again k days later. The first-touch frame
    * and the activity frame co-partition on user_id (one shuffle), the
    * cell aggregate is a second. (Purchases, not all events — the
    * activity signal must be sparse for retention to measure anything;
    * the harness events table has every user active every day.) */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dy = Tables(spark, dir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id", date_trunc("day", $"ts").cast("date").as("dy"))
    val first = dy.groupBy($"user_id").agg(min($"dy").as("cohort_day"))
    dy.join(first, "user_id")
      .groupBy($"cohort_day",
        datediff($"dy", $"cohort_day").cast("long").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val retentionSql: String =
    s"""WITH dy AS (
       |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS dy
       |  FROM events WHERE event_type = 'purchase'
       |),
       |first AS (
       |  SELECT user_id, MIN(dy) AS cohort_day FROM dy GROUP BY user_id
       |)
       |SELECT cohort_day,
       |  CAST(date_diff('day', cohort_day, dy) AS BIGINT) AS day_offset,
       |  COUNT(DISTINCT dy.user_id) AS n_active
       |FROM dy JOIN first ON dy.user_id = first.user_id
       |GROUP BY cohort_day, day_offset${sqlOrderBy(Seq("cohort_day", "day_offset"))}""".stripMargin

  /** Cohort lifetime value — the revenue companion to [[retention]]:
    * per signup cohort (first-purchase week), cumulative revenue per
    * user as cohort age advances. THE metric behind "when does a
    * cohort pay back". Shape: one pass derives (cohort, age) cells
    * with decimal-exact revenue, then a running window over the
    * bounded cohort×age grid — raw purchases never enter the window.
    * ltv_per_user divides two exact quantities once (IEEE, both
    * engines). */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables(spark, dir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"),
        $"value")
    val first = p.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    val cells = p.join(first, "user_id")
      .groupBy($"cohort_wk",
        floor(datediff($"wk", $"cohort_wk") / 7).cast("long").as("age_wk"))
      .agg(graft.Det.xsum($"value").as("wk_revenue"))
    val sizes = first.groupBy($"cohort_wk")
      .agg(countDistinct($"user_id").as("cohort_users"))
    val w = Window.partitionBy($"cohort_wk").orderBy($"age_wk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(sizes, "cohort_wk")
      .withColumn("cum_revenue",
        sum($"wk_revenue".cast("decimal(28,5)")).over(w).cast("double"))
      .select($"cohort_wk", $"age_wk", $"cohort_users", $"wk_revenue",
        $"cum_revenue",
        ($"cum_revenue" / $"cohort_users".cast("double")).as("ltv_per_user"))
      .orderBy($"cohort_wk", $"age_wk")
  }

  val cohortLtvSql: String =
    s"""WITH p AS (
       |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk, value
       |  FROM events WHERE event_type = 'purchase'
       |),
       |first AS (
       |  SELECT user_id, MIN(wk) AS cohort_wk FROM p GROUP BY user_id
       |),
       |cells AS (
       |  SELECT cohort_wk,
       |    CAST(floor(date_diff('day', cohort_wk, wk) / 7) AS BIGINT) AS age_wk,
       |    ${graft.Det.sqlSum("value")} AS wk_revenue
       |  FROM p JOIN first USING (user_id)
       |  GROUP BY 1, 2
       |),
       |sizes AS (
       |  SELECT cohort_wk, COUNT(DISTINCT user_id) AS cohort_users
       |  FROM first GROUP BY 1
       |)
       |SELECT cells.cohort_wk, age_wk, cohort_users, wk_revenue,
       |  CAST(SUM(CAST(wk_revenue AS DECIMAL(28,5))) OVER (
       |    PARTITION BY cells.cohort_wk ORDER BY age_wk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS cum_revenue,
       |  CAST(SUM(CAST(wk_revenue AS DECIMAL(28,5))) OVER (
       |    PARTITION BY cells.cohort_wk ORDER BY age_wk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(cohort_users AS DOUBLE) AS ltv_per_user
       |FROM cells JOIN sizes USING (cohort_wk)
       |${sqlOrderBy(Seq("cells.cohort_wk", "age_wk")).trim}""".stripMargin

  /** SCD2 change capture: collapse each customer's order-priority
    * history into validity intervals [valid_from, valid_to) that open
    * whenever the tracked attribute changes, with NULL valid_to (and
    * is_current = 1) on the open interval. lag() finds change points,
    * lead() OVER THE FILTERED change rows closes each interval — both
    * windows and the filter share one hash partitioning on the business
    * key, so the whole dimension build is a single exchange. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val changes = Tables(spark, dir, "orders")
      .select($"o_custkey", $"o_orderpriority", $"o_orderdate", $"o_orderkey")
      .withColumn("prev", lag($"o_orderpriority", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"o_orderpriority")
    val w2 = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    changes
      .withColumn("valid_to", lead($"o_orderdate", 1).over(w2))
      .select($"o_custkey", $"o_orderpriority".as("priority"),
        $"o_orderdate".as("valid_from"), $"valid_to",
        $"valid_to".isNull.cast("int").as("is_current"))
      .orderBy($"o_custkey", $"valid_from", $"priority")
  }

  val scd2Sql: String =
    s"""WITH marked AS (
       |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
       |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate, o_orderkey) AS prev
       |  FROM orders
       |),
       |changes AS (
       |  SELECT * FROM marked
       |  WHERE prev IS NULL OR prev <> o_orderpriority
       |)
       |SELECT o_custkey, o_orderpriority AS priority,
       |  o_orderdate AS valid_from,
       |  lead(o_orderdate) OVER (PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
       |  CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey) IS NULL AS INTEGER) AS is_current
       |FROM changes${sqlOrderBy(Seq("o_custkey", "valid_from", "priority"))}""".stripMargin

  /** Market-basket brand co-occurrence with lift. Baskets = orders;
    * items = the distinct part brands in each order (dim join hinted
    * broadcast — `part` is a bounded dimension). The pair join is keyed
    * on the basket id, so work is Σ(brands-per-order²), never global;
    * lift = P(a,b)/(P(a)P(b)) is computed as one exact integer product
    * ratio evaluated in a single double division (cross-engine stable —
    * no per-engine probability rounding compounds). */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15: items feeds FOUR consumers (both self-join sides, the
    // singleton rollup, the order total); lazy localCheckpoint so the
    // lineitem⋈part + distinct chain builds once (hitsBipartite
    // pattern — the broadcast total/singleton builds materialize it).
    val items = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("okey"), $"p_brand").distinct()
      .localCheckpoint(false)
    val pairs = items.as("a")
      .join(items.as("b"), $"a.okey" === $"b.okey" && $"a.p_brand" < $"b.p_brand")
      .groupBy($"a.p_brand".as("brand1"), $"b.p_brand".as("brand2"))
      .agg(count(lit(1)).as("n_pair"))
    val brandN = items.groupBy($"p_brand").agg(count(lit(1)).as("nb"))
    val total = items.select(countDistinct($"okey").as("n_orders"))
    pairs
      .join(broadcast(brandN).withColumnRenamed("p_brand", "brand1")
        .withColumnRenamed("nb", "nb1"), "brand1")
      .join(broadcast(brandN).withColumnRenamed("p_brand", "brand2")
        .withColumnRenamed("nb", "nb2"), "brand2")
      .crossJoin(broadcast(total))
      .select($"brand1", $"brand2", $"n_pair",
        (($"n_pair" * $"n_orders").cast(DoubleType) /
          ($"nb1" * $"nb2").cast(DoubleType)).as("lift"))
      .orderBy($"brand1", $"brand2")
  }

  val basketPairsSql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, p_brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |),
       |pairs AS (
       |  SELECT a.p_brand AS brand1, b.p_brand AS brand2, COUNT(*) AS n_pair
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.p_brand < b.p_brand
       |  GROUP BY 1, 2
       |),
       |bn AS (SELECT p_brand, COUNT(*) AS nb FROM items GROUP BY 1),
       |tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items)
       |SELECT brand1, brand2, n_pair,
       |  CAST(n_pair * n_orders AS DOUBLE) / CAST(n1.nb * n2.nb AS DOUBLE) AS lift
       |FROM pairs
       |JOIN bn n1 ON n1.p_brand = brand1
       |JOIN bn n2 ON n2.p_brand = brand2
       |CROSS JOIN tot${sqlOrderBy(Seq("brand1", "brand2"))}""".stripMargin

  /** Directed association rules over the [[basketPairs]] co-occurrence
    * frame: for every ordered brand pair A→B co-bought in ≥3 orders,
    * support = P(A∧B), confidence = P(B|A), lift = confidence / P(B).
    * Each metric is ONE division of exact BIGINT counts (numerators
    * cleared: lift = n_pair·n_orders / (nbA·nbB)), so results are
    * bit-identical cross-engine with no float accumulation anywhere.
    * Both rule directions are emitted from the undirected pair counts by
    * a union — the pair self-join runs ONCE, not per direction.
    *
    * Scale posture: identical to basketPairs — the per-order self-join
    * is bounded by brands-per-order, pair counts partial-aggregate to
    * |brands|² rows max, and the singleton/total frames broadcast. The
    * min-support filter (HAVING on the aggregated count) is what keeps
    * the rule set bounded as orders grow: absolute-count thresholds
    * scale to min-support fractions at 100 TB. */
  def basketLiftRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15: same four-consumer items chain as basketPairs — build once.
    val items = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("okey"), $"p_brand").distinct()
      .localCheckpoint(false)
    val pairs = items.as("a")
      .join(items.as("b"), $"a.okey" === $"b.okey" && $"a.p_brand" < $"b.p_brand")
      .groupBy($"a.p_brand".as("b1"), $"b.p_brand".as("b2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter($"n_pair" >= 3)
    val directed = pairs.select($"b1".as("antecedent"), $"b2".as("consequent"), $"n_pair")
      .union(pairs.select($"b2", $"b1", $"n_pair"))
    val brandN = items.groupBy($"p_brand").agg(count(lit(1)).as("nb"))
    val total = items.select(countDistinct($"okey").as("n_orders"))
    directed
      .join(broadcast(brandN).withColumnRenamed("p_brand", "antecedent")
        .withColumnRenamed("nb", "nb_a"), "antecedent")
      .join(broadcast(brandN).withColumnRenamed("p_brand", "consequent")
        .withColumnRenamed("nb", "nb_c"), "consequent")
      .crossJoin(broadcast(total))
      .select($"antecedent", $"consequent", $"n_pair",
        ($"n_pair".cast(DoubleType) / $"n_orders".cast(DoubleType)).as("support"),
        ($"n_pair".cast(DoubleType) / $"nb_a".cast(DoubleType)).as("confidence"),
        (($"n_pair" * $"n_orders").cast(DoubleType) /
          ($"nb_a" * $"nb_c").cast(DoubleType)).as("lift"))
      .orderBy($"antecedent", $"consequent")
  }

  val basketLiftRulesSql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, p_brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |),
       |pairs AS (
       |  SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS n_pair
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.p_brand < b.p_brand
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= 3
       |),
       |directed AS (
       |  SELECT b1 AS antecedent, b2 AS consequent, n_pair FROM pairs
       |  UNION ALL
       |  SELECT b2, b1, n_pair FROM pairs
       |),
       |bn AS (SELECT p_brand, COUNT(*) AS nb FROM items GROUP BY 1),
       |tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items)
       |SELECT antecedent, consequent, CAST(n_pair AS BIGINT) AS n_pair,
       |  CAST(n_pair AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
       |  CAST(n_pair AS DOUBLE) / CAST(na.nb AS DOUBLE) AS confidence,
       |  CAST(n_pair * n_orders AS DOUBLE) / CAST(na.nb * nc.nb AS DOUBLE) AS lift
       |FROM directed
       |JOIN bn na ON na.p_brand = antecedent
       |JOIN bn nc ON nc.p_brand = consequent
       |CROSS JOIN tot${sqlOrderBy(Seq("antecedent", "consequent"))}""".stripMargin

  /** Benford first-digit audit over order prices — the forensic DQ
    * screen for fabricated or truncated monetary data (Nigrini's
    * fraud-audit standard): the leading significant digit of naturally
    * occurring amounts follows P(d) = log10(1+1/d); a feed whose
    * digit histogram departs is synthetic, clipped, or unit-mangled.
    * First digits come from the CENTS integer rendered as decimal text
    * (identical in both engines — never from float formatting); the
    * expectation constants are shared double LITERALS (no log evaluated
    * at query time — the transcendental-free house rule), and the full
    * digit spine 1–9 is materialized so absent digits still report.
    * NOTE: the harness's uniform synthetic prices are EXPECTED to flunk
    * Benford — the operator is the audit, not an assertion the fixture
    * is natural; deviations are the point.
    *
    * Scale posture: one partial-agg exchange to ≤9 digit cells; the
    * spine join is against a 9-row literal frame. */
  def dqBenford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val benford = Seq(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514).toDF("digit", "p_benford")
    val obs = Tables(spark, dir, "orders")
      .select(substring(round($"o_totalprice" * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum($"n_obs").as("n"))
    benford.join(obs, Seq("digit"), "left").na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(tot))
      .select($"digit", $"n_obs",
        ($"n_obs".cast("double") / $"n".cast("double")).as("p_obs"),
        $"p_benford",
        (($"n_obs".cast("double") / $"n".cast("double")) - $"p_benford")
          .as("deviation"))
      .orderBy($"digit")
  }

  val dqBenfordSql: String =
    s"""WITH bf0(digit, pb) AS (VALUES
       |  (1, 0.3010299956639812), (2, 0.17609125905568124),
       |  (3, 0.12493873660829992), (4, 0.09691001300805642),
       |  (5, 0.07918124604762482), (6, 0.06694678963061322),
       |  (7, 0.05799194697768673), (8, 0.05115252244738129),
       |  (9, 0.04575749056067514)),
       |bf AS (SELECT digit, CAST(pb AS DOUBLE) AS p_benford FROM bf0),
       |obs AS (
       |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       |    COUNT(*) AS n_obs
       |  FROM orders GROUP BY 1
       |),
       |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
       |SELECT bf.digit, COALESCE(obs.n_obs, 0) AS n_obs,
       |  CAST(COALESCE(obs.n_obs, 0) AS DOUBLE) / CAST(n AS DOUBLE) AS p_obs,
       |  bf.p_benford,
       |  (CAST(COALESCE(obs.n_obs, 0) AS DOUBLE) / CAST(n AS DOUBLE))
       |    - bf.p_benford AS deviation
       |FROM bf LEFT JOIN obs ON bf.digit = obs.digit CROSS JOIN tot
       |${sqlOrderBy(Seq("bf.digit")).trim}""".stripMargin

  /** 1.5σ outlier orders per priority class, decided in EXACT integer
    * arithmetic: prices live on a 2-decimal grid, so cents = round(p*100)
    * is exact in BIGINT, and the z² > (3/2)² test in cleared-fraction form
    *   4 · (n·x − S)² > 9 · (n·Q − S²),  S = Σx, Q = Σx²
    * (both sides are n²·(the usual quantities): (n·x−S)² = n²(x−μ)² and
    * n·Q−S² = n²σ²) multiplies out the mean and variance so no division, sqrt, or
    * floating accumulation exists on either engine — Spark evaluates in
    * DECIMAL(38,0), DuckDB in HUGEINT, both exact at these magnitudes
    * (documented bound: |terms| < 1e32 at 100 TB row counts). Group
    * moments partial-aggregate to |groups| rows and broadcast back over
    * the scan. (1.5σ, not 3σ: the harness prices are uniform on a
    * bounded range — max |z| ≈ √3 — so a 3σ fence can never fire; the
    * fence constant is the k²=p/q rational knob, any p/q works.) */
  def outlierZ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = DecimalType(38, 0)
    val o = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val stats = o.groupBy($"o_orderpriority".as("grp"))
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        sum($"cents".cast(dec) * $"cents".cast(dec)).as("q"))
    val lhs = {
      val d = ($"n" * $"cents" - $"s").cast(dec)
      lit(4).cast(dec) * d * d
    }
    val rhs = lit(9).cast(dec) *
      ($"n".cast(dec) * $"q" - $"s".cast(dec) * $"s".cast(dec))
    o.join(broadcast(stats), $"o_orderpriority" === $"grp")
      .filter(lhs > rhs)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val outlierZSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderpriority, o_totalprice,
       |    CAST(round(o_totalprice * 100) AS HUGEINT) AS cents
       |  FROM orders
       |),
       |stats AS (
       |  SELECT o_orderpriority AS grp, COUNT(*) AS n,
       |    SUM(cents) AS s, SUM(cents * cents) AS q
       |  FROM o GROUP BY 1
       |)
       |SELECT o_orderkey, o_orderpriority, o_totalprice
       |FROM o JOIN stats ON o_orderpriority = grp
       |WHERE 4 * (n * cents - s) * (n * cents - s) > 9 * (n * q - s * s)
       |${sqlOrderBy(Seq("o_orderkey")).trim}""".stripMargin

  /** dq_k_anonymity: k-anonymity audit (Sweeney 2002) over the
    * quasi-identifier tuple (lang, source, 100-char length bucket) of
    * the documents table — the privacy pre-flight a training-data
    * release runs: any document whose quasi-identifier equivalence
    * class has fewer than k=5 members is re-identifiable by linkage.
    * Per (lang, source) stratum: class count, the smallest class, how
    * many documents sit in sub-k classes, and the at-risk fraction.
    * All integer counts plus one terminal division.
    *
    * Scale posture: two stacked aggregations on the same keys (class
    * grain then stratum grain) — both map-side combinable; output is
    * |lang × source| rows. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val classes = graft.Tables(spark, dir, "documents")
      .select($"lang", $"source", expr("n_chars div 100").as("len_bucket"))
      .groupBy($"lang", $"source", $"len_bucket")
      .agg(count(lit(1)).as("class_size"))
    classes.groupBy($"lang", $"source")
      .agg(sum($"class_size").as("n_docs"),
        count(lit(1)).as("n_classes"),
        min($"class_size").as("k_anonymity"),
        sum(when($"class_size" < 5, $"class_size").otherwise(lit(0L)))
          .as("n_below_k"))
      .select($"lang", $"source", $"n_docs", $"n_classes", $"k_anonymity",
        $"n_below_k",
        ($"n_below_k".cast("double") / $"n_docs").as("at_risk_frac"))
      .orderBy($"lang", $"source")
  }

  val kAnonymitySql: String =
    s"""WITH classes AS (
       |  SELECT lang, source, n_chars // 100 AS len_bucket,
       |    CAST(COUNT(*) AS BIGINT) AS class_size
       |  FROM documents GROUP BY lang, source, len_bucket
       |)
       |SELECT lang, source,
       |  CAST(SUM(class_size) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_classes,
       |  CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
       |  CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
       |    AS BIGINT) AS n_below_k,
       |  CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
       |    AS DOUBLE) / SUM(class_size) AS at_risk_frac
       |FROM classes GROUP BY lang, source
       |${graft.Det.sqlOrderBy(Seq("lang", "source")).trim}""".stripMargin

  /** agg_trimmed_mean: exact 10%-trimmed and winsorized means of order
    * value per priority — the robust location estimates a revenue
    * dashboard quotes when whale orders make the plain mean useless.
    * Everything is count-based and integer-exact: rows rank by
    * (cents, orderkey) inside each priority, the trim drops the
    * bottom/top ⌊n/10⌋ ranks, winsorization clamps them to the cents
    * value at the surviving boundary ranks — no percentile
    * interpolation, no floating point until the single final division,
    * so the hash gate holds at any parallelism.
    *
    * Scale posture: one rank window per priority partition (the same
    * |rows\|-shuffle class as any per-key top-N), then a map-side
    * combined aggregate; boundary values ride a tiny per-priority
    * broadcast join. */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority").orderBy($"cents", $"o_orderkey")
    val ranked = Tables(spark, dir, "orders")
      .select($"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        $"o_orderkey")
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"o_orderpriority")))
      .withColumn("t", expr("n div 10"))
    val kept = ranked.filter($"rk" > $"t" && $"rk" <= $"n" - $"t")
    val bounds = kept.groupBy($"o_orderpriority")
      .agg(min($"cents").as("lo"), max($"cents").as("hi"))
    val trimmed = kept.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_kept"), sum($"cents").as("s_kept"))
    val winsor = ranked.join(bounds, "o_orderpriority")
      .select($"o_orderpriority",
        when($"rk" <= $"t", $"lo")
          .when($"rk" > $"n" - $"t", $"hi")
          .otherwise($"cents").as("wc"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_all"), sum($"wc").as("s_w"))
    trimmed.join(winsor, "o_orderpriority")
      .select($"o_orderpriority", $"n_all", $"n_kept",
        ($"s_kept".cast("double") / 100.0 / $"n_kept".cast("double"))
          .as("trimmed_mean"),
        ($"s_w".cast("double") / 100.0 / $"n_all".cast("double"))
          .as("winsorized_mean"))
      .orderBy($"o_orderpriority")
  }

  val trimmedMeanSql: String =
    s"""WITH tmr AS (
       |  SELECT o_orderpriority,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    o_orderkey,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
       |      AS rk,
       |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM orders
       |),
       |tmk AS (
       |  SELECT * FROM tmr WHERE rk > n // 10 AND rk <= n - n // 10
       |),
       |tmb AS (
       |  SELECT o_orderpriority, MIN(cents) AS lo, MAX(cents) AS hi,
       |    CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    CAST(SUM(cents) AS BIGINT) AS s_kept
       |  FROM tmk GROUP BY o_orderpriority
       |),
       |tmw AS (
       |  SELECT r.o_orderpriority,
       |    CAST(COUNT(*) AS BIGINT) AS n_all,
       |    CAST(SUM(CASE WHEN r.rk <= r.n // 10 THEN b.lo
       |      WHEN r.rk > r.n - r.n // 10 THEN b.hi
       |      ELSE r.cents END) AS BIGINT) AS s_w
       |  FROM tmr r JOIN tmb b ON b.o_orderpriority = r.o_orderpriority
       |  GROUP BY r.o_orderpriority
       |)
       |SELECT * FROM (
       |  SELECT b.o_orderpriority AS o_orderpriority, w.n_all, b.n_kept,
       |    CAST(b.s_kept AS DOUBLE) / 100.0 / CAST(b.n_kept AS DOUBLE)
       |      AS trimmed_mean,
       |    CAST(w.s_w AS DOUBLE) / 100.0 / CAST(w.n_all AS DOUBLE)
       |      AS winsorized_mean
       |  FROM tmb b JOIN tmw w ON w.o_orderpriority = b.o_orderpriority
       |)
       |${graft.Det.sqlOrderBy(Seq("o_orderpriority")).trim}""".stripMargin

  /** stat_gini: exact Gini coefficient of per-customer revenue within
    * each market segment — the concentration number ("do 1% of
    * customers carry the segment?") a revenue-risk dashboard tracks.
    * Uses the rank identity G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
    * over ascending-sorted integer-cent totals: every moment is an
    * exact DECIMAL(38,0)/HUGEINT integer (the rk·cents product is
    * cast BEFORE multiplying — the abCuped overflow lesson), the two
    * final expressions are the same three IEEE ops in both engines.
    * Ties rank deterministically by (cents, custkey); the rank
    * identity is tie-order invariant because tied x share one value.
    *
    * Scale posture: per-customer rollup (one map-combined groupBy),
    * then one rank window per segment — the same sort class as exact
    * percentiles; numerator/denominator reduce to six numbers per
    * segment. At 100 TB the window sorts |customers|, not |orders|. */
  def giniRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perCust = Tables(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .join(Tables(spark, dir, "customer")
        .select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"c_mktsegment").orderBy($"cents", $"c_custkey")
    perCust.withColumn("rk", row_number().over(w))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum($"cents".cast(dec)).as("sx"),
        sum($"rk".cast(dec) * $"cents".cast(dec)).as("srx"))
      .selectExpr("c_mktsegment", "n_cust",
        "CAST(sx AS DOUBLE) / 100.0 AS total_rev",
        """(2.0 * CAST(srx AS DOUBLE)
          |  - (CAST(n_cust AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
          |  / (CAST(n_cust AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini"""
          .stripMargin)
      .orderBy($"c_mktsegment")
  }

  val giniRevenueSql: String =
    s"""WITH gcu AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY o_custkey
       |),
       |gck AS (
       |  SELECT c.c_mktsegment, g.cents,
       |    row_number() OVER (PARTITION BY c.c_mktsegment
       |      ORDER BY g.cents, c.c_custkey) AS rk
       |  FROM gcu g JOIN customer c ON c.c_custkey = g.o_custkey
       |),
       |gm AS (
       |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_cust,
       |    CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
       |    CAST(SUM(CAST(rk AS HUGEINT) * cents) AS HUGEINT) AS srx
       |  FROM gck GROUP BY c_mktsegment
       |)
       |SELECT c_mktsegment, n_cust,
       |  CAST(sx AS DOUBLE) / 100.0 AS total_rev,
       |  (2.0 * CAST(srx AS DOUBLE)
       |    - (CAST(n_cust AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
       |    / (CAST(n_cust AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
       |FROM gm
       |${graft.Det.sqlOrderBy(Seq("c_mktsegment")).trim}""".stripMargin

  /** stat_hhi: Herfindahl–Hirschman concentration of revenue across
    * customers within each market segment — the antitrust-grade
    * concentration index that complements [[giniRevenue]] (HHI weights
    * the HEAD of the distribution; Gini the whole curve): HHI =
    * Σ sᵢ² = Σcᵢ² / (Σcᵢ)² over per-customer cent totals, plus the
    * effective customer count 1/HHI. Both moments are exact
    * DECIMAL(38,0)/HUGEINT integers (cᵢ cast before squaring), the
    * final expressions the same two IEEE ops per engine.
    *
    * Scale posture: the per-customer rollup is one map-combined
    * groupBy; the segment rollup needs NO rank window at all (unlike
    * Gini) — two moments per segment, output |segments| rows. */
  def hhiRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .join(Tables(spark, dir, "customer")
        .select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum($"cents".cast(dec)).as("s"),
        sum($"cents".cast(dec) * $"cents".cast(dec)).as("sq"))
      .selectExpr("c_mktsegment", "n_cust",
        """CAST(sq AS DOUBLE)
          |  / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS hhi"""
          .stripMargin,
        """(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
          |  / CAST(sq AS DOUBLE) AS effective_n""".stripMargin)
      .orderBy($"c_mktsegment")
  }

  val hhiRevenueSql: String =
    s"""WITH hcu AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY o_custkey
       |),
       |hm AS (
       |  SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_cust,
       |    CAST(SUM(CAST(g.cents AS HUGEINT)) AS HUGEINT) AS s,
       |    CAST(SUM(CAST(g.cents AS HUGEINT) * g.cents) AS HUGEINT) AS sq
       |  FROM hcu g JOIN customer c ON c.c_custkey = g.o_custkey
       |  GROUP BY c.c_mktsegment
       |)
       |SELECT c_mktsegment, n_cust,
       |  CAST(sq AS DOUBLE)
       |    / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS hhi,
       |  (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
       |    / CAST(sq AS DOUBLE) AS effective_n
       |FROM hm
       |${graft.Det.sqlOrderBy(Seq("c_mktsegment")).trim}""".stripMargin

  /** stat_skyline: the 2-D Pareto frontier (skyline operator,
    * Börzsönyi et al. ICDE 2001) over customers — points maximizing
    * total revenue while minimizing order count: the
    * whale/efficiency frontier a fraud or key-account review reads.
    * Computed in the sort-scan form the 2-D case reduces to: collapse
    * to the best (min n_orders) point per revenue value, sort by
    * revenue DESC, keep a point iff its n_orders is strictly below
    * the running min of everything richer — exactly strict dominance,
    * with ties handled by the per-revenue collapse. All integers
    * until output.
    *
    * Scale posture: skyline is distributive (the frontier of a union
    * is the frontier of per-partition frontiers), and this plan
    * exploits it for free: the per-revenue collapse partial-aggregates
    * map-side, and the single ordered window runs over at most
    * |distinct revenue values| collapsed rows, not |customers| — the
    * same sort class as exact percentiles, usually far smaller. */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
    val perX = perCust.groupBy($"cents")
      .agg(min($"n_orders").as("n_orders"), count(lit(1)).as("n_cust"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"cents".desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perX.withColumn("prev_min", min($"n_orders").over(w))
      .filter($"prev_min".isNull || $"n_orders" < $"prev_min")
      .select($"cents", ($"cents".cast("double") / 100.0).as("revenue"),
        $"n_orders", $"n_cust")
      .orderBy($"cents".desc)
  }

  val skylineSql: String =
    s"""WITH skc AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS cents,
       |    CAST(COUNT(*) AS BIGINT) AS n_orders
       |  FROM orders GROUP BY o_custkey
       |),
       |skx AS (
       |  SELECT cents, CAST(MIN(n_orders) AS BIGINT) AS n_orders,
       |    CAST(COUNT(*) AS BIGINT) AS n_cust
       |  FROM skc GROUP BY cents
       |),
       |skw AS (
       |  SELECT cents, n_orders, n_cust,
       |    MIN(n_orders) OVER (ORDER BY cents DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
       |  FROM skx
       |)
       |SELECT cents, CAST(cents AS DOUBLE) / 100.0 AS revenue,
       |  n_orders, n_cust
       |FROM skw
       |WHERE prev_min IS NULL OR n_orders < prev_min
       |ORDER BY cents DESC NULLS LAST""".stripMargin

  /** orders_abc_analysis: ABC inventory-style classification of
    * customers by cumulative revenue share — A = the head that carries
    * the first 80% of revenue, B = the next 15%, C = the tail 5%: the
    * standard key-account segmentation beside [[giniRevenue]]/
    * [[hhiRevenue]]/[[skyline]]. Class boundaries are exact integer
    * cross-multiplies (100·cumsum ≤ 80·total etc.) over cent totals —
    * no percentage double ever compares; shares divide once at output.
    * Customers rank deterministically by (cents DESC, custkey).
    *
    * Scale posture: per-customer rollup (map-combined), one global
    * rank window over |customers| (the exact-percentile sort class),
    * 3 output rows. The cumulative sum reuses the rank sort — one
    * shuffle total beyond the rollup. */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perCust = Tables(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"cents".desc, $"o_custkey")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = perCust.agg(sum($"cents".cast(dec)).as("total"))
    perCust
      .withColumn("cum", sum($"cents".cast(dec)).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when($"cum" * 100 <= $"total" * 80, "A")
          .when($"cum" * 100 <= $"total" * 95, "B")
          .otherwise("C"))
      .groupBy($"cls")
      .agg(count(lit(1)).as("n_cust"),
        sum($"cents".cast(dec)).as("class_cents"),
        first($"total").as("total"))
      .select($"cls", $"n_cust",
        ($"class_cents".cast("double") / 100.0).as("class_revenue"),
        ($"class_cents".cast("double") / $"total".cast("double"))
          .as("revenue_share"))
      .orderBy($"cls")
  }

  val abcAnalysisSql: String =
    s"""WITH abc AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY o_custkey
       |),
       |abw AS (
       |  SELECT cents,
       |    CAST(SUM(CAST(cents AS HUGEINT)) OVER (
       |      ORDER BY cents DESC, o_custkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
       |      AS cum,
       |    CAST((SELECT SUM(CAST(cents AS HUGEINT)) FROM abc) AS HUGEINT)
       |      AS total
       |  FROM abc
       |),
       |abcls AS (
       |  SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
       |    WHEN cum * 100 <= total * 95 THEN 'B' ELSE 'C' END AS cls,
       |    cents, total
       |  FROM abw
       |)
       |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_cust,
       |  CAST(CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS DOUBLE)
       |    / 100.0 AS class_revenue,
       |  CAST(CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS DOUBLE)
       |    / CAST(ANY_VALUE(total) AS DOUBLE) AS revenue_share
       |FROM abcls GROUP BY cls
       |${graft.Det.sqlOrderBy(Seq("cls")).trim}""".stripMargin

  /** orders_abc_migration: period-over-period ABC class migration of
    * PARTS — the planning review that makes [[abcAnalysis]]/`abc_xyz`
    * actionable: a static ABC label is only as good as its stability,
    * and the 4×4 migration matrix (A/B/C/None first half → second
    * half) is the standard report for "which SKUs churned out of the
    * head, which tail items are surging, how many left the assortment
    * entirely". The horizon splits at its exact SHIP-date midpoint
    * (min + ⌊span/2⌋ days — integer date arithmetic, and the date is
    * IN the fact row, so no fact⋈fact join exists); each half ranks
    * parts by revenue cents and classifies with the [[abcAnalysis]]
    * integer cross-multiply boundaries (100·cum ≤ 80·total → A,
    * ≤ 95 → B, else C); parts absent from a half class as 'N'.
    *
    * Exactness: revenue rides the house DECIMAL(28,5) exact-sum
    * convention (never round(double) — the engines round half-ulp
    * boundaries differently); both cumulative windows stay decimal;
    * class boundaries are exact decimal cross-multiplies; the matrix
    * cells are exact counts and the one double is each cell's share.
    *
    * Scale posture: ONE fact scan → (period, part) rollup (map-side
    * combined); the per-period rank is the [[abcAnalysis]]
    * exact-percentile sort class over |parts| rows (two bounded window
    * partitions; the two-level CDF rank takes over at extreme |parts|,
    * as documented there); the matrix is a ≤16-row full-outer join of
    * two |parts|-row label frames. */
  def abcMigration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the period comes from l_shipdate, IN the fact row — a 60 M x
    // 15 M orders join for a date the fact already carries was the
    // x100 rehearsal's whole shuffle bill (7.9 GB); this is zero-join
    val li = Tables(spark, dir, "lineitem")
    val span = li.agg(min(to_date($"l_shipdate")).as("d0"),
      max(to_date($"l_shipdate")).as("d1"))
      .select($"d0", expr("date_add(d0, CAST(datediff(d1, d0) div 2" +
        " AS INT))").as("mid"))
    val perPart = li.crossJoin(broadcast(span))
      .select(
        when(to_date($"l_shipdate") <= $"mid", lit(1)).otherwise(lit(2))
          .as("half"),
        $"l_partkey",
        ($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 5)).as("rev"))
      .groupBy($"half", $"l_partkey")
      .agg(sum($"rev").as("cents"))
    // r15 NOTE: checkpoints on perPart/labeled tried and reverted
    // (floor 2.60→2.97 s) — shared-exchange rationale (crostonTsb).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"half").orderBy($"cents".desc, $"l_partkey")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val tot = perPart.groupBy($"half")
      .agg(sum($"cents").as("total"))
    val labeled = perPart
      .withColumn("cum", sum($"cents").over(w))
      .join(tot, "half")
      .select($"half", $"l_partkey",
        when($"cum" * 100 <= $"total" * 80, "A")
          .when($"cum" * 100 <= $"total" * 95, "B")
          .otherwise("C").as("cls"))
    val h1 = labeled.filter($"half" === 1)
      .select($"l_partkey", $"cls".as("cls_h1"))
    val h2 = labeled.filter($"half" === 2)
      .select($"l_partkey", $"cls".as("cls_h2"))
    val cells = h1.join(h2, Seq("l_partkey"), "full_outer")
      .select(coalesce($"cls_h1", lit("N")).as("cls_h1"),
        coalesce($"cls_h2", lit("N")).as("cls_h2"))
      .groupBy($"cls_h1", $"cls_h2").agg(count(lit(1)).as("n_parts"))
    val n = cells.agg(sum($"n_parts").as("n_all"))
    cells.crossJoin(broadcast(n))
      .select($"cls_h1", $"cls_h2", $"n_parts",
        ($"n_parts".cast("double") / $"n_all".cast("double"))
          .as("share"),
        ($"cls_h1" === $"cls_h2").as("stable"))
      .orderBy($"cls_h1", $"cls_h2")
  }

  val abcMigrationSql: String =
    s"""WITH mgl AS (
       |  SELECT l_partkey, l_shipdate,
       |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,5))
       |      AS cents
       |  FROM lineitem
       |),
       |mgs AS (
       |  SELECT MIN(CAST(l_shipdate AS DATE))
       |    + CAST(datediff('day', MIN(CAST(l_shipdate AS DATE)),
       |        MAX(CAST(l_shipdate AS DATE))) // 2 AS INTEGER) AS mid
       |  FROM mgl
       |),
       |mgp AS (
       |  SELECT CASE WHEN CAST(l_shipdate AS DATE)
       |      <= (SELECT mid FROM mgs) THEN 1 ELSE 2 END AS half,
       |    l_partkey, SUM(cents) AS cents
       |  FROM mgl GROUP BY 1, 2
       |),
       |mgw AS (
       |  SELECT half, l_partkey, cents,
       |    SUM(cents) OVER (PARTITION BY half
       |      ORDER BY cents DESC, l_partkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cents) OVER (PARTITION BY half) AS total
       |  FROM mgp
       |),
       |mgc AS (
       |  SELECT half, l_partkey,
       |    CASE WHEN cum * 100 <= total * 80 THEN 'A'
       |      WHEN cum * 100 <= total * 95 THEN 'B' ELSE 'C' END AS cls
       |  FROM mgw
       |),
       |mgm AS (
       |  SELECT COALESCE(a.cls, 'N') AS cls_h1,
       |    COALESCE(b.cls, 'N') AS cls_h2
       |  FROM (SELECT l_partkey, cls FROM mgc WHERE half = 1) a
       |  FULL OUTER JOIN (SELECT l_partkey, cls FROM mgc WHERE half = 2) b
       |    ON a.l_partkey = b.l_partkey
       |),
       |mgx AS (
       |  SELECT cls_h1, cls_h2, CAST(COUNT(*) AS BIGINT) AS n_parts
       |  FROM mgm GROUP BY 1, 2
       |)
       |SELECT cls_h1, cls_h2, n_parts,
       |  CAST(n_parts AS DOUBLE)
       |    / CAST((SELECT SUM(n_parts) FROM mgx) AS DOUBLE) AS share,
       |  cls_h1 = cls_h2 AS stable
       |FROM mgx
       |${sqlOrderBy(Seq("cls_h1", "cls_h2")).trim}""".stripMargin

  /** orders_rfm_segments: RFM customer segmentation — the marketing
    * warehouse's canonical cube: every customer scored into terciles
    * of Recency (days since last order, lower better), Frequency
    * (order count) and Monetary (lifetime cents), rolled up to the 27
    * (r,f,m) cells with size and average spend. Terciles come from
    * rank cross-multiplies (t = 1 + (3·(rank−1)) div n over a
    * deterministic (metric, custkey) order) — NOT ntile(), whose
    * remainder distribution is engine-defined trivia we refuse to
    * depend on; every boundary is an exact integer comparison. The
    * recency anchor is the corpus max order date (data-derived, no
    * wall clock).
    *
    * Scale posture: one per-customer rollup, three rank windows over
    * |customers| (the exact-percentile sort class — at 100 TB these
    * three sorts ARE the cost, and they are the textbook price of
    * exact quantile segmentation), 27-row output. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val anchor = Tables(spark, dir, "orders")
      .agg(max(to_date($"o_orderdate")).as("anchor"))
    val rfm = Tables(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max(to_date($"o_orderdate")).as("last_d"),
        count(lit(1)).as("freq"),
        sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .crossJoin(broadcast(anchor))
      .select($"o_custkey", datediff($"anchor", $"last_d").as("rec_days"),
        $"freq", $"cents")
    val n = rfm.agg(count(lit(1)).as("n")).select($"n")
    val wR = org.apache.spark.sql.expressions.Window
      .orderBy($"rec_days", $"o_custkey")
    val wF = org.apache.spark.sql.expressions.Window
      .orderBy($"freq".desc, $"o_custkey")
    val wM = org.apache.spark.sql.expressions.Window
      .orderBy($"cents".desc, $"o_custkey")
    rfm
      .withColumn("rr", row_number().over(wR))
      .withColumn("rf", row_number().over(wF))
      .withColumn("rm", row_number().over(wM))
      .crossJoin(broadcast(n))
      .selectExpr("o_custkey", "rec_days", "freq", "cents",
        "1 + (3 * (rr - 1)) div n AS r_t",
        "1 + (3 * (rf - 1)) div n AS f_t",
        "1 + (3 * (rm - 1)) div n AS m_t")
      .groupBy($"r_t", $"f_t", $"m_t")
      .agg(count(lit(1)).as("n_cust"),
        sum($"cents".cast(dec)).as("seg_cents"),
        sum($"rec_days".cast("long")).as("seg_rec"),
        sum($"freq").as("seg_freq"))
      .select($"r_t", $"f_t", $"m_t", $"n_cust",
        ($"seg_cents".cast("double") / 100.0 / $"n_cust".cast("double"))
          .as("avg_monetary"),
        ($"seg_rec".cast("double") / $"n_cust".cast("double"))
          .as("avg_recency_days"),
        ($"seg_freq".cast("double") / $"n_cust".cast("double"))
          .as("avg_frequency"))
      .orderBy($"r_t", $"f_t", $"m_t")
  }

  val rfmSegmentsSql: String =
    s"""WITH rfa AS (
       |  SELECT CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS anchor
       |  FROM orders
       |),
       |rfc AS (
       |  SELECT o_custkey,
       |    CAST(datediff('day', MAX(CAST(o_orderdate AS DATE)),
       |      ANY_VALUE(a.anchor)) AS INTEGER) AS rec_days,
       |    CAST(COUNT(*) AS BIGINT) AS freq,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM orders, rfa a GROUP BY o_custkey
       |),
       |rfn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rfc),
       |rfr AS (
       |  SELECT o_custkey, rec_days, freq, cents,
       |    row_number() OVER (ORDER BY rec_days, o_custkey) AS rr,
       |    row_number() OVER (ORDER BY freq DESC, o_custkey) AS rf,
       |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS rm
       |  FROM rfc
       |),
       |rft AS (
       |  SELECT r.*,
       |    CAST(1 + (3 * (rr - 1)) // n AS BIGINT) AS r_t,
       |    CAST(1 + (3 * (rf - 1)) // n AS BIGINT) AS f_t,
       |    CAST(1 + (3 * (rm - 1)) // n AS BIGINT) AS m_t
       |  FROM rfr r, rfn
       |)
       |SELECT r_t, f_t, m_t, CAST(COUNT(*) AS BIGINT) AS n_cust,
       |  CAST(CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS DOUBLE)
       |    / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_monetary,
       |  CAST(CAST(SUM(CAST(rec_days AS BIGINT)) AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS avg_recency_days,
       |  CAST(CAST(SUM(freq) AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS avg_frequency
       |FROM rft GROUP BY r_t, f_t, m_t
       |${graft.Det.sqlOrderBy(Seq("r_t", "f_t", "m_t")).trim}""".stripMargin

  /** dq_l_diversity: distinct-l-diversity audit (Machanavajjhala et
    * al. 2007) — k-anonymity's sequel: a class of identical
    * quasi-identifiers is still unsafe if its SENSITIVE attribute is
    * (near-)uniform, because linking any member to the class reveals
    * the value. QI = (source, 100-char length bucket); sensitive =
    * lang. Per source: the worst class's distinct-lang count (its
    * l-diversity), and the fraction of documents sitting in classes
    * with l < 3 — the review queue a release gate would hold back.
    * Same one-scan two-aggregation shape as [[kAnonymity]]; both
    * aggregations are map-side-combinable and the output is
    * |sources| skinny rows at any corpus size. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val classes = graft.Tables(spark, dir, "documents")
      .select($"source", expr("n_chars div 100").as("len_bucket"), $"lang")
      .groupBy($"source", $"len_bucket")
      .agg(count(lit(1)).as("class_size"),
        countDistinct($"lang").as("l_div"))
    classes.groupBy($"source")
      .agg(sum($"class_size").as("n_docs"),
        count(lit(1)).as("n_classes"),
        min($"l_div").as("l_diversity"),
        sum(when($"l_div" < 3, $"class_size").otherwise(lit(0L)))
          .as("n_low_l"))
      .select($"source", $"n_docs", $"n_classes", $"l_diversity",
        $"n_low_l",
        ($"n_low_l".cast("double") / $"n_docs").as("at_risk_frac"))
      .orderBy($"source")
  }

  val lDiversitySql: String =
    s"""WITH lclasses AS (
       |  SELECT source, n_chars // 100 AS len_bucket,
       |    CAST(COUNT(*) AS BIGINT) AS class_size,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS l_div
       |  FROM documents GROUP BY source, len_bucket
       |)
       |SELECT source,
       |  CAST(SUM(class_size) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_classes,
       |  CAST(MIN(l_div) AS BIGINT) AS l_diversity,
       |  CAST(SUM(CASE WHEN l_div < 3 THEN class_size ELSE 0 END)
       |    AS BIGINT) AS n_low_l,
       |  CAST(SUM(CASE WHEN l_div < 3 THEN class_size ELSE 0 END)
       |    AS DOUBLE) / SUM(class_size) AS at_risk_frac
       |FROM lclasses GROUP BY source
       |${graft.Det.sqlOrderBy(Seq("source")).trim}""".stripMargin

  /** Data-quality audit in long form (check_name, n_violations): the
    * dbt-tests / Great-Expectations shape every warehouse runs before
    * publishing a table. All single-table checks on a table share ONE
    * scan (conditional aggregates, stacked to long form); referential
    * integrity is a left-anti join whose output is only the violation
    * COUNT — at 100 TB each check family is one pass and the result is
    * |checks| rows. Violations are 0 on the clean harness data, which
    * is itself the assertion: the oracle proves both engines count the
    * same violations, the spec proves a seeded-dirty frame trips each
    * check. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables(spark, dir, "orders")
    val ordersWide = o.agg(
      sum($"o_orderpriority".isNull.cast("long")).as("orders_null_priority"),
      (count(lit(1)) - countDistinct($"o_orderkey")).as("orders_dup_key"),
      sum((!$"o_orderstatus".isin("O", "F", "P")).cast("long"))
        .as("orders_bad_status"),
      sum(($"o_totalprice" <= 0).cast("long")).as("orders_negative_price"))
      .selectExpr("stack(4, " +
        "'orders_null_priority', orders_null_priority, " +
        "'orders_dup_key', orders_dup_key, " +
        "'orders_bad_status', orders_bad_status, " +
        "'orders_negative_price', orders_negative_price) " +
        "AS (check_name, n_violations)")
    val orphanCust = o
      .join(Tables(spark, dir, "customer"),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("orders_orphan_customer").as("check_name"), $"n_violations")
    val orphanOrder = Tables(spark, dir, "lineitem")
      .join(o, $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("lineitem_orphan_order").as("check_name"), $"n_violations")
    ordersWide.unionByName(orphanCust).unionByName(orphanOrder)
      .orderBy($"check_name")
  }

  val dqChecksSql: String =
    s"""SELECT check_name, n_violations FROM (
       |  SELECT 'orders_null_priority' AS check_name,
       |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_violations FROM orders
       |  UNION ALL
       |  SELECT 'orders_dup_key',
       |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
       |  UNION ALL
       |  SELECT 'orders_bad_status',
       |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM orders
       |  UNION ALL
       |  SELECT 'orders_negative_price',
       |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
       |  UNION ALL
       |  SELECT 'orders_orphan_customer',
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
       |     WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
       |  UNION ALL
       |  SELECT 'lineitem_orphan_order',
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
       |     WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
       |)${sqlOrderBy(Seq("check_name"))}""".stripMargin

  /** First-order Markov transition matrix over the event stream: count
    * (previous event type → event type) transitions within each user's
    * time-ordered history, with the conditional probability as one
    * exact-count ratio. The clickstream "what happens next" primitive.
    * One shuffle on user_id for the lag window, then a tiny
    * |types|² aggregate; the probability divides two exact longs in a
    * single IEEE division (cross-engine stable). */
  def pathMarkov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables(spark, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    val fromTotals = trans.groupBy($"prev_type")
      .agg(sum($"n_trans").as("n_from"))
    trans.join(broadcast(fromTotals), "prev_type")
      .select($"prev_type", $"next_type", $"n_trans",
        ($"n_trans".cast(DoubleType) / $"n_from".cast(DoubleType)).as("p"))
      .orderBy($"prev_type", $"next_type")
  }

  val pathMarkovSql: String =
    s"""WITH seq AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev_type
       |  FROM events
       |),
       |trans AS (
       |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
       |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |),
       |tot AS (
       |  SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
       |  FROM trans GROUP BY 1
       |)
       |SELECT prev_type, next_type, n_trans,
       |  CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
       |FROM trans JOIN tot USING (prev_type)${sqlOrderBy(Seq("prev_type", "next_type"))}""".stripMargin

  /** RFM segmentation: per customer recency (last order date),
    * frequency (order count), monetary (decimal-exact spend), each
    * quartiled by ntile(4) with a custkey tiebreak so bucket boundaries
    * are total-order deterministic in both engines.
    *
    * Scale note (honest): ntile needs a GLOBAL sort per metric — fine
    * at |customers| rows after the aggregate, but the 100 TB path
    * replaces exact quartiles with approx_percentile cutoffs (mergeable
    * sketch, no global sort) and a map-only bucket lookup; the sketch
    * machinery is in `agg_approx_percentile`. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max($"o_orderdate").as("last_order"),
        count(lit(1)).as("frequency"),
        graft.Det.xsum($"o_totalprice").as("monetary"))
    base
      .withColumn("r_score",
        ntile(4).over(Window.orderBy($"last_order".desc, $"o_custkey")))
      .withColumn("f_score",
        ntile(4).over(Window.orderBy($"frequency".desc, $"o_custkey")))
      .withColumn("m_score",
        ntile(4).over(Window.orderBy($"monetary".desc, $"o_custkey")))
      .select($"o_custkey", $"frequency", $"monetary",
        $"r_score", $"f_score", $"m_score",
        concat($"r_score", $"f_score", $"m_score").as("segment"))
      .orderBy($"o_custkey")
  }

  val rfmSql: String =
    s"""WITH base AS (
       |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
       |    COUNT(*) AS frequency,
       |    ${graft.Det.sqlSum("o_totalprice")} AS monetary
       |  FROM orders GROUP BY 1
       |)
       |SELECT o_custkey, frequency, monetary,
       |  CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS INTEGER) AS r_score,
       |  CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score,
       |  CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m_score,
       |  CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS VARCHAR)
       |    || CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS VARCHAR)
       |    || CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS VARCHAR) AS segment
       |FROM base${sqlOrderBy(Seq("o_custkey"))}""".stripMargin

  /** ABC (Pareto) classification of parts by revenue: class A covers
    * the first 70% of cumulative revenue, B to 90%, C the tail. The
    * cumulative share thresholds are decided in cleared-fraction
    * decimal form (cum·100 ≤ total·70) — no per-row percentage division
    * to drift. Same honest scale note as RFM: the running window is a
    * global sort over |parts| aggregate rows; at 100 TB the Pareto cut
    * is computed per category or from a quantile sketch of the revenue
    * distribution. */
  def abcParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = DecimalType(28, 5)
    val rev = Tables(spark, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(sum(($"l_extendedprice" * (lit(1) - $"l_discount")).cast(dec))
        .as("rev"))
    val w = Window.orderBy($"rev".desc, $"l_partkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum", sum($"rev").over(w))
      .withColumn("total", sum($"rev").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"l_partkey", $"rev".cast(DoubleType).as("revenue"),
        when($"cum" * 100 <= $"total" * 70, "A")
          .when($"cum" * 100 <= $"total" * 90, "B")
          .otherwise("C").as("abc_class"))
      .orderBy($"l_partkey")
  }

  val abcPartsSql: String =
    s"""WITH rev AS (
       |  SELECT l_partkey,
       |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,5))) AS rev
       |  FROM lineitem GROUP BY 1
       |),
       |c AS (
       |  SELECT l_partkey, rev,
       |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(rev) OVER () AS total
       |  FROM rev
       |)
       |SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue,
       |  CASE WHEN cum * 100 <= total * 70 THEN 'A'
       |       WHEN cum * 100 <= total * 90 THEN 'B'
       |       ELSE 'C' END AS abc_class
       |FROM c${sqlOrderBy(Seq("l_partkey"))}""".stripMargin

  /** parts_abc_xyz: the classic ABC/XYZ inventory segmentation grid
    * (value × demand-variability; the standard warehouse planning
    * matrix, e.g. Silver–Pyke–Peterson) — [[abcParts]]' revenue Pareto
    * classes crossed with an XYZ demand-regularity class per part:
    * CV = σ/μ of the part's MONTHLY demand over the corpus's full
    * month span (zero-demand months included — that is what makes a
    * part intermittent), X < 0.5 ≤ Y < 1.0 ≤ Z. The class boundary
    * never touches a float: with n = span months, S = Σq, Q2 = Σq²,
    * CV² = (n·Q2 − S²)/S², so X ⇔ 4·(n·Q2 − S²) < S² and
    * Y ⇔ (n·Q2 − S²) < S² — exact BIGINT comparisons in both engines
    * (the reported cv2 double is display only). The AZ/BZ corner
    * (high value, erratic demand) is exactly the population
    * [[graft.star.Calendar.croston]] forecasts; AX runs on
    * [[graft.star.Calendar.ewma]]-class smoothing — this query is the
    * router between them.
    *
    * Scale posture: one fact scan to (part, month) rows (map-side
    * combined), per-part rollups, a broadcast 1-row span scalar, and
    * the [[abcParts]] join — windows only over the |parts| grid (the
    * bounded-dimension class). */
  def abcXyz(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val demand = Tables(spark, dir, "lineitem")
      .select($"l_partkey",
        ((year(to_date($"l_shipdate")) - 1992) * 12 +
          month(to_date($"l_shipdate"))).cast("long").as("idx"),
        round($"l_quantity").cast("long").as("q"))
      .groupBy($"l_partkey", $"idx")
      .agg(sum($"q").as("mq"))
    // r15 NOTE: checkpoint tried and reverted (floor 2.29→3.33 s) —
    // the crostonTsb shared-exchange rationale.
    val span = demand.agg(countDistinct($"idx").as("n"))
    val xyz = demand.groupBy($"l_partkey")
      .agg(count(lit(1)).as("demand_months"), sum($"mq").as("s"),
        sum($"mq" * $"mq").as("q2"))
      .crossJoin(broadcast(span))
      .select($"l_partkey", $"demand_months", $"s".as("total_qty"),
        ($"n" * $"q2" - $"s" * $"s").as("cv2num"),
        ($"s" * $"s").as("cv2den"))
    abcParts(spark, dir).join(xyz, "l_partkey")
      .select($"l_partkey", $"abc_class",
        when(lit(4) * $"cv2num" < $"cv2den", "X")
          .when($"cv2num" < $"cv2den", "Y")
          .otherwise("Z").as("xyz_class"),
        $"demand_months", $"total_qty",
        ($"cv2num".cast("double") / $"cv2den".cast("double")).as("cv2"))
      .orderBy($"l_partkey")
  }

  val abcXyzSql: String =
    s"""WITH axrev AS (
       |  SELECT l_partkey,
       |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,5))) AS rev
       |  FROM lineitem GROUP BY 1
       |),
       |axabc AS (
       |  SELECT l_partkey,
       |    CASE WHEN cum * 100 <= total * 70 THEN 'A'
       |         WHEN cum * 100 <= total * 90 THEN 'B'
       |         ELSE 'C' END AS abc_class
       |  FROM (
       |    SELECT l_partkey, rev,
       |      SUM(rev) OVER (ORDER BY rev DESC, l_partkey
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |      SUM(rev) OVER () AS total
       |    FROM axrev)
       |),
       |axdem AS (
       |  SELECT l_partkey,
       |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate)
       |      AS BIGINT) AS idx,
       |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS mq
       |  FROM lineitem GROUP BY 1, 2
       |),
       |axspan AS (SELECT CAST(COUNT(DISTINCT idx) AS BIGINT) AS n FROM axdem),
       |axxyz AS (
       |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS demand_months,
       |    CAST(SUM(mq) AS BIGINT) AS s,
       |    CAST(SUM(mq * mq) AS BIGINT) AS q2
       |  FROM axdem GROUP BY l_partkey
       |)
       |SELECT a.l_partkey, a.abc_class,
       |  CASE WHEN 4 * (n * q2 - s * s) < s * s THEN 'X'
       |       WHEN (n * q2 - s * s) < s * s THEN 'Y'
       |       ELSE 'Z' END AS xyz_class,
       |  demand_months, s AS total_qty,
       |  CAST(n * q2 - s * s AS DOUBLE) / CAST(s * s AS DOUBLE) AS cv2
       |FROM axabc a JOIN axxyz x ON x.l_partkey = a.l_partkey
       |CROSS JOIN axspan${sqlOrderBy(Seq("a.l_partkey"))}""".stripMargin

  /** Sweep-line census: how many orders are OPEN (within their 7-day
    * fulfillment window) on each date the count changes. Intervals
    * become +1/−1 delta events at their endpoints; a running sum over
    * the sorted change points yields the concurrency curve — the
    * interval-census idiom that replaces an interval×day join (|orders|
    * × |days| rows) with |2·orders| deltas collapsing to |distinct
    * dates| change points before the one running window. That window
    * is bounded by the DATE RANGE, not data volume, at any scale. */
  def backlog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables(spark, dir, "orders").select(to_date($"o_orderdate").as("s"))
    val deltas = o.select($"s".as("d"), lit(1L).as("delta"))
      .unionByName(o.select(date_add($"s", 7).as("d"), lit(-1L).as("delta")))
      .groupBy($"d").agg(sum($"delta").as("net"))
    val w = Window.orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("open_orders", sum($"net").over(w))
      .select($"d", $"net", $"open_orders")
      .orderBy($"d")
  }

  val backlogSql: String =
    s"""WITH deltas AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
       |  UNION ALL
       |  SELECT CAST(o_orderdate AS DATE) + 7, -1 FROM orders
       |),
       |net AS (
       |  SELECT d, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY d
       |)
       |SELECT d, net,
       |  CAST(SUM(net) OVER (ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS open_orders
       |FROM net${sqlOrderBy(Seq("d"))}""".stripMargin

  /** Gaps-and-islands: each user's maximal runs of CONSECUTIVE active
    * days, via the classic row_number difference — day − row_number()
    * is constant exactly within a consecutive run, so one shuffle on
    * user_id turns streak detection into a plain groupBy. Output: one
    * row per streak of length ≥ 2. The idiom time-gap sessionization
    * (`events_sessionize`) cannot express: islands are defined on the
    * integer day grid, not on event spacing. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables(spark, dir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id", date_trunc("day", $"ts").cast("date").as("d"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"d")
    days
      .withColumn("grp", expr("date_sub(d, row_number() over " +
        "(partition by user_id order by d))"))
      .groupBy($"user_id", $"grp")
      .agg(min($"d").as("streak_start"), max($"d").as("streak_end"),
        count(lit(1)).as("streak_days"))
      .filter($"streak_days" >= 2)
      .select($"user_id", $"streak_start", $"streak_end", $"streak_days")
      .orderBy($"user_id", $"streak_start")
  }

  val streaksSql: String =
    s"""WITH days AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
       |  FROM events WHERE event_type = 'purchase'
       |),
       |g AS (
       |  SELECT user_id, d,
       |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER)
       |      AS grp
       |  FROM days
       |)
       |SELECT user_id, MIN(d) AS streak_start, MAX(d) AS streak_end,
       |  COUNT(*) AS streak_days
       |FROM g GROUP BY user_id, grp
       |HAVING COUNT(*) >= 2${sqlOrderBy(Seq("user_id", "streak_start"))}""".stripMargin

  /** Keyed interval-overlap join: same-customer pairs of an URGENT and
    * a LOW order whose 7-day fulfillment windows overlap, with the
    * exact overlap length. The half-open overlap predicate
    * (a.start < b.end AND b.start < a.end) composes with the customer
    * equi-key, so the join co-partitions on o_custkey and the interval
    * comparison runs only within a customer's orders — the keyed
    * interval join at scale; the KEYLESS case is what
    * [[graft.plans.BandedRangeJoinRule]] handles by bucketing. */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def windowed(prio: String) = Tables(spark, dir, "orders")
      .filter($"o_orderpriority" === prio)
      .select($"o_custkey", $"o_orderkey",
        to_date($"o_orderdate").as("s"), date_add(to_date($"o_orderdate"), 7).as("e"))
    val a = windowed("1-URGENT")
      .select($"o_custkey", $"o_orderkey".as("urgent_key"), $"s".as("a_s"), $"e".as("a_e"))
    val b = windowed("5-LOW")
      .select($"o_custkey", $"o_orderkey".as("low_key"), $"s".as("b_s"), $"e".as("b_e"))
    a.join(b, Seq("o_custkey"))
      .filter($"a_s" < $"b_e" && $"b_s" < $"a_e")
      .select($"o_custkey", $"urgent_key", $"low_key",
        datediff(least($"a_e", $"b_e"), greatest($"a_s", $"b_s")).as("overlap_days"))
      .orderBy($"o_custkey", $"urgent_key", $"low_key")
  }

  val intervalOverlapSql: String =
    s"""WITH w AS (
       |  SELECT o_custkey, o_orderkey, o_orderpriority,
       |    CAST(o_orderdate AS DATE) AS s,
       |    CAST(o_orderdate AS DATE) + 7 AS e
       |  FROM orders
       |)
       |SELECT a.o_custkey, a.o_orderkey AS urgent_key, b.o_orderkey AS low_key,
       |  CAST(date_diff('day', GREATEST(a.s, b.s), LEAST(a.e, b.e)) AS INTEGER)
       |    AS overlap_days
       |FROM w a JOIN w b
       |  ON a.o_custkey = b.o_custkey AND a.s < b.e AND b.s < a.e
       |WHERE a.o_orderpriority = '1-URGENT' AND b.o_orderpriority = '5-LOW'
       |${sqlOrderBy(Seq("a.o_custkey", "urgent_key", "low_key")).trim}""".stripMargin

  /** Point-in-time (temporal) join against the SCD2 dimension: each
    * order picks the priority version in effect on its order date —
    * `valid_from <= d < valid_to` with a NULL-open current version —
    * then revenue rolls up by that point-in-time attribute. THE reason
    * SCD2 tables exist; reports that join the current version instead
    * silently rewrite history.
    *
    * Scale posture: the validity predicate composes with the customer
    * equi key, so this plans as one co-partitioned join on o_custkey
    * (per-customer version lists are tiny); never a global interval
    * join. Versions partition [first order, ∞) per customer, so every
    * order matches exactly once — asserted in WarehouseSpec, which
    * makes the aggregate a lossless re-bucketing of total revenue. */
  def scd2Pit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = scd2(spark, dir)
      .select($"o_custkey".as("d_custkey"), $"priority",
        $"valid_from", $"valid_to")
    Tables(spark, dir, "orders")
      .join(dim,
        $"o_custkey" === $"d_custkey" &&
          $"o_orderdate" >= $"valid_from" &&
          ($"valid_to".isNull || $"o_orderdate" < $"valid_to"))
      .groupBy($"priority")
      .agg(count(lit(1)).as("n_orders"),
        graft.Det.xsum($"o_totalprice").as("revenue"))
      .orderBy($"priority")
  }

  val scd2PitSql: String =
    s"""WITH dim AS (
       |  SELECT o_custkey AS d_custkey, priority, valid_from, valid_to
       |  FROM ($scd2Sql)
       |)
       |SELECT priority, COUNT(*) AS n_orders,
       |  ${graft.Det.sqlSum("o_totalprice")} AS revenue
       |FROM orders o JOIN dim
       |  ON o.o_custkey = d_custkey
       | AND o.o_orderdate >= valid_from
       | AND (valid_to IS NULL OR o.o_orderdate < valid_to)
       |GROUP BY priority${sqlOrderBy(Seq("priority"))}""".stripMargin

  /** Robust (median/MAD) outlier fence per event type — the
    * heavy-tail-safe companion to [[outlierZ]]'s moment fence: a single
    * extreme value shifts mean and σ but not the median, so the MAD
    * fence keeps flagging while the z-fence silently widens. Both
    * medians are DISCRETE order statistics (smallest value whose
    * cumulative count reaches ceil(n/2) — the [[Aggs.percentileDisc]]
    * formulation), so every intermediate is an actual data value and
    * the whole derivation is engine-exact: no interpolation, no
    * float-accumulated variance; the only arithmetic is |v−med| and one
    * 3×MAD product, each a single IEEE op.
    *
    * Scale posture: value-level counts collapse each distribution
    * map-side before the two cumulative windows (distinct values, not
    * rows, cross the wire); the per-type med/MAD table is |types| rows
    * and broadcasts back over the scan. At 100 TB the same derivation
    * swaps the exact windows for a mergeable quantile sketch
    * (`agg_approx_percentile` machinery). */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .select($"event_type", $"value".cast("double").as("v"))
    def discMedian(df: DataFrame, in: String, out: String): DataFrame = {
      val w = Window.partitionBy($"event_type").orderBy(col(in))
      val wn = Window.partitionBy($"event_type")
      df.groupBy($"event_type", col(in))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(w))
        .withColumn("n", sum($"c").over(wn))
        .groupBy($"event_type")
        .agg(min(when($"cum" >= ceil($"n" * 0.5), col(in))).as(out))
    }
    val med = discMedian(ev, "v", "med")
    val dev = ev.join(broadcast(med), "event_type")
      .select($"event_type", abs($"v" - $"med").as("dev"))
    val mad = discMedian(dev, "dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(($"dev" > $"mad" * 3).cast("int")).as("n_outliers"))
      .join(med, "event_type").join(mad, "event_type")
      .select($"event_type", $"n_events", $"n_outliers", $"med", $"mad")
      .orderBy($"event_type")
  }

  val outlierMadSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
       |),
       |med AS (
       |  SELECT event_type,
       |    MIN(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS med
       |  FROM (
       |    SELECT event_type, v,
       |      SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
       |      SUM(c) OVER (PARTITION BY event_type) AS n
       |    FROM (SELECT event_type, v, COUNT(*) AS c FROM ev GROUP BY 1, 2)
       |  ) GROUP BY event_type
       |),
       |dev AS (
       |  SELECT ev.event_type, abs(v - med) AS dev
       |  FROM ev JOIN med ON ev.event_type = med.event_type
       |),
       |mad AS (
       |  SELECT event_type,
       |    MIN(CASE WHEN cum >= ceil(n * 0.5) THEN dev END) AS mad
       |  FROM (
       |    SELECT event_type, dev,
       |      SUM(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
       |      SUM(c) OVER (PARTITION BY event_type) AS n
       |    FROM (SELECT event_type, dev, COUNT(*) AS c FROM dev GROUP BY 1, 2)
       |  ) GROUP BY event_type
       |)
       |SELECT dev.event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers,
       |  MIN(med) AS med, MIN(mad) AS mad
       |FROM dev
       |JOIN med ON dev.event_type = med.event_type
       |JOIN mad ON dev.event_type = mad.event_type
       |GROUP BY dev.event_type${sqlOrderBy(Seq("dev.event_type"))}""".stripMargin

  /** Gini coefficient of customer spend — the revenue-concentration
    * scalar next to [[abcParts]]' Pareto classes: 0 = spend spread
    * evenly, →1 = a few whales carry the book. Exact-arithmetic form of
    * the sorted identity G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n: spends in
    * integer cents, ranks by (spend, custkey) so every product and both
    * sums are exact, then two exactly-rounded IEEE divisions and one
    * subtraction.
    *
    * Numeric bound: rank×cents sums grow ~n², so BIGINT wraps around
    * 1e18 — the rank·cents products and the n·Σcents denominator are
    * therefore carried in DECIMAL (i as DECIMAL(12,0): n ≤ 1e12
    * customers; cents as DECIMAL(24,0)), keeping every intermediate
    * exact to DECIMAL(38,0) at any realistic scale. The remaining seam
    * is the final decimal→double conversion once the exact sums pass
    * 2^53; both engines round that conversion, and the gini division
    * maps it to ~1 ulp of the result.
    *
    * Scale posture: the per-customer aggregate is the only corpus-sized
    * shuffle; the rank runs over |customers| aggregate rows. At 100 TB
    * the global rank becomes the bucketed prefix-sum used by
    * `corpus_pack` (machinery present) — the identity itself is
    * rank-based, not order-of-summation-based. */
  def spendGini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("bigint")).as("cents"))
    val ranked = spend.withColumn("i",
      row_number().over(Window.orderBy($"cents", $"o_custkey")))
    ranked.agg(
      count(lit(1)).as("n_customers"),
      (sum($"cents").cast("double") / 100).as("total_spend"),
      ((lit(2.0) * sum($"i".cast("decimal(12,0)") *
        $"cents".cast("decimal(24,0)")).cast("double")
        / (count(lit(1)).cast("decimal(12,0)") *
          sum($"cents".cast("decimal(24,0)"))).cast("double"))
        - (count(lit(1)) + lit(1)).cast("double") / count(lit(1)).cast("double"))
        .as("gini"))
  }

  val spendGiniSql: String =
    s"""WITH spend AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY o_custkey
       |),
       |ranked AS (
       |  SELECT cents,
       |    CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
       |  FROM spend
       |)
       |SELECT COUNT(*) AS n_customers,
       |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100 AS total_spend,
       |  2.0 * CAST(SUM(CAST(i AS DECIMAL(12,0)) * CAST(cents AS DECIMAL(24,0)))
       |      AS DOUBLE)
       |    / CAST(CAST(COUNT(*) AS DECIMAL(12,0)) *
       |        SUM(CAST(cents AS DECIMAL(24,0))) AS DOUBLE)
       |    - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS gini
       |FROM ranked""".stripMargin

  /** Join-key skew report — the diagnostic that DECIDES the salting /
    * AQE-skew-join question before a big join ships: per-key frequency
    * distribution of a join key (here lineitem's part key), reduced to
    * the numbers a planner acts on — hottest key and its count, exact
    * p50/p99 of the frequency distribution (discrete order statistics
    * over value-level counts, the percentile_disc formulation), and
    * the skew ratio max/avg stated as (max·n_keys)/n_rows so the only
    * float op is one IEEE division of exact BIGINTs. A ratio near 1
    * means uniform keys (safe to shuffle); tens+ means salt or let AQE
    * split.
    *
    * Scale posture: one partial-agg exchange to |keys| rows, then the
    * frequency histogram collapses to |distinct counts| rows before
    * the bounded percentile windows — the corpus is touched once. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(spark, dir, "lineitem")
      .groupBy($"l_partkey").agg(count(lit(1)).as("c"))
    val hot = counts
      .withColumn("rn", row_number().over(
        Window.orderBy($"c".desc, $"l_partkey")))
      .filter($"rn" === 1)
      .select($"l_partkey".as("hot_key"), $"c".as("max_freq"))
    val freqHist = counts.groupBy($"c").agg(count(lit(1)).as("k"))
    val wCum = Window.orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val pct = freqHist
      .withColumn("cum", sum($"k").over(wCum))
      .withColumn("tot", sum($"k").over(wAll))
      .agg(max($"tot").as("n_keys"),
        min(when($"cum" >= ceil($"tot" * 0.5), $"c")).as("p50_freq"),
        min(when($"cum" >= ceil($"tot" * 0.99), $"c")).as("p99_freq"))
    val total = counts.agg(sum($"c").as("n_rows"))
    pct.crossJoin(broadcast(hot)).crossJoin(broadcast(total))
      .select($"n_rows", $"n_keys", $"hot_key", $"max_freq",
        $"p50_freq", $"p99_freq",
        ($"max_freq" * $"n_keys").cast("double")./($"n_rows".cast("double"))
          .as("skew_ratio"))
  }

  val skewReportSql: String =
    s"""WITH counts AS (
       |  SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1
       |),
       |hot AS (
       |  SELECT l_partkey AS hot_key, c AS max_freq
       |  FROM counts ORDER BY c DESC, l_partkey LIMIT 1
       |),
       |hist AS (SELECT c, COUNT(*) AS k FROM counts GROUP BY 1),
       |cum AS (
       |  SELECT c,
       |    SUM(k) OVER (ORDER BY c) AS cum,
       |    SUM(k) OVER () AS tot
       |  FROM hist
       |),
       |pct AS (
       |  SELECT CAST(MAX(tot) AS BIGINT) AS n_keys,
       |    MIN(CASE WHEN cum >= ceil(tot * 0.5) THEN c END) AS p50_freq,
       |    MIN(CASE WHEN cum >= ceil(tot * 0.99) THEN c END) AS p99_freq
       |  FROM cum
       |),
       |total AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows FROM counts)
       |SELECT n_rows, n_keys, hot_key, max_freq, p50_freq, p99_freq,
       |  CAST(max_freq * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
       |    AS skew_ratio
       |FROM pct CROSS JOIN hot CROSS JOIN total""".stripMargin

  /** Order→ship latency distribution per priority class — the
    * fulfillment SLA readout: every lineitem's shipping delay in whole
    * days (exact integer date arithmetic) against its order date,
    * reduced to count / p50 / p90 / max per priority with the
    * value-level-count discrete-percentile pattern. Answers "does
    * 1-URGENT actually ship faster?" with order statistics rather
    * than tail-blind means.
    *
    * Scale posture: one order-keyed join shuffle (both sides project
    * to key + date first); latencies collapse to value-level counts
    * per priority (≤ a few hundred distinct day values) before the
    * bounded percentile windows. */
  def shipLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val lat = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority",
        to_date($"o_orderdate").as("od"))
      .join(Tables(spark, dir, "lineitem")
        .select($"l_orderkey", to_date($"l_shipdate").as("sd")),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_orderpriority".as("g"), datediff($"sd", $"od").as("lat"))
    val w = Window.partitionBy($"g").orderBy($"lat")
    val wn = Window.partitionBy($"g")
    lat.groupBy($"g", $"lat").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(wn))
      .groupBy($"g")
      .agg(max($"n").as("n_lines"),
        min(when($"cum" >= ceil($"n" * 0.5), $"lat")).as("p50_days"),
        min(when($"cum" >= ceil($"n" * 0.9), $"lat")).as("p90_days"),
        max($"lat").as("max_days"))
      .orderBy($"g")
  }

  val shipLatencySql: String =
    s"""WITH lat AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
       |      CAST(l_shipdate AS DATE)) AS INTEGER) AS lat
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |counts AS (SELECT g, lat, COUNT(*) AS c FROM lat GROUP BY 1, 2),
       |r AS (
       |  SELECT g, lat,
       |    SUM(c) OVER (PARTITION BY g ORDER BY lat) AS cum,
       |    SUM(c) OVER (PARTITION BY g) AS n
       |  FROM counts
       |)
       |SELECT g, CAST(MAX(n) AS BIGINT) AS n_lines,
       |  MIN(CASE WHEN cum >= ceil(n * 0.5) THEN lat END) AS p50_days,
       |  MIN(CASE WHEN cum >= ceil(n * 0.9) THEN lat END) AS p90_days,
       |  MAX(lat) AS max_days
       |FROM r GROUP BY g${sqlOrderBy(Seq("g"))}""".stripMargin

  /** A/B conversion readout with Wilson 95% score intervals — the
    * experimentation-analytics staple done deterministically: users
    * split by key parity (the reproducible hash-bucket assignment; a
    * rand() split could never be oracle-checked), conversion = share
    * of active users with a purchase, and the Wilson interval — the
    * score interval that behaves at small n and extreme p, unlike the
    * naive normal approximation — computed as a fixed IEEE sequence on
    * exact counts (z = 1.96 pinned to DOUBLE on both sides; sqrt is
    * correctly rounded in both engines). Overlapping intervals read
    * directly off the two rows.
    *
    * Scale posture: two distinct-user aggregates (user-keyed
    * exchange); everything after runs on 2 rows. */
  def abWilson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .select(($"user_id" % 2).cast("int").as("variant"), $"user_id",
        ($"event_type" === "purchase").cast("int").as("is_p"))
    val agg = ev.groupBy($"variant")
      .agg(countDistinct($"user_id").as("n_users"),
        countDistinct(when($"is_p" === 1, $"user_id")).as("n_converted"))
    val z = lit(1.96)
    val n = $"n_users".cast("double")
    val p = $"n_converted".cast("double") / n
    val half = z * sqrt(p * (lit(1.0) - p) / n + z * z / (lit(4.0) * n * n))
    val denom = lit(1.0) + z * z / n
    agg.select($"variant", $"n_users", $"n_converted",
        p.as("conv_rate"),
        ((p + z * z / (lit(2.0) * n) - half) / denom).as("wilson_low"),
        ((p + z * z / (lit(2.0) * n) + half) / denom).as("wilson_high"))
      .orderBy($"variant")
  }

  val abWilsonSql: String = {
    val z = "CAST(1.96 AS DOUBLE)"
    val n = "CAST(n_users AS DOUBLE)"
    val p = s"(CAST(n_converted AS DOUBLE) / $n)"
    val half = s"$z * sqrt($p * (CAST(1.0 AS DOUBLE) - $p) / $n" +
      s" + $z * $z / (CAST(4.0 AS DOUBLE) * $n * $n))"
    val denom = s"(CAST(1.0 AS DOUBLE) + $z * $z / $n)"
    s"""WITH agg AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS variant,
       |    COUNT(DISTINCT user_id) AS n_users,
       |    COUNT(DISTINCT CASE WHEN event_type = 'purchase'
       |      THEN user_id END) AS n_converted
       |  FROM events GROUP BY 1
       |)
       |SELECT variant, n_users, n_converted,
       |  $p AS conv_rate,
       |  (($p + $z * $z / (CAST(2.0 AS DOUBLE) * $n) - $half) / $denom)
       |    AS wilson_low,
       |  (($p + $z * $z / (CAST(2.0 AS DOUBLE) * $n) + $half) / $denom)
       |    AS wilson_high
       |FROM agg${sqlOrderBy(Seq("variant"))}""".stripMargin
  }

  /** Sample-ratio-mismatch (SRM) guardrail for the A/B assignment that
    * [[abWilson]] reads out — the first check every experimentation
    * platform runs before trusting ANY metric: with a 50/50 intended
    * split, the 2-cell chi-square statistic collapses to the exact
    * rational (n_a − n_b)²/N, so the test is ONE integer-fed division;
    * the 95% decision threshold is a shared double literal (the
    * transcendental-free house rule — no runtime distribution math).
    * An SRM hit means the assignment or logging pipeline is biased and
    * every downstream lift number is invalid — cheaper to detect here
    * than to debug a phantom experiment result.
    *
    * Scale posture: one distinct-user aggregation (map-side partial
    * over (variant, user) pairs) collapsing to 2 rows, then scalar
    * arithmetic. */
  /** events_ab_sprt: Wald's sequential probability ratio test (Wald
    * 1945) monitoring the B arm's conversion rate day by day — the
    * always-valid sequential companion of the fixed-horizon A/B tier
    * (SRM, CUPED, power): H₀ p = 1/2 vs H₁ p = 3/5, α = β = 1/20,
    * stop the day the cumulative log-likelihood ratio leaves
    * (ln(1/19), ln(19)). The peeking-safe monitor a dashboard shows
    * while a fixed-horizon test is still collecting.
    *
    * The entire test is INTEGER arithmetic in the qlog2 fixed point:
    * with rational hypotheses, per-user increments are ln(6/5) for a
    * conversion and ln(4/5) for a miss, so
    * llr_q = k·(qlog2 6 − qlog2 5) + (n−k)·(qlog2 4 − qlog2 5) is an
    * exact BIGINT of exact cumulative counts, and both decision
    * boundaries are ±ln 19 — the SAME ln2/1024 grid — so the stopping
    * rule is the integer comparison |llr_q| ≥ qlog2 19. No
    * transcendental is ever evaluated on data (the reported
    * double `llr` is one terminal ln2-literal assembly per row).
    *
    * Scale posture: one user rollup (arrival day, converted), one
    * |days|-row rollup, then a cumulative window over the bounded day
    * series — a 100 TB sequential test is one scan. */
  def abSprt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def q(c: String) = graft.llm.Curate.qlog2Spark(c)
    val u = Tables(spark, dir, "events")
      .filter($"user_id" % 2 === 1)
      .groupBy($"user_id")
      .agg(to_date(min($"ts")).as("day"),
        max(($"event_type" === "purchase").cast("int")).as("conv"))
    val byDay = u.groupBy($"day")
      .agg(count(lit(1)).as("n_d"), sum($"conv").as("k_d"))
    val w = Window.orderBy($"day") // bounded |days| series
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .select($"day", sum($"n_d").over(w).as("n_cum"),
        sum($"k_d").over(w).as("k_cum"))
      .selectExpr("day", "n_cum", "k_cum",
        s"CAST(k_cum * (${q("6")} - ${q("5")})" +
          s" + (n_cum - k_cum) * (${q("4")} - ${q("5")}) AS BIGINT) AS llr_q",
        s"""CASE WHEN k_cum * (${q("6")} - ${q("5")})
           |  + (n_cum - k_cum) * (${q("4")} - ${q("5")}) >= ${q("19")}
           |  THEN 'accept_h1'
           |WHEN k_cum * (${q("6")} - ${q("5")})
           |  + (n_cum - k_cum) * (${q("4")} - ${q("5")}) <= -${q("19")}
           |  THEN 'accept_h0'
           |ELSE 'continue' END AS decision""".stripMargin,
        "CAST(0.6931471805599453 AS DOUBLE)" +
          s" * CAST(k_cum * (${q("6")} - ${q("5")})" +
          s" + (n_cum - k_cum) * (${q("4")} - ${q("5")}) AS DOUBLE)" +
          " / CAST(1024 AS DOUBLE) AS llr")
      .orderBy($"day")
  }

  val abSprtSql: String = {
    def q(c: String) = graft.llm.Curate.qlog2Duck(c)
    val llrQ = s"k_cum * (${q("6")} - ${q("5")})" +
      s" + (n_cum - k_cum) * (${q("4")} - ${q("5")})"
    s"""WITH spu AS (
       |  SELECT user_id, CAST(MIN(ts) AS DATE) AS day,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS conv
       |  FROM events WHERE user_id % 2 = 1 GROUP BY 1
       |),
       |spd AS (
       |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_d,
       |    CAST(SUM(conv) AS BIGINT) AS k_d
       |  FROM spu GROUP BY 1
       |),
       |spc AS (
       |  SELECT day,
       |    CAST(SUM(n_d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum,
       |    CAST(SUM(k_d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND CURRENT ROW) AS BIGINT) AS k_cum
       |  FROM spd
       |)
       |SELECT day, n_cum, k_cum,
       |  CAST($llrQ AS BIGINT) AS llr_q,
       |  CASE WHEN $llrQ >= ${q("19")} THEN 'accept_h1'
       |  WHEN $llrQ <= -${q("19")} THEN 'accept_h0'
       |  ELSE 'continue' END AS decision,
       |  CAST(0.6931471805599453 AS DOUBLE) * CAST($llrQ AS DOUBLE)
       |    / CAST(1024 AS DOUBLE) AS llr
       |FROM spc
       |${sqlOrderBy(Seq("day")).trim}""".stripMargin
  }

  def abSrm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byVariant = Tables(spark, dir, "events")
      .select(($"user_id" % 2).cast("int").as("variant"), $"user_id")
      .groupBy($"variant").agg(countDistinct($"user_id").as("n_users"))
    val one = byVariant.agg(
      sum(when($"variant" === 0, $"n_users").otherwise(0L)).as("n_a"),
      sum(when($"variant" === 1, $"n_users").otherwise(0L)).as("n_b"))
    val n = ($"n_a" + $"n_b").cast("double")
    val chi2 = (($"n_a" - $"n_b") * ($"n_a" - $"n_b")).cast("double") / n
    one.select($"n_a", $"n_b",
      ($"n_a".cast("double") / n).as("split_ratio"),
      chi2.as("srm_chi2"),
      (chi2 > 3.841458820694124).cast("int").as("srm_flag"))
  }

  val abSrmSql: String =
    s"""WITH bv AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS variant,
       |    COUNT(DISTINCT user_id) AS n_users
       |  FROM events GROUP BY 1
       |),
       |one AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN variant = 0 THEN n_users ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN variant = 1 THEN n_users ELSE 0 END) AS BIGINT) AS n_b
       |  FROM bv
       |)
       |SELECT n_a, n_b,
       |  CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS split_ratio,
       |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
       |    / CAST(n_a + n_b AS DOUBLE) AS srm_chi2,
       |  CAST(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
       |    / CAST(n_a + n_b AS DOUBLE) > 3.841458820694124 AS INTEGER) AS srm_flag
       |FROM one""".stripMargin

  /** events_ab_cuped: CUPED variance reduction (Deng, Xu, Kohavi &
    * Walker 2013, "Improving the Sensitivity of Online Controlled
    * Experiments by Utilizing Pre-Experiment Data") — the adjustment
    * every mature experimentation platform applies before reading a
    * metric. Per user: covariate x = non-purchase engagement cents
    * (view/click value — the pre-exposure proxy this fixture affords),
    * outcome y = purchase cents; variant = user_id % 2 (the
    * `events_ab_srm` assignment). θ = cov(x,y)/var(x) is estimated
    * POOLED (the standard practice — a per-variant θ leaks the
    * treatment effect into the adjustment), and each variant reports
    * mean(y) and the adjusted mean(y) − θ·(mean(x) − mean_pool(x)).
    * All moments are exact DECIMAL(38,0) sums of integer-cent products
    * (the `stat_ols_brand` discipline), so θ and both means are
    * bit-identical across engines; the only floating steps are the
    * final few IEEE operations on exactly-agreed inputs.
    *
    * Scale posture: one per-user aggregation (map-side combined), then
    * |users| rows collapse to one moment row + two variant rows —
    * broadcast-joined back. No skew (user_id keys), no window. */
  def abCuped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = DecimalType(38, 0)
    val perUser = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(
        sum(when($"event_type".isin("view", "click"),
          round($"value" * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when($"event_type" === "purchase",
          round($"value" * 100).cast("long")).otherwise(0L)).as("y"))
      .select(($"user_id" % 2).cast("int").as("variant"), $"x", $"y")
    val pool = perUser.agg(
        count(lit(1)).as("n"),
        sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
        // cast an operand BEFORE the multiply: x*y in LONG wraps for
        // cents products near 2^63 while the oracle multiplies in
        // HUGEINT — decimal(38,0)*decimal keeps the moment exact
        sum($"x".cast(dec) * $"y".cast(dec)).as("sxy"),
        sum($"x".cast(dec) * $"x".cast(dec)).as("sxx"))
      .select($"n".cast("double").as("nd"),
        $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"),
        $"sxy".cast("double").as("sxyd"), $"sxx".cast("double").as("sxxd"))
      .select($"nd", ($"sxd" / $"nd").as("xbar"),
        (($"nd" * $"sxyd" - $"sxd" * $"syd") /
          ($"nd" * $"sxxd" - $"sxd" * $"sxd")).as("theta"))
    val byVariant = perUser.groupBy($"variant")
      .agg(count(lit(1)).as("n_users"),
        sum($"x".cast(dec)).as("vx"), sum($"y".cast(dec)).as("vy"))
      .select($"variant", $"n_users",
        ($"vx".cast("double") / $"n_users".cast("double")).as("mean_x"),
        ($"vy".cast("double") / $"n_users".cast("double")).as("mean_y"))
    byVariant.crossJoin(broadcast(pool))
      .select($"variant", $"n_users", $"mean_y", $"theta",
        ($"mean_y" - $"theta" * ($"mean_x" - $"xbar")).as("mean_y_cuped"))
      .orderBy($"variant")
  }

  val abCupedSql: String =
    s"""WITH pu AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS variant,
       |    CAST(SUM(CASE WHEN event_type IN ('view', 'click')
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS x,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS y
       |  FROM events GROUP BY user_id
       |),
       |pool AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
       |    CAST(CAST(SUM(x) AS HUGEINT) AS DOUBLE) AS sxd,
       |    CAST(CAST(SUM(y) AS HUGEINT) AS DOUBLE) AS syd,
       |    CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
       |      AS sxyd,
       |    CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS DOUBLE)
       |      AS sxxd
       |  FROM pu
       |),
       |theta AS (
       |  SELECT nd, sxd / nd AS xbar,
       |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS theta
       |  FROM pool
       |),
       |bv AS (
       |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
       |    CAST(CAST(SUM(x) AS HUGEINT) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS mean_x,
       |    CAST(CAST(SUM(y) AS HUGEINT) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS mean_y
       |  FROM pu GROUP BY variant
       |)
       |SELECT variant, n_users, mean_y, theta,
       |  mean_y - theta * (mean_x - xbar) AS mean_y_cuped
       |FROM bv CROSS JOIN theta${sqlOrderBy(Seq("variant"))}""".stripMargin

  /** events_ab_delta_ratio: delta-method variance for the RATIO metric
    * "purchase revenue per event" in the A/B experiment — the fix for
    * the classic analysis-unit mismatch (Deng, Knoblich, Lu, KDD 2018
    * "Applying the Delta Method in Metric Analytics"): the metric's
    * denominator (events) is not the randomization unit (users), so
    * the naive per-event variance is wrong; the correct first-order
    * variance of R̂ = ΣY/ΣS treats per-user (Y_u, S_u) as the iid unit:
    * Var(R̂) ≈ (σ²_Y − 2R·σ_YS + R²·σ²_S) / (n·S̄²). Per-user sums are
    * exact integer cents / counts, all five moments accumulate in
    * DECIMAL(38,0)/HUGEINT (map-side combinable, order-free), and the
    * ratio, variance, and standard error are one fixed-shape terminal
    * IEEE assembly per variant (sqrt is IEEE-correctly-rounded — the
    * [[graft.star.Aggs]] moment-stats precedent).
    *
    * Scale posture: one user-keyed rollup (the experiment's natural
    * key), then a |variants|-row moment aggregate — a 100 TB ratio
    * metric with valid error bars is one shuffle. */
  def abDeltaRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = DecimalType(38, 0)
    val perUser = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(
        sum(when($"event_type" === "purchase",
          round($"value" * 100).cast("long")).otherwise(0L)).as("y"),
        count(lit(1)).as("s"))
      .select(($"user_id" % 2).cast("int").as("variant"), $"y", $"s")
    perUser.groupBy($"variant")
      .agg(count(lit(1)).as("n_users"),
        sum($"y".cast(dec)).as("sy"), sum($"s".cast(dec)).as("ss"),
        sum($"y".cast(dec) * $"y".cast(dec)).as("syy"),
        sum($"s".cast(dec) * $"s".cast(dec)).as("sss"),
        sum($"y".cast(dec) * $"s".cast(dec)).as("sys"))
      .select($"variant", $"n_users",
        $"n_users".cast("double").as("nd"),
        $"sy".cast("double").as("syd"), $"ss".cast("double").as("ssd"),
        $"syy".cast("double").as("syyd"), $"sss".cast("double").as("sssd"),
        $"sys".cast("double").as("sysd"))
      .select($"variant", $"n_users",
        ($"syd" / $"ssd").as("ratio_cents_per_event"),
        ((($"nd" * $"syyd" - $"syd" * $"syd")
          / ($"nd" * ($"nd" - lit(1.0)))
          - lit(2.0) * ($"syd" / $"ssd")
            * (($"nd" * $"sysd" - $"syd" * $"ssd")
              / ($"nd" * ($"nd" - lit(1.0))))
          + ($"syd" / $"ssd") * ($"syd" / $"ssd")
            * (($"nd" * $"sssd" - $"ssd" * $"ssd")
              / ($"nd" * ($"nd" - lit(1.0)))))
          / ($"nd" * ($"ssd" / $"nd") * ($"ssd" / $"nd")))
          .as("var_delta"),
        sqrt((($"nd" * $"syyd" - $"syd" * $"syd")
          / ($"nd" * ($"nd" - lit(1.0)))
          - lit(2.0) * ($"syd" / $"ssd")
            * (($"nd" * $"sysd" - $"syd" * $"ssd")
              / ($"nd" * ($"nd" - lit(1.0))))
          + ($"syd" / $"ssd") * ($"syd" / $"ssd")
            * (($"nd" * $"sssd" - $"ssd" * $"ssd")
              / ($"nd" * ($"nd" - lit(1.0)))))
          / ($"nd" * ($"ssd" / $"nd") * ($"ssd" / $"nd")))
          .as("se_delta"))
      .orderBy($"variant")
  }

  val abDeltaRatioSql: String =
    s"""WITH dpu AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS variant,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS y,
       |    CAST(COUNT(*) AS BIGINT) AS s
       |  FROM events GROUP BY user_id
       |),
       |dm AS (
       |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
       |    CAST(COUNT(*) AS DOUBLE) AS nd,
       |    CAST(CAST(SUM(y) AS HUGEINT) AS DOUBLE) AS syd,
       |    CAST(CAST(SUM(s) AS HUGEINT) AS DOUBLE) AS ssd,
       |    CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
       |      AS syyd,
       |    CAST(CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) AS DOUBLE)
       |      AS sssd,
       |    CAST(CAST(SUM(CAST(y AS HUGEINT) * s) AS HUGEINT) AS DOUBLE)
       |      AS sysd
       |  FROM dpu GROUP BY variant
       |)
       |SELECT variant, n_users,
       |  syd / ssd AS ratio_cents_per_event,
       |  ((nd * syyd - syd * syd) / (nd * (nd - CAST(1.0 AS DOUBLE)))
       |    - CAST(2.0 AS DOUBLE) * (syd / ssd)
       |      * ((nd * sysd - syd * ssd) / (nd * (nd - CAST(1.0 AS DOUBLE))))
       |    + (syd / ssd) * (syd / ssd)
       |      * ((nd * sssd - ssd * ssd) / (nd * (nd - CAST(1.0 AS DOUBLE)))))
       |    / (nd * (ssd / nd) * (ssd / nd)) AS var_delta,
       |  sqrt(((nd * syyd - syd * syd) / (nd * (nd - CAST(1.0 AS DOUBLE)))
       |    - CAST(2.0 AS DOUBLE) * (syd / ssd)
       |      * ((nd * sysd - syd * ssd) / (nd * (nd - CAST(1.0 AS DOUBLE))))
       |    + (syd / ssd) * (syd / ssd)
       |      * ((nd * sssd - ssd * ssd) / (nd * (nd - CAST(1.0 AS DOUBLE)))))
       |    / (nd * (ssd / nd) * (ssd / nd))) AS se_delta
       |FROM dm${sqlOrderBy(Seq("variant"))}""".stripMargin

  /** events_ab_power: the experiment sizing scorecard — two-proportion
    * conversion readout with the minimum detectable effect at the
    * CURRENT sample size and the required per-arm n for the OBSERVED
    * effect (α = 0.05 two-sided, power = 0.80 — the industry default
    * pair). The normal quantiles are compile-time literals
    * (z₀.₉₇₅ = 1.959963984540054, z₀.₈ = 0.8416212335729143) stated
    * identically in both engines — the house transcendental-free rule:
    * the CDF inversion happens once in the source text, never at run
    * time. Conversion = user has ≥1 purchase; counts are exact BIGINT;
    * MDE = (z_α/2+z_β)·√(p̄(1−p̄)(1/n₀+1/n₁)) and
    * n_req = (z_α/2+z_β)²·2·p̄(1−p̄)/Δ² are terminal IEEE assemblies,
    * with the degenerate cases (p̄ ∈ {0,1} or Δ = 0, where the formula
    * divides by zero) guarded to NULL by the same CASE in both
    * engines.
    *
    * Scale posture: one user-keyed rollup then a 2-row variant
    * aggregate folded to ONE row — a 100 TB power analysis is one
    * scan. */
  def abPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(max(($"event_type" === "purchase").cast("long")).as("conv"))
      .select(($"user_id" % 2).cast("int").as("variant"), $"conv")
    perUser.agg(
      count_if($"variant" === 0).as("n0"),
      count_if($"variant" === 1).as("n1"),
      sum(when($"variant" === 0, $"conv").otherwise(0L)).as("c0"),
      sum(when($"variant" === 1, $"conv").otherwise(0L)).as("c1"))
      .select($"n0", $"n1", $"c0", $"c1",
        ($"c0".cast("double") / $"n0".cast("double")).as("p0"),
        ($"c1".cast("double") / $"n1".cast("double")).as("p1"),
        (($"c0" + $"c1").cast("double") / ($"n0" + $"n1").cast("double"))
          .as("p_pool"))
      .withColumn("diff", $"p1" - $"p0")
      .withColumn("mde_abs",
        lit(zSum) * sqrt($"p_pool" * (lit(1.0) - $"p_pool")
          * (lit(1.0) / $"n0".cast("double")
            + lit(1.0) / $"n1".cast("double"))))
      .withColumn("n_req_per_arm",
        when($"diff" === 0.0 || $"p_pool" === 0.0 || $"p_pool" === 1.0,
          lit(null).cast("double"))
          .otherwise(lit(zSum2) * lit(2.0)
            * $"p_pool" * (lit(1.0) - $"p_pool")
            / ($"diff" * $"diff")))
  }

  /** stat_effect_sizes: standardized effect size of the A/B revenue
    * difference — Cohen's d over per-user purchase revenue with the
    * Hedges' g small-sample correction (Hedges 1981, the exact-ratio
    * approximation g = d·(1 − 3/(4N−9))) — the magnitude readout that
    * makes experiment results comparable across metrics and scales,
    * beside the significance ([[permutationTest]]) and sizing
    * ([[abPower]]) legs. All five moments are exact
    * DECIMAL(38,0)/HUGEINT integer cents; the pooled SD, d, and g are
    * one fixed-shape terminal IEEE assembly.
    *
    * Scale posture: one user-keyed rollup, one 2-row variant moment
    * aggregate, one output row. */
  def effectSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = DecimalType(38, 0)
    val m = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
        round($"value" * 100).cast("long")).otherwise(0L)).as("y"))
      .select(($"user_id" % 2).cast("int").as("variant"), $"y")
      .groupBy($"variant")
      .agg(count(lit(1)).as("n"), sum($"y".cast(dec)).as("s"),
        sum($"y".cast(dec) * $"y".cast(dec)).as("ss"))
    m.agg(
      max(when($"variant" === 0, $"n")).as("n0"),
      max(when($"variant" === 1, $"n")).as("n1"),
      max(when($"variant" === 0, $"s".cast("double"))).as("s0"),
      max(when($"variant" === 1, $"s".cast("double"))).as("s1"),
      max(when($"variant" === 0, $"ss".cast("double"))).as("q0"),
      max(when($"variant" === 1, $"ss".cast("double"))).as("q1"))
      .select($"n0", $"n1",
        ($"s0" / $"n0".cast("double")).as("mean0_cents"),
        ($"s1" / $"n1".cast("double")).as("mean1_cents"),
        sqrt(((($"q0" - $"s0" * $"s0" / $"n0".cast("double"))
          + ($"q1" - $"s1" * $"s1" / $"n1".cast("double")))
          / ($"n0" + $"n1" - 2L).cast("double"))).as("sd_pool_cents"))
      .withColumn("cohens_d",
        ($"mean1_cents" - $"mean0_cents") / $"sd_pool_cents")
      .withColumn("hedges_g",
        $"cohens_d" * (lit(1.0) - lit(3.0)
          / (lit(4.0) * ($"n0" + $"n1").cast("double") - lit(9.0))))
  }

  val effectSizesSql: String =
    s"""WITH esu AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS variant,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS y
       |  FROM events GROUP BY user_id
       |),
       |esm AS (
       |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(CAST(SUM(y) AS HUGEINT) AS DOUBLE) AS s,
       |    CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
       |      AS ss
       |  FROM esu GROUP BY variant
       |),
       |esw AS (
       |  SELECT
       |    MAX(CASE WHEN variant = 0 THEN n END) AS n0,
       |    MAX(CASE WHEN variant = 1 THEN n END) AS n1,
       |    MAX(CASE WHEN variant = 0 THEN s END) AS s0,
       |    MAX(CASE WHEN variant = 1 THEN s END) AS s1,
       |    MAX(CASE WHEN variant = 0 THEN ss END) AS q0,
       |    MAX(CASE WHEN variant = 1 THEN ss END) AS q1
       |  FROM esm
       |),
       |esd AS (
       |  SELECT n0, n1,
       |    s0 / CAST(n0 AS DOUBLE) AS mean0_cents,
       |    s1 / CAST(n1 AS DOUBLE) AS mean1_cents,
       |    sqrt(((q0 - s0 * s0 / CAST(n0 AS DOUBLE))
       |      + (q1 - s1 * s1 / CAST(n1 AS DOUBLE)))
       |      / CAST(n0 + n1 - 2 AS DOUBLE)) AS sd_pool_cents
       |  FROM esw
       |)
       |SELECT n0, n1, mean0_cents, mean1_cents, sd_pool_cents,
       |  (mean1_cents - mean0_cents) / sd_pool_cents AS cohens_d,
       |  (mean1_cents - mean0_cents) / sd_pool_cents
       |    * (CAST(1.0 AS DOUBLE) - CAST(3.0 AS DOUBLE)
       |      / (CAST(4.0 AS DOUBLE) * CAST(n0 + n1 AS DOUBLE)
       |        - CAST(9.0 AS DOUBLE))) AS hedges_g
       |FROM esd""".stripMargin

  /** stat_welch_ttest: Welch's unequal-variance two-sample t-test
    * (Welch 1947) on per-user purchase revenue between the A/B arms —
    * the CONTINUOUS-metric significance leg the experimentation tier
    * reads beside the proportion tests ([[abWilson]]) and the
    * magnitude readout ([[effectSizes]], which shares this exact
    * moment frame): revenue is the metric experiments actually decide
    * on, and pooled-variance Student t is wrong under the variance
    * imbalance a treatment typically induces. t = Δmean/√(v₀/n₀+v₁/n₁)
    * with Welch–Satterthwaite df = (v₀/n₀+v₁/n₁)² / ((v₀/n₀)²/(n₀−1) +
    * (v₁/n₁)²/(n₁−1)).
    *
    * Exactness: the five moments per arm are exact DECIMAL(38,0)/
    * HUGEINT integer cents ([[effectSizes]] discipline); t and df are
    * one fixed-shape terminal IEEE assembly written operation-for-
    * operation identically in both engines.
    *
    * Scale posture: one user-keyed rollup (map-side combined), one
    * 2-row moment aggregate, one output row — a 100 TB t-test is one
    * scan. */
  def welchTTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = DecimalType(38, 0)
    val m = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
        round($"value" * 100).cast("long")).otherwise(0L)).as("y"))
      .select(($"user_id" % 2).cast("int").as("variant"), $"y")
      .groupBy($"variant")
      .agg(count(lit(1)).as("n"), sum($"y".cast(dec)).as("s"),
        sum($"y".cast(dec) * $"y".cast(dec)).as("ss"))
    m.agg(
      max(when($"variant" === 0, $"n")).as("n0"),
      max(when($"variant" === 1, $"n")).as("n1"),
      max(when($"variant" === 0, $"s".cast("double"))).as("s0"),
      max(when($"variant" === 1, $"s".cast("double"))).as("s1"),
      max(when($"variant" === 0, $"ss".cast("double"))).as("q0"),
      max(when($"variant" === 1, $"ss".cast("double"))).as("q1"))
      .select($"n0", $"n1",
        ($"s0" / $"n0".cast("double")).as("mean0_cents"),
        ($"s1" / $"n1".cast("double")).as("mean1_cents"),
        (($"q0" - $"s0" * $"s0" / $"n0".cast("double"))
          / ($"n0" - 1L).cast("double") / $"n0".cast("double")).as("se0sq"),
        (($"q1" - $"s1" * $"s1" / $"n1".cast("double"))
          / ($"n1" - 1L).cast("double") / $"n1".cast("double")).as("se1sq"))
      .select($"n0", $"n1", $"mean0_cents", $"mean1_cents",
        (($"mean1_cents" - $"mean0_cents") / sqrt($"se0sq" + $"se1sq"))
          .as("t_stat"),
        ((($"se0sq" + $"se1sq") * ($"se0sq" + $"se1sq"))
          / ($"se0sq" * $"se0sq" / ($"n0" - 1L).cast("double")
            + $"se1sq" * $"se1sq" / ($"n1" - 1L).cast("double")))
          .as("welch_df"))
  }

  val welchTTestSql: String =
    s"""WITH wtu AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS variant,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS y
       |  FROM events GROUP BY user_id
       |),
       |wtm AS (
       |  -- HUGEINT -> DOUBLE routes through VARCHAR: DuckDB's two-limb
       |  -- direct cast double-rounds past 2^64, while Spark's
       |  -- Decimal.toDouble is correctly rounded (house rule; the
       |  -- bassDiffusionSql precedent)
       |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(CAST(CAST(SUM(y) AS HUGEINT) AS VARCHAR) AS DOUBLE) AS s,
       |    CAST(CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) AS ss
       |  FROM wtu GROUP BY variant
       |),
       |wtw AS (
       |  SELECT
       |    MAX(CASE WHEN variant = 0 THEN n END) AS n0,
       |    MAX(CASE WHEN variant = 1 THEN n END) AS n1,
       |    MAX(CASE WHEN variant = 0 THEN s END) AS s0,
       |    MAX(CASE WHEN variant = 1 THEN s END) AS s1,
       |    MAX(CASE WHEN variant = 0 THEN ss END) AS q0,
       |    MAX(CASE WHEN variant = 1 THEN ss END) AS q1
       |  FROM wtm
       |),
       |wtd AS (
       |  SELECT n0, n1,
       |    s0 / CAST(n0 AS DOUBLE) AS mean0_cents,
       |    s1 / CAST(n1 AS DOUBLE) AS mean1_cents,
       |    (q0 - s0 * s0 / CAST(n0 AS DOUBLE))
       |      / CAST(n0 - 1 AS DOUBLE) / CAST(n0 AS DOUBLE) AS se0sq,
       |    (q1 - s1 * s1 / CAST(n1 AS DOUBLE))
       |      / CAST(n1 - 1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS se1sq
       |  FROM wtw
       |)
       |SELECT n0, n1, mean0_cents, mean1_cents,
       |  (mean1_cents - mean0_cents) / sqrt(se0sq + se1sq) AS t_stat,
       |  ((se0sq + se1sq) * (se0sq + se1sq))
       |    / (se0sq * se0sq / CAST(n0 - 1 AS DOUBLE)
       |      + se1sq * se1sq / CAST(n1 - 1 AS DOUBLE)) AS welch_df
       |FROM wtd""".stripMargin

  /** stat_mcnemar: McNemar's test for PAIRED binary outcomes (McNemar
    * 1947, Edwards continuity correction) — did each user's conversion
    * behavior CHANGE between two matched exposures? The pairing is
    * within-user: outcome 1 = converted on an even event_id exposure,
    * outcome 2 = converted on an odd one (the deterministic split
    * convention; production pairs before/after a launch). Only the
    * discordant cells carry information: χ² = (|b−c|−1)²/(b+c) on 1 df,
    * where b = #(1→0) and c = #(0→1) — the within-subject design the
    * independent-sample tests ([[abWilson]], [[welchTTest]]) cannot
    * grade because the two outcomes share each user's baseline.
    *
    * Exactness: the 2×2 concordance cells are exact BIGINT counts; the
    * continuity-corrected numerator (max(|b−c|−1, 0))² stays integer
    * (the max(·,0) clamp pins the b=c case to 0 rather than Edwards'
    * degenerate 1); the statistic is ONE terminal division, CASE-
    * guarded to NULL when b+c = 0 identically in both engines.
    *
    * Scale posture: one user-keyed rollup (map-side combined), one
    * 4-cell aggregate, one output row. */
  def mcnemar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(
        max(($"event_type" === "purchase" && $"event_id" % 2 === 0)
          .cast("int")).as("x1"),
        max(($"event_type" === "purchase" && $"event_id" % 2 === 1)
          .cast("int")).as("x2"))
      .agg(
        count_if($"x1" === 1 && $"x2" === 1).as("n11"),
        count_if($"x1" === 1 && $"x2" === 0).as("b"),
        count_if($"x1" === 0 && $"x2" === 1).as("c"),
        count_if($"x1" === 0 && $"x2" === 0).as("n00"))
    cells.selectExpr("n11", "b", "c", "n00",
      """CASE WHEN b + c = 0 THEN CAST(NULL AS DOUBLE)
        |  ELSE CAST(greatest(abs(b - c) - 1, 0)
        |    * greatest(abs(b - c) - 1, 0) AS DOUBLE)
        |    / CAST(b + c AS DOUBLE)
        |END AS chi2_cc""".stripMargin.replace("\n", ""))
  }

  val mcnemarSql: String =
    s"""WITH mnu AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase' AND event_id % 2 = 0
       |      THEN 1 ELSE 0 END) AS x1,
       |    MAX(CASE WHEN event_type = 'purchase' AND event_id % 2 = 1
       |      THEN 1 ELSE 0 END) AS x2
       |  FROM events GROUP BY user_id
       |),
       |mnc AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN x1 = 1 AND x2 = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n11,
       |    CAST(SUM(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c,
       |    CAST(SUM(CASE WHEN x1 = 0 AND x2 = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n00
       |  FROM mnu
       |)
       |SELECT n11, b, c, n00,
       |  CASE WHEN b + c = 0 THEN CAST(NULL AS DOUBLE)
       |    ELSE CAST(GREATEST(ABS(b - c) - 1, 0)
       |      * GREATEST(ABS(b - c) - 1, 0) AS DOUBLE)
       |      / CAST(b + c AS DOUBLE)
       |  END AS chi2_cc
       |FROM mnc""".stripMargin

  /** dq_dp_release: ε-differentially-private count release for the
    * documents lang×source histogram (Dwork et al. 2006) — the
    * privacy-family capstone beside k-anonymity/l-diversity/
    * t-closeness: counts are published with Laplace(1/ε) noise
    * (ε = 1, sensitivity 1 for a unit-count histogram). The Laplace
    * draw is the inverse-CDF transform of a SALTED-md5 uniform —
    * deterministic here so the release is testable cross-engine
    * (production swaps the salt for secure randomness; every other
    * shape is production-true). The transform stays in the
    * engine-portable qlog2 fixed point: with h ∈ [0, 2³²) the
    * integer tail-mass d = |2h − 2³²| + 1 ∈ [1, 2³²] gives
    * ln(d/2³²) = (qlog2(d) − 32·1024)·ln2/1024 — an exact BIGINT
    * difference scaled by two source literals; no libm log ever runs
    * (libm last-ulp divergence is exactly what the hash gate
    * cannot tolerate), with the tail mass d = max(1, 2³² − |2h − 2³²|)
    * (the 1−2|u−½| of the two-sided inverse CDF, zero-clamped).
    * Released count = true + sgn·b·(−ln tail).
    *
    * Scale posture: one map-side-combined cell rollup; the noise is a
    * per-cell map expression — a 100 TB DP release is one scan. */
  def dpRelease(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = graft.llm.Curate.qlog2Spark _
    val ln2 = "0.6931471805599453"
    val cells = Tables(spark, dir, "documents")
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n_true"))
      .withColumn("h", expr(
        "CAST(conv(substr(md5(concat('dp:', lang, '/', source)), 1, 8)," +
          " 16, 10) AS BIGINT)"))
      .withColumn("d",
        greatest(lit(1L), lit(4294967296L) - abs($"h" * 2L - 4294967296L)))
      .withColumn("sgn",
        when($"h" * 2L >= 4294967296L, 1.0).otherwise(-1.0))
    cells
      .withColumn("neg_ln_tail", expr(
        s"CAST((32768 - ${q("d")}) AS DOUBLE) * CAST('$ln2' AS DOUBLE)" +
          " / CAST(1024.0 AS DOUBLE)"))
      .select($"lang", $"source", $"n_true",
        ($"n_true".cast("double") + $"sgn" * $"neg_ln_tail")
          .as("n_released"),
        ($"sgn" * $"neg_ln_tail").as("noise"),
        lit(1.0).as("epsilon"))
      .orderBy($"lang", $"source")
  }

  val dpReleaseSql: String = {
    val q = graft.llm.Curate.qlog2Duck _
    val ln2 = "0.6931471805599453"
    s"""WITH dpc AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_true,
       |    CAST('0x' || substr(md5('dp:' || lang || '/' || source), 1, 8)
       |      AS BIGINT) AS h
       |  FROM documents GROUP BY lang, source
       |),
       |dpn AS (
       |  SELECT lang, source, n_true,
       |    greatest(1, 4294967296 - abs(h * 2 - 4294967296)) AS d,
       |    CASE WHEN h * 2 >= 4294967296 THEN CAST(1.0 AS DOUBLE)
       |      ELSE CAST(-1.0 AS DOUBLE) END AS sgn
       |  FROM dpc
       |)
       |SELECT lang, source, n_true,
       |  CAST(n_true AS DOUBLE) + sgn * (CAST(32768 - ${q("d")} AS DOUBLE)
       |    * CAST('$ln2' AS DOUBLE) / CAST(1024.0 AS DOUBLE)) AS n_released,
       |  sgn * (CAST(32768 - ${q("d")} AS DOUBLE)
       |    * CAST('$ln2' AS DOUBLE) / CAST(1024.0 AS DOUBLE)) AS noise,
       |  CAST(1.0 AS DOUBLE) AS epsilon
       |FROM dpn
       |${sqlOrderBy(Seq("lang", "source")).trim}""".stripMargin
  }

  /** z₀.₉₇₅ + z₀.₈ and its square, combined ONCE in Scala doubles and
    * embedded as the identical shortest-repr literal in both engines
    * (a DuckDB DECIMAL-exact literal sum would round differently by
    * 1 ulp). */
  private val zSum: Double = 1.959963984540054 + 0.8416212335729143
  private val zSum2: Double = zSum * zSum

  val abPowerSql: String = {
    s"""WITH pwu AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS variant,
       |    MAX(CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END) AS conv
       |  FROM events GROUP BY user_id
       |),
       |pwm AS (
       |  SELECT
       |    CAST(COUNT(*) FILTER (WHERE variant = 0) AS BIGINT) AS n0,
       |    CAST(COUNT(*) FILTER (WHERE variant = 1) AS BIGINT) AS n1,
       |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT)
       |      AS c0,
       |    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT)
       |      AS c1
       |  FROM pwu
       |),
       |pwr AS (
       |  SELECT n0, n1, c0, c1,
       |    CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
       |    CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
       |    CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS p_pool
       |  FROM pwm
       |)
       |SELECT n0, n1, c0, c1, p0, p1, p_pool,
       |  p1 - p0 AS diff,
       |  CAST('$zSum' AS DOUBLE)
       |    * sqrt(p_pool * (CAST(1.0 AS DOUBLE) - p_pool)
       |      * (CAST(1.0 AS DOUBLE) / CAST(n0 AS DOUBLE)
       |        + CAST(1.0 AS DOUBLE) / CAST(n1 AS DOUBLE))) AS mde_abs,
       |  CASE WHEN p1 - p0 = CAST(0.0 AS DOUBLE)
       |      OR p_pool = CAST(0.0 AS DOUBLE)
       |      OR p_pool = CAST(1.0 AS DOUBLE) THEN NULL
       |    ELSE CAST('$zSum2' AS DOUBLE)
       |      * CAST(2.0 AS DOUBLE) * p_pool * (CAST(1.0 AS DOUBLE) - p_pool)
       |      / ((p1 - p0) * (p1 - p0)) END AS n_req_per_arm
       |FROM pwr""".stripMargin
  }

  /** Permutation replicates for [[permutationTest]]. */
  private val PermB = 64

  /** stat_permutation_test: an exact-arithmetic nonparametric
    * significance test for the A/B purchase-value difference — the
    * p-value machinery every other test in this tier would need a
    * normal CDF (a transcendental) for, obtained instead by the
    * randomization test (Fisher 1935): re-assign each user to a side
    * under $PermB salted-hash permutations, recompute |mean
    * difference| per replicate, and report the add-one p-value
    * P = (1 + #{b : stat_b >= obs}) / (B + 1). Every replicate's
    * statistic is built from integer-cent sums and exact counts, so
    * the comparison set — and therefore the p-value — is bit-identical
    * across engines and at any parallelism; salted md5 assignment
    * makes the "random" permutations a pure function of (user, b).
    *
    * Scale posture: the corpus collapses to one row per user first
    * (map-side combined); the ×$PermB explode happens on that skinny
    * frame, so replicate cost is B × |users|, independent of event
    * volume — the standard way a permutation test survives scale. */
  def permutationTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
        round($"value" * 100).cast("long")).otherwise(0L)).as("y"))
    val obs = perUser
      .select((($"user_id" % 2) === 1).as("side"), $"y")
      .groupBy().agg(
        sum(when($"side", $"y")).as("s1"), count_if(col("side")).as("n1"),
        sum(when(!$"side", $"y")).as("s0"), count_if(!col("side")).as("n0"))
      .select(abs($"s1".cast("double") / $"n1".cast("double") -
        $"s0".cast("double") / $"n0".cast("double")).as("obs_diff"))
    val perms = perUser
      .select($"user_id", $"y", explode(expr(
        s"sequence(0, ${PermB - 1})")).as("b"))
      .withColumn("side", expr(
        "cast(conv(substr(md5(cast(concat('perm:', cast(user_id AS STRING), ':', cast(b AS STRING)) as binary)), 1, 8), 16, 10) as bigint) % 2 = 1"))
      .groupBy($"b").agg(
        sum(when($"side", $"y")).as("s1"), count_if(col("side")).as("n1"),
        sum(when(!$"side", $"y")).as("s0"), count_if(!col("side")).as("n0"))
      .select($"b", abs($"s1".cast("double") / $"n1".cast("double") -
        $"s0".cast("double") / $"n0".cast("double")).as("stat"))
    perms.crossJoin(broadcast(obs))
      .groupBy().agg(
        first($"obs_diff").as("obs_diff"),
        count(lit(1)).as("n_perms"),
        count_if($"stat" >= $"obs_diff").as("n_ge"))
      .select($"obs_diff", $"n_perms", $"n_ge",
        (($"n_ge" + 1).cast("double") / ($"n_perms" + 1).cast("double"))
          .as("p_value"))
  }

  val permutationTestSql: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS y
       |  FROM events GROUP BY user_id
       |),
       |obs AS (
       |  SELECT abs(
       |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN y END) AS DOUBLE)
       |      / CAST(COUNT(*) FILTER (user_id % 2 = 1) AS DOUBLE)
       |    - CAST(SUM(CASE WHEN user_id % 2 = 0 THEN y END) AS DOUBLE)
       |      / CAST(COUNT(*) FILTER (user_id % 2 = 0) AS DOUBLE)) AS obs_diff
       |  FROM pu
       |),
       |grid AS (
       |  SELECT user_id, y, unnest(range(0, $PermB)) AS b FROM pu
       |),
       |assigned AS (
       |  SELECT b, y,
       |    CAST('0x' || substr(md5('perm:' || CAST(user_id AS VARCHAR)
       |      || ':' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 1 AS side
       |  FROM grid
       |),
       |stats AS (
       |  SELECT b, abs(
       |    CAST(SUM(CASE WHEN side THEN y END) AS DOUBLE)
       |      / CAST(COUNT(*) FILTER (side) AS DOUBLE)
       |    - CAST(SUM(CASE WHEN NOT side THEN y END) AS DOUBLE)
       |      / CAST(COUNT(*) FILTER (NOT side) AS DOUBLE)) AS stat
       |  FROM assigned GROUP BY b
       |)
       |SELECT obs_diff,
       |  CAST(COUNT(*) AS BIGINT) AS n_perms,
       |  CAST(COUNT(*) FILTER (stat >= obs_diff) AS BIGINT) AS n_ge,
       |  CAST(COUNT(*) FILTER (stat >= obs_diff) + 1 AS DOUBLE)
       |    / CAST(COUNT(*) + 1 AS DOUBLE) AS p_value
       |FROM stats CROSS JOIN obs GROUP BY obs_diff""".stripMargin

  /** stat_bootstrap_ci: Poisson-bootstrap 95% confidence interval for
    * the per-user purchase-revenue mean — the resampling scheme built
    * for map-reduce (each replicate's multinomial resample is
    * approximated by INDEPENDENT per-row Poisson(1) weights, so all B
    * replicates ride ONE scan with no per-replicate shuffle or
    * coordination; Chamandy et al., "Estimating uncertainty for
    * massive data streams", Google TR 2012). Weights are drawn
    * deterministically: the salted-md5 u32 is bucketed against the
    * Poisson(1) CDF pre-scaled to 2^32 as EXACT integer literal
    * thresholds (computed once offline — no runtime exp/factorial, so
    * both engines bucket bit-identically; the >k=7 tail, mass 2e-9 of
    * 2^32, clamps to weight 8). Each replicate mean is an exact
    * integer pair (Σw·y, Σw) divided once; the 2.5%/97.5% CI
    * endpoints are order statistics (ranks 2 and 63 of B=64) picked
    * by a deterministic (mean, b) sort.
    *
    * Scale posture: the user rollup is one map-combined groupBy; the
    * replicate grid is B skinny rows per user with map-side partial
    * aggregation down to B rows total — cost B×|users| arithmetic,
    * independent of event volume, zero extra shuffles beyond the
    * rollup (the same budget as [[permutationTest]]). */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val B = 64
    val perUser = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
        round($"value" * 100).cast("long")).otherwise(0L)).as("y"))
    val obs = perUser.agg(
      count(lit(1)).as("n_users"), sum($"y".cast(dec)).as("sy"))
      .select($"n_users",
        ($"sy".cast("double") / 100.0 / $"n_users".cast("double"))
          .as("obs_mean"))
    val reps = perUser
      .select($"user_id", $"y", explode(expr(s"sequence(0, ${B - 1})")).as("b"))
      .withColumn("u", expr(
        "cast(conv(substr(md5(cast(concat('boot:', cast(user_id AS STRING), " +
          "':', cast(b AS STRING)) as binary)), 1, 8), 16, 10) as bigint)"))
      .withColumn("w", expr(poissonBucket("u")))
      .groupBy($"b")
      .agg(sum($"w".cast(dec) * $"y".cast(dec)).as("swy"),
        sum($"w".cast("long")).as("sw"))
      .select($"b",
        ($"swy".cast("double") / 100.0 / $"sw".cast("double")).as("m"))
    val wd = org.apache.spark.sql.expressions.Window.orderBy($"m", $"b")
    val ci = reps.withColumn("rk", row_number().over(wd))
      .filter($"rk" === 2 || $"rk" === B - 1)
      .agg(min($"m").as("ci_lo"), max($"m").as("ci_hi"))
    obs.crossJoin(broadcast(ci))
      .select($"n_users", $"obs_mean", lit(B).as("n_reps"),
        $"ci_lo", $"ci_hi")
  }

  /** The Poisson(1) inverse-CDF bucketing over a u32, shared verbatim
    * by the Spark and DuckDB spellings (pure CASE over integer
    * literals — floor(CDF(k)·2^32) computed offline). */
  private def poissonBucket(u: String): String =
    s"""CASE WHEN $u < 1580030168 THEN 0
       | WHEN $u < 3160060337 THEN 1
       | WHEN $u < 3950075421 THEN 2
       | WHEN $u < 4213413783 THEN 3
       | WHEN $u < 4279248373 THEN 4
       | WHEN $u < 4292415291 THEN 5
       | WHEN $u < 4294609777 THEN 6
       | WHEN $u < 4294923276 THEN 7
       | ELSE 8 END""".stripMargin.replace("\n", "")

  val bootstrapCiSql: String =
    s"""WITH bpu AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS y
       |  FROM events GROUP BY user_id
       |),
       |bobs AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       |    CAST(CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS DOUBLE) / 100.0
       |      / CAST(COUNT(*) AS DOUBLE) AS obs_mean
       |  FROM bpu
       |),
       |bgrid AS (
       |  SELECT user_id, y, unnest(range(0, 64)) AS b FROM bpu
       |),
       |bw AS (
       |  SELECT b, y,
       |    ${poissonBucket(
             "CAST('0x' || substr(md5('boot:' || CAST(user_id AS VARCHAR) " +
               "|| ':' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT)")} AS w
       |  FROM bgrid
       |),
       |bm AS (
       |  SELECT b,
       |    CAST(CAST(SUM(CAST(w AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
       |      / 100.0 / CAST(CAST(SUM(CAST(w AS HUGEINT)) AS HUGEINT)
       |        AS DOUBLE) AS m
       |  FROM bw GROUP BY b
       |),
       |bci AS (
       |  SELECT MIN(m) AS ci_lo, MAX(m) AS ci_hi FROM (
       |    SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM bm)
       |  WHERE rk = 2 OR rk = 63
       |)
       |SELECT o.n_users, o.obs_mean, CAST(64 AS INTEGER) AS n_reps,
       |  c.ci_lo, c.ci_hi
       |FROM bobs o CROSS JOIN bci c""".stripMargin

  /** events_ab_bayes: Bayesian A/B readout — P(B beats A) and the
    * expected loss of shipping either arm — for the conversion-rate
    * pair [[abWilson]] reads out, completing the fixed-horizon
    * (Wilson/SRM/CUPED) / sequential (SPRT) / BAYESIAN inference
    * triptych. Posteriors are Beta(x+1, n−x+1) (uniform prior on each
    * arm's conversion rate); the decision integrals are Monte Carlo
    * over B=64 deterministic replicate draws (the `stat_bootstrap_ci`
    * machinery re-aimed): p_b_gt_a = #[p_B > p_A]/64,
    * exp_loss_choose_b = E[max(p_A − p_B, 0)] — the regret of shipping
    * B when A was better — and symmetrically for A.
    *
    * Exactness (the transcendental-free Beta sampler): a Beta(k, m+1−k)
    * draw is the k-th ORDER STATISTIC of m i.i.d. uniforms, so each
    * replicate's posterior draw is the (x+1)-th smallest of n+1
    * salted-md5 u32 integers — exact integer selection, no inverse-CDF
    * or gamma transcendentals, bit-identical cross-engine (the
    * bootstrap's salted-u32 discipline). Replicate comparisons and
    * loss numerators stay in INTEGER u32 space (Σ max(uA−uB, 0) is an
    * exact BIGINT); the only doubles are the four terminal divisions
    * by 2^32 and B, performed identically on both sides.
    *
    * Scale posture: one user-keyed distinct rollup, then a B×|users|
    * draw grid (map-generated, same budget as the bootstrap); the
    * order-statistic selection is the house TWO-LEVEL CDF RANK (the
    * `events_uplift_qini` / `embed_intrinsic_dim` pattern) — level 1
    * aggregates each (arm, replicate)'s draws into a ≤2¹⁶-row bucket
    * histogram (u is uniform on u32, so bucket = u >> 16) whose
    * cumulative count locates the bucket holding rank x+1; level 2
    * ranks ONLY that bucket's ~n/2¹⁶ draws. No plan node ever sorts an
    * arm-sized partition: the widest window partition is min(n, 2¹⁶)
    * histogram rows at level 1 and ~n/2¹⁶ draws at level 2, both
    * shrinking relative to n as the corpus grows. The draw grid is
    * regenerated for the level-2 probe rather than checkpointed —
    * two md5 map passes beat materializing B×n rows at 100×. All
    * post-selection frames are ≤ 2·B rows. */
  def abBayes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val B = 64
    val users = Tables(spark, dir, "events")
      .select(($"user_id" % 2).cast("int").as("variant"), $"user_id",
        ($"event_type" === "purchase").cast("int").as("is_p"))
      .groupBy($"variant", $"user_id")
      .agg(max($"is_p").as("conv"))
      .localCheckpoint(false) // feeds the arm agg AND the draw grid
    val agg = users.groupBy($"variant")
      .agg(count(lit(1)).as("n"), sum($"conv").cast("long").as("x"))
    def u32(salt: String, tail: String) =
      s"CAST(conv(substr(md5(CAST(concat('$salt', CAST(variant AS STRING)," +
        s" ':', CAST(b AS STRING)$tail) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
    val userDraws = users
      .select($"variant", $"user_id",
        explode(expr(s"sequence(0, ${B - 1})")).as("b"))
      .selectExpr("variant", "b",
        s"${u32("bayes:", ", ':', CAST(user_id AS STRING)")} AS u")
    // the n+1-th uniform of each (arm, replicate): one extra draw
    // keyed by the replicate alone
    val extraDraws = agg
      .select($"variant", explode(expr(s"sequence(0, ${B - 1})")).as("b"))
      .selectExpr("variant", "b", s"${u32("bayes0:", "")} AS u")
    // regenerated per level, NOT checkpointed: two codegen'd md5 map
    // passes measured cheaper than materializing the B×n-row grid
    // (sf0.1 floor 1.8 s vs 2.2 s checkpointed), and the gap widens
    // with n — generation is pure CPU inside whole-stage codegen while
    // a checkpoint pays executor-local disk
    def draws = userDraws.unionByName(extraDraws)
    // Level 1: per-(arm, replicate) bucket histogram over the u32
    // space's 2^16 high bits — map-side combined, so the shuffle is
    // the histogram, never the draws — then the cumulative over the
    // ≤2^16-row per-partition grid locates the bucket holding the
    // (x+1)-th order statistic and the residual rank k within it.
    val wCum = Window.partitionBy($"variant", $"b").orderBy($"bk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tgt = draws
      .groupBy($"variant", $"b", shiftright($"u", 16).as("bk"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(wCum))
      .join(broadcast(agg.select($"variant", $"x")), "variant")
      .filter($"cum" >= $"x" + 1 && $"cum" - $"cnt" <= $"x")
      .select($"variant", $"b", $"bk",
        ($"x" + 1 - ($"cum" - $"cnt")).as("k"))
    // Level 2: regenerate the grid, keep only the 2·B target buckets
    // (a 128-row broadcast), and rank within buckets of ~n/2^16 rows.
    val wIn = Window.partitionBy($"variant", $"b").orderBy($"u")
    val sel = draws
      .withColumn("bk", shiftright($"u", 16))
      .join(broadcast(tgt), Seq("variant", "b", "bk"))
      .withColumn("rn", row_number().over(wIn))
      .filter($"rn" === $"k") // the (x+1)-th order statistic overall
      .select($"variant", $"b", $"u")
    val reps = sel.groupBy($"b").agg(
      max(when($"variant" === 0, $"u")).as("ua"),
      max(when($"variant" === 1, $"u")).as("ub"))
    val sc = reps.agg(
      sum(($"ub" > $"ua").cast("long")).as("n_b_gt_a"),
      sum(greatest($"ua" - $"ub", lit(0L))).as("loss_b_num"),
      sum(greatest($"ub" - $"ua", lit(0L))).as("loss_a_num"))
    val wide = agg.agg(
      sum(when($"variant" === 0, $"n")).as("n_a"),
      sum(when($"variant" === 0, $"x")).as("x_a"),
      sum(when($"variant" === 1, $"n")).as("n_b"),
      sum(when($"variant" === 1, $"x")).as("x_b"))
    wide.crossJoin(broadcast(sc))
      .selectExpr(
        "CAST(n_a AS BIGINT) AS n_a", "CAST(x_a AS BIGINT) AS x_a",
        "CAST(n_b AS BIGINT) AS n_b", "CAST(x_b AS BIGINT) AS x_b",
        "CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a",
        "CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b",
        s"CAST($B AS INT) AS n_draws",
        s"CAST(n_b_gt_a AS DOUBLE) / CAST($B AS DOUBLE) AS p_b_gt_a",
        s"CAST(loss_a_num AS DOUBLE) / CAST(4294967296 AS DOUBLE)" +
          s" / CAST($B AS DOUBLE) AS exp_loss_choose_a",
        s"CAST(loss_b_num AS DOUBLE) / CAST(4294967296 AS DOUBLE)" +
          s" / CAST($B AS DOUBLE) AS exp_loss_choose_b")
  }

  val abBayesSql: String =
    s"""WITH abu AS (
       |  SELECT CAST(user_id % 2 AS INTEGER) AS variant, user_id,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1, 2
       |),
       |aba AS (
       |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(conv) AS BIGINT) AS x
       |  FROM abu GROUP BY variant
       |),
       |abd AS (
       |  SELECT variant, b,
       |    CAST('0x' || substr(md5('bayes:' || CAST(variant AS VARCHAR)
       |      || ':' || CAST(b AS VARCHAR) || ':'
       |      || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS u
       |  FROM (SELECT variant, user_id, unnest(range(0, 64)) AS b FROM abu)
       |  UNION ALL
       |  SELECT variant, b,
       |    CAST('0x' || substr(md5('bayes0:' || CAST(variant AS VARCHAR)
       |      || ':' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) AS u
       |  FROM (SELECT variant, unnest(range(0, 64)) AS b FROM aba)
       |),
       |absel AS (
       |  SELECT variant, b, u FROM (
       |    SELECT d.variant, d.b, d.u, a.x,
       |      row_number() OVER (PARTITION BY d.variant, d.b ORDER BY d.u)
       |        AS rn
       |    FROM abd d JOIN aba a USING (variant)
       |  ) WHERE rn = x + 1
       |),
       |abrep AS (
       |  SELECT b, MAX(CASE WHEN variant = 0 THEN u END) AS ua,
       |    MAX(CASE WHEN variant = 1 THEN u END) AS ub
       |  FROM absel GROUP BY b
       |),
       |absc AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN ub > ua THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b_gt_a,
       |    CAST(SUM(GREATEST(ua - ub, 0)) AS BIGINT) AS loss_b_num,
       |    CAST(SUM(GREATEST(ub - ua, 0)) AS BIGINT) AS loss_a_num
       |  FROM abrep
       |),
       |abw AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN variant = 0 THEN n ELSE 0 END) AS BIGINT)
       |      AS n_a,
       |    CAST(SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT)
       |      AS x_a,
       |    CAST(SUM(CASE WHEN variant = 1 THEN n ELSE 0 END) AS BIGINT)
       |      AS n_b,
       |    CAST(SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT)
       |      AS x_b
       |  FROM aba
       |)
       |SELECT n_a, x_a, n_b, x_b,
       |  CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
       |  CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
       |  CAST(64 AS INTEGER) AS n_draws,
       |  CAST(n_b_gt_a AS DOUBLE) / CAST(64 AS DOUBLE) AS p_b_gt_a,
       |  CAST(loss_a_num AS DOUBLE) / CAST(4294967296 AS DOUBLE)
       |    / CAST(64 AS DOUBLE) AS exp_loss_choose_a,
       |  CAST(loss_b_num AS DOUBLE) / CAST(4294967296 AS DOUBLE)
       |    / CAST(64 AS DOUBLE) AS exp_loss_choose_b
       |FROM abw CROSS JOIN absc""".stripMargin

  /** events_uplift_qini: cumulative Qini deciles (Radcliffe 2007) —
    * the UPLIFT-MODEL evaluation the experimentation tier is missing:
    * Wilson/SPRT/Bayes ([[abWilson]], `events_ab_sprt`, [[abBayes]])
    * grade the AVERAGE treatment effect; the Qini curve grades a
    * TARGETING score — "if we treated only the top-k% by score, how
    * many incremental conversions would we capture". Units are users;
    * treatment is the house `user_id % 2` variant convention (1 =
    * treated); outcome is converted-ever; the score is the user's
    * NON-purchase engagement in exact cents (round(value·100), the 2dp
    * grid — purchase events excluded so the score never leaks the
    * outcome it targets). Users rank by (score DESC, user_id) — a
    * total order, so decile assignment ⌊(rank−1)·10/n⌋ is
    * deterministic in both engines — and the per-decile counts
    * accumulate top-down: qini(d) = X_T(d) − X_C(d)·N_T(d)/N_C(d)
    * (incremental conversions vs the control baseline scaled to the
    * treated population), uplift(d) = X_T/N_T − X_C/N_C. Counts stay
    * exact BIGINTs; the two curve readouts are terminal IEEE
    * assemblies written identically in both engines.
    *
    * Scale posture: one user-keyed rollup (map-side combined), one
    * global rank over |users| (at 100 TB the exact rank becomes the
    * two-level CDF rank over the cents grid — the
    * `embed_intrinsic_dim` pattern; the decile cut tolerates the
    * ε-grid), then ALL curve math on a 10-row frame. */
  def upliftQini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val users = Tables(spark, dir, "events")
      .select($"user_id", ($"user_id" % 2).cast("int").as("treated"),
        ($"event_type" === "purchase").cast("int").as("is_p"),
        when($"event_type" =!= "purchase",
          round($"value" * 100).cast("long")).otherwise(lit(0L))
          .as("cents"))
      .groupBy($"user_id", $"treated")
      .agg(max($"is_p").cast("long").as("conv"),
        sum($"cents").as("score"))
    val n1 = users.agg(count(lit(1)).as("n"))
    // two-level rank (the embed_intrinsic_dim pattern): the global
    // cumulative runs over the PRE-AGGREGATED (score, cnt) grid — the
    // statMannWhitney value-grid class — and the per-score tiebreak is
    // a partitioned window, so no global sort ever sees raw user rows
    val grid = users.groupBy($"score").agg(count(lit(1)).as("cnt"))
      .withColumn("above", coalesce(sum($"cnt").over(
        Window.orderBy($"score".desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ranked = users
      .join(grid.select($"score", $"above"), "score")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"score").orderBy($"user_id")))
      .crossJoin(broadcast(n1))
      .selectExpr("treated", "conv",
        "CAST((above + rn - 1) * 10 div n AS INT) AS decile")
    val byDec = ranked.groupBy($"decile").agg(
      sum(when($"treated" === 1, 1L).otherwise(0L)).as("dn_t"),
      sum(when($"treated" === 1, $"conv").otherwise(0L)).as("dx_t"),
      sum(when($"treated" === 0, 1L).otherwise(0L)).as("dn_c"),
      sum(when($"treated" === 0, $"conv").otherwise(0L)).as("dx_c"))
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDec
      .select($"decile",
        sum($"dn_t").over(w).as("n_t"), sum($"dx_t").over(w).as("x_t"),
        sum($"dn_c").over(w).as("n_c"), sum($"dx_c").over(w).as("x_c"))
      .selectExpr("decile", "n_t", "x_t", "n_c", "x_c",
        """CASE WHEN n_c = 0 THEN CAST(NULL AS DOUBLE)
          |  ELSE CAST(x_t AS DOUBLE) - CAST(x_c AS DOUBLE)
          |    * CAST(n_t AS DOUBLE) / CAST(n_c AS DOUBLE)
          |END AS qini""".stripMargin.replace("\n", ""),
        """CASE WHEN n_c = 0 OR n_t = 0 THEN CAST(NULL AS DOUBLE)
          |  ELSE CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
          |    - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE)
          |END AS uplift""".stripMargin.replace("\n", ""))
      .orderBy($"decile")
  }

  val upliftQiniSql: String =
    s"""WITH uqu AS (
       |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS treated,
       |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS conv,
       |    CAST(SUM(CASE WHEN event_type <> 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS score
       |  FROM events GROUP BY 1, 2
       |),
       |uqn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uqu),
       |uqr AS (
       |  SELECT treated, conv,
       |    CAST((row_number() OVER (ORDER BY score DESC, user_id) - 1)
       |      * 10 // n AS INTEGER) AS decile
       |  FROM uqu CROSS JOIN uqn
       |),
       |uqd AS (
       |  SELECT decile,
       |    CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS dn_t,
       |    CAST(SUM(CASE WHEN treated = 1 THEN conv ELSE 0 END) AS BIGINT)
       |      AS dx_t,
       |    CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS dn_c,
       |    CAST(SUM(CASE WHEN treated = 0 THEN conv ELSE 0 END) AS BIGINT)
       |      AS dx_c
       |  FROM uqr GROUP BY decile
       |),
       |uqc AS (
       |  SELECT decile,
       |    CAST(SUM(dn_t) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_t,
       |    CAST(SUM(dx_t) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS x_t,
       |    CAST(SUM(dn_c) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_c,
       |    CAST(SUM(dx_c) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS x_c
       |  FROM uqd
       |)
       |SELECT decile, n_t, x_t, n_c, x_c,
       |  CASE WHEN n_c = 0 THEN CAST(NULL AS DOUBLE)
       |    ELSE CAST(x_t AS DOUBLE) - CAST(x_c AS DOUBLE)
       |      * CAST(n_t AS DOUBLE) / CAST(n_c AS DOUBLE)
       |  END AS qini,
       |  CASE WHEN n_c = 0 OR n_t = 0 THEN CAST(NULL AS DOUBLE)
       |    ELSE CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
       |      - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE)
       |  END AS uplift
       |FROM uqc${sqlOrderBy(Seq("decile"))}""".stripMargin

  /** orders_did_lift: difference-in-differences — the workhorse
    * quasi-experimental estimator (Card & Krueger 1994 popularized it)
    * for "did the intervention move the metric beyond the trend both
    * groups share". Treated = urgent/high-priority orders, post = the
    * calendar back half (split year = integer midpoint of the observed
    * range — derived from the data, no hard-coded date), outcome =
    * mean order value. DiD = (treated post − treated pre) − (control
    * post − control pre): four exact integer-cent means, three IEEE
    * subtractions — bit-identical across engines.
    *
    * Scale posture: one map-side-combined 4-cell aggregation after a
    * broadcast 1-row year-bounds join; nothing here grows with data
    * beyond the single scan. */
  def didLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables(spark, dir, "orders")
      .select($"o_orderpriority".isin("1-URGENT", "2-HIGH").as("treated"),
        year($"o_orderdate").as("yr"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val bounds = o.agg(
      expr("(min(yr) + max(yr) + 1) div 2").as("split_year"))
    val cells = o.crossJoin(broadcast(bounds))
      .withColumn("post", $"yr" >= $"split_year")
      .groupBy($"treated", $"post")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"))
      .select($"treated", $"post", $"n",
        ($"s".cast("double") / $"n".cast("double") / 100.0).as("mean_value"))
    val wide = cells.groupBy().agg(
      max(when($"treated" && $"post", $"mean_value")).as("m_t_post"),
      max(when($"treated" && !$"post", $"mean_value")).as("m_t_pre"),
      max(when(!$"treated" && $"post", $"mean_value")).as("m_c_post"),
      max(when(!$"treated" && !$"post", $"mean_value")).as("m_c_pre"),
      sum($"n").as("n_orders"))
    wide.select($"n_orders", $"m_t_pre", $"m_t_post", $"m_c_pre", $"m_c_post",
      (($"m_t_post" - $"m_t_pre") - ($"m_c_post" - $"m_c_pre")).as("did"))
  }

  val didLiftSql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority IN ('1-URGENT', '2-HIGH') AS treated,
       |    CAST(year(o_orderdate) AS INTEGER) AS yr,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders
       |),
       |b AS (SELECT (MIN(yr) + MAX(yr) + 1) // 2 AS split_year FROM o),
       |cells AS (
       |  SELECT treated, yr >= split_year AS post,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(CAST(SUM(cents) AS HUGEINT) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) / 100.0 AS mean_value
       |  FROM o CROSS JOIN b GROUP BY treated, yr >= split_year
       |)
       |SELECT CAST(SUM(n) AS BIGINT) AS n_orders,
       |  MAX(CASE WHEN treated AND NOT post THEN mean_value END) AS m_t_pre,
       |  MAX(CASE WHEN treated AND post THEN mean_value END) AS m_t_post,
       |  MAX(CASE WHEN NOT treated AND NOT post THEN mean_value END)
       |    AS m_c_pre,
       |  MAX(CASE WHEN NOT treated AND post THEN mean_value END) AS m_c_post,
       |  (MAX(CASE WHEN treated AND post THEN mean_value END)
       |   - MAX(CASE WHEN treated AND NOT post THEN mean_value END))
       |  - (MAX(CASE WHEN NOT treated AND post THEN mean_value END)
       |     - MAX(CASE WHEN NOT treated AND NOT post THEN mean_value END))
       |    AS did
       |FROM cells""".stripMargin

  /** Supplier-concentration HHI per brand market — the antitrust
    * screen (Herfindahl-Hirschman index, Σ shareᵢ²) over who supplies
    * each part brand: n suppliers, the index, and the top supplier's
    * share. Each share is one IEEE division of exact cents totals;
    * its square is quantized to 1e-12 fixed point so the per-brand SUM
    * is exact integer arithmetic (the norm-audit trick) — a plain
    * double Σ share² would be partition-order dependent. HHI reads on
    * the usual scale: 1/n for perfect competition up to 1.0 for a
    * monopoly brand.
    *
    * Scale posture: one partial-agg to |brand×supplier| cells, a
    * broadcastable |brands|-row totals join, then a |brands|-row
    * rollup — the fact table is scanned once. */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "part"), $"l_partkey" === $"p_partkey")
      .select($"p_brand", $"l_suppkey",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"p_brand", $"l_suppkey")
      .agg(sum($"cents").as("rev"))
    val tot = cells.groupBy($"p_brand").agg(sum($"rev").as("tot"))
    cells.join(broadcast(tot), "p_brand")
      .withColumn("share", $"rev".cast("double") / $"tot".cast("double"))
      .withColumn("q",
        expr("CAST(floor(share * share * 1e12 + 0.5) AS BIGINT)"))
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_suppliers"),
        (sum($"q").cast("double") / 1e12).as("hhi"),
        (max($"rev").cast("double") / max($"tot").cast("double"))
          .as("top_share"))
      .orderBy($"p_brand")
  }

  val supplierHhiSql: String =
    s"""WITH cells AS (
       |  SELECT p_brand, l_suppkey,
       |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2
       |),
       |tot AS (
       |  SELECT p_brand, CAST(SUM(rev) AS BIGINT) AS tot
       |  FROM cells GROUP BY 1
       |),
       |s AS (
       |  SELECT cells.p_brand, rev, tot,
       |    CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE) AS share
       |  FROM cells JOIN tot USING (p_brand)
       |)
       |SELECT p_brand, COUNT(*) AS n_suppliers,
       |  CAST(CAST(SUM(CAST(floor(share * share * 1e12 + 0.5) AS BIGINT))
       |    AS BIGINT) AS DOUBLE) / 1e12 AS hhi,
       |  CAST(MAX(rev) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE) AS top_share
       |FROM s GROUP BY p_brand${sqlOrderBy(Seq("p_brand"))}""".stripMargin

  /** Laspeyres price index 1996→1997 — "how much more would LAST
    * year's basket cost at THIS year's prices": per part, unit prices
    * from each year's (cents, quantity) totals, the index weighting
    * 1997 prices by 1996 quantities over parts traded in BOTH years.
    * The denominator Σ p96·q96 IS the exact base-year spend (integer
    * cents); each numerator cross-term p97·q96 is one IEEE sequence on
    * exact integers, quantized to whole cents so the Σ is exact BIGINT
    * — partition order cannot move the index. The companion volume
    * ratio (same-basket quantity change) separates price from volume,
    * the decomposition a revenue delta always needs.
    *
    * Scale posture: two year-filtered partial-aggs to |parts| cells,
    * one part-keyed join of the two (co-partitioned), one-row output. */
  def priceIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def yearCells(y: Int) = Tables(spark, dir, "lineitem")
      .filter(year($"l_shipdate") === y)
      .groupBy($"l_partkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as(s"c$y"),
        sum($"l_quantity".cast("long")).as(s"q$y"))
    yearCells(1996).join(yearCells(1997), "l_partkey")
      .select($"l_partkey", $"c1996", $"q1996", $"c1997", $"q1997",
        // p97·q96 in cents, quantized per part: (c97/q97)·q96
        expr("CAST(floor(CAST(c1997 AS DOUBLE) / CAST(q1997 AS DOUBLE)" +
          " * CAST(q1996 AS DOUBLE) + 0.5) AS BIGINT)").as("cross_c"))
      .agg(count(lit(1)).as("n_common_parts"),
        (sum($"cross_c").cast("double") / sum($"c1996").cast("double"))
          .as("laspeyres_index"),
        (sum($"q1997").cast("double") / sum($"q1996").cast("double"))
          .as("volume_ratio"))
  }

  val priceIndexSql: String =
    s"""WITH y96 AS (
       |  SELECT l_partkey,
       |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |      AS c1996,
       |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q1996
       |  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1
       |),
       |y97 AS (
       |  SELECT l_partkey,
       |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |      AS c1997,
       |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q1997
       |  FROM lineitem WHERE year(l_shipdate) = 1997 GROUP BY 1
       |),
       |j AS (
       |  SELECT y96.*, c1997, q1997,
       |    CAST(floor(CAST(c1997 AS DOUBLE) / CAST(q1997 AS DOUBLE)
       |      * CAST(q1996 AS DOUBLE) + 0.5) AS BIGINT) AS cross_c
       |  FROM y96 JOIN y97 USING (l_partkey)
       |)
       |SELECT COUNT(*) AS n_common_parts,
       |  CAST(CAST(SUM(cross_c) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(c1996) AS BIGINT) AS DOUBLE) AS laspeyres_index,
       |  CAST(CAST(SUM(q1997) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(q1996) AS BIGINT) AS DOUBLE) AS volume_ratio
       |FROM j""".stripMargin

  /** Stationary distribution of the clickstream Markov chain — where
    * user behavior settles: 5 power-iteration rounds of r·P over the
    * [[pathMarkov]] transition matrix from the exact uniform start
    * (parts-per-billion integers; the 1e9 mod K remainder goes to the
    * lexicographically first states, so even initialization is exact).
    * Each round quantizes every term floor(r·p + 0.5) back to ppb —
    * the identical schedule the unrolled oracle states round by round
    * (the graph_pagerank_iter5 discipline), so five compounded rounds
    * stay hash-exact. The matrix is |event types|² — the iteration
    * costs nothing; the EXPENSIVE part (building P from the event
    * stream) happens once.
    *
    * Scale posture: one user-keyed shuffle builds P; the five rounds
    * run on the bounded K×K matrix via broadcastable joins. */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val trans = pathMarkov(spark, dir)
      .select($"prev_type", $"next_type", $"p")
    val types = trans.select($"prev_type".as("t")).distinct()
    val kRow = types.agg(count(lit(1)).as("k"))
    var r = types.crossJoin(broadcast(kRow))
      .withColumn("rn", row_number().over(Window.orderBy($"t")))
      .select($"t", (expr("1000000000 div k") +
        ($"rn" <= expr("1000000000 % k")).cast("long")).as("r_ppb"))
    for (_ <- 1 to 5) {
      r = trans.join(r, $"prev_type" === $"t")
        .select($"next_type",
          expr("CAST(floor(r_ppb * p + 0.5) AS BIGINT)").as("term"))
        .groupBy($"next_type").agg(sum($"term").as("r_ppb"))
        .select($"next_type".as("t"), $"r_ppb")
    }
    r.select($"t".as("event_type"), $"r_ppb",
      ($"r_ppb".cast("double") / 1e9).as("stationary_p"))
      .orderBy($"t")
  }

  val markovStationarySql: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT next_type AS t,
         |    CAST(SUM(CAST(floor(r_ppb * p + 0.5) AS BIGINT)) AS BIGINT)
         |      AS r_ppb
         |  FROM trans JOIN r${i - 1} ON prev_type = t
         |  GROUP BY next_type
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev_type
       |  FROM events
       |),
       |tcnt AS (
       |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
       |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |),
       |tot AS (
       |  SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
       |  FROM tcnt GROUP BY 1
       |),
       |trans AS (
       |  SELECT tcnt.prev_type, next_type,
       |    CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
       |  FROM tcnt JOIN tot USING (prev_type)
       |),
       |types AS (SELECT DISTINCT prev_type AS t FROM trans),
       |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
       |r0 AS (
       |  SELECT t,
       |    (1000000000 // k) + CASE WHEN
       |      row_number() OVER (ORDER BY t) <= 1000000000 % k
       |      THEN 1 ELSE 0 END AS r_ppb
       |  FROM types CROSS JOIN kk
       |),
       |$rounds
       |SELECT t AS event_type, CAST(r_ppb AS BIGINT) AS r_ppb,
       |  CAST(r_ppb AS DOUBLE) / 1e9 AS stationary_p
       |FROM r5${sqlOrderBy(Seq("t"))}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_markov_stationary" -> markovStationary,
    "parts_price_index" -> priceIndex,
    "parts_supplier_hhi" -> supplierHhi,
    "events_ab_wilson" -> abWilson,
    "orders_ship_latency" -> shipLatency,
    "dq_skew_report" -> skewReport,
    "customer_spend_gini" -> spendGini,
    "events_outlier_mad" -> outlierMad,
    "join_scd2_pit" -> scd2Pit,
    "events_retention" -> retention,
    "events_cohort_ltv" -> cohortLtv,
    "dim_scd2" -> scd2,
    "basket_brand_pairs" -> basketPairs,
    "basket_lift_rules" -> basketLiftRules,
    "orders_outlier_z" -> outlierZ,
    "dq_checks" -> dqChecks,
    "dq_k_anonymity" -> kAnonymity,
    "dq_l_diversity" -> lDiversity,
    "agg_trimmed_mean" -> trimmedMean,
    "stat_gini" -> giniRevenue,
    "stat_hhi" -> hhiRevenue,
    "stat_skyline" -> skyline,
    "orders_abc_analysis" -> abcAnalysis,
    "orders_abc_migration" -> abcMigration,
    "orders_rfm_segments" -> rfmSegments,
    "stat_bootstrap_ci" -> bootstrapCi,
    "events_ab_bayes" -> abBayes,
    "events_uplift_qini" -> upliftQini,
    "dq_benford" -> dqBenford,
    "events_ab_srm" -> abSrm,
    "events_ab_sprt" -> abSprt,
    "events_ab_cuped" -> abCuped,
    "events_ab_delta_ratio" -> abDeltaRatio,
    "events_ab_power" -> abPower,
    "stat_effect_sizes" -> effectSizes,
    "stat_welch_ttest" -> welchTTest,
    "stat_mcnemar" -> mcnemar,
    "dq_dp_release" -> dpRelease,
    "stat_permutation_test" -> permutationTest,
    "orders_did_lift" -> didLift,
    "events_path_markov" -> pathMarkov,
    "customer_rfm" -> rfm,
    "events_streaks" -> streaks,
    "join_interval_overlap" -> intervalOverlap,
    "orders_backlog" -> backlog,
    "parts_abc_pareto" -> abcParts,
    "parts_abc_xyz" -> abcXyz)

  val oracles: Map[String, String] = Map(
    "events_markov_stationary" -> markovStationarySql,
    "parts_price_index" -> priceIndexSql,
    "parts_supplier_hhi" -> supplierHhiSql,
    "events_ab_wilson" -> abWilsonSql,
    "orders_ship_latency" -> shipLatencySql,
    "dq_skew_report" -> skewReportSql,
    "customer_spend_gini" -> spendGiniSql,
    "events_outlier_mad" -> outlierMadSql,
    "join_scd2_pit" -> scd2PitSql,
    "events_retention" -> retentionSql,
    "events_cohort_ltv" -> cohortLtvSql,
    "dim_scd2" -> scd2Sql,
    "basket_brand_pairs" -> basketPairsSql,
    "basket_lift_rules" -> basketLiftRulesSql,
    "orders_outlier_z" -> outlierZSql,
    "dq_checks" -> dqChecksSql,
    "dq_k_anonymity" -> kAnonymitySql,
    "dq_l_diversity" -> lDiversitySql,
    "agg_trimmed_mean" -> trimmedMeanSql,
    "stat_gini" -> giniRevenueSql,
    "stat_hhi" -> hhiRevenueSql,
    "stat_skyline" -> skylineSql,
    "orders_abc_analysis" -> abcAnalysisSql,
    "orders_abc_migration" -> abcMigrationSql,
    "orders_rfm_segments" -> rfmSegmentsSql,
    "stat_bootstrap_ci" -> bootstrapCiSql,
    "events_ab_bayes" -> abBayesSql,
    "events_uplift_qini" -> upliftQiniSql,
    "dq_benford" -> dqBenfordSql,
    "events_ab_srm" -> abSrmSql,
    "events_ab_sprt" -> abSprtSql,
    "events_ab_cuped" -> abCupedSql,
    "events_ab_delta_ratio" -> abDeltaRatioSql,
    "events_ab_power" -> abPowerSql,
    "stat_effect_sizes" -> effectSizesSql,
    "stat_welch_ttest" -> welchTTestSql,
    "stat_mcnemar" -> mcnemarSql,
    "dq_dp_release" -> dpReleaseSql,
    "stat_permutation_test" -> permutationTestSql,
    "orders_did_lift" -> didLiftSql,
    "events_path_markov" -> pathMarkovSql,
    "customer_rfm" -> rfmSql,
    "events_streaks" -> streaksSql,
    "join_interval_overlap" -> intervalOverlapSql,
    "orders_backlog" -> backlogSql,
    "parts_abc_pareto" -> abcPartsSql,
    "parts_abc_xyz" -> abcXyzSql)
}
