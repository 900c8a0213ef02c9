package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Probabilistic record linkage tier (`[EXT]`): the Fellegi–Sunter
  * model (JASA 1969) over a blocked candidate set — the entity-
  * resolution workhorse every warehouse dedup / master-data pipeline
  * runs (Splink, dedupe.io, BigQuery entity resolution are all this
  * model). Three stages, each a registered query:
  *
  *  1. [[fellegiSunter]] — the gamma-pattern table: per agreement
  *     pattern over (name-similarity, type, size) comparisons, the
  *     pair count and the match/non-match likelihood ratio
  *     W = Π m_k^{γ_k}(1−m_k)^{1−γ_k} / Π u_k^{γ_k}(1−u_k)^{1−γ_k}.
  *  2. [[matchedPairs]] — the pairs whose pattern clears the decision
  *     threshold (the FS "link" region).
  *  3. [[entities]] — connected components over the linked pairs →
  *     stable entity ids + sizes (the survivorship step).
  *
  * m-probabilities are the documented textbook priors (reliability of
  * each comparison among true matches: 19/20, 9/10, 4/5); the
  * u-probabilities are ESTIMATED FROM THE DATA as blocked-candidate
  * agreement rates (the standard "assume m, estimate u from random
  * pairs" bootstrap — Winkler 1988) and clamped to [1, n−1] pairs so
  * no likelihood is 0/∞. All counts are exact BIGINT; each probability
  * is one CAST-CAST division and the weight is a product of six such
  * factors — shape-identical IEEE expressions on both engines, no
  * transcendentals (the RATIO is reported, not its log).
  *
  * Scale posture: the candidate set is the blocking-key discipline —
  * a within-brand self-join on a deterministic 1/4 key sample, never
  * all-pairs across blocks; the gamma table collapses map-side to ≤8
  * rows; u-estimation is the same single aggregate; entity grouping is
  * the O(log n) large/small-star contraction from [[graft.llm.Cluster]].
  */
object Linkage extends graft.QueryModule {

  /** Blocked comparison vectors: one row per within-brand candidate
    * pair with the three agreement flags. */
  private[star] def gammaPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.JaroWinkler.register(spark)
    val p = Tables(spark, dir, "part")
      .filter($"p_partkey" % 4 === 0)
      .select($"p_partkey", $"p_brand", $"p_name", $"p_type", $"p_size")
    val a = p.select($"p_brand", $"p_partkey".as("k1"), $"p_name".as("n1"),
      $"p_type".as("t1"), $"p_size".as("s1"))
    val b = p.select($"p_brand".as("brand_b"), $"p_partkey".as("k2"),
      $"p_name".as("n2"), $"p_type".as("t2"), $"p_size".as("s2"))
    a.join(b, $"p_brand" === $"brand_b" && $"k1" < $"k2")
      .selectExpr("p_brand", "k1", "k2", "n1", "n2",
        "CAST(cast(round(jaro_winkler(n1, n2) * 1e6) as bigint) >= 900000 AS BIGINT) AS g_name",
        "CAST(t1 = t2 AS BIGINT) AS g_type",
        "CAST(abs(s1 - s2) <= 2 AS BIGINT) AS g_size")
  }

  private[star] val gammaPairsSqlCte: String =
    s"""pp AS (
       |  SELECT p_partkey, p_brand, p_name, p_type, p_size
       |  FROM part WHERE p_partkey % 4 = 0
       |),
       |gamma AS (
       |  SELECT a.p_brand, a.p_partkey AS k1, b.p_partkey AS k2,
       |    a.p_name AS n1, b.p_name AS n2,
       |    CAST(CAST(round(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6)
       |      AS BIGINT) >= 900000 AS BIGINT) AS g_name,
       |    CAST(a.p_type = b.p_type AS BIGINT) AS g_type,
       |    CAST(abs(a.p_size - b.p_size) <= 2 AS BIGINT) AS g_size
       |  FROM pp a JOIN pp b
       |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |),
       |uest AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    least(greatest(CAST(SUM(g_name) AS BIGINT), 1), COUNT(*) - 1) AS ua_name,
       |    least(greatest(CAST(SUM(g_type) AS BIGINT), 1), COUNT(*) - 1) AS ua_type,
       |    least(greatest(CAST(SUM(g_size) AS BIGINT), 1), COUNT(*) - 1) AS ua_size
       |  FROM gamma
       |),
       |weighted AS (
       |  SELECT g.*,
       |    -- constants CAST to DOUBLE: DuckDB parses bare 0.95 as
       |    -- DECIMAL and would fold the product exactly, while Spark
       |    -- multiplies doubles — the casts pin both engines to the
       |    -- identical IEEE product
       |    (CASE WHEN g_name = 1 THEN CAST(0.95 AS DOUBLE)
       |          ELSE CAST(0.05 AS DOUBLE) END
       |     * CASE WHEN g_type = 1 THEN CAST(0.9 AS DOUBLE)
       |            ELSE CAST(0.1 AS DOUBLE) END
       |     * CASE WHEN g_size = 1 THEN CAST(0.8 AS DOUBLE)
       |            ELSE CAST(0.2 AS DOUBLE) END)
       |    / ((CAST(CASE WHEN g_name = 1 THEN ua_name ELSE n - ua_name END AS DOUBLE) / CAST(n AS DOUBLE))
       |     * (CAST(CASE WHEN g_type = 1 THEN ua_type ELSE n - ua_type END AS DOUBLE) / CAST(n AS DOUBLE))
       |     * (CAST(CASE WHEN g_size = 1 THEN ua_size ELSE n - ua_size END AS DOUBLE) / CAST(n AS DOUBLE)))
       |    AS weight
       |  FROM gamma g CROSS JOIN uest
       |)""".stripMargin

  /** The blocked master record store in serving shape (p_brand, k2,
    * n2, t2, s2) — the static index [[graft.streaming.ErServeStream]]
    * probes per micro-batch. */
  def masterIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "part")
      .filter($"p_partkey" % 4 === 0)
      .select($"p_brand", $"p_partkey".as("k2"), $"p_name".as("n2"),
        $"p_type".as("t2"), $"p_size".as("s2"))
  }

  /** The frozen 1-row u-probability model (n, ua_name, ua_type,
    * ua_size) estimated from the blocked candidate set — the model
    * artifact the serving gate broadcasts. */
  def uModel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gamma = gammaPairs(spark, dir)
    gamma.agg(
      count(lit(1)).as("n"),
      least(greatest(sum($"g_name"), lit(1L)), count(lit(1)) - 1L).as("ua_name"),
      least(greatest(sum($"g_type"), lit(1L)), count(lit(1)) - 1L).as("ua_type"),
      least(greatest(sum($"g_size"), lit(1L)), count(lit(1)) - 1L).as("ua_size"))
  }

  /** Comparison pairs with their FS likelihood-ratio weight attached
    * (broadcast 1-row u-estimate; weight is six shape-identical IEEE
    * factors on exact integer inputs). */
  private[star] def weightedPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15: gamma feeds BOTH the u-estimate aggregate and the weighted
    // pair stream; without lineage truncation the Jaro-Winkler blocked
    // self-join executed TWICE per consumer query. Lazy localCheckpoint
    // (the hitsBipartite pattern): the broadcast u-estimate build is
    // the materializing action, the main leg reuses the persisted RDD.
    val gamma = gammaPairs(spark, dir).localCheckpoint(false)
    val uest = gamma.agg(
      count(lit(1)).as("n"),
      least(greatest(sum($"g_name"), lit(1L)), count(lit(1)) - 1L).as("ua_name"),
      least(greatest(sum($"g_type"), lit(1L)), count(lit(1)) - 1L).as("ua_type"),
      least(greatest(sum($"g_size"), lit(1L)), count(lit(1)) - 1L).as("ua_size"))
    gamma.crossJoin(broadcast(uest))
      .withColumn("weight",
        (when($"g_name" === 1, lit(0.95)).otherwise(lit(0.05))
          * when($"g_type" === 1, lit(0.9)).otherwise(lit(0.1))
          * when($"g_size" === 1, lit(0.8)).otherwise(lit(0.2)))
          / ((when($"g_name" === 1, $"ua_name").otherwise($"n" - $"ua_name")
                .cast("double") / $"n".cast("double"))
            * (when($"g_type" === 1, $"ua_type").otherwise($"n" - $"ua_type")
                .cast("double") / $"n".cast("double"))
            * (when($"g_size" === 1, $"ua_size").otherwise($"n" - $"ua_size")
                .cast("double") / $"n".cast("double"))))
  }

  /** er_fellegi_sunter: the gamma-pattern scorecard — ≤8 rows, one per
    * observed agreement pattern, with pair count and likelihood-ratio
    * weight. The table a linkage analyst reads to set the link/review/
    * non-link thresholds. */
  def fellegiSunter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    weightedPairs(spark, dir)
      .groupBy($"g_name", $"g_type", $"g_size", $"weight")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"g_name", $"g_type", $"g_size", $"n_pairs", $"weight")
      .orderBy($"g_name", $"g_type", $"g_size")
  }

  val fellegiSunterSql: String =
    s"""WITH $gammaPairsSqlCte
       |SELECT g_name, g_type, g_size, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  weight
       |FROM weighted GROUP BY g_name, g_type, g_size, weight
       |${sqlOrderBy(Seq("g_name", "g_type", "g_size")).trim}""".stripMargin

  /** The FS decision threshold for the "link" region: patterns at
    * least this many times likelier under the match hypothesis. */
  private val LinkThreshold = 1000.0

  /** er_matched_pairs: candidate pairs in the link region — the output
    * a survivorship/merge step consumes. */
  def matchedPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    weightedPairs(spark, dir)
      .filter($"weight" >= LinkThreshold)
      .select($"p_brand", $"k1", $"k2", $"n1", $"n2",
        $"g_name", $"g_type", $"g_size", $"weight")
      .orderBy($"k1", $"k2")
  }

  val matchedPairsSql: String =
    s"""WITH $gammaPairsSqlCte
       |SELECT p_brand, k1, k2, n1, n2, g_name, g_type, g_size, weight
       |FROM weighted WHERE weight >= $LinkThreshold
       |${sqlOrderBy(Seq("k1", "k2")).trim}""".stripMargin

  /** er_entities: connected components over the linked pairs → the
    * resolved-entity assignment (record, entity id = component min,
    * entity size, canonical flag) across every blocked record,
    * singletons included. Star-contraction on the Spark side; the
    * DuckDB oracle re-derives the grouping through its own recursive
    * transitive closure, so the clustering itself is cross-checked. */
  def entities(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = matchedPairs(spark, dir).select($"k1", $"k2")
    val stars = graft.llm.Cluster.components(edges)
    val assign = stars.select($"src".as("p_partkey"), $"dst".as("eid"))
    val labeled = Tables(spark, dir, "part")
      .filter($"p_partkey" % 4 === 0).select($"p_partkey")
      .join(assign, Seq("p_partkey"), "left")
      .select($"p_partkey", coalesce($"eid", $"p_partkey").as("entity_id"))
    // r15 NOTE: checkpoint on labeled tried and reverted — the
    // dedup_clusters rationale (components() output is RDD-backed,
    // consumers share one entity_id exchange); the win kept here is
    // the gamma checkpoint in weightedPairs.
    val sizes = labeled.groupBy($"entity_id")
      .agg(count(lit(1)).as("entity_size"))
    labeled.join(sizes, "entity_id")
      .select($"p_partkey", $"entity_id", $"entity_size",
        ($"p_partkey" === $"entity_id").as("is_canonical"))
      .orderBy($"p_partkey")
  }

  val entitiesSql: String =
    s"""WITH RECURSIVE $gammaPairsSqlCte,
       |links AS (
       |  SELECT k1, k2 FROM weighted WHERE weight >= $LinkThreshold
       |),
       |edges AS (
       |  SELECT k1 AS a, k2 AS b FROM links
       |  UNION
       |  SELECT k2, k1 FROM links
       |),
       |reach(node, r) AS (
       |  SELECT p_partkey, p_partkey FROM pp
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
       |),
       |comp AS (
       |  SELECT node AS p_partkey, MIN(r) AS entity_id FROM reach GROUP BY node
       |),
       |sz AS (
       |  SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS entity_size
       |  FROM comp GROUP BY entity_id
       |)
       |SELECT c.p_partkey, c.entity_id, sz.entity_size,
       |  c.p_partkey = c.entity_id AS is_canonical
       |FROM comp c JOIN sz USING (entity_id)
       |${sqlOrderBy(Seq("p_partkey")).trim}""".stripMargin

  /** er_survivorship: golden-record construction over the resolved
    * entities — the merge step after linkage: per entity, the
    * canonical key (component min), the MODAL p_type across members
    * (deterministic tie-break: higher count, then lexicographic), the
    * min/max size spread, and the exact average retail price in cents
    * (integer floor division — engine-agnostic). The survivorship
    * policy every MDM pipeline applies once records are grouped.
    *
    * Scale posture: one member join (equi on p_partkey — the entity
    * assignment rides the already-built component stars) and two
    * stacked aggregations (entity×type grain, then entity grain); the
    * modal pick is a min(struct) over per-type counts, never a sort of
    * raw members. */
  def survivorship(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val members = entities(spark, dir)
      .join(Tables(spark, dir, "part")
        .select($"p_partkey", $"p_type", $"p_size",
          round($"p_retailprice" * 100).cast("long").as("cents")),
        "p_partkey")
    // r15 NOTE: checkpoint on members tried and reverted (floor
    // 2.65→3.36 s) — both rollups share members' entity_id exchange.
    val modal = members.groupBy($"entity_id", $"p_type")
      .agg(count(lit(1)).as("c"))
      .groupBy($"entity_id")
      .agg(min(struct((-$"c").as("nc"), $"p_type")).as("mt"))
      .select($"entity_id", $"mt.p_type".as("modal_type"))
    members.groupBy($"entity_id")
      .agg(count(lit(1)).as("n_members"),
        min($"p_size").as("min_size"), max($"p_size").as("max_size"),
        expr("sum(cents) div count(*)").as("avg_cents"))
      .join(modal, "entity_id")
      .select($"entity_id", $"n_members", $"modal_type",
        $"min_size", $"max_size", $"avg_cents")
      .orderBy($"entity_id")
  }

  val survivorshipSql: String =
    s"""WITH RECURSIVE $gammaPairsSqlCte,
       |links AS (
       |  SELECT k1, k2 FROM weighted WHERE weight >= $LinkThreshold
       |),
       |edges AS (
       |  SELECT k1 AS a, k2 AS b FROM links
       |  UNION
       |  SELECT k2, k1 FROM links
       |),
       |reach(node, r) AS (
       |  SELECT p_partkey, p_partkey FROM pp
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
       |),
       |comp AS (
       |  SELECT node AS p_partkey, MIN(r) AS entity_id FROM reach GROUP BY node
       |),
       |members AS (
       |  SELECT c.entity_id, p.p_type, p.p_size,
       |    CAST(round(p.p_retailprice * 100) AS BIGINT) AS cents
       |  FROM comp c JOIN part p USING (p_partkey)
       |),
       |modal AS (
       |  SELECT entity_id, p_type AS modal_type FROM (
       |    SELECT entity_id, p_type,
       |      row_number() OVER (PARTITION BY entity_id
       |        ORDER BY COUNT(*) DESC, p_type) AS rn
       |    FROM members GROUP BY entity_id, p_type
       |  ) WHERE rn = 1
       |)
       |SELECT m.entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  ANY_VALUE(md.modal_type) AS modal_type,
       |  CAST(MIN(p_size) AS INTEGER) AS min_size,
       |  CAST(MAX(p_size) AS INTEGER) AS max_size,
       |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS avg_cents
       |FROM members m JOIN modal md USING (entity_id)
       |GROUP BY m.entity_id
       |${sqlOrderBy(Seq("entity_id")).trim}""".stripMargin

  /** er_blocking_recall: the blocking-quality audit — what fraction of
    * TRUE high-similarity pairs does brand blocking keep (pairs
    * completeness), and how much comparison work does it save
    * (reduction ratio)? The ER analogue of `dedup_oph_recall`'s
    * LSH-vs-exact-truth audit: the truth set is ALL cross-brand pairs
    * with name JW ≥ 0.9 over a deterministic 1/20 key sample, computed
    * by an explicit bounded all-pairs pass — like `dedup_ppjoin`, the
    * exact ground-truth generator IS the product here, and its cost is
    * deliberately bounded by the sample (≤ ~500 K pairs at sf0.1),
    * never the catalog. One scorecard row: sample size, pair counts,
    * truth size, blocked-truth size, recall, reduction ratio — all
    * exact integers plus two terminal divisions.
    *
    * Scale posture: the 1/20 sample is the audit's knob — blocking
    * quality is a property of the KEY, estimated on a sample, while
    * the production linkage itself never runs all-pairs. */
  def blockingRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.JaroWinkler.register(spark)
    val p = Tables(spark, dir, "part")
      .filter($"p_partkey" % 20 === 0)
      .select($"p_partkey", $"p_brand", $"p_name")
    val a = p.select($"p_partkey".as("k1"), $"p_brand".as("b1"),
      $"p_name".as("n1"))
    val b = p.select($"p_partkey".as("k2"), $"p_brand".as("b2"),
      $"p_name".as("n2"))
    val truth = a.join(b, $"k1" < $"k2") // bounded all-pairs: the audit
      .selectExpr("b1", "b2",
        "CAST(cast(round(jaro_winkler(n1, n2) * 1e6) as bigint) >= 900000 AS BIGINT) AS hit")
    val nSample = p.count() // tiny dimension-side count, audit metadata
    truth.agg(
      count(lit(1)).as("n_all_pairs"),
      sum($"hit").as("n_truth"),
      count_if($"b1" === $"b2").as("n_blocked_pairs"),
      sum(when($"b1" === $"b2", $"hit").otherwise(lit(0L)))
        .as("n_truth_blocked"))
      .select(lit(nSample).as("n_sample"), $"n_all_pairs", $"n_truth",
        $"n_blocked_pairs", $"n_truth_blocked",
        ($"n_truth_blocked".cast("double") / $"n_truth".cast("double"))
          .as("pairs_completeness"),
        (lit(1.0) - $"n_blocked_pairs".cast("double")
          / $"n_all_pairs".cast("double")).as("reduction_ratio"))
  }

  val blockingRecallSql: String =
    s"""WITH sp AS (
       |  SELECT p_partkey, p_brand, p_name FROM part WHERE p_partkey % 20 = 0
       |),
       |truth AS (
       |  SELECT a.p_brand AS b1, b.p_brand AS b2,
       |    CAST(CAST(round(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6)
       |      AS BIGINT) >= 900000 AS BIGINT) AS hit
       |  FROM sp a JOIN sp b ON a.p_partkey < b.p_partkey
       |)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sp) AS n_sample,
       |  CAST(COUNT(*) AS BIGINT) AS n_all_pairs,
       |  CAST(SUM(hit) AS BIGINT) AS n_truth,
       |  CAST(COUNT(*) FILTER (WHERE b1 = b2) AS BIGINT) AS n_blocked_pairs,
       |  CAST(SUM(CASE WHEN b1 = b2 THEN hit ELSE 0 END) AS BIGINT)
       |    AS n_truth_blocked,
       |  CAST(SUM(CASE WHEN b1 = b2 THEN hit ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(hit) AS DOUBLE) AS pairs_completeness,
       |  1.0 - CAST(COUNT(*) FILTER (WHERE b1 = b2) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS reduction_ratio
       |FROM truth""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_blocking_recall" -> blockingRecall,
    "er_fellegi_sunter" -> fellegiSunter,
    "er_matched_pairs" -> matchedPairs,
    "er_entities" -> entities,
    "er_survivorship" -> survivorship)

  val oracles: Map[String, String] = Map(
    "er_blocking_recall" -> blockingRecallSql,
    "er_fellegi_sunter" -> fellegiSunterSql,
    "er_matched_pairs" -> matchedPairsSql,
    "er_entities" -> entitiesSql,
    "er_survivorship" -> survivorshipSql)
}
