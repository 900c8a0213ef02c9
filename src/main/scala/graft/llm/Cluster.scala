package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Duplicate-cluster resolution: connected components over the
  * MinHash-LSH candidate-pair graph ([[Dedup.candidatePairs]]), so each
  * group of transitively-near-duplicate documents collapses to one
  * canonical keeper (the minimum doc_id of the component). This is the
  * finishing step of every production dedup funnel: LSH emits PAIRS,
  * but a keep/drop decision needs per-document cluster ids — and
  * near-duplication is not transitive pairwise, so chains (A~B~C with A
  * !~ C) must still land in one cluster.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each
  * round is a pair of hash-partitioned min-aggregations + equi-joins on
  * the node id — no adjacency list ever materializes on one machine, no
  * vertex-indexed driver state, and convergence is O(log n) rounds
  * independent of graph diameter. The naive alternative (propagate
  * min label to neighbors until fixpoint) needs O(diameter) shuffles —
  * a duplicate CHAIN of length k (common: serial near-copies of one
  * page) costs k rounds vs log k here, which is the difference between
  * 40 and 6 shuffles at web scale.
  *
  * The driver loop compares two scalar counts per round (convergence
  * test only — no data is collected), and each round's edge set is
  * localCheckpoint'd to truncate lineage, without which the plan tree
  * doubles per iteration.
  */
object Cluster extends graft.QueryModule {

  /** Undirected view of a directed edge list (src, dst). */
  private def bothDirs(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** m(u) = min(Γ(u) ∪ {u}), as (src, m). */
  private def minNbr(nbrs: DataFrame): DataFrame =
    nbrs.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))

  /** Large-star: connect every strictly-larger neighbor of u to m(u). */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = bothDirs(e)
    nbrs.join(minNbr(nbrs), "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: connect u and every smaller neighbor of u to m(u). */
  private def smallStar(e: DataFrame): DataFrame = {
    val nbrs = bothDirs(e)
    val nPlus = nbrs.where(col("dst") < col("src"))
      .union(nbrs.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
    nPlus.join(minNbr(nbrs), "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Connected components of an undirected edge list. Returns star
    * edges (member, component_min) for every non-root member; isolated
    * vertices (those not in `edges`) are absent and are their own
    * component.
    *
    * The 1-job checksum convergence test below is inherited by EVERY
    * components() consumer — `media_phash_clusters`
    * (multimodal/Media.scala), the SemDeDup closure
    * (llm/Similarity.scala), `dedup_clusters` / `graph_components` /
    * the token-graph components in this file, and `er_entities`
    * (star/Linkage.scala) — none of them runs its own convergence
    * loop, so the driver-round-trip count per iteration is 1 + the
    * localCheckpoint job for all of them. */
  def components(edges: DataFrame): DataFrame = {
    // LAZY checkpoints throughout: the signature aggregation that
    // immediately follows each round is the materializing action, so
    // lineage truncation rides the job the loop must run anyway —
    // ONE driver job per round total (was two: an eager-checkpoint
    // job plus the signature job; at small edge counts the fixed
    // per-job latency of the 6-shuffle round lineage dominated the
    // whole operator).
    var e = edges.toDF("src", "dst")
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false)
    // Convergence is a fixed point of distinct edge SETS. Per round the
    // cheap candidate test is one aggregation job — (count, xor of
    // per-edge hashes), order-free over the set — against the cached
    // signature of the previous round; the exact (shuffling)
    // set-difference check runs ONLY at the candidate round to rule
    // out a checksum collision.
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var eSig = sig(e)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 25) {
      // r15 (2nd session): smallStar references its input FOUR times
      // (both bothDirs legs of nPlus and of minNbr), so composing the
      // two stars into one plan re-executes the large-star contraction
      // for each reference — measured 3.86 s composed vs 0.26+0.23 s
      // staged on the 186K-edge phash graph. On a big round (count is
      // free — the convergence signature already carries it) an EAGER
      // half-round checkpoint pays one extra job to kill the 4×
      // recompute; tiny rounds keep the single-job composed shape
      // (there the fixed job latency dominates and the recompute is
      // sub-0.1 s).
      val half =
        if (eSig._1 > 50000L) largeStar(e).localCheckpoint()
        else largeStar(e)
      val next = smallStar(half).localCheckpoint(false)
      val nSig = sig(next)
      converged = nSig == eSig && next.except(e).isEmpty
      e = next
      eSig = nSig
      rounds += 1
    }
    // the alternation converges monotonically (SoCC'14, Thm 2) — 25
    // rounds covers graphs up to ~2^25 nodes per component; failing
    // loudly beats returning a half-merged clustering
    require(converged, s"large/small-star did not converge in $rounds rounds")
    e
  }

  /** Per-document duplicate-cluster assignment over the whole corpus:
    * (doc_id, cluster_id, cluster_size, is_keeper). Documents outside
    * any candidate pair are singleton clusters of themselves. */
  def clusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stars = components(
      Dedup.candidatePairs(spark, dir).select($"d1", $"d2"))
    val assign = stars.select($"src".as("doc_id"), $"dst".as("cid"))
    val labeled = Tables(spark, dir, "documents").select($"doc_id")
      .join(assign, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cid", $"doc_id").as("cluster_id"))
    // r15 NOTE: checkpoint on labeled tried and reverted (floor
    // 2.11→3.28 s, bench confirm gate): the contraction output is
    // already a materialized RDD (components runs its loop eagerly),
    // and both consumers share labeled's one cluster_id exchange.
    val sizes = labeled.groupBy($"cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select($"doc_id", $"cluster_id", $"cluster_size",
        ($"doc_id" === $"cluster_id").as("is_keeper"))
      .orderBy($"doc_id")
  }

  /** DuckDB oracle: transitive closure by recursive CTE — a completely
    * independent formulation (closure vs star-contraction), so the two
    * engines check each other's clustering, not just each other's
    * arithmetic. */
  val clustersSql: String =
    s"""WITH RECURSIVE ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
       |),
       |comp AS (
       |  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
       |),
       |sz AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY cluster_id
       |)
       |SELECT c.doc_id, c.cluster_id, sz.cluster_size,
       |  c.doc_id = c.cluster_id AS is_keeper
       |FROM comp c JOIN sz USING (cluster_id)
       |${sqlOrderBy(Seq("doc_id")).trim}""".stripMargin

  /** Duplication rate BY SOURCE — the acquisition scorecard composed
    * from [[clusters]]: per source, how many documents sit in a
    * multi-document near-dup cluster and how many survive min-id
    * keeper selection. The number a data-buying decision actually
    * turns on ("this feed is 40%% redundant against what we have"),
    * where [[graft.llm.Dedup.novelty]] scores marginal n-grams and
    * this scores whole-document redundancy. Exact counts, one IEEE
    * division per source; the DuckDB oracle re-derives the clustering
    * through its own recursive closure, so the composition is checked
    * end to end.
    *
    * Scale posture: the cluster labeling is the star-contraction
    * machinery (bounded rounds of hash-partitioned joins); this adds
    * one source join + a |sources|-row rollup. */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusters(spark, dir)
      .join(Tables(spark, dir, "documents").select($"doc_id", $"source"),
        "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"cluster_size" > 1).cast("long")).as("n_in_dup_cluster"),
        sum($"is_keeper".cast("long")).as("n_keepers"))
      .select($"source", $"n_docs", $"n_in_dup_cluster", $"n_keepers",
        (($"n_docs" - $"n_keepers").cast("double") /
          $"n_docs".cast("double")).as("removal_rate"))
      .orderBy($"source")
  }

  // same recursive-closure CTE chain as clustersSql, rolled up by source
  val dupRateBySourceSql: String = {
    s"""WITH RECURSIVE ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
       |),
       |comp AS (
       |  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
       |),
       |sz AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY cluster_id
       |)
       |SELECT d.source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN sz.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_in_dup_cluster,
       |  CAST(SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_keepers,
       |  CAST(COUNT(*) - SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS removal_rate
       |FROM comp c
       |JOIN sz USING (cluster_id)
       |JOIN documents d ON d.doc_id = c.doc_id
       |GROUP BY d.source${sqlOrderBy(Seq("d.source"))}""".stripMargin
  }

  /** Duplication rate BY QUALITY TERCILE — the cross-tier analysis
    * that decides pipeline ORDER: if low-quality content duplicates
    * disproportionately (it does, in crawls — boilerplate and spam are
    * both low-TTR and mass-replicated), dedup-before-filter wastes
    * candidate work on documents the filter would drop anyway, and
    * filter-before-dedup changes the clusters. Composes
    * [[graft.llm.Curate.qualityBuckets]]'s per-language CCNet terciles
    * with [[clusters]]' connected components: one doc_id equi-join, one
    * 3-row aggregate. Same removal-rate arithmetic as
    * [[dupRateBySource]], so the two scorecards read side by side. */
  def dupRateByQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = graft.llm.Curate.qualityBuckets(spark, dir)
      .select($"doc_id", $"bucket")
    val c = clusters(spark, dir)
      .select($"doc_id", ($"cluster_size" > 1).as("in_dup"), $"is_keeper")
    q.join(c, "doc_id")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"in_dup".cast("long")).as("n_in_dup_cluster"),
        sum($"is_keeper".cast("long")).as("n_keepers"))
      .select($"bucket", $"n_docs", $"n_in_dup_cluster", $"n_keepers",
        (($"n_docs" - $"n_keepers").cast("double") /
          $"n_docs".cast("double")).as("removal_rate"))
      .orderBy($"bucket")
  }

  val dupRateByQualitySql: String = {
    s"""WITH RECURSIVE ${graft.llm.Dedup.sigSqlCte},
       |${graft.llm.Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
       |),
       |comp AS (
       |  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
       |),
       |sz AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY cluster_id
       |),
       |qt AS (
       |  SELECT doc_id,
       |    CAST(ntile(3) OVER (PARTITION BY lang
       |      ORDER BY len(list_distinct(string_split(text, ' ')))
       |        / CAST(len(string_split(text, ' ')) AS DOUBLE) DESC, doc_id)
       |      AS INTEGER) AS bucket
       |  FROM documents
       |)
       |SELECT qt.bucket,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN sz.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_in_dup_cluster,
       |  CAST(SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_keepers,
       |  CAST(COUNT(*) - SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS removal_rate
       |FROM comp c
       |JOIN sz USING (cluster_id)
       |JOIN qt ON qt.doc_id = c.doc_id
       |GROUP BY qt.bucket${sqlOrderBy(Seq("qt.bucket"))}""".stripMargin
  }

  /** One damped PageRank power-iteration step (d = 0.85) from the
    * uniform vector over the undirected candidate-pair graph — the
    * centrality primitive for picking the CANONICAL document of a
    * duplicate cluster (highest-rank member) instead of min-id. With
    * r₀ = 1/N the update is
    *   r₁(v) = 0.15/N + Σ_{u∈Γ(v)} 0.85/(N·deg(u)),
    * reported in parts-per-billion. Cross-engine determinism: each
    * per-edge term is ONE double division of exact integers (identical
    * IEEE result in both engines), summed under the Det decimal
    * discipline (order-free), then one multiply-free add — no
    * transcendental, no accumulation-order dependence. Scale: one
    * degree aggregate + one edge join + one per-node aggregate, all
    * hash-partitioned on node id; N is a 1-row broadcast, nothing
    * collects. A full PageRank is this step iterated (the r-vector
    * replaces the uniform 1/N join side). */
  def pagerankStep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bothDirs(
      Dedup.candidatePairs(spark, dir).select($"d1".as("src"), $"d2".as("dst")))
      .localCheckpoint(false) // cut the LSH lineage: edges feed 3 subplans (r15: lazy, guide §5)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("dg"))
    val n = edges.agg(countDistinct($"src").as("nn"))
    edges.join(deg, "src").crossJoin(broadcast(n))
      .groupBy($"dst".as("doc_id"))
      .agg(graft.Det.xsum(lit(8.5e8) / ($"nn" * $"dg")).as("inflow_ppb"),
        first($"nn").as("n_nodes"))
      .select($"doc_id",
        ((lit(1.5e8) / $"n_nodes") + $"inflow_ppb").as("rank_ppb"))
      .orderBy($"doc_id")
  }

  val pagerankStepSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src),
       |n AS (SELECT COUNT(DISTINCT src) AS nn FROM edges)
       |SELECT dst AS doc_id,
       |  (150000000.0 / nn) + ${graft.Det.sqlSum("850000000.0 / (nn * dg)")}
       |    AS rank_ppb
       |FROM edges JOIN deg USING (src) CROSS JOIN n
       |GROUP BY dst, nn${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Triangle census of the candidate-pair graph, per document: how
    * many of a doc's neighbor pairs are themselves near-duplicates.
    * High triangle density around a doc = a tight duplicate clique
    * (template spam); low density = chain-like drift. The two-path +
    * closing-edge join is the standard distributed formulation
    * (edges ordered a<b<c so each triangle counts exactly once): work
    * is Σ deg(v)² for the wedge join — bounded by the LSH band sizes —
    * and the closure check is an equi-join against the (sorted) edge
    * list, all hash-partitioned, nothing driver-side. */
  /** Census core over an ordered edge list (d1 < d2 canonical form). */
  private[llm] def triangleCensus(e0: DataFrame): DataFrame = {
    val e = e0.toDF("d1", "d2")
    // wedges a<b<c around center b: (a,b) and (b,c)
    val wedges = e.select(col("d1").as("a"), col("d2").as("b"))
      .join(e.select(col("d1").as("b"), col("d2").as("c")), "b")
    val tri = wedges
      .join(e.select(col("d1").as("a"), col("d2").as("c")), Seq("a", "c"))
    // census per participating document (each triangle touches 3 docs)
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("doc_id"))
  }

  def triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    triangleCensus(Dedup.candidatePairs(spark, dir).select($"d1", $"d2")
      .localCheckpoint(false)) // 3 consumers; cut the LSH lineage (r15: lazy, guide §5)
  }

  val trianglesSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |tri AS (
       |  SELECT w1.d1 AS a, w1.d2 AS b, w2.d2 AS c
       |  FROM cand w1
       |  JOIN cand w2 ON w2.d1 = w1.d2
       |  JOIN cand w3 ON w3.d1 = w1.d1 AND w3.d2 = w2.d2
       |),
       |m AS (
       |  SELECT a AS doc_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri
       |)
       |SELECT doc_id, COUNT(*) AS n_triangles
       |FROM m GROUP BY doc_id${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** graph_clustering_coeff: global and average-local clustering
    * coefficients of the near-dup candidate graph (Watts & Strogatz
    * 1998) — the one-number summary of how CLIQUE-LIKE the duplicate
    * neighborhoods are: LSH buckets over true duplicate families
    * produce near-cliques (CC → 1), while chained false-positive
    * bridges drag CC down, so this is the graph-level health check
    * beside the per-doc triangle census. Global CC = 3·triangles /
    * wedges with both counts exact integers (wedges = Σ d(d−1)/2) and
    * ONE final division; the average local coefficient 1e9-quantizes
    * each vertex's 2t/(d(d−1)) before the integer sum (the house
    * fixed-point discipline — no float sum in shuffle order).
    *
    * Scale posture: same Σdeg² wedge budget as [[triangles]] /
    * [[linkPredict]] (LSH bands bound degrees); the degree rollup is
    * map-combined; output one row. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Dedup.candidatePairs(spark, dir).select($"d1", $"d2")
      .localCheckpoint(false) // 3 consumers; cut the LSH lineage (r15: lazy, guide §5)
    val deg = bothDirs(pairs.select($"d1".as("src"), $"d2".as("dst")))
      .groupBy($"src".as("doc_id")).agg(count(lit(1)).as("d"))
    val nTri = {
      val e = pairs
      val wedges = e.select($"d1".as("a"), $"d2".as("b"))
        .join(e.select(col("d1").as("b"), col("d2").as("c")), "b")
      wedges.join(e.select(col("d1").as("a"), col("d2").as("c")),
        Seq("a", "c"))
        .agg(count(lit(1)).as("n_tri"))
    }
    val census = triangleCensus(pairs)
    val local = deg.filter($"d" >= 2)
      .join(census, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(expr(
        """CAST(floor(CAST(2 * n_triangles AS DOUBLE)
          |  / (CAST(d AS DOUBLE) * CAST(d - 1 AS DOUBLE)) * 1e9 + 0.5)
          |  AS BIGINT)""".stripMargin).as("qcc"))
      .agg(count(lit(1)).as("n_deg2"), sum($"qcc").as("qsum"))
    val tots = deg.agg(count(lit(1)).as("n_vertices"),
      expr("sum(d * (d - 1)) div 2").as("wedges"))
    pairs.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(tots))
      .crossJoin(broadcast(nTri))
      .crossJoin(broadcast(local))
      .select($"n_vertices", $"n_edges", $"n_tri".as("n_triangles"),
        $"wedges".cast("long").as("n_wedges"),
        (($"n_tri" * 3).cast("double") / $"wedges".cast("double"))
          .as("global_cc"),
        ($"qsum".cast("double") / 1e9 / $"n_deg2".cast("double"))
          .as("avg_local_cc"))
  }

  val clusteringCoeffSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |ccdeg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS d FROM (
       |    SELECT d1 AS doc_id FROM cand
       |    UNION ALL SELECT d2 FROM cand)
       |  GROUP BY doc_id
       |),
       |cctri0 AS (
       |  SELECT w1.d1 AS a, w1.d2 AS b, w2.d2 AS c
       |  FROM cand w1
       |  JOIN cand w2 ON w2.d1 = w1.d2
       |  JOIN cand w3 ON w3.d1 = w1.d1 AND w3.d2 = w2.d2
       |),
       |cctri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tri FROM cctri0),
       |cccen AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
       |    SELECT a AS doc_id FROM cctri0
       |    UNION ALL SELECT b FROM cctri0
       |    UNION ALL SELECT c FROM cctri0)
       |  GROUP BY doc_id
       |),
       |cclocal AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_deg2,
       |    CAST(SUM(CAST(floor(CAST(2 * COALESCE(c.n_triangles, 0) AS DOUBLE)
       |      / (CAST(g.d AS DOUBLE) * CAST(g.d - 1 AS DOUBLE)) * 1e9 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS qsum
       |  FROM ccdeg g LEFT JOIN cccen c ON c.doc_id = g.doc_id
       |  WHERE g.d >= 2
       |),
       |cctot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
       |    CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS wedges
       |  FROM ccdeg
       |)
       |SELECT t.n_vertices,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_edges,
       |  r.n_tri AS n_triangles, t.wedges AS n_wedges,
       |  CAST(r.n_tri * 3 AS DOUBLE) / CAST(t.wedges AS DOUBLE)
       |    AS global_cc,
       |  CAST(l.qsum AS DOUBLE) / 1e9 / CAST(l.n_deg2 AS DOUBLE)
       |    AS avg_local_cc
       |FROM cctot t, cctri r, cclocal l""".stripMargin

  /** Link prediction by common neighbors — the graph-completion
    * primitive over the near-dup graph: count shared LSH neighbors per
    * wedge-connected pair; a high count on a pair that is NOT itself a
    * candidate (`already_candidate = 0`) is evidence of a missed
    * near-dup the bands happened to split, feeding a second-pass
    * verification queue. The classic common-neighbors link-prediction
    * score doing real dedup work — the flag separates confirmations
    * from discoveries (LSH buckets are near-cliques, so confirmations
    * dominate; the discoveries are the payload).
    *
    * Scale posture: the wedge join is Σ deg² over the pair graph
    * (bounded because LSH buckets bound degrees), never |corpus|²; the
    * existing-edge anti-join and top-20 TakeOrdered are standard. */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bothDirs(Dedup.candidatePairs(spark, dir)
      .select($"d1".as("src"), $"d2".as("dst")))
      .localCheckpoint(false) // 3 consumers; cut the LSH lineage (r15: lazy, guide §5)
    val wedges = edges.as("e1")
      .join(edges.as("e2"), $"e1.dst" === $"e2.src")
      .select($"e1.src".as("a"), $"e2.dst".as("b"))
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("common_neighbors"))
    wedges
      .join(edges.select($"src".as("a"), $"dst".as("b"),
        lit(1).as("already_candidate")), Seq("a", "b"), "left")
      .na.fill(0, Seq("already_candidate"))
      .orderBy($"common_neighbors".desc, $"a", $"b")
      .limit(20)
  }

  val linkPredictSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION ALL
       |  SELECT d2, d1 FROM cand
       |),
       |wedges AS (
       |  SELECT e1.src AS a, e2.dst AS b, COUNT(*) AS common_neighbors
       |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
       |  WHERE e1.src < e2.dst
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, common_neighbors,
       |  CAST(EXISTS (SELECT 1 FROM edges e
       |               WHERE e.src = w.a AND e.dst = w.b) AS INTEGER)
       |    AS already_candidate
       |FROM wedges w
       |ORDER BY common_neighbors DESC NULLS LAST, a NULLS FIRST, b NULLS FIRST
       |LIMIT 20""".stripMargin

  /** graph_adamic_adar: Adamic–Adar link prediction (Adamic & Adar
    * 2003) over the LSH candidate graph — the DEGREE-DISCOUNTED
    * refinement of [[linkPredict]]'s raw common-neighbors count: a
    * shared neighbor that is near-duplicate to half the corpus (an LSH
    * hot bucket, boilerplate) is weak evidence, one shared RARE
    * neighbor is strong, so each wedge center z contributes
    * 1/log(deg z) instead of 1. The weight lives on the engine-
    * portable qlog2 grid: w_z = ⌊10¹² / qlog2(deg z)⌋ — qlog2 is an
    * exact integer, the division is exact integer floor, and a wedge
    * center always has deg ≥ 2 (it bridges two distinct endpoints) so
    * qlog2 ≥ 1024 — making the per-pair score Σ w_z an exact BIGINT
    * sum in BOTH engines (≤ ~10⁹ per wedge, overflow at ~9·10⁹
    * wedges per pair — far beyond the LSH degree bound). Same
    * discovery contract as [[linkPredict]]: `already_candidate = 0`
    * rows are near-dups the bands split, ranked for a verification
    * queue — now with hub neighbors discounted.
    *
    * Scale posture: identical to [[linkPredict]] — one degree rollup,
    * the Σ deg²-bounded wedge join (weight attached to the center leg
    * BEFORE the join, no post-hoc per-wedge lookup), top-20
    * TakeOrdered on the exact integer score. */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bothDirs(Dedup.candidatePairs(spark, dir)
      .select($"d1".as("src"), $"d2".as("dst")))
      .localCheckpoint(false) // 3 consumers; cut the LSH lineage (r15: lazy, guide §5)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("dg"))
    // dg >= 2 filter: a wedge center bridges two DISTINCT endpoints, so
    // deg-1 nodes can never contribute — and it keeps qlog2's argument
    // off the qlog2(1) = 0 pole explicitly rather than via div-NULL
    val e2w = edges.join(deg, "src")
      .filter($"dg" >= 2)
      .selectExpr("src AS z", "dst AS b",
        s"CAST(1000000000000 div (${Curate.qlog2Spark("dg")}) AS BIGINT) AS wz")
    val wedges = edges.select($"src".as("a"), $"dst".as("z"))
      .join(e2w, "z")
      .filter($"a" < $"b")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("common_neighbors"), sum($"wz").as("aa_q"))
    wedges
      .join(edges.select($"src".as("a"), $"dst".as("b"),
        lit(1).as("already_candidate")), Seq("a", "b"), "left")
      .na.fill(0, Seq("already_candidate"))
      .orderBy($"aa_q".desc, $"a", $"b")
      .limit(20)
  }

  val adamicAdarSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION ALL
       |  SELECT d2, d1 FROM cand
       |),
       |aadeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg
       |          FROM edges GROUP BY src),
       |aae2w AS (
       |  SELECT e.src AS z, e.dst AS b,
       |    CAST(1000000000000 // (${Curate.qlog2Duck("dg")}) AS BIGINT) AS wz
       |  FROM edges e JOIN aadeg d ON d.src = e.src
       |  WHERE d.dg >= 2
       |),
       |aawedge AS (
       |  SELECT e1.src AS a, w.b, COUNT(*) AS common_neighbors,
       |    CAST(SUM(w.wz) AS BIGINT) AS aa_q
       |  FROM edges e1 JOIN aae2w w ON w.z = e1.dst
       |  WHERE e1.src < w.b
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, common_neighbors, aa_q,
       |  CAST(EXISTS (SELECT 1 FROM edges e
       |               WHERE e.src = w.a AND e.dst = w.b) AS INTEGER)
       |    AS already_candidate
       |FROM aawedge w
       |ORDER BY aa_q DESC NULLS LAST, a NULLS FIRST, b NULLS FIRST
       |LIMIT 20""".stripMargin

  /** Dedup-aware negative sampling for contrastive training: each
    * anchor doc draws k=2 pseudo-random negatives by salted hash
    * (deterministic — re-runs, retries, and cluster resizes sample the
    * SAME negatives, no RNG seed to version), then REJECTS any draw
    * that is the anchor itself or its near-duplicate (anti-join
    * against the symmetric LSH pair graph — a near-dup labeled
    * "negative" is a poisoned training pair). 3 draws per anchor
    * absorb rejections; survivors rank by draw order. Scale: draws are
    * map-only over a 1-row doc-count broadcast; the rejection is one
    * anti-join keyed on (anchor, candidate); nothing driver-side. */
  def negatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val sym = bothDirs(Dedup.candidatePairs(spark, dir)
      .select($"d1".as("src"), $"d2".as("dst")))
      .select($"src".as("a"), $"dst".as("b"))
    val draws = docs.crossJoin(broadcast(n))
      .select($"doc_id", $"n_docs",
        explode(expr("array(0, 1, 2)")).as("try"))
      .withColumn("neg_id", expr(
        "cast(conv(substr(md5(cast(concat(doc_id, ':', try) as binary)), 1, 8), 16, 10) as bigint) % n_docs"))
      .filter($"neg_id" =!= $"doc_id")
      .join(sym, $"doc_id" === $"a" && $"neg_id" === $"b", "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"try")
    draws.withColumn("neg_rank", row_number().over(w))
      .filter($"neg_rank" <= 2)
      .select($"doc_id", $"neg_rank", $"neg_id")
      .orderBy($"doc_id", $"neg_rank")
  }

  val negativesSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |sym AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |draws AS (
       |  SELECT doc_id, t.try,
       |    CAST('0x' || substr(md5(doc_id || ':' || t.try), 1, 8) AS BIGINT)
       |      % n_docs AS neg_id
       |  FROM documents, (SELECT unnest(range(3)) AS try) t, n
       |),
       |ok AS (
       |  SELECT doc_id, try, neg_id FROM draws
       |  WHERE neg_id <> doc_id
       |    AND NOT EXISTS (SELECT 1 FROM sym WHERE a = doc_id AND b = neg_id)
       |)
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY try) AS INTEGER)
       |    AS neg_rank,
       |  neg_id
       |FROM ok
       |QUALIFY neg_rank <= 2
       |${sqlOrderBy(Seq("doc_id", "neg_rank")).trim}""".stripMargin

  /** Damped PageRank iterated 5 rounds over the near-dup graph — the
    * full centrality computation [[pagerankStep]] is one round of,
    * used to pick the canonical document of a duplicate cluster by
    * connectivity rather than min-id. Each round is the same
    * join+partial-agg (rank/deg inflow, 0.85 damping, ppb units), so
    * the distributed cost is 5 × one step; the driver never sees data,
    * only the loop counter. Numerics: every inflow sum passes through
    * Det's scale-5 decimal quantization — the quantize-per-iteration
    * schedule is part of the operator contract, stated identically in
    * the oracle's 5 unrolled CTEs (built by the same Scala loop), so
    * both engines round in lockstep and the hash gate holds after 5
    * compounding rounds. */
  def pagerankIter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bothDirs(
      Dedup.candidatePairs(spark, dir).select($"d1".as("src"), $"d2".as("dst")))
      // edges feed deg + 5 iteration joins. r15: lazy — the nn-count
      // broadcast build materializes it (guide §5).
      .localCheckpoint(false)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("dg"))
    // r15 NOTE: an ed checkpoint + per-round broadcast(rank) were tried
    // and REVERTED (floor 2.08→2.75 s): the ed-side exchange is
    // identical across all five rounds (ReuseExchange shuffles it once)
    // and the broadcasts only added five blocking builds.
    val ed = edges.join(deg, "src")
    val nodes = edges.select($"src".as("doc_id")).distinct()
      .localCheckpoint(false)
    val nRow = nodes.agg(count(lit(1)).as("nn"))
    var rank = nodes.crossJoin(broadcast(nRow))
      .select($"doc_id", (lit(1e9) / $"nn").as("r"))
    for (_ <- 1 to 5) {
      val inflow = ed
        .join(rank.withColumnRenamed("doc_id", "src"), "src")
        .groupBy($"dst")
        .agg(graft.Det.xsum($"r" * lit(0.85) / $"dg").as("inflow"))
        .withColumnRenamed("dst", "doc_id")
      rank = nodes.crossJoin(broadcast(nRow))
        .join(inflow, Seq("doc_id"), "left")
        .select($"doc_id",
          (lit(1.5e8) / $"nn" + coalesce($"inflow", lit(0.0))).as("r"))
    }
    rank.select($"doc_id", $"r".as("rank_ppb")).orderBy($"doc_id")
  }

  val pagerankIterSql: String = {
    val iters = (1 to 5).map { k =>
      s"""rank$k AS (
         |  SELECT nodes.doc_id,
         |    (1.5e8 / nn) + COALESCE(inf.inflow, 0.0) AS r
         |  FROM nodes CROSS JOIN n LEFT JOIN (
         |    SELECT dst AS doc_id,
         |      ${graft.Det.sqlSum(s"r * 0.85 / dg")} AS inflow
         |    FROM edges JOIN deg USING (src)
         |    JOIN rank${k - 1} rk ON rk.doc_id = src
         |    GROUP BY dst) inf ON inf.doc_id = nodes.doc_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
       |n AS (SELECT COUNT(*) AS nn FROM nodes),
       |rank0 AS (SELECT doc_id, 1e9 / nn AS r FROM nodes CROSS JOIN n),
       |$iters
       |SELECT doc_id, r AS rank_ppb FROM rank5
       |${sqlOrderBy(Seq("doc_id")).trim}""".stripMargin
  }

  /** graph_ppr_seeded: PERSONALIZED PageRank (random walk with
    * restart; Jeh & Widom 2003, "Scaling personalized web search")
    * over the LSH candidate graph, seeded by the EVAL-SET documents
    * (the decontamination convention: eval source = MIN(source), the
    * same held-out suite `text_contamination` screens against) — the
    * "contamination neighborhood" ranking that completes the
    * centrality family (PageRank, HITS, label-prop, Louvain, k-core,
    * BFS): where global PageRank scores connectivity to EVERYWHERE,
    * RWR scores proximity to the seeds, so a high-rank non-seed doc is
    * one the near-dup graph pulls toward the eval suite — exactly the
    * "quarantine ring" a decontamination pass reviews after removing
    * verbatim hits. Teleport mass (0.15) returns to the seed
    * distribution (uniform over seeds) instead of all nodes; damping,
    * round count (5, the `graph_pagerank_iter5` fixed-iteration
    * contract), ppb units, and the per-inflow scale-5 decimal
    * quantization schedule are identical to [[pagerankIter]], stated
    * identically in the oracle's unrolled CTEs (built by the same
    * Scala loop) so both engines round in lockstep.
    *
    * Scale posture: the edge list builds ONCE behind a localCheckpoint
    * and feeds deg + all 5 rounds; each round is one equi-join + one
    * map-side-combined rollup; each round's rank frame is LAZILY
    * localCheckpoint-ed (the institutionalized hitsBipartite fix —
    * lineage truncation rides the terminal action, zero extra driver
    * jobs) so the compounded plan never replays earlier rounds. Seeds
    * ride the node frame as an is_seed 0/1 column — no separate seed
    * join inside the loop. */
  def pprSeeded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bothDirs(
      Dedup.candidatePairs(spark, dir).select($"d1".as("src"), $"d2".as("dst")))
      // edges feed deg + 5 iteration joins. r15: lazy (guide §5).
      .localCheckpoint(false)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("dg"))
    val ed = edges.join(deg, "src")
    val docs = graft.Tables(spark, dir, "documents")
    val evalSrc = docs.agg(min($"source").as("eval_src"))
    val nodes = edges.select($"src".as("doc_id")).distinct()
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .crossJoin(broadcast(evalSrc))
      .select($"doc_id", ($"source" === $"eval_src").cast("int").as("is_seed"))
      .localCheckpoint(false)
    val nsRow = nodes.agg(sum($"is_seed").cast("long").as("ns"))
    var rank = nodes.crossJoin(broadcast(nsRow))
      .select($"doc_id", $"is_seed", (lit(1e9) * $"is_seed" / $"ns").as("r"))
    for (_ <- 1 to 5) {
      val inflow = ed
        .join(rank.select($"doc_id".as("src"), $"r"), "src")
        .groupBy($"dst")
        .agg(graft.Det.xsum($"r" * lit(0.85) / $"dg").as("inflow"))
        .withColumnRenamed("dst", "doc_id")
      rank = nodes.crossJoin(broadcast(nsRow))
        .join(inflow, Seq("doc_id"), "left")
        .select($"doc_id", $"is_seed",
          (lit(1.5e8) * $"is_seed" / $"ns" + coalesce($"inflow", lit(0.0)))
            .as("r"))
        .localCheckpoint(false) // lazy: rides the terminal action
    }
    rank.select($"doc_id", $"is_seed", $"r".as("rank_ppb"))
      .orderBy($"doc_id")
  }

  val pprSeededSql: String = {
    val iters = (1 to 5).map { k =>
      s"""pprrank$k AS (
         |  SELECT nodes.doc_id, nodes.is_seed,
         |    (1.5e8 * nodes.is_seed / ns) + COALESCE(inf.inflow, 0.0) AS r
         |  FROM nodes CROSS JOIN nsd LEFT JOIN (
         |    SELECT dst AS doc_id,
         |      ${graft.Det.sqlSum(s"r * 0.85 / dg")} AS inflow
         |    FROM edges JOIN deg USING (src)
         |    JOIN pprrank${k - 1} rk ON rk.doc_id = src
         |    GROUP BY dst) inf ON inf.doc_id = nodes.doc_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src),
       |ev AS (SELECT MIN(source) AS eval_src FROM documents),
       |nodes AS (
       |  SELECT n.doc_id, CAST(d.source = ev.eval_src AS INTEGER) AS is_seed
       |  FROM (SELECT DISTINCT src AS doc_id FROM edges) n
       |  JOIN documents d ON d.doc_id = n.doc_id
       |  CROSS JOIN ev
       |),
       |nsd AS (SELECT CAST(SUM(is_seed) AS BIGINT) AS ns FROM nodes),
       |pprrank0 AS (
       |  SELECT doc_id, is_seed, 1e9 * is_seed / ns AS r
       |  FROM nodes CROSS JOIN nsd),
       |$iters
       |SELECT doc_id, is_seed, r AS rank_ppb FROM pprrank5
       |${sqlOrderBy(Seq("doc_id")).trim}""".stripMargin
  }

  /** Quality-based canonical selection: within each multi-document
    * duplicate cluster, keep the HIGHEST-quality member (type-token
    * ratio, doc_id tiebreak) instead of [[clusters]]' min-id keeper —
    * what a curation pipeline actually ships (the min-id rule keeps
    * whichever copy crawled first; the quality rule keeps the cleanest
    * one).
    *
    * Two-phase skinny ranking (round 6 — the knn-graph discipline from
    * the ×25 rehearsal, SCALE.md, applied to the rehearsal's heaviest
    * remaining stage): multi-cluster MEMBERSHIP is taken straight from
    * the component star edges (member→root, plus the roots themselves)
    * — never the corpus-wide label+size join or the global doc_id sort
    * [[clusters]] builds for its own output contract — and the rank
    * sort sees only (cluster_id, ttr, doc_id). The cluster_size payload
    * joins AFTER the rank filter, |clusters| rows against |clusters|
    * rows. Anything wider through a per-cluster sort is spill surface
    * at 100 TB; output is bit-identical (oracle-checked). */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val stars = components(
      Dedup.candidatePairs(spark, dir).select($"d1", $"d2"))
    // docs in size>=2 clusters = star members + their roots, skinny
    val members = stars.select($"src".as("doc_id"), $"dst".as("cid"))
      .union(stars.select($"dst", $"dst").distinct())
    val sizes = members.groupBy($"cid").agg(count(lit(1)).as("cluster_size"))
    val quality = Tables(spark, dir, "documents")
      .select($"doc_id",
        (expr("size(array_distinct(split(text, ' ')))") /
          expr("size(split(text, ' '))").cast("double")).as("ttr"))
    members.join(quality, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cid").orderBy($"ttr".desc, $"doc_id")))
      .filter($"rk" === 1)
      .join(sizes, "cid")
      .select($"cid".as("cluster_id"), $"cluster_size",
        $"doc_id".as("keeper_doc"), $"ttr".as("keeper_ttr"))
      .orderBy($"cluster_id")
  }

  val keepBestSql: String =
    s"""SELECT cluster_id, cluster_size, doc_id AS keeper_doc, ttr AS keeper_ttr
       |FROM (
       |  SELECT b.cluster_id, b.cluster_size, b.doc_id, t.ttr,
       |    row_number() OVER (PARTITION BY b.cluster_id
       |      ORDER BY t.ttr DESC, b.doc_id) AS rk
       |  FROM ($clustersSql) b
       |  JOIN (
       |    SELECT doc_id,
       |      len(list_distinct(string_split(text, ' ')))
       |        / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
       |    FROM documents) t ON t.doc_id = b.doc_id
       |  WHERE b.cluster_size >= 2
       |) WHERE rk = 1
       |${sqlOrderBy(Seq("cluster_id")).trim}""".stripMargin

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * near-dup candidate graph — community detection that, unlike
    * [[components]]' connected components, splits a weakly-bridged
    * blob into its dense cores: each node adopts the MODE of its
    * neighbors' labels (min label on frequency ties — the same
    * deterministic-mode rank formulation as `agg_mode`), two
    * synchronous rounds unrolled. Fixed rounds keep the operator a
    * bounded DAG (production iterates to label stability with the same
    * per-round plan; the [[pagerankIter]] loop shows the template).
    *
    * Scale posture: one round = one equi-join (edge.dst → label) + one
    * partial-aggregated (src, label) count + a per-src window over
    * |distinct neighbor labels| rows — all hash-partitioned, no driver
    * state; the edge list is localCheckpoint'd once so the LSH lineage
    * isn't re-derived per round. Label frames carry 2 longs per node.
    * The DuckDB oracle restates both rounds as windowed CTEs. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val edges = bothDirs(
      Dedup.candidatePairs(spark, dir).select($"d1".as("src"), $"d2".as("dst")))
      .localCheckpoint(false) // r15: lazy — round 1 materializes (guide §5)
    var lbl = edges.select($"src".as("id")).distinct()
      .withColumn("lbl", $"id")
    for (_ <- 1 to 2) {
      val cnt = edges.join(lbl.withColumnRenamed("id", "dst"), "dst")
        .groupBy($"src", $"lbl").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"src").orderBy($"c".desc, $"lbl")
      lbl = cnt.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"src".as("id"), $"lbl")
    }
    lbl.select($"id".as("doc_id"), $"lbl".as("community")).orderBy($"doc_id")
  }

  val labelPropSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
       |c1 AS (
       |  SELECT e.src, l.lbl, COUNT(*) AS c
       |  FROM edges e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2
       |),
       |l1 AS (
       |  SELECT src AS id, lbl FROM (
       |    SELECT src, lbl,
       |      row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
       |    FROM c1
       |  ) WHERE rn = 1
       |),
       |c2 AS (
       |  SELECT e.src, l.lbl, COUNT(*) AS c
       |  FROM edges e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2
       |),
       |l2 AS (
       |  SELECT src AS id, lbl FROM (
       |    SELECT src, lbl,
       |      row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
       |    FROM c2
       |  ) WHERE rn = 1
       |)
       |SELECT id AS doc_id, lbl AS community
       |FROM l2${graft.Det.sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Degree distribution of the near-dup candidate graph — the first
    * chart anyone puts on a graph before running anything else on it:
    * how many nodes have degree d, plus the hub tail (max degree).
    * A heavy hub tail here predicts skew in every downstream
    * graph op (a 10k-degree node makes [[triangles]]' wedge join
    * quadratic at that node and concentrates [[labelProp]] traffic),
    * so this IS the pre-flight skew check for the graph tier — the
    * graph analogue of `dq_skew_report`. Exact integer counts end to
    * end.
    *
    * Scale posture: two bounded aggregations — per-node degree
    * (partial-agg on node id) then |distinct degrees| histogram
    * cells; no joins, no windows over raw edges. */
  def degreeHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deg = bothDirs(
      Dedup.candidatePairs(spark, dir).select($"d1".as("src"), $"d2".as("dst")))
      .groupBy($"src").agg(count(lit(1)).as("degree"))
    deg.groupBy($"degree")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy($"degree")
  }

  val degreeHistSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src)
       |SELECT CAST(degree AS BIGINT) AS degree, COUNT(*) AS n_nodes
       |FROM deg GROUP BY degree
       |${graft.Det.sqlOrderBy(Seq("degree")).trim}""".stripMargin

  /** k-core peeling threshold and unrolled round count. */
  private val CoreK = 2
  private val CoreRounds = 3

  /** graph_kcore_peel3: k-core decomposition by iterative peeling over
    * the candidate-pair graph — the standard dense-community extractor
    * (a node is in the k-core iff it keeps >= k neighbors after every
    * lower-degree node is recursively removed). k=2 here — the 2-core
    * strips every tree-like tendril and keeps exactly the CYCLIC dup
    * families; in a dedup pipeline that separates boilerplate rings
    * from incidental one-off pair matches (the sparse candidate graph
    * of this fixture has no 3-core at every SF, so k=2 is also the
    * non-degenerate choice). Three peeling rounds are unrolled (the
    * `graph_pagerank_iter5` fixed-iteration pattern — each round is a
    * degree filter + two semi-joins, O(log n) rounds suffice in
    * practice and the unroll keeps the oracle expressible); emitted is
    * each survivor's degree inside the round-3 subgraph. Pure integer
    * degree arithmetic — nothing to quantize.
    *
    * Scale posture: each round is one map-side-combined degree count
    * and two hash semi-joins on the edge list, all equi-keyed; edges
    * only ever shrink, and `localCheckpoint` truncates the per-round
    * lineage exactly as the connected-components loop does. */
  def kcorePeel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var alive = bothDirs(
      Dedup.candidatePairs(spark, dir).select($"d1".as("src"), $"d2".as("dst")))
      .localCheckpoint(false) // r15: lazy (guide §5)
    for (_ <- 1 to CoreRounds) {
      val keep = alive.groupBy($"src").agg(count(lit(1)).as("dg"))
        .filter($"dg" >= CoreK).select($"src")
      alive = alive
        .join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select($"src", $"dst")
        // r15: lazy — rounds carry no actions, so the final aggregate
        // materializes the whole peel chain in ONE scheduled job
        // instead of one per round (the components() pattern).
        .localCheckpoint(false)
    }
    alive.groupBy($"src").agg(count(lit(1)).as("degree"))
      .select($"src".as("doc_id"), $"degree")
      .orderBy($"doc_id")
  }

  val kcorePeelSql: String = {
    val rounds = (1 to CoreRounds).map { k =>
      s"""keep$k AS (
         |  SELECT src FROM alive${k - 1} GROUP BY src HAVING COUNT(*) >= $CoreK
         |),
         |alive$k AS (
         |  SELECT a.src, a.dst FROM alive${k - 1} a
         |  JOIN keep$k k1 ON a.src = k1.src
         |  JOIN keep$k k2 ON a.dst = k2.src
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |alive0 AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |$rounds
       |SELECT src AS doc_id, COUNT(*) AS degree
       |FROM alive$CoreRounds GROUP BY src
       |${graft.Det.sqlOrderBy(Seq("doc_id")).trim}""".stripMargin
  }

  /** graph_modularity: Newman–Girvan modularity (Newman 2004, "Finding
    * and evaluating community structure in networks") of the connected-
    * component partition over the candidate-pair graph — the audit that
    * tells a dedup pipeline whether its clusters are cohesive
    * communities or band-collision chains: a component whose degree
    * mass is far larger than its edge share (q_contrib near zero or
    * negative) is a chained cluster that over-merges documents.
    *
    * Every edge is intra-component by construction (the partition IS
    * the components), so per cluster c the contribution is
    * L_c/m − (D_c/2m)², with L_c, D_c, m exact integers; the double
    * expression is shape-identical in both engines. Output is one row
    * per non-singleton cluster plus the exact integer evidence.
    *
    * Scale posture: one degree aggregation, one membership join against
    * the (skinny) star-edge assignment, one per-cluster aggregation —
    * all equi-shuffles on cluster_id; nothing quadratic, no collect. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15: the candidate edge list feeds FOUR consumers (components,
    // degrees, intra counts, the edge total); lazy checkpoint so the
    // band join builds once.
    val e = Dedup.candidatePairs(spark, dir).select($"d1", $"d2")
      .localCheckpoint(false)
    val stars = components(e)
    val assign = stars.select($"src".as("node"), $"dst".as("cluster_id"))
      .union(stars.select($"dst".as("node"), $"dst".as("cluster_id")))
      .distinct()
    val deg = bothDirs(e.select($"d1".as("src"), $"d2".as("dst")))
      .groupBy($"src".as("node")).agg(count(lit(1)).as("degree"))
    val intra = e.join(assign.withColumnRenamed("node", "d1"), "d1")
      .groupBy($"cluster_id").agg(count(lit(1)).as("intra_edges"))
    val mTot = e.agg(count(lit(1)).as("m"))
    val perC = assign.join(deg, "node")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_nodes"), sum($"degree").as("degree_sum"))
      .join(intra, "cluster_id")
    perC.crossJoin(broadcast(mTot))
      .select($"cluster_id", $"n_nodes", $"intra_edges", $"degree_sum",
        ($"intra_edges".cast("double") / $"m"
          - ($"degree_sum".cast("double") / (lit(2) * $"m"))
            * ($"degree_sum".cast("double") / (lit(2) * $"m")))
          .as("q_contrib"))
      .orderBy($"cluster_id")
  }

  val modularitySql: String =
    s"""WITH RECURSIVE ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |-- DuckDB parses top-level UNIONs inside WITH RECURSIVE with
       |-- recursive-union semantics and keeps duplicates (cand pairs
       |-- matching on BOTH bands appear twice); counts need an explicit
       |-- DISTINCT layer. Reachability below is multiplicity-blind.
       |candd AS (SELECT DISTINCT d1, d2 FROM cand),
       |edges AS (
       |  SELECT d1 AS a, d2 AS b FROM candd
       |  UNION
       |  SELECT d2, d1 FROM candd
       |),
       |reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
       |),
       |comp AS (
       |  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
       |),
       |deg AS (
       |  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
       |  FROM edges GROUP BY a
       |),
       |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM candd),
       |intra AS (
       |  SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS intra_edges
       |  FROM candd JOIN comp c ON candd.d1 = c.node
       |  GROUP BY c.cluster_id
       |),
       |perc AS (
       |  SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(d.degree) AS BIGINT) AS degree_sum
       |  FROM comp c JOIN deg d ON c.node = d.node
       |  GROUP BY c.cluster_id
       |)
       |SELECT p.cluster_id, p.n_nodes, i.intra_edges, p.degree_sum,
       |  CAST(i.intra_edges AS DOUBLE) / m
       |    - (CAST(p.degree_sum AS DOUBLE) / (2 * m))
       |      * (CAST(p.degree_sum AS DOUBLE) / (2 * m)) AS q_contrib
       |FROM perc p JOIN intra i USING (cluster_id) CROSS JOIN mm
       |${graft.Det.sqlOrderBy(Seq("cluster_id")).trim}""".stripMargin

  /** graph_assortativity: Newman's degree assortativity (Newman 2002,
    * "Assortative mixing in networks") of the candidate-pair graph —
    * the Pearson correlation of degrees across edge endpoints. For a
    * dedup graph the sign is diagnostic: strong positive r means
    * near-dup mass concentrates in hub-hub cliques (template/boiler-
    * plate families), negative r means hub-leaf stars (one canonical
    * page with many light variants) — two different cleanup
    * strategies. Over the symmetrized edge list the estimator
    * reduces to r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²) with every sum
    * an exact BIGINT; the one double division is shape-identical in
    * both engines.
    *
    * Scale posture: degree aggregation + two broadcast-able skinny
    * joins of the edge list against the degree table, then a 1-row
    * total aggregate. Linear in |E|. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Dedup.candidatePairs(spark, dir).select($"d1", $"d2")
    // r15: sym feeds the degree rollup AND the scoring join — lazy
    // checkpoint so the band join + symmetrization builds once; the
    // skinny degree table is the documented broadcastable side (the
    // hitsBipartite hint rationale — checkpointed frames carry no size
    // statistics, so the planner needs the hint).
    val sym = bothDirs(e.select($"d1".as("src"), $"d2".as("dst")))
      .localCheckpoint(false)
    val deg = sym.groupBy($"src".as("node")).agg(count(lit(1)).as("degree"))
    sym
      .join(broadcast(deg.select($"node".as("src"), $"degree".as("j"))), "src")
      .join(broadcast(deg.select($"node".as("dst"), $"degree".as("k"))), "dst")
      .agg(count(lit(1)).as("m_directed"),
        sum($"j" * $"k").as("sum_jk"), sum($"j").as("sum_j"),
        sum($"j" * $"j").as("sum_j2"))
      .select($"m_directed", $"sum_jk", $"sum_j", $"sum_j2",
        (($"m_directed".cast("double") * $"sum_jk".cast("double")
          - $"sum_j".cast("double") * $"sum_j".cast("double"))
          / ($"m_directed".cast("double") * $"sum_j2".cast("double")
            - $"sum_j".cast("double") * $"sum_j".cast("double")))
          .as("assortativity"))
  }

  val assortativitySql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |sym AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION ALL
       |  SELECT d2, d1 FROM cand
       |),
       |deg AS (
       |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
       |  FROM sym GROUP BY src
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS m_directed,
       |  CAST(SUM(dj.degree * dk.degree) AS BIGINT) AS sum_jk,
       |  CAST(SUM(dj.degree) AS BIGINT) AS sum_j,
       |  CAST(SUM(dj.degree * dj.degree) AS BIGINT) AS sum_j2,
       |  (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(dj.degree * dk.degree) AS DOUBLE)
       |    - CAST(SUM(dj.degree) AS DOUBLE) * CAST(SUM(dj.degree) AS DOUBLE))
       |  / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(dj.degree * dj.degree) AS DOUBLE)
       |    - CAST(SUM(dj.degree) AS DOUBLE) * CAST(SUM(dj.degree) AS DOUBLE))
       |    AS assortativity
       |FROM sym JOIN deg dj ON sym.src = dj.node
       |JOIN deg dk ON sym.dst = dk.node""".stripMargin

  /** graph_louvain_step: one deterministic SYNCHRONOUS sweep of the
    * Louvain local-moving heuristic (Blondel et al. 2008) from the
    * singleton partition over the candidate-pair graph — the first
    * (and dominant) iteration of the community-detection method every
    * graph stack ships. For node u with singleton neighbor communities,
    * the modularity gain of moving u into {v} is
    * ΔQ = w_uv/m − k_u·k_v/(2m²); with unit edge weights the argmax
    * over neighbors is the neighbor of MINIMUM degree (2m − k_u·k_v
    * maximized), tie-broken by id, and the move happens iff the gain
    * is positive ⟺ 2m > k_u·k_v — ALL integer comparisons, no
    * division anywhere (the gain's exact numerator 2m − k_u·k_v is
    * emitted; its 2m² denominator is constant). Synchronous = every
    * node decides against the INITIAL partition, which makes the sweep
    * order-independent — the determinism the sequential textbook sweep
    * lacks and the property that lets both engines agree bit-for-bit.
    *
    * Scale posture: one degree aggregate, one |edges|-row join to
    * attach neighbor degrees, one min(struct) per node — the same
    * equi-keyed shuffle class as [[pagerankStep]]. */
  def louvainStep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bothDirs(
      Dedup.candidatePairs(spark, dir).select($"d1".as("src"), $"d2".as("dst")))
      // feeds degree count AND the neighbor join. r15: lazy — the 2m
      // broadcast build materializes it (guide §5).
      .localCheckpoint(false)
    val m2 = edges.agg(count(lit(1)).as("m2")) // 2m (directed count)
    val deg = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("k"))
    val best = edges
      .join(deg.select($"node".as("src"), $"k".as("k_u")), "src")
      .join(deg.select($"node".as("dst"), $"k".as("k_v")), "dst")
      .groupBy($"src", $"k_u")
      .agg(min(struct($"k_v", $"dst")).as("b"))
      .crossJoin(broadcast(m2))
      .select($"src".as("node"), $"k_u".as("degree"),
        $"b.dst".as("best_nbr"),
        ($"m2" - $"k_u" * $"b.k_v").as("gain_num"),
        ($"m2" > $"k_u" * $"b.k_v").as("moved"))
      .withColumn("community",
        when($"moved", $"best_nbr").otherwise($"node"))
      .select($"node", $"degree", $"best_nbr", $"gain_num", $"moved",
        $"community")
      .orderBy($"node")
    best
  }

  val louvainStepSql: String =
    s"""WITH ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand
       |),
       |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM edges),
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k
       |        FROM edges GROUP BY src),
       |cand_mv AS (
       |  SELECT e.src, du.k AS k_u, e.dst, dv.k AS k_v,
       |    row_number() OVER (PARTITION BY e.src ORDER BY dv.k, e.dst) AS rn
       |  FROM edges e
       |    JOIN deg du ON du.node = e.src
       |    JOIN deg dv ON dv.node = e.dst
       |)
       |SELECT src AS node, k_u AS degree, dst AS best_nbr,
       |  m2.m2 - k_u * k_v AS gain_num,
       |  m2.m2 > k_u * k_v AS moved,
       |  CASE WHEN m2.m2 > k_u * k_v THEN dst ELSE src END AS community
       |FROM cand_mv CROSS JOIN m2 WHERE rn = 1
       |${graft.Det.sqlOrderBy(Seq("node")).trim}""".stripMargin

  /** graph_pseudo_diameter: double-sweep BFS pseudo-diameter (the
    * Magnien–Latapy–Habib 2009 lower-bound technique: BFS from a
    * high-degree hub, then BFS again from the farthest node found —
    * ecc(far) lower-bounds the true diameter and is usually tight) of
    * the LSH candidate graph's hub component — the one-number "how
    * stretched is the worst cluster" companion to [[bfsLayers]]'s
    * per-layer census: tight near-dup families have pseudo-diameter
    * 1–2; a drifting transitive chain (A≈B≈C≈… with A̸≈C) shows up as
    * a growing pseudo-diameter long before the cluster audit flags
    * purity loss. Both sweeps are depth-bounded at 6 supersteps (the
    * operator parameter; a frontier that is still growing at the
    * bound reports `truncated = true` rather than silently
    * understating). Far-node tie-break: max layer, then smallest
    * doc_id — a total order, so both engines pick the same node.
    *
    * Scale posture: [[bfsLayers]]' superstep chassis twice — each
    * step one frontier⋈edges equi-join + distinct + anti-join, edge
    * list built once behind a localCheckpoint, per-step lineage
    * truncated; all post-BFS frames are ≤|visited| rows and the
    * output is ONE row. The oracle replays both sweeps as
    * depth-bounded recursive CTEs with MIN(layer) first-visit
    * semantics, chained through the same deterministic far-node
    * selection. */
  def pseudoDiameter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bothDirs(
      Dedup.candidatePairs(spark, dir)
        .select($"d1".as("src"), $"d2".as("dst")))
      // r15 NOTE: lazy checkpoints throughout this operator were tried
      // and REVERTED (floor 1.32->1.43 s quiet / 3.10x under load): the
      // BFS sweep runs SIX rounds with no intermediate action, so lazy
      // conversion compiled one giant 13-checkpoint nested plan per
      // sweep instead of small per-round jobs - eager materialization
      // is the right shape for action-free iterative loops.
      .localCheckpoint()
    // r15 (2nd session): per-round the frontier is a LAZY checkpoint
    // materialized by the count() the early-exit needs anyway — one
    // job per round instead of two (the old eager frontier + eager
    // visited-union pair), and an exhausted frontier (empty ⇒ every
    // later frontier empty ⇒ visited final) stops the sweep instead
    // of running the remaining rounds on empty frames. `visited`
    // stays a lazy union of the already-materialized frontier RDDs —
    // scanning ≤6 tiny checkpointed blocks per anti-join, no job.
    // Results are bit-identical (Round13OpsSpec replays the sweep).
    def sweep(seed: DataFrame): DataFrame = {
      var visited = seed.localCheckpoint()
      var frontier = visited
      var l = 1
      var exhausted = false
      while (l <= 6 && !exhausted) {
        frontier = frontier
          .join(edges, frontier("node") === edges("src"))
          .select($"dst".as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("layer", lit(l))
          .localCheckpoint(false)
        if (frontier.count() == 0L) exhausted = true
        else visited = visited.union(frontier)
        l += 1
      }
      visited
    }
    val hub = edges.groupBy($"src").agg(count(lit(1)).as("dg"))
      .orderBy($"dg".desc, $"src").limit(1)
      .select($"src".as("node"), lit(0).as("layer"))
      .localCheckpoint()
    val v1 = sweep(hub)
    val far = v1.orderBy($"layer".desc, $"node").limit(1)
      .select($"node", lit(0).as("layer"))
      .localCheckpoint()
    val v2 = sweep(far)
    val s1 = v1.agg(max($"layer").as("sweep1_ecc"),
      count(lit(1)).as("n_reached_1"))
    val s2 = v2.agg(max($"layer").as("pseudo_diameter"),
      count(lit(1)).as("n_reached_2"))
    hub.select($"node".as("hub_node"))
      .crossJoin(broadcast(far.select($"node".as("far_node"))))
      .crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
      .withColumn("truncated",
        $"sweep1_ecc" === 6 || $"pseudo_diameter" === 6)
      .select($"hub_node", $"far_node", $"sweep1_ecc", $"n_reached_1",
        $"pseudo_diameter", $"n_reached_2", $"truncated")
  }

  val pseudoDiameterSql: String =
    s"""WITH RECURSIVE ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT d1 AS src, d2 AS dst FROM cand
       |    UNION ALL
       |    SELECT d2, d1 FROM cand
       |  )
       |),
       |pdseed AS (
       |  SELECT src AS node FROM (
       |    SELECT src, COUNT(*) AS dg FROM edges GROUP BY src
       |  ) ORDER BY dg DESC, src LIMIT 1
       |),
       |pdb1(node, layer) AS (
       |  SELECT node, 0 FROM pdseed
       |  UNION
       |  SELECT e.dst, b.layer + 1
       |  FROM pdb1 b JOIN edges e ON e.src = b.node
       |  WHERE b.layer < 6
       |),
       |pdv1 AS (
       |  SELECT node, CAST(MIN(layer) AS INTEGER) AS layer
       |  FROM pdb1 GROUP BY node
       |),
       |pdfar AS (
       |  SELECT node FROM pdv1 ORDER BY layer DESC, node LIMIT 1
       |),
       |pdb2(node, layer) AS (
       |  SELECT node, 0 FROM pdfar
       |  UNION
       |  SELECT e.dst, b.layer + 1
       |  FROM pdb2 b JOIN edges e ON e.src = b.node
       |  WHERE b.layer < 6
       |),
       |pdv2 AS (
       |  SELECT node, CAST(MIN(layer) AS INTEGER) AS layer
       |  FROM pdb2 GROUP BY node
       |)
       |SELECT (SELECT node FROM pdseed) AS hub_node,
       |  (SELECT node FROM pdfar) AS far_node,
       |  (SELECT CAST(MAX(layer) AS INTEGER) FROM pdv1) AS sweep1_ecc,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pdv1) AS n_reached_1,
       |  (SELECT CAST(MAX(layer) AS INTEGER) FROM pdv2) AS pseudo_diameter,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pdv2) AS n_reached_2,
       |  (SELECT MAX(layer) FROM pdv1) = 6
       |    OR (SELECT MAX(layer) FROM pdv2) = 6 AS truncated""".stripMargin

  /** graph_bfs_layers: breadth-first layer census from the highest-
    * degree document of the LSH candidate graph — the "how far does
    * the template family spread" diagnostic (layer 1 = direct
    * near-dups of the hub, layer 2 = dups-of-dups …), and the
    * small-diameter health check that tells a dedup run whether its
    * clusters are tight cliques (everything within 1–2 hops) or
    * drifting chains. Seed = max-degree node, ties to the smallest
    * doc_id; four synchronous frontier expansions (Pregel supersteps),
    * each frontier = distinct neighbors minus already-visited (the
    * anti-join guarantees first-visit = shortest-path layer). Output:
    * per-layer node count + doc_id checksum.
    *
    * Scale posture: each superstep is one frontier⋈edges hash join on
    * the node key + one distinct + one anti join against the visited
    * set — all equi-joins riding the same partitioning;
    * localCheckpoint truncates the per-iteration lineage (the
    * [[components]] discipline). Work per step is O(edges touched by
    * the frontier); 4 fixed steps. The DuckDB oracle walks the same
    * graph with a depth-bounded recursive CTE and takes MIN(layer)
    * per node — identical to first-visit BFS. */
  def bfsLayers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bothDirs(
      Dedup.candidatePairs(spark, dir)
        .select($"d1".as("src"), $"d2".as("dst")))
      // r15 NOTE: lazy checkpoints here were tried and REVERTED (same
      // finding as pseudoDiameter: the 4-round sweep has no per-round
      // action, so lazy conversion built one giant nested plan).
      .localCheckpoint()
    val seed = edges.groupBy($"src").agg(count(lit(1)).as("dg"))
      .orderBy($"dg".desc, $"src").limit(1)
      .select($"src".as("node"), lit(0).as("layer"))
    // r15 (2nd session): same one-job-per-round + early-exit shape as
    // pseudoDiameter's sweep — the count() materializes the lazy
    // frontier checkpoint AND tests exhaustion; visited is a lazy
    // union of materialized frontiers (an empty frontier ends the
    // walk: every later frontier is empty, the census is final).
    var visited = seed.localCheckpoint()
    var frontier = visited
    var l = 1
    var exhausted = false
    while (l <= 4 && !exhausted) {
      frontier = frontier
        .join(edges, frontier("node") === edges("src"))
        .select($"dst".as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("layer", lit(l))
        .localCheckpoint(false)
      if (frontier.count() == 0L) exhausted = true
      else visited = visited.union(frontier)
      l += 1
    }
    visited.groupBy($"layer")
      .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_doc_id"))
      .orderBy($"layer")
  }

  // NOTE: under WITH RECURSIVE, DuckDB reinterprets EVERY CTE whose
  // body is a top-level UNION as (initial ∪ recursive) branches and
  // stops deduplicating across them — candSqlCte's UNION silently
  // becomes UNION ALL (observed at sf0.1: 827 rows vs 593 distinct),
  // inflating degrees. The edges CTE therefore dedups EXPLICITLY via
  // DISTINCT over UNION ALL, which the recursive prefix cannot touch.
  val bfsLayersSql: String =
    s"""WITH RECURSIVE ${Dedup.sigSqlCte},
       |${Dedup.candSqlCte},
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT d1 AS src, d2 AS dst FROM cand
       |    UNION ALL
       |    SELECT d2, d1 FROM cand
       |  )
       |),
       |seed AS (
       |  SELECT src AS node FROM (
       |    SELECT src, COUNT(*) AS dg FROM edges GROUP BY src
       |  ) ORDER BY dg DESC, src LIMIT 1
       |),
       |bfs(node, layer) AS (
       |  SELECT node, 0 FROM seed
       |  UNION
       |  SELECT e.dst, b.layer + 1
       |  FROM bfs b JOIN edges e ON e.src = b.node
       |  WHERE b.layer < 4
       |),
       |firstv AS (
       |  SELECT node, CAST(MIN(layer) AS INTEGER) AS layer
       |  FROM bfs GROUP BY node
       |)
       |SELECT layer, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(node) AS BIGINT) AS sum_doc_id
       |FROM firstv GROUP BY layer
       |${graft.Det.sqlOrderBy(Seq("layer")).trim}""".stripMargin

  /** dedup_cluster_purity: label-purity audit of the near-dup
    * clustering — within each multi-document cluster, what fraction of
    * members share the majority language? True near-duplicates are
    * same-language by construction, so low purity means the LSH
    * banding is merging unrelated documents (threshold too loose) and
    * high purity means the clusters are semantically coherent — the
    * external-validation number (à la cluster purity in Manning et
    * al., IIR ch.16) a dedup run reports next to its recall audits.
    * Exact integers end to end: per-cluster majority counts are max
    * over (cluster, lang) count cells, macro purity is ONE division
    * Σ majority / Σ size, and the all-members-agree count is an
    * integer comparison.
    *
    * Scale posture: rides the star-contraction clustering (O(log n)
    * rounds); this adds one lang join + two bounded rollups over the
    * |multi-cluster member| rows. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val multi = clusters(spark, dir)
      .filter($"cluster_size" > 1)
      .join(graft.Tables(spark, dir, "documents")
        .select($"doc_id", $"lang"), "doc_id")
    // r15 NOTE: checkpoint on multi tried and reverted (floor
    // 2.12→3.07 s) — the clusters() chain beneath is already RDD-
    // backed (see clusters), so the persist only blocked the pipeline.
    val perCluster = multi.groupBy($"cluster_id", $"cluster_size")
      .agg(count(lit(1)).as("n_members"))
    val majority = multi.groupBy($"cluster_id", $"lang")
      .agg(count(lit(1)).as("c"))
      .groupBy($"cluster_id").agg(max($"c").as("majority"))
    perCluster.join(majority, "cluster_id")
      .agg(count(lit(1)).as("n_multi_clusters"),
        sum($"n_members").as("n_docs_in_multi"),
        sum($"majority").as("sum_majority"),
        count_if($"majority" === $"n_members").as("n_pure_clusters"))
      .select($"n_multi_clusters", $"n_docs_in_multi", $"sum_majority",
        $"n_pure_clusters",
        ($"sum_majority".cast("double") / $"n_docs_in_multi".cast("double"))
          .as("macro_purity"),
        ($"n_pure_clusters".cast("double")
          / $"n_multi_clusters".cast("double")).as("pure_fraction"))
  }

  val clusterPuritySql: String =
    s"""WITH cpm AS (
       |  SELECT c.cluster_id, c.cluster_size, d.lang
       |  FROM ($clustersSql) c
       |  JOIN documents d ON d.doc_id = c.doc_id
       |  WHERE c.cluster_size > 1
       |),
       |cpc AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
       |  FROM cpm GROUP BY cluster_id
       |),
       |cpj AS (
       |  SELECT cluster_id, CAST(MAX(c) AS BIGINT) AS majority FROM (
       |    SELECT cluster_id, lang, COUNT(*) AS c
       |    FROM cpm GROUP BY cluster_id, lang
       |  ) GROUP BY cluster_id
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_multi_clusters,
       |  CAST(SUM(n_members) AS BIGINT) AS n_docs_in_multi,
       |  CAST(SUM(majority) AS BIGINT) AS sum_majority,
       |  CAST(COUNT(*) FILTER (WHERE majority = n_members) AS BIGINT)
       |    AS n_pure_clusters,
       |  CAST(SUM(majority) AS DOUBLE) / CAST(SUM(n_members) AS DOUBLE)
       |    AS macro_purity,
       |  CAST(COUNT(*) FILTER (WHERE majority = n_members) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS pure_fraction
       |FROM cpc JOIN cpj USING (cluster_id)""".stripMargin

  /** dedup_cluster_nmi_ari: normalized mutual information + adjusted
    * Rand index of the near-dup clustering against the language
    * labels — the two external-validation companions of
    * [[clusterPurity]] (Manning, Raghavan, Schütze IIR ch.16; Hubert &
    * Arabie 1985 for ARI) over the SAME cluster×language contingency
    * (members of multi-document clusters): purity alone rewards
    * shattering into tiny clusters, NMI charges for the clustering's
    * own entropy, and ARI corrects pairwise agreement for chance —
    * together they close the clustering-eval family.
    *
    * Exactness: every input is an integer count (contingency cells
    * n_ck, cluster sizes a_c, class sizes b_l, total n). NMI rides the
    * qlog2 integer fixed point in DECOMPOSED form — I_q =
    * Σ n_ck·((qlog2 n + qlog2 n_ck) − (qlog2 a_c + qlog2 b_l)),
    * H_Cq = Σ a_c·(qlog2 n − qlog2 a_c), likewise H_Lq — every qlog2
    * argument is a single count ≤ n, so nothing overflows 2^63 at any
    * corpus size (the product forms n·n_ck / a_c·b_l would silently
    * wrap in Spark and error in DuckDB past n ≈ 3·10⁹; qlog2 is
    * defined per-argument, so the sum-of-logs spelling IS the fixed
    * contract, identically on both engines) — and because
    * nmi = 2I/(H_C+H_L) is a RATIO of entropies the
    * ln2/1024/n factors cancel: nmi = 2·I_q/(H_Cq+H_Lq), one terminal
    * division of exact BIGINTs (qlog2 is the fixed log contract, so
    * this IS the reported statistic, not an approximation of another
    * one). ARI is pure pair counting: with S_ck = ΣC(n_ck,2),
    * S_a = ΣC(a_c,2), S_b = ΣC(b_l,2), T = C(n,2),
    * ari = 2(T·S_ck − S_a·S_b) / (T·(S_a+S_b) − 2·S_a·S_b) — the
    * cross-multiplies run in DECIMAL(38,0) (Spark) / HUGEINT routed
    * through VARCHAR to DOUBLE (DuckDB) so both engines stay exact
    * past 2^63 (the statBhFdr discipline).
    *
    * Scale posture: rides the star-contraction clustering; one lang
    * join + one (cluster, lang) rollup over multi-cluster members,
    * then every frame (contingency, margins, the five pair sums) is
    * bounded by |clusters|·|langs|, not the corpus. */
  def clusterNmiAri(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def q(c: String) = Curate.qlog2Spark(c)
    val ct = clusters(spark, dir)
      .filter($"cluster_size" > 1)
      .join(graft.Tables(spark, dir, "documents")
        .select($"doc_id", $"lang"), "doc_id")
      .groupBy($"cluster_id", $"lang").agg(count(lit(1)).as("nck"))
      .localCheckpoint(false) // bounded contingency; feeds every frame below (r15: lazy)
    val ac = ct.groupBy($"cluster_id").agg(sum($"nck").as("a"))
    val bl = ct.groupBy($"lang").agg(sum($"nck").as("b"))
    val nn = ct.agg(sum($"nck").as("n"))
    val iq = ct.join(ac, "cluster_id").join(bl, "lang")
      .crossJoin(broadcast(nn))
      .selectExpr(
        s"nck * ((${q("n")} + ${q("nck")}) - (${q("a")} + ${q("b")})) AS t")
      .agg(sum($"t").as("i_q"))
    val hc = ac.crossJoin(broadcast(nn))
      .selectExpr(s"a * (${q("n")} - ${q("a")}) AS t")
      .agg(sum($"t").as("hc_q"), count(lit(1)).as("n_clusters"))
    val hl = bl.crossJoin(broadcast(nn))
      .selectExpr(s"b * (${q("n")} - ${q("b")}) AS t")
      .agg(sum($"t").as("hl_q"), count(lit(1)).as("n_langs"))
    val sck = ct.agg(sum(expr("nck * (nck - 1) div 2")).as("s_ck"))
    val sa = ac.agg(sum(expr("a * (a - 1) div 2")).as("s_a"))
    val sb = bl.agg(sum(expr("b * (b - 1) div 2")).as("s_b"))
    nn.crossJoin(hc).crossJoin(hl).crossJoin(iq)
      .crossJoin(sck).crossJoin(sa).crossJoin(sb)
      .selectExpr("n AS n_docs", "n_clusters", "n_langs",
        "i_q", "hc_q", "hl_q",
        "CASE WHEN hc_q + hl_q > 0 THEN CAST(2 * i_q AS DOUBLE)" +
          " / CAST(hc_q + hl_q AS DOUBLE) END AS nmi",
        "s_ck", "s_a", "s_b",
        "CAST(n * (n - 1) div 2 AS BIGINT) AS t_pairs",
        """CASE WHEN (CAST(n * (n - 1) div 2 AS DECIMAL(19,0))
          |      * (CAST(s_a AS DECIMAL(19,0)) + CAST(s_b AS DECIMAL(19,0)))
          |    - 2 * CAST(s_a AS DECIMAL(19,0)) * CAST(s_b AS DECIMAL(19,0)))
          |    <> 0 THEN
          |  CAST(CAST(2 AS DECIMAL(19,0))
          |    * (CAST(n * (n - 1) div 2 AS DECIMAL(19,0))
          |        * CAST(s_ck AS DECIMAL(19,0))
          |      - CAST(s_a AS DECIMAL(19,0)) * CAST(s_b AS DECIMAL(19,0)))
          |    AS DOUBLE)
          |  / CAST(CAST(n * (n - 1) div 2 AS DECIMAL(19,0))
          |      * (CAST(s_a AS DECIMAL(19,0)) + CAST(s_b AS DECIMAL(19,0)))
          |    - 2 * CAST(s_a AS DECIMAL(19,0)) * CAST(s_b AS DECIMAL(19,0))
          |    AS DOUBLE)
          |END AS ari""".stripMargin)
  }

  val clusterNmiAriSql: String = {
    def q(c: String) = Curate.qlog2Duck(c)
    s"""WITH nmct AS (
       |  SELECT c.cluster_id, d.lang, CAST(COUNT(*) AS BIGINT) AS nck
       |  FROM ($clustersSql) c
       |  JOIN documents d ON d.doc_id = c.doc_id
       |  WHERE c.cluster_size > 1
       |  GROUP BY 1, 2
       |),
       |nmac AS (SELECT cluster_id, CAST(SUM(nck) AS BIGINT) AS a
       |         FROM nmct GROUP BY 1),
       |nmbl AS (SELECT lang, CAST(SUM(nck) AS BIGINT) AS b
       |         FROM nmct GROUP BY 1),
       |nmn AS (SELECT CAST(SUM(nck) AS BIGINT) AS n FROM nmct),
       |nmiq AS (
       |  SELECT CAST(SUM(nck * ((${q("n")} + ${q("nck")})
       |      - (${q("a")} + ${q("b")})))
       |    AS BIGINT) AS i_q
       |  FROM nmct JOIN nmac USING (cluster_id) JOIN nmbl USING (lang)
       |  CROSS JOIN nmn
       |),
       |nmhc AS (
       |  SELECT CAST(SUM(a * (${q("n")} - ${q("a")})) AS BIGINT) AS hc_q,
       |    CAST(COUNT(*) AS BIGINT) AS n_clusters
       |  FROM nmac CROSS JOIN nmn
       |),
       |nmhl AS (
       |  SELECT CAST(SUM(b * (${q("n")} - ${q("b")})) AS BIGINT) AS hl_q,
       |    CAST(COUNT(*) AS BIGINT) AS n_langs
       |  FROM nmbl CROSS JOIN nmn
       |),
       |nmsck AS (SELECT CAST(SUM(nck * (nck - 1) // 2) AS BIGINT) AS s_ck
       |          FROM nmct),
       |nmsa AS (SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) AS s_a
       |         FROM nmac),
       |nmsb AS (SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS s_b
       |         FROM nmbl)
       |SELECT n AS n_docs, n_clusters, n_langs, i_q, hc_q, hl_q,
       |  CASE WHEN hc_q + hl_q > 0 THEN CAST(2 * i_q AS DOUBLE)
       |    / CAST(hc_q + hl_q AS DOUBLE) END AS nmi,
       |  s_ck, s_a, s_b,
       |  CAST(n * (n - 1) // 2 AS BIGINT) AS t_pairs,
       |  CASE WHEN (CAST(n * (n - 1) // 2 AS HUGEINT)
       |        * (CAST(s_a AS HUGEINT) + CAST(s_b AS HUGEINT))
       |      - 2 * CAST(s_a AS HUGEINT) * CAST(s_b AS HUGEINT)) <> 0 THEN
       |    CAST(CAST(CAST(2 AS HUGEINT)
       |      * (CAST(n * (n - 1) // 2 AS HUGEINT) * CAST(s_ck AS HUGEINT)
       |        - CAST(s_a AS HUGEINT) * CAST(s_b AS HUGEINT))
       |      AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(CAST(n * (n - 1) // 2 AS HUGEINT)
       |        * (CAST(s_a AS HUGEINT) + CAST(s_b AS HUGEINT))
       |      - 2 * CAST(s_a AS HUGEINT) * CAST(s_b AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE)
       |  END AS ari
       |FROM nmn CROSS JOIN nmhc CROSS JOIN nmhl CROSS JOIN nmiq
       |CROSS JOIN nmsck CROSS JOIN nmsa CROSS JOIN nmsb""".stripMargin
  }

  /** corpus_dedup_savings: the storage/compute savings scorecard of
    * running dedup, per source — documents removed (non-keepers of
    * multi-doc clusters), exact characters removed, and the
    * percentage saved — the line item that justifies the dedup stage
    * in a pipeline cost review ([[dupRateBySource]] counts documents;
    * this prices them in bytes, which is what storage and token
    * budgets are billed in). Exact BIGINT character sums, one terminal
    * division per source.
    *
    * Scale posture: rides the star-contraction clustering; adds one
    * doc-keyed join + a |sources|-row rollup. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusters(spark, dir)
      .join(graft.Tables(spark, dir, "documents")
        .select($"doc_id", $"source", $"n_chars"), "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count_if($"is_keeper").as("n_kept"),
        count_if(!$"is_keeper").as("n_removed"),
        sum($"n_chars").as("chars_total"),
        sum(when(!$"is_keeper", $"n_chars").otherwise(0L))
          .as("chars_removed"))
      .select($"source", $"n_docs", $"n_kept", $"n_removed",
        $"chars_total", $"chars_removed",
        ($"chars_removed".cast("double") * 100.0
          / $"chars_total".cast("double")).as("savings_pct"))
      .orderBy($"source")
  }

  val dedupSavingsSql: String =
    s"""WITH dsc AS (
       |  SELECT c.doc_id, c.cluster_id, d.source, d.n_chars,
       |    c.doc_id = c.cluster_id AS is_keeper
       |  FROM ($clustersSql) c
       |  JOIN documents d ON d.doc_id = c.doc_id
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) FILTER (WHERE is_keeper) AS BIGINT) AS n_kept,
       |  CAST(COUNT(*) FILTER (WHERE NOT is_keeper) AS BIGINT) AS n_removed,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       |  CAST(SUM(CASE WHEN NOT is_keeper THEN n_chars ELSE 0 END)
       |    AS BIGINT) AS chars_removed,
       |  CAST(SUM(CASE WHEN NOT is_keeper THEN n_chars ELSE 0 END)
       |      AS DOUBLE) * CAST(100.0 AS DOUBLE)
       |    / CAST(SUM(n_chars) AS DOUBLE) AS savings_pct
       |FROM dsc GROUP BY source
       |${sqlOrderBy(Seq("source")).trim}""".stripMargin

  /** graph_hits_bipartite: HITS hubs and authorities (Kleinberg 1999)
    * over the customer→part purchase graph — the classic bipartite
    * centrality that powers "influential buyer / flagship product"
    * rankings: a customer is a good HUB if they buy authoritative
    * parts, a part is a good AUTHORITY if high-hub customers buy it —
    * the mutually-recursive refinement of the raw degree counts the
    * warehouse tier already reports. Three alternating rounds of
    * a ∝ Aᵀh, h ∝ A·a over lineitem-count edge weights, L1-normalized
    * to parts-per-billion each half-step.
    *
    * Exactness: scores live in ppb integers; each half-step's
    * numerator Σ w·s is an exact DECIMAL(38,0)/HUGEINT sum, and the
    * normalization s′ = ⌊num·1e9 / Σnum⌋ is the exact integer
    * quotient via the remainder identity (num·1e9 − mod)/tot — the
    * stat_anova_f discipline, overflow-free past 2^63 — so three
    * compounded rounds stay hash-exact against the round-by-round
    * unrolled oracle. h⁰ = ⌊1e9/|customers|⌋ uniformly (the < |C| ppb
    * init deficit is erased by the first normalization; no global
    * rank window needed). Round count is a fixed contract (the
    * pagerank_iter5 rule).
    *
    * Scale posture: the expensive stage — building the weighted edge
    * list from orders⋈lineitem — happens ONCE behind a
    * localCheckpoint; each half-step is one broadcastable score-vector
    * equi-join against the edge list plus one map-side-combined
    * rollup to the customer or part grain. Each half-step's numerator
    * frame is LAZILY localCheckpoint-ed (the components() pattern at
    * :80) and the Σnum broadcast aggregation that immediately follows
    * is its materializing action — so `num` is computed ONCE per
    * half-step (the tot leg and the quotient leg share the
    * checkpointed RDD) and every subsequent half-step's plan starts
    * from a LogicalRDD instead of replaying the full join chain.
    * Without this the 3-round plan replays ~90 edge-list joins
    * (each normalize consumes its input twice, compounding per
    * round) — measured 11.1 s at sf0.1 vs ~1.7 s for pagerank.
    * Output is top-100 per side (rank window partitioned by entity
    * type). */
  def hitsBipartite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val e = Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
      .join(Tables(spark, dir, "lineitem").select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey".as("c"), $"l_partkey".as("p"))
      .agg(count(lit(1)).as("w"))
      // one build feeds all six half-step joins. r15: lazy — the first
      // half-step materializes it (guide §5).
      .localCheckpoint(false)
    val custs = e.select($"c").distinct()
    val nc = custs.agg(count(lit(1)).as("ncust"))
    def normalize(num0: DataFrame, key: String): DataFrame = {
      // Lazy checkpoint; the tot broadcast aggregation below is the
      // materializing action, so lineage truncation rides a job each
      // half-step must run anyway (one driver job per half-step).
      val num = num0.localCheckpoint(false)
      val tot = num.agg(sum($"num").as("tot"))
      num.crossJoin(broadcast(tot))
        .selectExpr(key,
          s"""CAST(((num * CAST(1000000000 AS $dec))
             |  - ((num * CAST(1000000000 AS $dec)) % tot)) / tot
             |  AS BIGINT) AS s""".stripMargin)
    }
    var h = custs.crossJoin(broadcast(nc))
      .selectExpr("c", "CAST(1000000000 div ncust AS BIGINT) AS s")
    var a: DataFrame = null
    // r15 NOTE: broadcast hints on the half-step score vectors were
    // tried and REVERTED (floor 4.28→5.05 s): the edge-list exchange is
    // identical across all six half-steps, so ReuseExchange already
    // shuffles it once, and the per-step broadcast builds only added
    // six blocking collect jobs.
    for (_ <- 1 to 3) {
      a = normalize(
        e.join(h, "c").groupBy($"p")
          .agg(sum(($"w".cast(dec)) * $"s").as("num")), "p")
      h = normalize(
        e.join(a, "p").groupBy($"c")
          .agg(sum(($"w".cast(dec)) * $"s").as("num")), "c")
    }
    val out = h.select(lit("customer").as("entity"), $"c".as("id"), $"s")
      .unionByName(a.select(lit("part").as("entity"), $"p".as("id"), $"s"))
    out.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"entity").orderBy($"s".desc, $"id")))
      .filter($"rk" <= 100)
      .select($"entity", $"rk".cast("int").as("rank"),
        $"id", $"s".as("score_ppb"))
      .orderBy($"entity", $"rank")
  }

  val hitsBipartiteSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""hban$i AS (
         |  SELECT p, CAST(SUM(CAST(w AS HUGEINT) * s) AS HUGEINT) AS num
         |  FROM hbe JOIN hbh${i - 1} USING (c) GROUP BY p
         |),
         |hba$i AS (
         |  SELECT p, CAST((num * CAST(1000000000 AS HUGEINT))
         |    // (SELECT SUM(num) FROM hban$i) AS BIGINT) AS s
         |  FROM hban$i
         |),
         |hbhn$i AS (
         |  SELECT c, CAST(SUM(CAST(w AS HUGEINT) * s) AS HUGEINT) AS num
         |  FROM hbe JOIN hba$i USING (p) GROUP BY c
         |),
         |hbh$i AS (
         |  SELECT c, CAST((num * CAST(1000000000 AS HUGEINT))
         |    // (SELECT SUM(num) FROM hbhn$i) AS BIGINT) AS s
         |  FROM hbhn$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH hbe AS (
       |  SELECT o_custkey AS c, l_partkey AS p,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |),
       |hbc AS (SELECT DISTINCT c FROM hbe),
       |hbn AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncust FROM hbc),
       |hbh0 AS (SELECT c, CAST(1000000000 // ncust AS BIGINT) AS s
       |         FROM hbc CROSS JOIN hbn),
       |$rounds,
       |hbout AS (
       |  SELECT 'customer' AS entity, c AS id, s FROM hbh3
       |  UNION ALL
       |  SELECT 'part', p, s FROM hba3
       |)
       |SELECT entity, CAST(rk AS INTEGER) AS rank, id, s AS score_ppb
       |FROM (
       |  SELECT entity, id, s, row_number() OVER (PARTITION BY entity
       |    ORDER BY s DESC, id) AS rk
       |  FROM hbout
       |) WHERE rk <= 100
       |${sqlOrderBy(Seq("entity", "rank")).trim}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_bfs_layers" -> bfsLayers,
    "graph_pseudo_diameter" -> pseudoDiameter,
    "graph_hits_bipartite" -> hitsBipartite,
    "graph_ppr_seeded" -> pprSeeded,
    "dedup_cluster_purity" -> clusterPurity,
    "dedup_cluster_nmi_ari" -> clusterNmiAri,
    "corpus_dedup_savings" -> dedupSavings,
    "graph_louvain_step" -> louvainStep,
    "graph_assortativity" -> assortativity,
    "graph_modularity" -> modularity,
    "graph_kcore_peel3" -> kcorePeel,
    "graph_degree_hist" -> degreeHist,
    "graph_label_prop" -> labelProp,
    "dedup_keep_best" -> keepBest,
    "dedup_clusters" -> clusters,
    "corpus_dup_rate_by_source" -> dupRateBySource,
    "corpus_dup_rate_by_quality" -> dupRateByQuality,
    "graph_pagerank_step" -> pagerankStep,
    "graph_pagerank_iter5" -> pagerankIter,
    "graph_triangles" -> triangles,
    "graph_clustering_coeff" -> clusteringCoeff,
    "graph_link_predict" -> linkPredict,
    "graph_adamic_adar" -> adamicAdar,
    "corpus_negatives" -> negatives)

  val oracles: Map[String, String] = Map(
    "graph_bfs_layers" -> bfsLayersSql,
    "graph_pseudo_diameter" -> pseudoDiameterSql,
    "graph_hits_bipartite" -> hitsBipartiteSql,
    "graph_ppr_seeded" -> pprSeededSql,
    "dedup_cluster_purity" -> clusterPuritySql,
    "dedup_cluster_nmi_ari" -> clusterNmiAriSql,
    "corpus_dedup_savings" -> dedupSavingsSql,
    "graph_louvain_step" -> louvainStepSql,
    "graph_assortativity" -> assortativitySql,
    "graph_modularity" -> modularitySql,
    "graph_kcore_peel3" -> kcorePeelSql,
    "graph_label_prop" -> labelPropSql,
    "graph_degree_hist" -> degreeHistSql,
    "dedup_keep_best" -> keepBestSql,
    "dedup_clusters" -> clustersSql,
    "corpus_dup_rate_by_source" -> dupRateBySourceSql,
    "corpus_dup_rate_by_quality" -> dupRateByQualitySql,
    "graph_pagerank_step" -> pagerankStepSql,
    "graph_pagerank_iter5" -> pagerankIterSql,
    "graph_triangles" -> trianglesSql,
    "graph_clustering_coeff" -> clusteringCoeffSql,
    "graph_link_predict" -> linkPredictSql,
    "graph_adamic_adar" -> adamicAdarSql,
    "corpus_negatives" -> negativesSql)
}
