package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-d):
  * brute-force cosine top-k as the correctness baseline and a two-stage
  * IVF variant as the 100 TB scale path.
  *
  * Numerics: dot products and norms are per-element double products
  * quantized to fixed point (floor(v*1e14 + 0.5) as long) and summed
  * exactly (order-independent), then one double division by sqrt —
  * bit-identical between Spark and DuckDB because every step is
  * IEEE-defined (see DecimalDot), so top-k ordering (cosine DESC,
  * vec_id tiebreak) is stable.
  *
  * Scale posture: brute force is a broadcast of ONE query vector and a
  * map-only scan — linear, embarrassingly parallel, but reads every
  * vector; that is the honest baseline. The IVF path prunes: rank
  * partition centroids (here the provided `label` clustering — in a real
  * pipeline k-means assignments), search only the best nprobe=2
  * partitions, ~5x less data touched at equal recall for clustered data.
  * At 100 TB the centroid table is tiny and broadcast; per-partition
  * files can be pruned by a `label` partition column at the storage
  * layer.
  */
object Similarity extends graft.QueryModule {

  /** Spark SQL expr: fixed-point (scale 14) exact dot product of two
    * array columns — the native codegen'd expression
    * (`functions/DecimalDot`, registered per query below). History of
    * this hot path: the `aggregate` higher-order-function form ran
    * INTERPRETED (the 25x penalty measured on the minhash stage); a
    * 64-term unrolled CAST/multiply sum fixed that but cost Janino
    * ~1-3s of compile per query (~2000 Catalyst nodes per call site);
    * a decimal-CAST-based native Expression fixed that but hit the
    * Spark-vs-DuckDB double->decimal rounding seam (~2e-4 of terms);
    * the floor-scaled-long form (see DecimalDot doc) is IEEE-portable,
    * so [[dotDuck]] states the identical arithmetic.
    */
  private[graft] def dotSpark(x: String, y: String): String =
    s"decimal_dot($x, $y)"

  /** DuckDB twin of [[dotSpark]]: same floor(v*1e14 + 0.5) term
    * quantization, exact BIGINT sum, one final division — every step
    * IEEE-defined, so the hash gate sees bit-identical doubles. */
  private def dotDuck(x: String, y: String): String =
    s"""(CAST(CAST(list_sum(list_transform(range(1, 65),
       | i -> CAST(floor(CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)
       |   * 1e14 + 0.5) AS BIGINT))) AS BIGINT) AS DOUBLE) / 1e14)""".stripMargin.replace("\n", "")

  /** Exact cosine, computing all three dots inline (for one-off use). */
  private def cosSpark(a: String, b: String): String =
    s"(${dotSpark(a, b)} / sqrt(${dotSpark(a, a)} * ${dotSpark(b, b)}))"

  private def cosDuck(a: String, b: String): String =
    s"(${dotDuck(a, b)} / sqrt(${dotDuck(a, a)} * ${dotDuck(b, b)}))"

  /** Brute-force cosine top-10 neighbours of vec_id=0. */
  def cosineTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    emb.crossJoin(broadcast(q))
      .selectExpr("vec_id", "label",
        s"${cosSpark("embedding", "qv")} AS cosine")
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10)
  }

  val cosineTopkSql: String =
    s"""SELECT e.vec_id, e.label,
       |  ${cosDuck("e.embedding", "q.embedding")} AS cosine
       |FROM embeddings e,
       |     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |ORDER BY cosine DESC NULLS LAST, vec_id NULLS FIRST
       |LIMIT 10""".stripMargin

  /** IVF two-stage ANN: (1) exact per-label centroids (decimal-exact
    * element means), (2) rank centroids vs the query, keep nprobe=2
    * labels, (3) exact cosine only within those labels, top-10. */
  /** Exact per-label centroids — posexplode -> (label, pos) mean,
    * re-assembled. Floor-scaled fixed point at scale 12 (not 14:
    * per-(label,pos) sums grow with rows/label and the scaled long
    * must stay < 2^53 for the exact double conversion). Same
    * portable-IEEE rationale as decimal_dot — a decimal CAST of
    * full-entropy doubles is not bit-stable across engines. Shared by
    * IVF probing and PQ sub-codebooks (a slice of the mean IS the mean
    * of the slice). */
  private def centroids(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => c0}
    emb
      .select(c0("label"), posexplode(c0("embedding")).as(Seq("pos", "x")))
      .groupBy(c0("label"), c0("pos"))
      .agg(((sum(floor(c0("x").cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("c"))
      .groupBy(c0("label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))
  }

  /** DuckDB twin of [[centroids]] as CTEs `cent` + `cvec`. */
  private val centroidsSqlCtes: String =
    s"""cent AS (
       |  SELECT label, i,
       |    CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12
       |      / COUNT(*) AS c
       |  FROM embeddings, range(1, 65) t(i)
       |  GROUP BY label, i
       |),
       |cvec AS (SELECT label, list(c ORDER BY i) AS centroid FROM cent GROUP BY label)""".stripMargin

  def ivfTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val cent = centroids(emb)
    // stage 2: nprobe=2 nearest centroids
    val top2 = cent.crossJoin(broadcast(q))
      .selectExpr("label", s"${cosSpark("centroid", "qv")} AS ccos")
      .orderBy($"ccos".desc, $"label")
      .limit(2)
      .select($"label".as("probe_label"))
    // stage 3: exact search within probed partitions only
    emb.join(broadcast(top2), $"label" === $"probe_label")
      .crossJoin(broadcast(q))
      .selectExpr("vec_id", "label", s"${cosSpark("embedding", "qv")} AS cosine")
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10)
  }

  val ivfTopkSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |$centroidsSqlCtes,
       |top2 AS (
       |  SELECT cvec.label
       |  FROM cvec, q
       |  ORDER BY ${cosDuck("cvec.centroid", "q.qv")} DESC NULLS LAST, label
       |  LIMIT 2
       |)
       |SELECT e.vec_id, e.label, ${cosDuck("e.embedding", "q.qv")} AS cosine
       |FROM embeddings e JOIN top2 ON e.label = top2.label, q
       |ORDER BY cosine DESC NULLS LAST, vec_id NULLS FIRST
       |LIMIT 10""".stripMargin

  /** IVF TUNING CURVE — recall@10 as a function of nprobe (1–4), with
    * the candidate count each setting pays: the artifact an ANN
    * deployment actually reads when trading recall against scan
    * fraction ([[ivfRecall]] is one point on this curve; the curve is
    * the knob). One centroid ranking feeds all four settings (probes =
    * rank ≤ nprobe), candidates score once per setting against the
    * broadcast query, and the exact brute-force top-10 is the shared
    * truth set. Everything is the exact fixed-point cosine with id
    * tiebreaks, so the curve is a constant of the corpus.
    *
    * Scale posture: candidate work is Σ_{np} (np/K)·N for ONE query —
    * production sweeps a sampled query batch with the same plan; the
    * centroid ranking is K rows, broadcast everywhere. */
  def ivfCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val ranked = centroids(emb).crossJoin(broadcast(q))
      .selectExpr("label", s"${cosSpark("centroid", "qv")} AS ccos")
      .withColumn("crk",
        row_number().over(Window.orderBy($"ccos".desc, $"label")))
    val np = spark.range(1, 5).select($"id".cast("int").as("nprobe"))
    val probes = np.join(ranked, $"crk" <= $"nprobe")
      .select($"nprobe", $"label".as("probe_label"))
    val cand = emb.join(broadcast(probes), $"label" === $"probe_label")
      .crossJoin(broadcast(q))
      .selectExpr("nprobe", "vec_id",
        s"${cosSpark("embedding", "qv")} AS cosine")
    val top10 = cand
      .withColumn("rk", row_number().over(
        Window.partitionBy($"nprobe").orderBy($"cosine".desc, $"vec_id")))
      .filter($"rk" <= 10)
      .select($"nprobe", $"vec_id")
    val cnt = cand.groupBy($"nprobe").agg(count(lit(1)).as("n_candidates"))
    val brute = cosineTopk(spark, dir).select($"vec_id".as("bv"))
      .withColumn("hit", lit(1))
    top10.join(brute, $"vec_id" === $"bv", "left")
      .groupBy($"nprobe")
      .agg((count($"hit") / lit(10).cast("double")).as("recall_at_10"))
      .join(cnt, "nprobe")
      .select($"nprobe", $"n_candidates", $"recall_at_10")
      .orderBy($"nprobe")
  }

  val ivfCurveSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |$centroidsSqlCtes,
       |ranked AS (
       |  SELECT cvec.label,
       |    CAST(row_number() OVER (
       |      ORDER BY ${cosDuck("cvec.centroid", "q.qv")} DESC NULLS LAST, label)
       |      AS INTEGER) AS crk
       |  FROM cvec, q
       |),
       |np AS (SELECT CAST(unnest(range(1, 5)) AS INTEGER) AS nprobe),
       |probes AS (
       |  SELECT np.nprobe, r.label FROM np JOIN ranked r ON r.crk <= np.nprobe
       |),
       |cand AS (
       |  SELECT p.nprobe, e.vec_id,
       |    ${cosDuck("e.embedding", "q.qv")} AS cosine
       |  FROM embeddings e JOIN probes p ON e.label = p.label, q
       |),
       |top10 AS (
       |  SELECT nprobe, vec_id FROM (
       |    SELECT cand.*, row_number() OVER (PARTITION BY nprobe
       |      ORDER BY cosine DESC NULLS LAST, vec_id) AS rk
       |    FROM cand
       |  ) WHERE rk <= 10
       |),
       |cnt AS (SELECT nprobe, COUNT(*) AS n_candidates FROM cand GROUP BY 1),
       |brute AS (SELECT vec_id AS bv FROM ($cosineTopkSql) b)
       |SELECT t.nprobe, cnt.n_candidates,
       |  COUNT(brute.bv) / CAST(10 AS DOUBLE) AS recall_at_10
       |FROM top10 t
       |LEFT JOIN brute ON brute.bv = t.vec_id
       |JOIN cnt ON cnt.nprobe = t.nprobe
       |GROUP BY t.nprobe, cnt.n_candidates
       |${sqlOrderBy(Seq("t.nprobe")).trim}""".stripMargin

  /** Embedding-cosine near-duplicate pairs, bucketed by label (the IVF
    * partitioning): all-pairs search runs WITHIN buckets only, so the
    * comparison count is sum of |bucket|^2, not |corpus|^2. Threshold
    * 0.35 selects the most-similar tail of this (unit-random-ish)
    * corpus; real near-dup corpora use ~0.95. */
  def neardupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    graft.functions.DoubleDot.register(spark)
    // norms precomputed per vector BEFORE the pair join: |corpus| norm
    // dots instead of 2x|pairs| — 3x less decimal work per pair, and the
    // cosine values are bit-identical (same expressions, hoisted)
    val emb = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val a = emb.select($"vec_id".as("v1"), $"label", $"embedding".as("e1"),
      $"nrm".as("n1"))
    val b = emb.select($"vec_id".as("v2"), $"label".as("label_b"),
      $"embedding".as("e2"), $"nrm".as("n2"))
    // Two-phase pair scoring: a pure-double dot (native double_dot — a
    // tight loop, bit-identical to the unrolled element_at chain but
    // without its per-call bounds/null checks) prefilters; short-circuit
    // conjunct order then gates the fixed-point-exact re-score to
    // prefilter survivors only. The prefilter is stated in the DOT
    // domain (dot > t*sqrt(n1*n2) - eps), NOT as a cosine: dividing by
    // sqrt(n1*n2) would amplify the absolute dot error by 1/sqrt(n1*n2)
    // for small-norm vectors and could breach any fixed cosine margin.
    // Undivided, |double_dot - exact_dot| <= 64 term-quantizations at
    // 1e-14 plus double summation error (~1e-13 total), and the
    // sqrt(n1*n2) term's own rounding is relative (norms are bounded by
    // DecimalDot's 2^53/1e14 term cap, so absolutely tiny) — a 1e-6
    // margin provably loses no true pair regardless of norm magnitude.
    // Output values and the final exact > 0.35 cut are bit-identical to
    // the single-phase form.
    a.join(b, $"label" === $"label_b" && $"v1" < $"v2")
      .filter(expr(s"double_dot(e1, e2) > 0.35 * sqrt(n1 * n2) - 1e-6"))
      .selectExpr("v1", "v2", "label",
        s"(${dotSpark("e1", "e2")} / sqrt(n1 * n2)) AS cosine")
      .filter($"cosine" > 0.35)
      .orderBy($"v1", $"v2")
  }

  val neardupPairsSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm
       |  FROM embeddings
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2, a.label,
       |    (${dotDuck("a.embedding", "b.embedding")} / sqrt(a.nrm * b.nrm)) AS cosine
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |)
       |SELECT * FROM p WHERE cosine > 0.35
       |${sqlOrderBy(Seq("v1", "v2")).trim}""".stripMargin

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic duplicate
    * CLUSTERS from the embedding near-dup pair graph — pairs alone
    * can't drive removal (A~B, B~C must drop two of three, not two
    * independent pairs), so the pair graph contracts to connected
    * components (the same large-star/small-star machinery as the
    * MinHash funnel, [[graft.llm.Cluster.components]]) and one keeper
    * survives per component. Output: every vector with its cluster id,
    * cluster size, and keeper flag.
    *
    * Oracle independence: DuckDB recomputes the clustering as a
    * recursive-CTE transitive closure over the same cosine>0.35 pair
    * predicate — closure vs star-contraction check each other's
    * CLUSTERING, not just arithmetic.
    *
    * Scale posture: pair discovery is the bucketed [[neardupPairs]]
    * join (never |corpus|²); contraction is O(log n) rounds of
    * hash-partitioned min-agg + join; the final labeling is one left
    * join against the vector universe. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = neardupPairs(spark, dir).select($"v1", $"v2")
    val stars = graft.llm.Cluster.components(pairs)
    val assign = stars.select($"src".as("vec_id"), $"dst".as("cid"))
    val labeled = Tables(spark, dir, "embeddings").select($"vec_id")
      .join(assign, Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"cid", $"vec_id").as("cluster_id"))
    // r15 NOTE: checkpoint on labeled tried and reverted (floor
    // 2.75→3.66 s) — dedup_clusters rationale (contraction output is
    // already RDD-backed; consumers share one cluster_id exchange).
    val sizes = labeled.groupBy($"cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select($"vec_id", $"cluster_id", $"cluster_size",
        ($"vec_id" === $"cluster_id").as("is_keeper"))
      .orderBy($"vec_id")
  }

  val semDedupSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, label, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm
       |  FROM embeddings
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE (${dotDuck("a.embedding", "b.embedding")}
       |         / sqrt(a.nrm * b.nrm)) > 0.35
       |),
       |edges AS (SELECT v1 AS a, v2 AS b FROM p UNION SELECT v2, v1 FROM p),
       |reach(node, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT ed.b, reach.r FROM reach JOIN edges ed ON ed.a = reach.node
       |),
       |comp AS (
       |  SELECT node AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY node
       |),
       |sz AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY cluster_id
       |)
       |SELECT c.vec_id, c.cluster_id, sz.cluster_size,
       |  c.vec_id = c.cluster_id AS is_keeper
       |FROM comp c JOIN sz USING (cluster_id)
       |${sqlOrderBy(Seq("c.vec_id")).trim}""".stripMargin

  /** Int8 scalar quantization — the storage-side scale path for ANN: a
    * 64-d float vector becomes 64 bytes (4x smaller than float32, 8x
    * than float64), and the IVF probe scans quantized codes first.
    * Codes are `clamp(floor(x*256 + 0.5), -128, 127)` (floor(+0.5), not
    * round() — the engines' round() tie rules differ); per-vector audit
    * stats quantify the information loss: clip count, worst-case
    * reconstruction error, and decimal-exact summed squared error.
    *
    * Scale posture: explode -> partial aggregate, same as the minhash
    * stage — the |corpus|x64 element stream collapses map-side to one
    * state row per vector before the shuffle. */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "embeddings")
      .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "x")))
      .select($"vec_id", $"label", $"pos",
        $"x".cast("double").as("xd"),
        floor($"x".cast("double") * 256 + 0.5).as("f"))
      .withColumn("q", least(lit(127L), greatest(lit(-128L), $"f")).cast("int"))
      .withColumn("err", abs($"xd" - $"q" / 256.0))
      .groupBy($"vec_id", $"label")
      .agg(
        min(when($"pos" === 0, $"q")).as("q1"),
        sum(when($"f" > 127 || $"f" < -128, 1L).otherwise(0L)).as("n_clipped"),
        max($"err").as("max_abs_err"),
        // floor-scaled fixed point, not a decimal CAST (see DecimalDot)
        (sum(floor($"err" * $"err" * 1e14 + 0.5).cast("bigint")).cast("double")
          / 1e14).as("sse"))
      .orderBy($"vec_id")
  }

  val quantizeSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, i,
       |    CAST(embedding[i] AS DOUBLE) AS xd,
       |    floor(CAST(embedding[i] AS DOUBLE) * 256 + 0.5) AS f
       |  FROM embeddings, range(1, 65) t(i)
       |),
       |q AS (
       |  SELECT vec_id, label, i, xd, f,
       |    CAST(least(CAST(127 AS DOUBLE), greatest(CAST(-128 AS DOUBLE), f)) AS INTEGER) AS q
       |  FROM e
       |),
       |r AS (SELECT q.*, abs(xd - q / CAST(256 AS DOUBLE)) AS err FROM q)
       |SELECT vec_id, label,
       |  MIN(CASE WHEN i = 1 THEN q END) AS q1,
       |  CAST(SUM(CASE WHEN f > 127 OR f < -128 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       |  MAX(err) AS max_abs_err,
       |  CAST(CAST(SUM(CAST(floor(err * err * 1e14 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |    / 1e14 AS sse
       |FROM r GROUP BY vec_id, label${sqlOrderBy(Seq("vec_id"))}""".stripMargin

  /** 8 fixed +-1 random hyperplanes (64-d), generated once by a seeded
    * LCG at query-construction time and embedded as literals in BOTH the
    * Spark plan and the DuckDB oracle — no cross-engine RNG parity
    * needed, and the plan is fully deterministic across runs/cluster
    * sizes. */
  private val srpPlanes: Seq[Seq[Double]] = {
    var s = 0x5DEECE66DL
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      if ((s >>> 63) == 1L) 1.0 else -1.0
    }
    Seq.fill(8)(Seq.fill(64)(next()))
  }

  private def planeSpark(p: Seq[Double]): String =
    p.map(v => s"${v}D").mkString("array(", ", ", ")")
  private def planeDuck(p: Seq[Double]): String =
    p.mkString("([", ", ", "])")

  /** The two 4-bit SRP band keys as Spark SQL expression strings —
    * shared by [[srpNeardup]], [[srpSig]], and (round 14) the
    * `dq_lsh_preflight` embed family. */
  private[llm] val srpBandExprsSpark: (String, String) = {
    def bit(i: Int) =
      s"(CASE WHEN ${dotSpark("embedding", planeSpark(srpPlanes(i)))} > 0 THEN 1 ELSE 0 END)"
    ((0 until 4).map(i => s"(${bit(i)} * ${1 << i})").mkString(" + "),
      (4 until 8).map(i => s"(${bit(i)} * ${1 << (i - 4)})").mkString(" + "))
  }

  /** DuckDB twins of [[srpBandExprsSpark]]. */
  private[llm] val srpBandExprsDuck: (String, String) = {
    def bit(i: Int) =
      s"(CASE WHEN ${dotDuck("embedding", planeDuck(srpPlanes(i)))} > 0 THEN 1 ELSE 0 END)"
    ((0 until 4).map(i => s"(${bit(i)} * ${1 << i})").mkString(" + "),
      (4 until 8).map(i => s"(${bit(i)} * ${1 << (i - 4)})").mkString(" + "))
  }

  /** Map-only SRP signature frame (vec_id, label, band_a, band_b) —
    * a pure per-vector function (fixed literal hyperplanes), so it is
    * a valid partition-incremental derivation for [[srpIndex]]. */
  private[graft] def srpSig(emb: DataFrame): DataFrame = {
    graft.functions.DecimalDot.register(emb.sparkSession)
    val (a, b) = srpBandExprsSpark
    emb.selectExpr("vec_id", "label", s"($a) AS band_a", s"($b) AS band_b")
  }

  /** Refresh-and-read the partition-incrementally materialized SRP
    * signature index over the embeddings lake (label-partitioned, the
    * IVF-index discipline) — the artifact the round-14 gate prices the
    * embed family from without re-projecting the corpus. */
  private[graft] def srpIndex(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Incremental.serve(spark,
      Tables(spark, dir, "embeddings"), "label", srpSig,
      graft.Workspace.cache("srp", 1, dir) + "/index")
      .select(col("vec_id"), col("band_a"), col("band_b"))
  }

  /** SRP-LSH near-duplicate pairs — the scale path when NO clustering
    * column exists (cf. [[neardupPairs]], which buckets on the given
    * `label`): sign bits of 8 random-hyperplane projections form two
    * 4-bit LSH band keys; only docs sharing a band bucket are paired,
    * then re-scored with the exact decimal cosine at the same 0.35 cut.
    *
    * Scale posture: the signature stage is map-only (8 codegen'd
    * decimal_dot calls per row); the candidate stage is two equi-joins
    * on band keys (never an OR / nested-loop join), so the comparison
    * count is sum of |bucket|^2 over 16 buckets per band, not
    * |corpus|^2. Recall tuning = more planes / narrower bands — the
    * classic SimHash/SRP trade, here sized for the 0.35 threshold. */
  def srpNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val (bandA, bandB) = srpBandExprsSpark
    val sig = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm",
        s"($bandA) AS band_a", s"($bandB) AS band_b")
    val a = sig.select($"vec_id".as("v1"), $"embedding".as("e1"),
      $"nrm".as("n1"), $"band_a".as("ba"), $"band_b".as("bb"))
    val b = sig.select($"vec_id".as("v2"), $"embedding".as("e2"),
      $"nrm".as("n2"), $"band_a".as("bc"), $"band_b".as("bd"))
    val p1 = a.join(b, $"ba" === $"bc" && $"v1" < $"v2")
    val p2 = a.join(b, $"bb" === $"bd" && $"v1" < $"v2")
    p1.select($"v1", $"v2", $"e1", $"e2", $"n1", $"n2")
      .union(p2.select($"v1", $"v2", $"e1", $"e2", $"n1", $"n2"))
      .distinct()
      .selectExpr("v1", "v2",
        s"(${dotSpark("e1", "e2")} / sqrt(n1 * n2)) AS cosine")
      .filter($"cosine" > 0.35)
      .orderBy($"v1", $"v2")
  }

  val srpNeardupSql: String = {
    val (bandA, bandB) = srpBandExprsDuck
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm,
       |    ($bandA) AS band_a, ($bandB) AS band_b
       |  FROM embeddings
       |),
       |cand AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2,
       |    a.embedding AS e1, b.embedding AS e2, a.nrm AS n1, b.nrm AS n2
       |  FROM sig a JOIN sig b ON a.band_a = b.band_a AND a.vec_id < b.vec_id
       |  UNION
       |  SELECT a.vec_id, b.vec_id, a.embedding, b.embedding, a.nrm, b.nrm
       |  FROM sig a JOIN sig b ON a.band_b = b.band_b AND a.vec_id < b.vec_id
       |),
       |scored AS (
       |  SELECT v1, v2, (${dotDuck("e1", "e2")} / sqrt(n1 * n2)) AS cosine
       |  FROM cand
       |)
       |SELECT * FROM scored WHERE cosine > 0.35
       |${sqlOrderBy(Seq("v1", "v2")).trim}""".stripMargin
  }

  /** K-means assignment step (one Lloyd iteration) against the
    * per-label centroids: each vector is assigned to its nearest
    * centroid by exact squared euclidean distance
    * (||v||^2 - 2 v.c + ||c||^2, every dot fixed-point-exact), ties
    * broken by smaller label; output is the (true label, assigned
    * label) confusion matrix with counts and the fixed-point-exact
    * mean assigned distance.
    *
    * Scale posture: THE canonical iterative-ML shape on Spark — the K
    * centroids broadcast to every task, assignment is a map-only pass
    * (|corpus| x K distance evaluations), and only the K^2 confusion
    * cells reach the final exchange. An actual k-means loop repeats
    * this + the centroid partial-agg; both stages are already here
    * (see [[ivfTopk]] stage 1). */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val cent = emb
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg(((sum(floor($"x".cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))
      .select($"label".as("c_label"), $"centroid")
    val dist = emb.crossJoin(broadcast(cent))
      .selectExpr("vec_id", "label", "c_label",
        s"""(${dotSpark("embedding", "embedding")}
           | - 2 * ${dotSpark("embedding", "centroid")}
           | + ${dotSpark("centroid", "centroid")}) AS d""".stripMargin.replace("\n", ""))
    val best = dist.groupBy($"vec_id").agg(min($"d").as("min_d"))
    dist.join(best, "vec_id")
      .filter($"d" === $"min_d")
      .groupBy($"vec_id", $"label", $"min_d")
      .agg(min($"c_label").as("assigned"))
      .groupBy($"label", $"assigned")
      .agg(count(lit(1)).as("n_vectors"),
        ((sum(floor($"min_d" * 1e9 + 0.5).cast("bigint")).cast("double") / 1e9)
          / count(lit(1))).as("mean_dist"))
      .orderBy($"label", $"assigned")
  }

  val kmeansAssignSql: String = {
    def dd(x: String, y: String) = dotDuck(x, y)
    s"""WITH cent0 AS (
       |  SELECT label, i,
       |    CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12
       |      / COUNT(*) AS c
       |  FROM embeddings, range(1, 65) t(i)
       |  GROUP BY label, i
       |),
       |cent AS (SELECT label AS c_label, list(c ORDER BY i) AS centroid
       |         FROM cent0 GROUP BY label),
       |dist AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    (${dd("e.embedding", "e.embedding")}
       |     - 2 * ${dd("e.embedding", "c.centroid")}
       |     + ${dd("c.centroid", "c.centroid")}) AS d
       |  FROM embeddings e, cent c
       |),
       |best AS (SELECT vec_id, MIN(d) AS min_d FROM dist GROUP BY vec_id),
       |assigned AS (
       |  SELECT dist.vec_id, dist.label, best.min_d,
       |    MIN(dist.c_label) AS assigned
       |  FROM dist JOIN best ON dist.vec_id = best.vec_id AND dist.d = best.min_d
       |  GROUP BY dist.vec_id, dist.label, best.min_d
       |)
       |SELECT label, assigned,
       |  COUNT(*) AS n_vectors,
       |  CAST(CAST(SUM(CAST(floor(min_d * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |    / 1e9 / COUNT(*) AS mean_dist
       |FROM assigned GROUP BY label, assigned
       |${sqlOrderBy(Seq("label", "assigned")).trim}""".stripMargin
  }

  /** K-means centroid-UPDATE step — the second half of a Lloyd
    * iteration (cf. [[kmeansAssign]], the first half): re-assign every
    * vector to its nearest centroid, recompute each cluster's centroid
    * as the fixed-point-exact mean of its members, and report per
    * cluster the member count and the squared euclidean SHIFT between
    * old and new centroid (the quantity a k-means loop tests for
    * convergence).
    *
    * Scale posture: assignment is the same broadcast-K map-only pass as
    * [[kmeansAssign]]; the update is posexplode -> partial aggregate,
    * so the shuffle carries K x 64 cell sums, not |corpus| vectors; the
    * final shift join is K rows against K rows. One Lloyd iteration =
    * this query's plan; a full k-means = driver loop re-broadcasting
    * the K x 64 result, which is exactly how MLlib does it. */
  def kmeansUpdate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val cent = emb
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg(((sum(floor($"x".cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))
      .select($"label".as("c_label"), $"centroid")
    val dist = emb.crossJoin(broadcast(cent))
      .selectExpr("vec_id", "c_label",
        s"""(${dotSpark("embedding", "embedding")}
           | - 2 * ${dotSpark("embedding", "centroid")}
           | + ${dotSpark("centroid", "centroid")}) AS d""".stripMargin.replace("\n", ""))
    val best = dist.groupBy($"vec_id").agg(min($"d").as("min_d"))
    val asg = dist.join(best, "vec_id")
      .filter($"d" === $"min_d")
      .groupBy($"vec_id")
      .agg(min($"c_label").as("assigned"))
    val members = emb.join(asg, "vec_id")
    val newCent = members
      .select($"assigned", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"assigned", $"pos")
      .agg(((sum(floor($"x".cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("c"))
      .groupBy($"assigned")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)")
        .as("new_centroid"))
    val nm = asg.groupBy($"assigned").agg(count(lit(1)).as("n_members"))
    newCent.join(nm, "assigned")
      .join(cent, $"assigned" === $"c_label")
      .selectExpr("assigned", "n_members",
        s"""(${dotSpark("centroid", "centroid")}
           | - 2 * ${dotSpark("centroid", "new_centroid")}
           | + ${dotSpark("new_centroid", "new_centroid")}) AS shift""".stripMargin
          .replace("\n", ""))
      .orderBy($"assigned")
  }

  val kmeansUpdateSql: String = {
    def dd(x: String, y: String) = dotDuck(x, y)
    s"""WITH cent0 AS (
       |  SELECT label, i,
       |    CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12
       |      / COUNT(*) AS c
       |  FROM embeddings, range(1, 65) t(i)
       |  GROUP BY label, i
       |),
       |cent AS (SELECT label AS c_label, list(c ORDER BY i) AS centroid
       |         FROM cent0 GROUP BY label),
       |dist AS (
       |  SELECT e.vec_id, c.c_label,
       |    (${dd("e.embedding", "e.embedding")}
       |     - 2 * ${dd("e.embedding", "c.centroid")}
       |     + ${dd("c.centroid", "c.centroid")}) AS d
       |  FROM embeddings e, cent c
       |),
       |best AS (SELECT vec_id, MIN(d) AS min_d FROM dist GROUP BY vec_id),
       |asg AS (
       |  SELECT dist.vec_id, MIN(dist.c_label) AS assigned
       |  FROM dist JOIN best ON dist.vec_id = best.vec_id AND dist.d = best.min_d
       |  GROUP BY dist.vec_id
       |),
       |newc0 AS (
       |  SELECT a.assigned, i,
       |    CAST(CAST(SUM(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1e12 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12
       |      / COUNT(*) AS c
       |  FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id, range(1, 65) t(i)
       |  GROUP BY a.assigned, i
       |),
       |newc AS (SELECT assigned, list(c ORDER BY i) AS new_centroid
       |         FROM newc0 GROUP BY assigned),
       |nm AS (SELECT assigned, COUNT(*) AS n_members FROM asg GROUP BY assigned)
       |SELECT n.assigned, nm.n_members,
       |  (${dd("c.centroid", "c.centroid")}
       |   - 2 * ${dd("c.centroid", "n.new_centroid")}
       |   + ${dd("n.new_centroid", "n.new_centroid")}) AS shift
       |FROM newc n
       |JOIN nm ON nm.assigned = n.assigned
       |JOIN cent c ON c.c_label = n.assigned
       |ORDER BY n.assigned NULLS FIRST""".stripMargin
  }

  /** DuckDB fixed-point dot over the 16-dim PQ slices ([[dotDuck]]
    * with range(1, 17)). */
  private def dotDuck16(x: String, y: String): String =
    s"""(CAST(CAST(list_sum(list_transform(range(1, 17),
       | i -> CAST(floor(CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)
       |   * 1e14 + 0.5) AS BIGINT))) AS BIGINT) AS DOUBLE) / 1e14)""".stripMargin.replace("\n", "")

  /** Product-quantization encoding (IVF's storage-side companion: a
    * 64-dim vector compresses to M=4 sub-codes): split each embedding
    * into 4 subspaces of 16 dims, assign each slice to its nearest
    * sub-codebook entry by exact L2² (argmin via d² = x·x − 2x·c + c·c
    * over the fixed-point dots, label tiebreak). Sub-codebooks are the
    * per-label centroid slices — a slice of the mean is the mean of
    * the slice, so the codebook derivation is shared with IVF
    * ([[centroids]]) and stays deterministic (no RNG k-means init).
    * Scale: the codebook is tiny and broadcast; encoding is map-only
    * per (vector × K × M) with 16-dim native dots; the argmin windows
    * partition by vec_id — millions of 20-row windows, never global. */
  def pqCode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val cand = centroids(emb).withColumnRenamed("label", "cand")
    val scored = emb.crossJoin(broadcast(cand))
      .select($"vec_id", $"cand", $"embedding", $"centroid",
        explode(expr("array(0,1,2,3)")).as("sub"))
      .selectExpr("vec_id", "cand", "sub",
        "slice(embedding, 1 + 16*sub, 16) AS xs",
        "slice(centroid, 1 + 16*sub, 16) AS cs")
      .selectExpr("vec_id", "sub", "cand",
        s"(${dotSpark("xs", "xs")} - 2 * ${dotSpark("xs", "cs")}" +
          s" + ${dotSpark("cs", "cs")}) AS d2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id", $"sub").orderBy($"d2", $"cand")
    scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"vec_id", $"sub".as("subspace"),
        $"cand".as("code_label"), $"d2")
      .orderBy($"vec_id", $"subspace")
  }

  val pqCodeSql: String =
    s"""WITH $centroidsSqlCtes,
       |pairs AS (
       |  SELECT e.vec_id, s.sub, cvec.label AS cand,
       |    e.embedding[(1+16*s.sub):(16+16*s.sub)] AS xs,
       |    cvec.centroid[(1+16*s.sub):(16+16*s.sub)] AS cs
       |  FROM embeddings e, (SELECT unnest(range(4)) AS sub) s, cvec
       |),
       |scored AS (
       |  SELECT vec_id, sub, cand,
       |    (${dotDuck16("xs", "xs")} - 2 * ${dotDuck16("xs", "cs")}
       |     + ${dotDuck16("cs", "cs")}) AS d2
       |  FROM pairs
       |)
       |SELECT vec_id, CAST(sub AS INTEGER) AS subspace, cand AS code_label, d2
       |FROM scored
       |QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) = 1
       |ORDER BY vec_id NULLS FIRST, subspace NULLS FIRST""".stripMargin

  /** PQ quantization-distortion audit — the codebook-quality gate a
    * vector store runs before committing to a compression config: per
    * subspace, how much of the corpus energy the 4-bit-equivalent code
    * assignment throws away (Σd²/Σ‖x_sub‖², the quantization noise-to-
    * signal ratio) plus the worst single-vector residual. Jégou et al.
    * (PAMI 2011) tune M and codebook size against exactly this curve.
    * Composes [[pqCode]]'s assigned residuals with a map-only per-slice
    * energy pass; sums go through DECIMAL(28,5) (Det discipline) so the
    * aggregate is bit-identical at any parallelism.
    *
    * Scale posture: residuals come from the broadcast-codebook argmin
    * (map-only after the tiny codebook derivation), energy is map-only,
    * and the final rollup is 4 rows — nothing here grows faster than
    * one scan of the vectors. */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val pq = pqCode(spark, dir)
    val energy = Tables(spark, dir, "embeddings")
      .select($"vec_id", explode(expr("array(0,1,2,3)")).as("subspace"),
        $"embedding")
      .selectExpr("vec_id", "subspace",
        s"""${dotSpark("slice(embedding, 1 + 16*subspace, 16)",
            "slice(embedding, 1 + 16*subspace, 16)")} AS e2""")
    pq.join(energy, Seq("vec_id", "subspace"))
      .groupBy($"subspace")
      .agg(count(lit(1)).as("n_vectors"),
        graft.Det.xsum($"d2").as("sum_d2"),
        graft.Det.xsum($"e2").as("sum_energy"),
        max($"d2").as("max_d2"))
      .withColumn("distortion_ratio", $"sum_d2" / $"sum_energy")
      .orderBy($"subspace")
  }

  val pqDistortionSql: String =
    s"""WITH $centroidsSqlCtes,
       |pairs AS (
       |  SELECT e.vec_id, s.sub, cvec.label AS cand,
       |    e.embedding[(1+16*s.sub):(16+16*s.sub)] AS xs,
       |    cvec.centroid[(1+16*s.sub):(16+16*s.sub)] AS cs
       |  FROM embeddings e, (SELECT unnest(range(4)) AS sub) s, cvec
       |),
       |scored AS (
       |  SELECT vec_id, sub, cand,
       |    (${dotDuck16("xs", "xs")} - 2 * ${dotDuck16("xs", "cs")}
       |     + ${dotDuck16("cs", "cs")}) AS d2
       |  FROM pairs
       |),
       |assigned AS (
       |  SELECT vec_id, sub, d2 FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) = 1
       |),
       |en AS (
       |  SELECT e.vec_id, s.sub,
       |    ${dotDuck16("e.embedding[(1+16*s.sub):(16+16*s.sub)]",
                        "e.embedding[(1+16*s.sub):(16+16*s.sub)]")} AS e2
       |  FROM embeddings e, (SELECT unnest(range(4)) AS sub) s
       |)
       |SELECT subspace, n_vectors, sum_d2, sum_energy, max_d2,
       |  sum_d2 / sum_energy AS distortion_ratio
       |FROM (
       |  SELECT CAST(a.sub AS INTEGER) AS subspace, COUNT(*) AS n_vectors,
       |    ${graft.Det.sqlSum("a.d2")} AS sum_d2,
       |    ${graft.Det.sqlSum("en.e2")} AS sum_energy,
       |    MAX(a.d2) AS max_d2
       |  FROM assigned a JOIN en ON en.vec_id = a.vec_id AND en.sub = a.sub
       |  GROUP BY a.sub
       |)${sqlOrderBy(Seq("subspace"))}""".stripMargin

  /** embed_binary_quant: 1-bit binary quantization serving — each
    * 64-dim embedding collapses to a 64-bit sign bitmap (thresholded
    * at the per-dimension corpus mean, the centering that keeps the
    * bits balanced), packed as TWO 32-bit words so no engine ever
    * shifts into a sign bit; candidate ranking is Hamming distance =
    * popcount(xor) — the 64×-bandwidth trick production vector stores
    * (FAISS binary indexes, modern vector DBs) serve first-stage
    * retrieval from. Output: the query vector's top-10 by (hamming,
    * vec_id). [[binaryRecall]] grades it against the exact cosine
    * top-10.
    *
    * Scale posture: packing is one map-only pass against a broadcast
    * 64-double mean vector (1e12-quantized means, the [[centroids]]
    * fixed-point discipline — bit-identical thresholds cross-engine);
    * ranking N packed rows is a TakeOrdered over 2×8-byte payloads —
    * the scan the bandwidth trick exists to make cheap. */
  def binaryQuant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val means = emb
      .select(posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"pos")
      .agg(((sum(floor($"x".cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("m"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), s -> s.m)")
        .as("mv"))
    val packed = emb.crossJoin(broadcast(means))
      .selectExpr("vec_id", "label",
        """aggregate(sequence(0, 31), CAST(0 AS BIGINT),
          |  (acc, i) -> acc + IF(embedding[i] > element_at(mv, i + 1),
          |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))) AS b0""".stripMargin,
        """aggregate(sequence(32, 63), CAST(0 AS BIGINT),
          |  (acc, i) -> acc + IF(embedding[i] > element_at(mv, i + 1),
          |    shiftleft(CAST(1 AS BIGINT), i - 32), CAST(0 AS BIGINT))) AS b1""".stripMargin)
    val q = packed.filter($"vec_id" === 0)
      .select($"b0".as("q0"), $"b1".as("q1"))
    packed.crossJoin(broadcast(q))
      .selectExpr("vec_id", "label",
        "CAST(bit_count(b0 ^ q0) + bit_count(b1 ^ q1) AS INTEGER) AS hamming")
      .orderBy($"hamming", $"vec_id")
      .limit(10)
  }

  /** Shared CTEs: per-dim 1e12-quantized means and the packed sign
    * bitmaps, DuckDB spelling of [[binaryQuant]]'s packing. */
  private val binaryPackCtes: String =
    s"""bqm AS (
       |  SELECT list(m ORDER BY pos) AS mv FROM (
       |    SELECT i AS pos,
       |      CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12 + 0.5)
       |        AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 / COUNT(*) AS m
       |    FROM embeddings, range(1, 65) t(i)
       |    GROUP BY i)
       |),
       |bqp AS (
       |  SELECT vec_id, label,
       |    CAST(list_sum(list_transform(range(0, 32), i ->
       |      CASE WHEN embedding[i + 1] > mv[i + 1]
       |        THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS b0,
       |    CAST(list_sum(list_transform(range(32, 64), i ->
       |      CASE WHEN embedding[i + 1] > mv[i + 1]
       |        THEN CAST(1 AS BIGINT) << (i - 32) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS b1
       |  FROM embeddings, bqm
       |)""".stripMargin

  val binaryQuantSql: String =
    s"""WITH $binaryPackCtes
       |SELECT p.vec_id, p.label,
       |  CAST(bit_count(xor(p.b0, q.b0)) + bit_count(xor(p.b1, q.b1))
       |    AS INTEGER) AS hamming
       |FROM bqp p, (SELECT b0, b1 FROM bqp WHERE vec_id = 0) q
       |ORDER BY hamming NULLS FIRST, vec_id NULLS FIRST
       |LIMIT 10""".stripMargin

  /** embed_binary_recall: recall@10 of the binary-Hamming ranking
    * against the exact decimal cosine top-10 — the number that decides
    * how large the binary first stage's re-rank shortlist must be. */
  def binaryRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = cosineTopk(spark, dir).select($"vec_id")
    val approx = binaryQuant(spark, dir).select($"vec_id")
    approx.join(exact, "vec_id")
      .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
      .select(lit(10).as("k"), $"recall_at_10")
  }

  val binaryRecallSql: String =
    s"""WITH $binaryPackCtes,
       |bqtop AS (
       |  SELECT p.vec_id,
       |    bit_count(xor(p.b0, q.b0)) + bit_count(xor(p.b1, q.b1)) AS hamming
       |  FROM bqp p, (SELECT b0, b1 FROM bqp WHERE vec_id = 0) q
       |  ORDER BY hamming, vec_id LIMIT 10
       |),
       |costop AS (
       |  SELECT e.vec_id,
       |    ${cosDuck("e.embedding", "q.embedding")} AS cosine
       |  FROM embeddings e,
       |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |  ORDER BY cosine DESC, vec_id LIMIT 10
       |)
       |SELECT CAST(10 AS INTEGER) AS k,
       |  CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall_at_10
       |FROM bqtop b JOIN costop c ON c.vec_id = b.vec_id""".stripMargin

  /** embed_rrf_hybrid: reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher SIGIR'09) of a VECTOR ranking and a LEXICAL ranking —
    * the hybrid-search shape every production retrieval stack serves
    * (dense recall catches paraphrase, sparse recall catches exact
    * terms; RRF composes them with no score calibration at all,
    * which is exactly why it fuses incomparable score scales safely).
    * Query = item 0 (the test corpus enumerates documents and their
    * embeddings on one id space). Leg 1 ranks by exact decimal
    * cosine; leg 2 ranks by distinct-token Jaccard vs the query doc,
    * integer-quantized as (10^6·|∩|) div |∪| so the ordering is pure
    * BIGINT. Each leg keeps top-50; RRF = Σ 1/(60+rank) over the
    * lists a candidate appears in (the SIGIR'09 k=60 constant),
    * absent legs contribute 0 via rank 0 — no NULLs, so the driver's
    * dtype gate sees plain INTEGER ranks. Two one-step IEEE
    * divisions and one addition → bit-stable cross-engine.
    *
    * Scale posture: the vector leg is the [[cosineTopk]] broadcast
    * scan; the lexical leg joins exploded distinct tokens to the
    * BROADCAST query-token set (|corpus tokens| map-side semi-join,
    * no shuffle of text); both rank(≤50) windows compile to partial
    * WindowGroupLimits, and the fusion joins two 50-row frames. At
    * 100 TB each leg would be served from its index tier (IVF /
    * inverted lists) — the fusion contract is unchanged. */
  def rrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val vecScored = emb.crossJoin(broadcast(q))
      .selectExpr("vec_id AS id", s"${cosSpark("embedding", "qv")} AS cosine")
    val wv = org.apache.spark.sql.expressions.Window
      .orderBy($"cosine".desc, $"id")
    val vecTop = vecScored.withColumn("r_vec", row_number().over(wv))
      .filter($"r_vec" <= 50).select($"id", $"r_vec")
    val dtok = Tables(spark, dir, "documents")
      .select($"doc_id", explode(array_distinct(split($"text", " ")))
        .as("tok"))
    val qt = dtok.filter($"doc_id" === 0).select($"tok")
    val nq = qt.agg(count(lit(1)).as("n_q"))
    val nt = dtok.groupBy($"doc_id").agg(count(lit(1)).as("n_tok"))
    val inter = dtok.join(broadcast(qt), "tok")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_inter"))
    val lex = nt.join(inter, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_inter"))
      .crossJoin(broadcast(nq))
      .selectExpr("doc_id AS id",
        "(1000000 * n_inter) div (n_tok + n_q - n_inter) AS lex_q")
    val wl = org.apache.spark.sql.expressions.Window
      .orderBy($"lex_q".desc, $"id")
    val lexTop = lex.withColumn("r_lex", row_number().over(wl))
      .filter($"r_lex" <= 50).select($"id", $"r_lex")
    vecTop.join(lexTop, Seq("id"), "full")
      .na.fill(0, Seq("r_vec", "r_lex"))
      .selectExpr("id", "r_vec", "r_lex",
        """(CASE WHEN r_vec > 0
          |   THEN 1e0 / (6e1 + CAST(r_vec AS DOUBLE)) ELSE 0e0 END
          | + CASE WHEN r_lex > 0
          |   THEN 1e0 / (6e1 + CAST(r_lex AS DOUBLE)) ELSE 0e0 END)
          |  AS rrf""".stripMargin)
      .orderBy($"rrf".desc, $"id")
      .limit(10)
  }

  val rrfHybridSql: String =
    s"""WITH rvec AS (
       |  SELECT e.vec_id AS id,
       |    ${cosDuck("e.embedding", "q.embedding")} AS cosine
       |  FROM embeddings e,
       |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |),
       |rvtop AS (
       |  SELECT id, r_vec FROM (
       |    SELECT id, CAST(row_number() OVER (ORDER BY cosine DESC, id)
       |      AS INTEGER) AS r_vec FROM rvec)
       |  WHERE r_vec <= 50
       |),
       |rdtok AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |),
       |rqt AS (SELECT tok FROM rdtok WHERE doc_id = 0),
       |rnq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_q FROM rqt),
       |rnt AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
       |  FROM rdtok GROUP BY doc_id
       |),
       |rint AS (
       |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM rdtok d JOIN rqt ON rqt.tok = d.tok GROUP BY d.doc_id
       |),
       |rlex AS (
       |  SELECT t.doc_id AS id,
       |    CAST((1000000 * COALESCE(i.n_inter, 0))
       |      // (t.n_tok + q.n_q - COALESCE(i.n_inter, 0)) AS BIGINT)
       |      AS lex_q
       |  FROM rnt t LEFT JOIN rint i ON i.doc_id = t.doc_id, rnq q
       |),
       |rltop AS (
       |  SELECT id, r_lex FROM (
       |    SELECT id, CAST(row_number() OVER (ORDER BY lex_q DESC, id)
       |      AS INTEGER) AS r_lex FROM rlex)
       |  WHERE r_lex <= 50
       |),
       |rfused AS (
       |  SELECT COALESCE(v.id, l.id) AS id,
       |    CAST(COALESCE(v.r_vec, 0) AS INTEGER) AS r_vec,
       |    CAST(COALESCE(l.r_lex, 0) AS INTEGER) AS r_lex
       |  FROM rvtop v FULL JOIN rltop l ON l.id = v.id
       |)
       |SELECT id, r_vec, r_lex,
       |  (CASE WHEN r_vec > 0
       |     THEN 1e0 / (6e1 + CAST(r_vec AS DOUBLE)) ELSE 0e0 END
       |   + CASE WHEN r_lex > 0
       |     THEN 1e0 / (6e1 + CAST(r_lex AS DOUBLE)) ELSE 0e0 END) AS rrf
       |FROM rfused
       |ORDER BY rrf DESC NULLS LAST, id NULLS FIRST
       |LIMIT 10""".stripMargin

  /** embed_centroid_drift: embedding-distribution drift between the
    * reference half and the current half of the corpus (vec_id
    * parity stands in for the time split a production monitor would
    * use) — the health check that catches a silently retrained or
    * corrupted encoder BEFORE downstream recall collapses. Per-side
    * per-dim means use the [[centroids]] 1e12 fixed-point discipline
    * (bit-identical at any partitioning); the drift numbers are then
    * mean-vector cosine and squared-L2 via the same decimal_dot
    * identity every ANN op here uses (L2² = dot(d,d) on the
    * assembled diff vector — one deterministic reduction, not a
    * float sum in shuffle order), plus the max per-dim |Δ|.
    *
    * Scale posture: one posexplode scan → (side, pos) map-combined
    * means (128 groups), two 64-element arrays joined into a single
    * output row — corpus-size-independent memory, no shuffle beyond
    * the 128-group agg. */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val sides = Tables(spark, dir, "embeddings")
      .select(($"vec_id" % 2).cast("int").as("side"),
        posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"side", $"pos")
      .agg(((sum(floor($"x".cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("m"),
        count(lit(1)).as("n"))
      .groupBy($"side")
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), s -> s.m)")
        .as("mv"), first($"n").as("n_vecs"))
    val ref = sides.filter($"side" === 0)
      .select($"mv".as("m_ref"), $"n_vecs".as("n_ref"))
    val cur = sides.filter($"side" === 1)
      .select($"mv".as("m_cur"), $"n_vecs".as("n_cur"))
    ref.crossJoin(broadcast(cur))
      .withColumn("dv", expr("zip_with(m_ref, m_cur, (a, b) -> a - b)"))
      .selectExpr("n_ref", "n_cur",
        s"${cosSpark("m_ref", "m_cur")} AS mean_cosine",
        s"${dotSpark("dv", "dv")} AS l2_sq",
        "array_max(transform(dv, v -> abs(v))) AS max_abs_delta")
  }

  val centroidDriftSql: String =
    s"""WITH cdm AS (
       |  SELECT CAST(vec_id % 2 AS INTEGER) AS side, i AS pos,
       |    CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 / COUNT(*) AS m,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM embeddings, range(1, 65) t(i)
       |  GROUP BY side, i
       |),
       |cdv AS (
       |  SELECT side, list(m ORDER BY pos) AS mv, ANY_VALUE(n) AS n_vecs
       |  FROM cdm GROUP BY side
       |),
       |cdj AS (
       |  SELECT r.n_vecs AS n_ref, c.n_vecs AS n_cur,
       |    r.mv AS m_ref, c.mv AS m_cur,
       |    list_transform(range(1, 65), i -> r.mv[i] - c.mv[i]) AS dv
       |  FROM (SELECT * FROM cdv WHERE side = 0) r,
       |       (SELECT * FROM cdv WHERE side = 1) c
       |)
       |SELECT n_ref, n_cur,
       |  ${cosDuck("m_ref", "m_cur")} AS mean_cosine,
       |  ${dotDuck("dv", "dv")} AS l2_sq,
       |  list_max(list_transform(dv, v -> abs(v))) AS max_abs_delta
       |FROM cdj""".stripMargin

  /** embed_kcenter_coreset: greedy k-center seed selection (Gonzalez
    * 1985 — the 2-approximation farthest-point traversal), the coreset
    * construction data-efficient training pipelines use to pick a
    * maximally-spread representative subset (and the classic k-means++
    * -style seeding for the k-means tier here). Three greedy rounds
    * from seed vec_id=0: each round takes the point FARTHEST (max
    * min-d² over the chosen set) from the selection, then the final
    * row reports the 4-center coverage radius² — the quantity the
    * 2-approximation bound speaks about. Distances are the exact
    * decimal_dot composition d² = x·x − 2x·c + c·c (three IEEE ops on
    * bit-stable dots); MIN/MAX are order-independent, argmax ties
    * break by vec_id — fully deterministic with NO driver-side
    * collect: each round's winner is a 1-row frame the next round
    * broadcast-joins.
    *
    * Scale posture: round t scans N×t pairs against a broadcast ≤4-row
    * center table (map-only), so k rounds cost O(k²·N) dots — the
    * textbook greedy bound, linear in the corpus per round; each
    * argmax is a TakeOrdered. */
  def kcenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    def d2(x: String, c: String) =
      s"(${dotSpark(x, x)} - 2 * ${dotSpark(x, c)} + ${dotSpark(c, c)})"
    def asCenters(picks: DataFrame) =
      emb.join(picks.select($"vec_id"), "vec_id")
        .select($"vec_id".as("cid"), $"embedding".as("cemb"))
    def mind(chosen: DataFrame) =
      emb.crossJoin(broadcast(chosen))
        .selectExpr("vec_id", s"${d2("embedding", "cemb")} AS dd")
        .groupBy($"vec_id").agg(min($"dd").as("mind"))
    def pick(m: DataFrame) = m.orderBy($"mind".desc, $"vec_id").limit(1)
    val c0 = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("cid"), $"embedding".as("cemb"))
    val p1 = pick(mind(c0))
    val c1 = c0.unionByName(asCenters(p1))
    val p2 = pick(mind(c1))
    val c2 = c1.unionByName(asCenters(p2))
    val p3 = pick(mind(c2))
    val c3 = c2.unionByName(asCenters(p3))
    val cov = mind(c3).agg(max($"mind").as("mind"))
    def row(t: Int, p: DataFrame) =
      p.select(lit(t).as("sel_round"), $"vec_id", $"mind".as("radius_sq"))
    c0.select(lit(0).as("sel_round"), $"cid".as("vec_id"),
      lit(0e0).as("radius_sq"))
      .unionByName(row(1, p1)).unionByName(row(2, p2))
      .unionByName(row(3, p3))
      .unionByName(cov.select(lit(4).as("sel_round"),
        lit(-1L).as("vec_id"), $"mind".as("radius_sq")))
      .orderBy($"sel_round")
  }

  val kcenterCoresetSql: String = {
    def d2(x: String, c: String) =
      s"(${dotDuck(x, x)} - 2 * ${dotDuck(x, c)} + ${dotDuck(c, c)})"
    s"""WITH kc0 AS (
       |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |  WHERE vec_id = 0
       |),
       |km1 AS (
       |  SELECT e.vec_id, MIN(${d2("e.embedding", "c.cemb")}) AS mind
       |  FROM embeddings e, kc0 c GROUP BY e.vec_id
       |),
       |kp1 AS (SELECT vec_id, mind FROM km1
       |        ORDER BY mind DESC, vec_id LIMIT 1),
       |kc1 AS (
       |  SELECT * FROM kc0 UNION ALL
       |  SELECT e.vec_id, e.embedding FROM embeddings e
       |  JOIN kp1 p ON p.vec_id = e.vec_id
       |),
       |km2 AS (
       |  SELECT e.vec_id, MIN(${d2("e.embedding", "c.cemb")}) AS mind
       |  FROM embeddings e, kc1 c GROUP BY e.vec_id
       |),
       |kp2 AS (SELECT vec_id, mind FROM km2
       |        ORDER BY mind DESC, vec_id LIMIT 1),
       |kc2 AS (
       |  SELECT * FROM kc1 UNION ALL
       |  SELECT e.vec_id, e.embedding FROM embeddings e
       |  JOIN kp2 p ON p.vec_id = e.vec_id
       |),
       |km3 AS (
       |  SELECT e.vec_id, MIN(${d2("e.embedding", "c.cemb")}) AS mind
       |  FROM embeddings e, kc2 c GROUP BY e.vec_id
       |),
       |kp3 AS (SELECT vec_id, mind FROM km3
       |        ORDER BY mind DESC, vec_id LIMIT 1),
       |kc3 AS (
       |  SELECT * FROM kc2 UNION ALL
       |  SELECT e.vec_id, e.embedding FROM embeddings e
       |  JOIN kp3 p ON p.vec_id = e.vec_id
       |),
       |km4 AS (
       |  SELECT e.vec_id, MIN(${d2("e.embedding", "c.cemb")}) AS mind
       |  FROM embeddings e, kc3 c GROUP BY e.vec_id
       |)
       |SELECT CAST(0 AS INTEGER) AS sel_round, cid AS vec_id,
       |  CAST(0 AS DOUBLE) AS radius_sq FROM kc0
       |UNION ALL SELECT CAST(1 AS INTEGER), vec_id, mind FROM kp1
       |UNION ALL SELECT CAST(2 AS INTEGER), vec_id, mind FROM kp2
       |UNION ALL SELECT CAST(3 AS INTEGER), vec_id, mind FROM kp3
       |UNION ALL SELECT CAST(4 AS INTEGER), CAST(-1 AS BIGINT),
       |  MAX(mind) FROM km4
       |ORDER BY sel_round NULLS FIRST""".stripMargin
  }

  /** embed_pq_learned: one Lloyd refinement of the PQ sub-codebooks —
    * the step that turns [[pqCode]]'s label-mean INIT codebooks into
    * LEARNED ones (Jégou et al. 2011 train per-subspace k-means; this
    * is its first iteration, the direction a vector store actually
    * tunes): M-step recomputes each (subspace, code) centroid as the
    * 1e12-quantized mean of its assigned slices (the [[kmeansUpdate]]
    * fixed-point discipline — bit-identical at any partitioning),
    * E-step re-encodes every slice against the learned codebook, and
    * the output compares per-subspace distortion before/after — Lloyd
    * guarantees the learned side never loses.
    *
    * Scale posture: assignment is the broadcast-codebook map-only
    * argmin; the M-step shuffles |vectors|·M·16 skinny (code, pos, x)
    * rows with map-side combine; the rollup is 4 rows. Same one-scan
    * shape as [[pqDistortion]]. */
  def pqLearned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val slices = Tables(spark, dir, "embeddings")
      .select($"vec_id", explode(expr("array(0,1,2,3)")).as("subspace"),
        $"embedding")
      .selectExpr("vec_id", "subspace",
        "slice(embedding, 1 + 16*subspace, 16) AS xs")
    val codes = pqCode(spark, dir) // (vec_id, subspace, code_label, d2)
    val newCb = codes.join(slices, Seq("vec_id", "subspace"))
      .select($"subspace", $"code_label", posexplode($"xs").as(Seq("pos", "x")))
      .groupBy($"subspace", $"code_label", $"pos")
      .agg(((sum(floor($"x".cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("c"))
      .groupBy($"subspace", $"code_label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)")
        .as("cs"))
    val rescored = slices.join(broadcast(newCb), Seq("subspace"))
      .selectExpr("vec_id", "subspace", "code_label",
        s"(${dotSpark("xs", "xs")} - 2 * ${dotSpark("xs", "cs")}" +
          s" + ${dotSpark("cs", "cs")}) AS d2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id", $"subspace").orderBy($"d2", $"code_label")
    val learned = rescored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
    val init = codes.groupBy($"subspace")
      .agg(graft.Det.xsum($"d2").as("sum_d2_init"))
    learned.groupBy($"subspace")
      .agg(count(lit(1)).as("n_vectors"),
        graft.Det.xsum($"d2").as("sum_d2_learned"))
      .join(init, "subspace")
      .select($"subspace", $"n_vectors", $"sum_d2_init", $"sum_d2_learned",
        ($"sum_d2_learned" / $"sum_d2_init").as("improvement_ratio"))
      .orderBy($"subspace")
  }

  val pqLearnedSql: String =
    s"""WITH $centroidsSqlCtes,
       |pairs AS (
       |  SELECT e.vec_id, s.sub, cvec.label AS cand,
       |    e.embedding[(1+16*s.sub):(16+16*s.sub)] AS xs,
       |    cvec.centroid[(1+16*s.sub):(16+16*s.sub)] AS cs
       |  FROM embeddings e, (SELECT unnest(range(4)) AS sub) s, cvec
       |),
       |scored AS (
       |  SELECT vec_id, sub, cand,
       |    (${dotDuck16("xs", "xs")} - 2 * ${dotDuck16("xs", "cs")}
       |     + ${dotDuck16("cs", "cs")}) AS d2
       |  FROM pairs
       |),
       |assigned AS (
       |  SELECT vec_id, sub, cand, d2 FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) = 1
       |),
       |sl AS (
       |  SELECT e.vec_id, s.sub,
       |    e.embedding[(1+16*s.sub):(16+16*s.sub)] AS xs
       |  FROM embeddings e, (SELECT unnest(range(4)) AS sub) s
       |),
       |ncb0 AS (
       |  SELECT a.sub, a.cand, i,
       |    CAST(CAST(SUM(CAST(floor(CAST(sl.xs[i] AS DOUBLE) * 1e12 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12
       |      / COUNT(*) AS c
       |  FROM assigned a
       |  JOIN sl ON sl.vec_id = a.vec_id AND sl.sub = a.sub,
       |    range(1, 17) t(i)
       |  GROUP BY a.sub, a.cand, i
       |),
       |ncb AS (SELECT sub, cand, list(c ORDER BY i) AS cs
       |        FROM ncb0 GROUP BY sub, cand),
       |rescored AS (
       |  SELECT sl.vec_id, sl.sub, n.cand,
       |    (${dotDuck16("sl.xs", "sl.xs")} - 2 * ${dotDuck16("sl.xs", "n.cs")}
       |     + ${dotDuck16("n.cs", "n.cs")}) AS d2
       |  FROM sl JOIN ncb n ON n.sub = sl.sub
       |),
       |lrn AS (
       |  SELECT vec_id, sub, d2 FROM rescored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) = 1
       |),
       |ini AS (
       |  SELECT sub, ${graft.Det.sqlSum("d2")} AS sum_d2_init
       |  FROM assigned GROUP BY sub
       |)
       |SELECT CAST(l.sub AS INTEGER) AS subspace,
       |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  ANY_VALUE(i.sum_d2_init) AS sum_d2_init,
       |  ${graft.Det.sqlSum("l.d2")} AS sum_d2_learned,
       |  ${graft.Det.sqlSum("l.d2")} / ANY_VALUE(i.sum_d2_init)
       |    AS improvement_ratio
       |FROM lrn l JOIN ini i ON i.sub = l.sub
       |GROUP BY l.sub
       |${sqlOrderBy(Seq("subspace"))}""".stripMargin

  /** k-NN graph build (k=3) within label buckets — the batch companion
    * to [[ivfTopk]]: ANN indexes (HNSW, disk-IVF) and graph-based dedup
    * both start from "every vector's k nearest neighbours". Buckets
    * bound the candidate set exactly like [[neardupPairs]] (Σ|bucket|²
    * dots, never |corpus|²; at 100 TB the bucket key is the IVF cell so
    * each task scores one cell against itself). No threshold exists to
    * prefilter with, so every in-bucket pair pays the exact fixed-point
    * dot; ranking and output use the same exact cosine (ranking by a
    * fast double and re-scoring survivors could disagree with the
    * oracle's exact ordering near ties). Ties broken by neighbour id. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    graft.functions.DoubleDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val a = emb.select($"vec_id".as("v1"), $"label", $"embedding".as("e1"),
      $"nrm".as("n1"))
    val b = emb.select($"vec_id".as("v2"), $"label".as("label_b"),
      $"embedding".as("e2"), $"nrm".as("n2"))
    // Windows partition by (label, v1), not v1 alone: v1 determines its
    // label so the grouping is identical, but HashPartitioning(label)
    // from the pair join satisfies ClusteredDistribution(label, v1), so
    // NO window re-exchanges the Σ|cell|² pair stream.
    val byV1 = Window.partitionBy($"label", $"v1")
    // Two-phase ranking. The 125k-doc rehearsal measured the single-
    // phase form superlinear: the pair stream must stay SKINNY through
    // the rank sort (the first attempt carried both 64-float vectors
    // through the window — Σ|cell|²×600B of in-partition sort spill —
    // and a decimal dot per pair on top). Phase 1 ranks (v1, v2,
    // cos_d) rows only — a codegen'd pure-double cosine, vectors
    // dropped before the sort. Phase 2 re-joins embeddings for the
    // ≤8-per-vector survivors (plus any pair whose double cosine sits
    // within 1e-9 of the 3rd-ranked one: |double − exact| ≲ 1e-12
    // relative, so every vector the EXACT rank-3 cut could admit is in
    // the band by construction) and rescores with the decimal-exact
    // dot. Output values and order are bit-identical to the
    // single-phase form (same exact dot, same tiebreak).
    val pairsD = a.join(b, $"label" === $"label_b" && $"v1" =!= $"v2")
      .selectExpr("v1", "label", "v2",
        "(double_dot(e1, e2) / sqrt(n1 * n2)) AS cos_d")
      .withColumn("rd", row_number().over(byV1.orderBy($"cos_d".desc, $"v2")))
      .withColumn("third", max(when($"rd" === 3, $"cos_d")).over(byV1))
      .filter($"rd" <= 8 || $"third".isNull ||
        $"cos_d" >= $"third" - lit(1e-9))
      .select($"v1", $"v2")
    pairsD
      .join(emb.select($"vec_id", $"embedding".as("e1"), $"nrm".as("n1")),
        $"v1" === $"vec_id").drop("vec_id")
      .join(emb.select($"vec_id", $"label", $"embedding".as("e2"),
        $"nrm".as("n2")), $"v2" === $"vec_id").drop("vec_id")
      .selectExpr("v1", "label", "v2",
        s"(${dotSpark("e1", "e2")} / sqrt(n1 * n2)) AS cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"v1").orderBy($"cosine".desc, $"v2")))
      .filter($"rank" <= 3)
      .select($"v1", $"rank", $"v2", $"label", $"cosine")
      .orderBy($"v1", $"rank")
  }

  val knnGraphSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm
       |  FROM embeddings
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, a.label, b.vec_id AS v2,
       |    (${dotDuck("a.embedding", "b.embedding")} / sqrt(a.nrm * b.nrm)) AS cosine
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
       |)
       |SELECT v1, CAST(rank AS INTEGER) AS rank, v2, label, cosine FROM (
       |  SELECT p.*, row_number() OVER (PARTITION BY v1
       |    ORDER BY cosine DESC, v2) AS rank
       |  FROM p
       |) WHERE rank <= 3
       |${sqlOrderBy(Seq("v1", "rank")).trim}""".stripMargin

  /** embed_mutual_knn: MUTUAL k-NN pairs — edges (v1, v2) where each
    * vector ranks in the OTHER's top-3 (reciprocal nearest neighbors).
    * The symmetric core of the k-NN graph is what density-aware dedup
    * and clustering actually trust: a hub vector appears in thousands
    * of top-k lists, but mutuality filters hub edges to genuinely
    * reciprocal affinity (the k-reciprocal re-ranking trick, Zhong et
    * al. CVPR 2017; SNN clustering, Jarvis-Patrick 1973). Composes
    * [[knnGraph]] with one self-join on the reversed edge — both
    * ranks and the exact-decimal cosine ride along.
    *
    * Scale posture: the k-NN edge list is |V|·k skinny rows,
    * localCheckpointed so the self-join's two sides share ONE build of
    * the bucketed pair machinery; the mutual join is equi-keyed on
    * (v1, v2) — hash-partitionable at any scale. */
  def mutualKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = knnGraph(spark, dir)
      .select($"v1", $"v2", $"label", $"cosine", $"rank")
      // one build feeds both sides of the self-join. r15 NOTE: lazy was
      // tried and REVERTED (1.33x quiet / 1.76x loaded): both self-join
      // scan stages race to compute the same unmaterialized blocks and
      // the waiters pin task slots — eager materializes once with full
      // parallelism before the join stages launch.
      .localCheckpoint()
    val back = g.select($"v1".as("m2"), $"v2".as("m1"),
      $"rank".as("rank_back"))
    g.join(back, $"v1" === $"m1" && $"v2" === $"m2")
      .filter($"v1" < $"v2")
      .select($"v1", $"v2", $"label", $"cosine",
        $"rank".as("rank_fwd"), $"rank_back")
      .orderBy($"v1", $"v2")
  }

  val mutualKnnSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm
       |  FROM embeddings
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, a.label, b.vec_id AS v2,
       |    (${dotDuck("a.embedding", "b.embedding")} / sqrt(a.nrm * b.nrm)) AS cosine
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
       |),
       |k AS (
       |  SELECT * FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY v1
       |      ORDER BY cosine DESC, v2) AS rank
       |    FROM p
       |  ) WHERE rank <= 3
       |)
       |SELECT f.v1, f.v2, f.label, f.cosine,
       |  CAST(f.rank AS INTEGER) AS rank_fwd,
       |  CAST(b.rank AS INTEGER) AS rank_back
       |FROM k f JOIN k b ON f.v1 = b.v2 AND f.v2 = b.v1
       |WHERE f.v1 < f.v2
       |${sqlOrderBy(Seq("f.v1", "f.v2")).trim}""".stripMargin

  /** Local Outlier Factor (Breunig et al., SIGMOD 2000) over the k-NN
    * graph — density-based embedding outlier detection for data
    * cleaning: LOF ≈ 1 means a vector sits at its neighbors' density,
    * LOF ≫ 1 flags isolated points (mis-embedded, corrupted, or
    * genuinely novel documents — review-queue candidates either way).
    * Composes [[knnGraphAutoK]]'s exact within-cell neighbors (the
    * K∝N auto-K cells whose Σ|cell|² ≈ 250·N is measured LINEAR in
    * SCALE.md — NOT the static label buckets, whose Σ|bucket|² the ×25
    * rehearsal measured superlinear): k-distance =
    * max neighbor distance (d = 1 − cosine), reachability distances
    * quantize to 1e-9 fixed point before the per-point sum (exact
    * BIGINT — summation order cannot flip the hash), local reachability
    * density lrd = cnt·10⁹/Σreach (one division), and LOF =
    * (Σ lrd_neighbor)/(cnt·lrd_self) with the neighbor-lrd sum
    * quantized at 1e-6. Short cells (< k+1 members) use their actual
    * neighbor count, not the nominal k.
    *
    * Scale posture: three joins and three aggregations over the
    * |vectors|·k edge list — all hash-partitioned on vector id; the
    * expensive part (the knn graph itself) is the auto-K cell-bounded
    * machinery whose pair count grows linearly with the corpus. */
  def lofOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The edge list feeds THREE consumers (k-distance, reachability,
    // neighbor-lrd join); without materialization each reference
    // re-executes the whole auto-K build + pair enumeration beneath it.
    // Persisting |V|·k skinny rows IS the documented 100 TB posture —
    // LOF consumes the materialized edge list, never recomputes it.
    val knn = knnGraphAutoK(spark, dir)
      .select($"v1", $"v2", (lit(1.0) - $"cosine").as("d"))
      .persist()
    val kd = knn.groupBy($"v1".as("v")).agg(max($"d").as("kdist"))
    val reach = knn.join(kd.withColumnRenamed("v", "v2"), "v2")
      .select($"v1",
        expr("CAST(floor(greatest(kdist, d) * 1e9 + 0.5) AS BIGINT)").as("rq"))
    val lrd = reach.groupBy($"v1".as("v"))
      .agg(sum($"rq").as("sq"), count(lit(1)).as("cnt"))
      .select($"v", $"cnt",
        when($"sq" > 0,
          ($"cnt" * lit(1000000000L)).cast("double") / $"sq".cast("double"))
          .as("lrd"))
    val lofq = knn.join(lrd.select($"v".as("v2"), $"lrd".as("lrd_b")), "v2")
      .groupBy($"v1")
      .agg(sum(expr("CAST(floor(lrd_b * 1e6 + 0.5) AS BIGINT)")).as("slq"))
    val out = lrd.join(kd, "v")
      .join(lofq.withColumnRenamed("v1", "v"), "v")
      .select($"v".as("vec_id"), $"kdist", $"lrd",
        (($"slq".cast("double") / 1e6) / ($"cnt".cast("double") * $"lrd"))
          .as("lof"))
      .orderBy($"vec_id")
      // the result is |V| skinny rows — eagerly localCheckpoint it so
      // the |V|·k edge list can be unpersisted HERE instead of leaking
      // one pinned copy per invocation in a long-lived session (the
      // CORRECTNESS-harness path); at cluster scale the same scope
      // discipline applies with a reliable checkpoint dir
      .localCheckpoint(true)
    knn.unpersist()
    out
  }

  lazy val lofOutliersSql: String =
    s"""WITH $autoKCtes,
       |e AS (
       |  SELECT emb.vec_id, a2.cell, emb.embedding,
       |    ${dotDuck("emb.embedding", "emb.embedding")} AS nrm
       |  FROM embeddings emb JOIN a2 ON emb.vec_id = a2.vec_id
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2,
       |    (${dotDuck("a.embedding", "b.embedding")} / sqrt(a.nrm * b.nrm)) AS cosine
       |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |),
       |knn AS (
       |  SELECT v1, v2, 1.0 - cosine AS d FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY v1
       |      ORDER BY cosine DESC, v2) AS rank
       |    FROM p
       |  ) WHERE rank <= 3
       |),
       |kd AS (SELECT v1 AS v, MAX(d) AS kdist FROM knn GROUP BY 1),
       |reach AS (
       |  SELECT knn.v1,
       |    CAST(floor(GREATEST(kd.kdist, knn.d) * 1e9 + 0.5) AS BIGINT) AS rq
       |  FROM knn JOIN kd ON kd.v = knn.v2
       |),
       |lrd AS (
       |  SELECT v1 AS v, COUNT(*) AS cnt,
       |    CASE WHEN CAST(SUM(rq) AS BIGINT) > 0
       |      THEN CAST(COUNT(*) * 1000000000 AS DOUBLE)
       |        / CAST(CAST(SUM(rq) AS BIGINT) AS DOUBLE)
       |      ELSE NULL END AS lrd
       |  FROM reach GROUP BY 1
       |),
       |lofq AS (
       |  SELECT knn.v1,
       |    CAST(SUM(CAST(floor(lb.lrd * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS slq
       |  FROM knn JOIN lrd lb ON lb.v = knn.v2 GROUP BY 1
       |)
       |SELECT l.v AS vec_id, kd.kdist, l.lrd,
       |  (CAST(slq AS DOUBLE) / 1e6) / (CAST(l.cnt AS DOUBLE) * l.lrd) AS lof
       |FROM lrd l JOIN kd ON kd.v = l.v JOIN lofq ON lofq.v1 = l.v
       |${sqlOrderBy(Seq("vec_id")).trim}""".stripMargin

  /** ANN quality eval as a first-class operator: recall@10 of the IVF
    * probe against the brute-force exact top-10 — the number an ANN
    * deployment monitors when retuning nprobe/K. Both rankings are
    * deterministic (exact fixed-point cosines, id tiebreaks), so recall
    * is a constant of the corpus and the DuckDB oracle recomputes it
    * from first principles. At 100 TB this runs on a sampled query set;
    * the join cost is |k|×|queries|. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brute = cosineTopk(spark, dir).select($"vec_id")
    val ivf = ivfTopk(spark, dir).select($"vec_id".as("v_id"))
    brute.join(ivf, $"vec_id" === $"v_id")
      .agg((count(lit(1)) / lit(10).cast("double")).as("recall_at_10"))
  }

  val ivfRecallSql: String =
    s"""SELECT COUNT(*) / CAST(10 AS DOUBLE) AS recall_at_10
       |FROM ($cosineTopkSql) b
       |JOIN ($ivfTopkSql) v ON b.vec_id = v.vec_id""".stripMargin

  /** Per-dimension embedding statistics (mean/std/min/max) — the
    * diagnostic behind whitening, dead-dimension detection, and
    * quantization range calibration (embed_quantize's scale comes from
    * exactly this profile). Moment form on fixed-point-quantized values
    * (floor(x·1e9+0.5) — full-entropy doubles must NOT go through a
    * decimal CAST, see DecimalDot/embedHistogram): exact integer sums,
    * then a fixed IEEE op sequence. One posexplode (codegen'd) and one
    * partial-agg exchange carrying 64 rows of state. */
  /** Top principal direction by TWO POWER-ITERATION steps — the
    * distributed linear-algebra primitive behind embedding whitening,
    * PCA-based dimensionality reduction, and ABTT-style dominant-
    * direction removal. No covariance matrix is materialized: each
    * iteration is the two matvecs s = Xv then v' = Xᵀs, i.e. two
    * partial-agg'd passes whose exchanged state is 64 values — the
    * Gram/covariance outer-product NEVER crosses the wire. Start vector
    * is the deterministic all-ones direction; the first iterate is
    * unit-normalized so every fixed-point term in the second stays
    * within BIGINT range. All sums quantize per-term (floor(p·10^s+0.5)
    * BIGINT) so both engines add identical integers; the only IEEE ops
    * are per-term products, two norms, and the final divisions — each
    * a single deterministic operation. Output: the 64 loadings of the
    * second (normalized) iterate plus ‖Xᵀ(X·u)‖, the Rayleigh-style
    * dominant-eigenvalue estimate of XᵀX (u unit).
    *
    * Scale posture: four linear passes over the exploded (vec, dim)
    * frame with 64-row aggregation states; iterate vectors broadcast.
    * At ~10⁹+ rows the second-pass BIGINT headroom (terms ≤ 10^14·s·x)
    * moves to DECIMAL(38,0) — shape unchanged. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = Tables(spark, dir, "embeddings")
      .select($"vec_id", posexplode($"embedding").as(Seq("dim", "xf")))
      .select($"vec_id", $"dim", $"xf".cast("double").as("x"))
    // iteration 1: v0 = 1 (all dims), s1 = X·v0 = row sums
    val s1 = x.groupBy($"vec_id")
      .agg((sum(floor($"x" * 1e9 + 0.5).cast("bigint")).cast("double") / 1e9)
        .as("s"))
    val v1 = x.join(s1, "vec_id").groupBy($"dim")
      .agg((sum(floor($"s" * $"x" * 1e9 + 0.5).cast("bigint"))
        .cast("double") / 1e9).as("v"))
    val n1 = v1.agg(sqrt(sum(floor($"v" * $"v" * 1e9 + 0.5).cast("bigint"))
      .cast("double") / 1e9).as("nrm"))
    val u = v1.crossJoin(broadcast(n1)).select($"dim", ($"v" / $"nrm").as("u"))
    // iteration 2 on the unit iterate
    val s2 = x.join(broadcast(u), "dim").groupBy($"vec_id")
      .agg((sum(floor($"x" * $"u" * 1e14 + 0.5).cast("bigint"))
        .cast("double") / 1e14).as("s2"))
    val v2 = x.join(s2, "vec_id").groupBy($"dim")
      .agg((sum(floor($"s2" * $"x" * 1e14 + 0.5).cast("bigint"))
        .cast("double") / 1e14).as("w"))
    val n2 = v2.agg(sqrt(sum(floor($"w" * $"w" * 1e9 + 0.5).cast("bigint"))
      .cast("double") / 1e9).as("lambda"))
    v2.crossJoin(broadcast(n2))
      .select($"dim", ($"w" / $"lambda").as("loading"),
        $"lambda".as("eigenvalue_est"))
      .orderBy($"dim")
  }

  val pcaPowerSql: String =
    s"""WITH xv AS (
       |  SELECT vec_id,
       |    unnest(list_transform(range(0, 64),
       |      i -> struct_pack(dim := CAST(i AS INTEGER),
       |                       x := embedding[i + 1]))) AS t
       |  FROM embeddings
       |),
       |x AS (SELECT vec_id, t.dim AS dim, CAST(t.x AS DOUBLE) AS x FROM xv),
       |s1 AS (
       |  SELECT vec_id,
       |    CAST(CAST(SUM(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS DOUBLE) / 1e9 AS s
       |  FROM x GROUP BY vec_id
       |),
       |v1 AS (
       |  SELECT dim,
       |    CAST(CAST(SUM(CAST(floor(s1.s * x.x * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS DOUBLE) / 1e9 AS v
       |  FROM x JOIN s1 ON x.vec_id = s1.vec_id GROUP BY dim
       |),
       |n1 AS (
       |  SELECT sqrt(CAST(CAST(SUM(CAST(floor(v * v * 1e9 + 0.5) AS BIGINT))
       |    AS BIGINT) AS DOUBLE) / 1e9) AS nrm FROM v1
       |),
       |u AS (SELECT dim, v / (SELECT nrm FROM n1) AS u FROM v1),
       |s2 AS (
       |  SELECT x.vec_id,
       |    CAST(CAST(SUM(CAST(floor(x.x * u.u * 1e14 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS DOUBLE) / 1e14 AS s2
       |  FROM x JOIN u ON x.dim = u.dim GROUP BY x.vec_id
       |),
       |v2 AS (
       |  SELECT dim,
       |    CAST(CAST(SUM(CAST(floor(s2.s2 * x.x * 1e14 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS DOUBLE) / 1e14 AS w
       |  FROM x JOIN s2 ON x.vec_id = s2.vec_id GROUP BY dim
       |),
       |n2 AS (
       |  SELECT sqrt(CAST(CAST(SUM(CAST(floor(w * w * 1e9 + 0.5) AS BIGINT))
       |    AS BIGINT) AS DOUBLE) / 1e9) AS lambda FROM v2
       |)
       |SELECT dim, w / (SELECT lambda FROM n2) AS loading,
       |  (SELECT lambda FROM n2) AS eigenvalue_est
       |FROM v2${sqlOrderBy(Seq("dim"))}""".stripMargin

  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "embeddings")
      .select(posexplode($"embedding").as(Seq("dim", "xf")))
      .select($"dim", $"xf".cast("double").as("x"))
      .groupBy($"dim")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(floor($"x" * 1e9 + 0.5).cast("bigint")).as("sx"),
        sum(floor($"x" * $"x" * 1e9 + 0.5).cast("bigint")).as("sxx"),
        min($"x").as("x_min"),
        max($"x").as("x_max"))
      .select($"dim",
        $"n".cast("long").as("n_values"),
        ($"sx".cast("double") / 1e9 / $"n").as("mean"),
        sqrt((($"sxx".cast("double") / 1e9) -
          ($"sx".cast("double") / 1e9) * ($"sx".cast("double") / 1e9) / $"n")
          / ($"n" - 1)).as("stddev"),
        $"x_min", $"x_max")
      .orderBy($"dim")
  }

  val dimStatsSql: String =
    s"""WITH s AS (
       |  SELECT unnest(list_transform(range(0, 64),
       |    i -> struct_pack(dim := CAST(i AS INTEGER),
       |                     x := embedding[i + 1]))) AS t
       |  FROM embeddings
       |),
       |v AS (SELECT t.dim AS dim, CAST(t.x AS DOUBLE) AS x FROM s),
       |g AS (
       |  SELECT dim, CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
       |    CAST(SUM(CAST(floor(x * x * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sxx,
       |    MIN(x) AS x_min, MAX(x) AS x_max
       |  FROM v GROUP BY 1
       |)
       |SELECT dim, CAST(n AS BIGINT) AS n_values,
       |  CAST(sx AS DOUBLE) / 1e9 / n AS mean,
       |  sqrt(((CAST(sxx AS DOUBLE) / 1e9) -
       |    (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9) / n)
       |    / (n - 1)) AS stddev,
       |  x_min, x_max
       |FROM g${sqlOrderBy(Seq("dim"))}""".stripMargin

  /** Batched ANN serving shape: exact cosine top-3 for EACH of a batch
    * of query vectors (vec_id < 5) in one plan — what an embedding
    * service actually executes per request batch, vs [[cosineTopk]]'s
    * single probe. The query batch broadcasts; scoring is a map-only
    * |batch|x|corpus| scan; per-query ranking partitions the window by
    * query id — thousands of small heaps, never a global sort.
    *
    * Scale posture: cost is linear in |batch|x|corpus| for the brute
    * form; swap the corpus side for the IVF probe ([[ivfTopk]]) and the
    * same batched plan reads nprobe/K of the data per query. */
  def batchTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val queriesB = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"nrm".as("qn"))
    val scored = emb.join(broadcast(queriesB), $"vec_id" =!= $"q_id")
      .selectExpr("q_id", "vec_id",
        s"(${dotSpark("embedding", "qv")} / sqrt(nrm * qn)) AS cosine")
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    scored.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id", $"cosine")
      .orderBy($"q_id", $"rk")
  }

  val batchTopkSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm
       |  FROM embeddings
       |),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn
       |      FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q_id, e.vec_id,
       |    (${dotDuck("e.embedding", "q.qv")} / sqrt(e.nrm * q.qn)) AS cosine
       |  FROM e JOIN q ON e.vec_id <> q.q_id
       |),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id, cosine
       |FROM r WHERE rk <= 3
       |ORDER BY q_id NULLS FIRST, rk NULLS FIRST""".stripMargin

  /** IVF index build with K SCALED TO N — the structural fix the ×25
    * rehearsal prescribes (SCALE.md: within-cell work is Σ|cell|² =
    * N²/K at fixed K, so K must grow with N to keep cells bounded;
    * here K = max(2, ⌈N/250⌉), making Σ|cell|² ≈ 250·N — linear).
    * The whole build is deterministic and oracle-checked:
    *
    *  1. seeds — one per hash bucket (vec_id-hash mod K), each bucket's
    *     minimum-hash vector: a single partial-agg'd groupBy + a
    *     rank-1 window (WindowGroupLimit — per-partition heaps), never
    *     a global sort, and data-order-independent;
    *  2. one Lloyd iteration — assign to nearest seed (decimal-exact
    *     squared distances, ties to the smallest cell id), recompute
    *     centroids as decimal-exact element means;
    *  3. final assignment histogram (cell → vector count) plus the
    *     broadcast facts (n, k) the cell-bound claim reads off.
    *
    * Scale posture: both assignment passes are |N|×K broadcast scans
    * (centroid tables are K rows — tiny by construction); the seed
    * pick and the centroid update are single partial-agg exchanges.
    * At 100 TB this plan IS the re-cluster step the knn/IVF operators
    * assume runs whenever cells outgrow their bound. */
  def ivfAutoK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val facts = emb.agg(count(lit(1)).as("n"))
      .withColumn("k", greatest(lit(2L), ceil($"n" / 250.0).cast("long")))
    autoKAssign(spark, dir)
      .groupBy($"cell").agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(facts))
      .select($"cell", $"n_vectors", $"n".as("n_total"), $"k")
      .orderBy($"cell")
  }

  /** The K∝N cell assignment [[ivfAutoK]] histograms: (vec_id, cell)
    * after seeds + one Lloyd iteration. Factored out so composites
    * ([[knnGraphAutoK]]) can bucket by the SAME deterministic cells the
    * auto-K build certifies as size-bounded. */
  def autoKAssign(spark: SparkSession, dir: String): DataFrame =
    assignToCells(spark, Tables(spark, dir, "embeddings"),
      autoKCentroids(spark, dir))

  /** Two-level (coarse-then-fine) assignment of arbitrary
    * `(vec_id, embedding)` rows to a FROZEN `(cell, centroid)` table —
    * the IVF index MAINTENANCE path: with the model held fixed, a
    * vector's cell depends on that vector alone, so the assignment is
    * partition-incremental (compose with `sources/Incremental.refresh`
    * — proven in IvfIncrementalSpec: mutate one source partition, only
    * that partition's index rows recompute).
    *
    * The flat form this replaces scanned all K centroids per vector —
    * N·K = N²/250 dots under the auto-K rule, the one superlinear stage
    * the ×100 rehearsal measured (13× on 4× data). Here a coarse
    * codebook of C = ⌈√K⌉ representative centroids (hash-bucket-minimum
    * over the cells — deterministic, a pure function of the model)
    * routes each vector to its top-3 reps (multi-probe — see the
    * inline note), then the exact argmin runs only over those reps'
    * fine children (parent map = each fine centroid's nearest rep):
    * ~4·√K dots per vector, O(N^1.5/√250) total. Standard coarse quantization (IVF-ADC family, Jégou et al.
    * 2011) — the output keeps the (vec_id, cell) contract; cell
    * boundaries differ from the flat scan only where the true nearest
    * centroid's parent loses the coarse vote, exactly the recall trade
    * every IVF probe makes, and the DuckDB oracle replays the identical
    * two-level rule so the hash gate still proves bit-equality.
    *
    * Execution shape: the model materializes ONCE (K skinny rows — its
    * lineage can be a full Lloyd pipeline and feeds four subtrees);
    * level 1 is a ZERO-SHUFFLE map pass (reps collected to a one-row
    * broadcast array, per-vector top-3 = sorted `transform(...)` slice
    * whose struct(d, id) ordering IS by-distance-then-min-id);
    * level 2 broadcast-joins the K-row children table on the probed
    * reps and reduces through the map-side-combined `min_by`, so the
    * only exchange is N skinny (vec_id, cell) rows. Decimal-exact
    * distances (‖e‖² hoisted per vector, ‖c‖² per centroid), min-id
    * tiebreaks at both levels. A rep shadowed at distance zero by a
    * lower-id twin wins no children; level 1 routes over reps that won
    * at least one child, so no vector lands in an empty cell. */
  def assignToCells(spark: SparkSession, emb: DataFrame,
      cent: DataFrame): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val model = cent.localCheckpoint(true)
    val kk = model.count()
    val cC = math.max(2L, math.ceil(math.sqrt(kk.toDouble)).toLong)
    // DEGENERATE REGIME short-circuit: with C ≤ P(=3) coarse reps the
    // multi-probe union is every rep's children = every cell, so the
    // final argmin below IS the flat global argmin — identical output
    // (and identical to the oracle twin, which degenerates the same
    // way). Skip the routing stages and pay the flat N·K pass, which
    // at K ≤ 9 is the cheaper plan by several stage latencies.
    val e2 = emb.select($"vec_id", $"embedding",
      expr(dotSpark("embedding", "embedding")).as("ee"))
    val c2 = model.select($"cell", $"centroid",
      expr(dotSpark("centroid", "centroid")).as("cc"))
    if (cC <= 3) {
      return e2.crossJoin(broadcast(c2))
        .selectExpr("vec_id", "cell",
          s"(ee - 2 * ${dotSpark("embedding", "centroid")} + cc) AS d")
        .groupBy($"vec_id")
        .agg(expr("min_by(cell, struct(d, cell))").as("cell"))
    }
    val facts = spark.range(1).select(lit(cC).as("c"))
    val reps0 = model.crossJoin(broadcast(facts))
      .withColumn("h", expr(
        "cast(conv(substr(md5(cast(cast(cell AS STRING) as binary)), 1, 8), 16, 10) as bigint)"))
      .withColumn("bucket", $"h" % $"c")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"bucket").orderBy($"h", $"cell")))
      .filter($"rn" === 1)
      .select($"cell".as("coarse"), $"centroid".as("ccent"),
        expr(dotSpark("centroid", "centroid")).as("rr"))
    // parent map: each fine centroid to its nearest rep (K×C, tiny)
    val parent = c2.crossJoin(broadcast(reps0))
      .selectExpr("cell", "coarse",
        s"(cc - 2 * ${dotSpark("centroid", "ccent")} + rr) AS d")
      .groupBy($"cell")
      .agg(expr("min_by(coarse, struct(d, coarse))").as("coarse"))
    val repsRow = reps0.join(parent.select($"coarse").distinct(), "coarse")
      .agg(collect_list(struct($"coarse", $"ccent", $"rr")).as("reps"))
    // MULTI-PROBE routing (P=3): the true nearest fine centroid's
    // parent can lose the single coarse vote — on the ×100 adversarial
    // duplicate corpus that concentrated Σ|cell|² 6× over the linear
    // target — so each vector considers the children of its top-3 reps
    // (IVF's nprobe answer to quantizer approximation). A fine cell has
    // exactly one parent, so the candidate union is duplicate-free and
    // the exact argmin below stays well-defined.
    val coarseA = e2.crossJoin(broadcast(repsRow))
      .selectExpr("vec_id", "embedding", "ee",
        s"""slice(array_sort(transform(reps, r -> struct(
           |  ee - 2 * ${dotSpark("embedding", "r.ccent")} + r.rr AS d,
           |  r.coarse AS id))), 1, 3) AS probes""".stripMargin)
      .select($"vec_id", $"embedding", $"ee",
        explode(expr("transform(probes, p -> p.id)")).as("coarse"))
    val children = c2.join(parent, "cell")
    coarseA.join(broadcast(children), "coarse")
      .selectExpr("vec_id", "cell",
        s"(ee - 2 * ${dotSpark("embedding", "centroid")} + cc) AS d")
      .groupBy($"vec_id")
      .agg(expr("min_by(cell, struct(d, cell))").as("cell"))
  }

  /** The frozen auto-K centroid MODEL `(cell, centroid)`: hash-bucket-
    * minimum seeds (K = ⌈N/250⌉) plus one decimal-exact Lloyd update.
    * Built once per (re-)clustering; [[assignToCells]] assigns against
    * it without recomputing it — the split that makes the materialized
    * IVF index incrementally maintainable. */
  def autoKCentroids(spark: SparkSession, dir: String): DataFrame =
    autoKCentroids(spark, Tables(spark, dir, "embeddings"))

  /** [[autoKCentroids]] over the `(vec_id, embedding)` rows of `emb`. */
  def autoKCentroids(spark: SparkSession, emb: DataFrame): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val facts = emb.agg(count(lit(1)).as("n"))
      .withColumn("k", greatest(lit(2L), ceil($"n" / 250.0).cast("long")))
    val hashed = emb.crossJoin(broadcast(facts))
      .withColumn("h", expr(
        "cast(conv(substr(md5(cast(cast(vec_id AS STRING) as binary)), 1, 8), 16, 10) as bigint)"))
      .withColumn("bucket", $"h" % $"k")
    val seeds = hashed
      .withColumn("rn", row_number().over(
        Window.partitionBy($"bucket").orderBy($"h", $"vec_id")))
      .filter($"rn" === 1)
      .select($"vec_id".as("cell"), $"embedding".as("centroid"))
    assignToCells(spark, emb, seeds)
      .join(emb, "vec_id")
      .select($"cell", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"cell", $"pos")
      .agg(((sum(floor($"x".cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("c"))
      .groupBy($"cell")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))
  }

  /** CTE prelude shared by [[ivfAutoKSql]] and [[knnGraphAutoKSql]]:
    * everything through the final assignment `a2 (vec_id, cell)`. */
  private val autoKCtes: String = {
    def dd(x: String, y: String) = dotDuck(x, y)
    // DuckDB replay of the two-level [[assignToCells]]: coarse reps =
    // hash-bucket-minimum over the cells (C = ⌈√K⌉), parent map = each
    // fine centroid's nearest rep, vectors route nearest-ACTIVE-rep
    // then exact argmin over that rep's children; row_number ORDER BY
    // (d, id) = Spark's min_by struct(d, id) tiebreak on bit-identical
    // decimal-dot distances.
    def assignCte(name: String, cent: String): String =
      s"""${name}_kk AS (
         |  SELECT greatest(2, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS c
         |  FROM $cent
         |),
         |${name}_reps AS (
         |  SELECT cell AS coarse, centroid AS ccent FROM (
         |    SELECT cell, centroid,
         |      row_number() OVER (PARTITION BY h % (SELECT c FROM ${name}_kk)
         |        ORDER BY h, cell) AS rn
         |    FROM (SELECT cell, centroid,
         |            CAST('0x' || substr(md5(CAST(cell AS VARCHAR)), 1, 8) AS BIGINT) AS h
         |          FROM $cent)
         |  ) WHERE rn = 1
         |),
         |${name}_pd AS (
         |  SELECT f.cell, r.coarse,
         |    (${dd("f.centroid", "f.centroid")}
         |     - 2 * ${dd("f.centroid", "r.ccent")}
         |     + ${dd("r.ccent", "r.ccent")}) AS d
         |  FROM $cent f, ${name}_reps r
         |),
         |${name}_pm AS (
         |  SELECT cell, coarse FROM (
         |    SELECT cell, coarse,
         |      row_number() OVER (PARTITION BY cell ORDER BY d, coarse) AS rn
         |    FROM ${name}_pd) WHERE rn = 1
         |),
         |${name}_cd AS (
         |  SELECT e.vec_id, r.coarse,
         |    (${dd("e.embedding", "e.embedding")}
         |     - 2 * ${dd("e.embedding", "r.ccent")}
         |     + ${dd("r.ccent", "r.ccent")}) AS d
         |  FROM embeddings e, ${name}_reps r
         |  WHERE r.coarse IN (SELECT DISTINCT coarse FROM ${name}_pm)
         |),
         |${name}_ca AS (
         |  SELECT vec_id, coarse FROM (
         |    SELECT vec_id, coarse,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, coarse) AS rn
         |    FROM ${name}_cd) WHERE rn <= 3
         |),
         |${name}_fd AS (
         |  SELECT ca.vec_id, f.cell,
         |    (${dd("e.embedding", "e.embedding")}
         |     - 2 * ${dd("e.embedding", "f.centroid")}
         |     + ${dd("f.centroid", "f.centroid")}) AS d
         |  FROM ${name}_ca ca
         |  JOIN embeddings e ON e.vec_id = ca.vec_id
         |  JOIN ${name}_pm pm ON pm.coarse = ca.coarse
         |  JOIN $cent f ON f.cell = pm.cell
         |),
         |$name AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |    FROM ${name}_fd) WHERE rn = 1
         |)""".stripMargin
    s"""facts AS (
       |  SELECT COUNT(*) AS n,
       |    greatest(2, CAST(ceil(COUNT(*) / 250.0) AS BIGINT)) AS k
       |  FROM embeddings
       |),
       |hashed AS (
       |  SELECT vec_id, embedding,
       |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS h,
       |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
       |      % (SELECT k FROM facts) AS bucket
       |  FROM embeddings
       |),
       |seeds AS (
       |  SELECT vec_id AS cell, embedding AS centroid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bucket
       |      ORDER BY h, vec_id) AS rn
       |    FROM hashed) WHERE rn = 1
       |),
       |${assignCte("a1", "seeds")},
       |cent1_0 AS (
       |  SELECT a1.cell, i,
       |    CAST(CAST(SUM(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1e12 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 / COUNT(*) AS c
       |  FROM a1 JOIN embeddings e ON e.vec_id = a1.vec_id, range(1, 65) t(i)
       |  GROUP BY a1.cell, i
       |),
       |cent1 AS (SELECT cell, list(c ORDER BY i) AS centroid
       |          FROM cent1_0 GROUP BY cell),
       |${assignCte("a2", "cent1")}""".stripMargin
  }

  val ivfAutoKSql: String =
    s"""WITH $autoKCtes
       |SELECT a2.cell, COUNT(*) AS n_vectors,
       |  (SELECT n FROM facts) AS n_total, (SELECT k FROM facts) AS k
       |FROM a2 GROUP BY a2.cell
       |${sqlOrderBy(Seq("cell")).trim}""".stripMargin

  /** embed_ivfpq_topk: IVF-PQ composed search — the storage layout a
    * 100 TB ANN tier actually serves from (Jégou, Douze & Schmid, PAMI
    * 2011): the inverted file restricts the scan to nprobe=2 cells
    * ([[ivfTopk]]'s probe), the stored M=4×16-dim PQ codes
    * ([[pqCode]]) rank those candidates by ASYMMETRIC DISTANCE — a
    * per-query lookup table of query-slice ↔ sub-codebook L2² terms,
    * so each candidate costs M table hits instead of a 64-dim dot —
    * and the ADC top-100 shortlist (10× the final k, the standard re-rank
    * budget) is re-ranked by the exact decimal
    * cosine, which makes the output hashable cross-engine. ADC terms
    * quantize to 1e-9 fixed point BEFORE the per-candidate sum (exact
    * BIGINT — summation order cannot flip the shortlist; ties break on
    * vec_id).
    *
    * Scale posture: the LUT is M×|codebook| rows built from one
    * broadcast query; candidate cost is |probed cells|·M integer adds
    * (codes and cells are stored artifacts at production — the inline
    * recompute here is the self-contained oracle form, same amortization
    * story as [[ivfTopkIndexed]]); the shortlist cut is a distributed
    * TakeOrdered, and only 100 vectors ever reach the exact re-rank.
    * Measured at sf0.1: recall@10 = 0.1 vs the 0.2 nprobe=2 probe
    * ceiling ([[ivfRecall]]) — the synthetic labels are uncorrelated
    * with cosine geometry, so the probe tier, not PQ, binds; the
    * separable rows are the point. */
  def ivfpqTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val cent = centroids(emb)
    val top2 = cent.crossJoin(broadcast(q))
      .selectExpr("label", s"${cosSpark("centroid", "qv")} AS ccos")
      .orderBy($"ccos".desc, $"label")
      .limit(2)
      .select($"label".as("probe_label"))
    val lut = cent.withColumnRenamed("label", "cand")
      .crossJoin(broadcast(q))
      .select($"cand", $"centroid", $"qv",
        explode(expr("array(0,1,2,3)")).as("subspace"))
      .selectExpr("cand", "subspace",
        "slice(qv, 1 + 16*subspace, 16) AS qs",
        "slice(centroid, 1 + 16*subspace, 16) AS cs")
      .selectExpr("cand", "subspace",
        s"CAST(floor(${dotSpark("qs", "cs")} * 1e9 + 0.5) AS BIGINT) AS dq_dot",
        s"CAST(floor(${dotSpark("cs", "cs")} * 1e9 + 0.5) AS BIGINT) AS dq_cc")
    val codes = pqCode(spark, dir)
      .select($"vec_id", $"subspace", $"code_label".as("cand"))
    // cosine-metric ADC: approx cos ∝ Σ_sub q_sub·c_sub over the
    // reconstructed norm √(Σ_sub ‖c_sub‖²) — ‖q‖ is constant across
    // candidates and drops out of the ranking
    val adc = emb.join(broadcast(top2), $"label" === $"probe_label")
      .select($"vec_id")
      .join(codes, "vec_id")
      .join(broadcast(lut), Seq("subspace", "cand"))
      .groupBy($"vec_id")
      .agg(sum($"dq_dot").as("sdot"), sum($"dq_cc").as("scc"))
      .selectExpr("vec_id",
        """CASE WHEN scc <= 0 THEN CAST(-2.0 AS DOUBLE)
          | ELSE (CAST(sdot AS DOUBLE) / 1e9)
          |   / sqrt(CAST(scc AS DOUBLE) / 1e9) END AS adc_cos"""
          .stripMargin.replace("\n", ""))
    val shortlist = adc.orderBy($"adc_cos".desc, $"vec_id").limit(100)
      .select($"vec_id")
    shortlist.join(emb, "vec_id").crossJoin(broadcast(q))
      .selectExpr("vec_id", "label",
        s"${cosSpark("embedding", "qv")} AS cosine")
      .withColumn("rank", row_number().over(
        Window.orderBy($"cosine".desc, $"vec_id")).cast("int"))
      .filter($"rank" <= 10)
      .select($"rank", $"vec_id", $"label", $"cosine")
      .orderBy($"rank")
  }

  val ivfpqTopkSql: String = {
    def sl(x: String) = s"$x[(1+16*s.sub):(16+16*s.sub)]"
    s"""WITH $centroidsSqlCtes,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |top2 AS (
       |  SELECT cvec.label FROM cvec, q
       |  ORDER BY ${cosDuck("cvec.centroid", "q.qv")} DESC NULLS LAST, label
       |  LIMIT 2
       |),
       |pairs AS (
       |  SELECT e.vec_id, s.sub, cvec.label AS cand,
       |    ${sl("e.embedding")} AS xs, ${sl("cvec.centroid")} AS cs
       |  FROM embeddings e, (SELECT unnest(range(4)) AS sub) s, cvec
       |),
       |scored AS (
       |  SELECT vec_id, sub, cand,
       |    (${dotDuck16("xs", "xs")} - 2 * ${dotDuck16("xs", "cs")}
       |     + ${dotDuck16("cs", "cs")}) AS d2
       |  FROM pairs
       |),
       |codes AS (
       |  SELECT vec_id, sub, cand FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) = 1
       |),
       |lutp AS (
       |  SELECT cvec.label AS cand, s.sub,
       |    ${sl("q.qv")} AS qs, ${sl("cvec.centroid")} AS cs
       |  FROM cvec, (SELECT unnest(range(4)) AS sub) s, q
       |),
       |lut AS (
       |  SELECT cand, sub,
       |    CAST(floor(${dotDuck16("qs", "cs")} * 1e9 + 0.5) AS BIGINT) AS dq_dot,
       |    CAST(floor(${dotDuck16("cs", "cs")} * 1e9 + 0.5) AS BIGINT) AS dq_cc
       |  FROM lutp
       |),
       |adc AS (
       |  SELECT c.vec_id,
       |    CAST(SUM(l.dq_dot) AS BIGINT) AS sdot,
       |    CAST(SUM(l.dq_cc) AS BIGINT) AS scc
       |  FROM embeddings e JOIN top2 t ON e.label = t.label
       |  JOIN codes c ON c.vec_id = e.vec_id
       |  JOIN lut l ON l.sub = c.sub AND l.cand = c.cand
       |  GROUP BY c.vec_id
       |),
       |adcc AS (
       |  SELECT vec_id,
       |    CASE WHEN scc <= 0 THEN CAST(-2.0 AS DOUBLE)
       |      ELSE (CAST(sdot AS DOUBLE) / 1e9)
       |        / sqrt(CAST(scc AS DOUBLE) / 1e9) END AS adc_cos
       |  FROM adc
       |),
       |short AS (SELECT vec_id FROM adcc
       |          ORDER BY adc_cos DESC NULLS LAST, vec_id LIMIT 100)
       |SELECT CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER)
       |    AS rank, vec_id, label, cosine
       |FROM (
       |  SELECT e.vec_id, e.label, ${cosDuck("e.embedding", "q.qv")} AS cosine
       |  FROM short JOIN embeddings e ON e.vec_id = short.vec_id, q
       |)
       |QUALIFY rank <= 10
       |ORDER BY rank""".stripMargin
  }

  /** embed_ivfpq_recall: recall@10 of the IVF-PQ pipeline against the
    * exact brute-force cosine top-10 ([[cosineTopk]]) — the number an
    * ANN deployment trades storage (M·8 bits/vector) and scan fraction
    * (nprobe/K) against. Sits beside [[ivfRecall]] so the
    * PQ-compression loss is separable from the cell-probe loss. */
  def ivfpqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brute = cosineTopk(spark, dir).select($"vec_id")
    val pq = ivfpqTopk(spark, dir).select($"vec_id".as("v_id"))
    brute.join(pq, $"vec_id" === $"v_id")
      .agg((count(lit(1)) / lit(10).cast("double")).as("recall_at_10"))
  }

  val ivfpqRecallSql: String =
    s"""SELECT COUNT(*) / CAST(10 AS DOUBLE) AS recall_at_10
       |FROM ($cosineTopkSql) b
       |JOIN ($ivfpqTopkSql) v ON b.vec_id = v.vec_id""".stripMargin

  /** Bump when the assignment SEMANTICS or the cache layout change (the
    * round-9 flat → two-level switch = v2, single→multi-probe routing =
    * v3, the model served as an Incremental table beside the index = v4):
    * [[ivfTopkIndexed]]'s on-disk cache root is keyed by this, so an
    * algorithm change invalidates stale indexes instead of serving
    * answers the current oracle can no longer reproduce. */
  private[graft] val IvfIndexVersion = 4

  /** embed_ivf_topk_indexed: batch ANN top-3 served FROM the
    * partition-incrementally materialized IVF index — the registered,
    * benched form of the production claim that the inline model build
    * ([[ivfAutoK]]'s from-scratch cost) is never paid per query. The
    * frozen model and the (vec_id, cell) index are two
    * `sources/Incremental` tables under one (algo-version, lake) root:
    * the model one partition over the embeddings scan, the index
    * label-partitioned over the same scan, its kernel fingerprint
    * combined with the model's committed partition fingerprint
    * (`Incremental.dependentKernel`), so a code or corpus change rebuilds
    * the model and then the whole index. Every later
    * invocation passes both file-metadata gates (a driver-side stat
    * pass, no data read) and pays only the probe: nearest-cell
    * assignment of the 5 query vectors against the broadcast model, one
    * equi-join on `cell` into the index, exact decimal cosine, per-query
    * top-3. Index == batch rebuild is proven in IvfIncrementalSpec; the
    * DuckDB oracle runs the self-contained two-level assignment, so
    * hash-equality here certifies the SERVED answers, not just the
    * inline form.
    *
    * At 100 TB: the probe plan touches only the queried cells (the
    * index is cell-partitioned), the model is K ≈ N/250 broadcastable
    * centroids, and a repeat probe over an unchanged corpus reads no
    * corpus data — the `SCALE.md` amortization story, now a bench row
    * instead of prose. */
  def ivfTopkIndexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val root = graft.Workspace.cache("ivf", IvfIndexVersion, dir)
    val model = graft.sources.Incremental.serve(spark,
      emb.withColumn("model", lit("autok")), "model",
      src => autoKCentroids(spark, src).withColumn("model", lit("autok")),
      s"$root/model")
      .select($"cell", $"centroid")
    val modelFp = graft.sources.Incremental.currentEntries(s"$root/model").head.fp
    def derive(src: DataFrame): DataFrame =
      assignToCells(spark, src, model)
        .join(src.select($"vec_id", $"label"), "vec_id")
    val members = graft.sources.Incremental.serve(spark, emb, "label",
      derive, s"$root/index",
      kernelFp = Some(graft.sources.Incremental.dependentKernel(
        graft.sources.Incremental.deriveFingerprint(derive _), modelFp)))
      .select($"vec_id", $"cell")
      .join(emb.select($"vec_id", $"embedding"), "vec_id")
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    graft.streaming.AnnServeStream.probeBatch(spark, queries, model, members, 3)
      .orderBy($"q_id", $"rank")
  }

  val ivfTopkIndexedSql: String = {
    def dd(x: String, y: String) = dotDuck(x, y)
    s"""WITH $autoKCtes,
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id < 5),
       |qc AS (SELECT q.q_id, q.q_emb, a2.cell
       |       FROM q JOIN a2 ON a2.vec_id = q.q_id),
       |cand AS (
       |  SELECT qc.q_id, e.vec_id,
       |    (${dd("qc.q_emb", "e.embedding")} /
       |      sqrt(${dd("qc.q_emb", "qc.q_emb")} *
       |           ${dd("e.embedding", "e.embedding")})) AS cosine
       |  FROM qc JOIN a2 m ON m.cell = qc.cell
       |  JOIN embeddings e ON e.vec_id = m.vec_id
       |  WHERE m.vec_id <> qc.q_id
       |)
       |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM cand) WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin
  }

  /** k-NN graph bucketed by the AUTO-K IVF CELLS — the composition the
    * scale story ends on: [[knnGraph]] buckets by the static `label`
    * (Σ|bucket|² grows quadratically at fixed bucket count — the ×25
    * rehearsal's one superlinear stage), while this variant buckets by
    * [[autoKAssign]]'s K∝N cells, whose Σ|cell|² ≈ 250·N is measured
    * LINEAR (SCALE.md). Same two-phase skinny ranking as [[knnGraph]]:
    * phase 1 ranks (v1, v2, double-cosine) rows only — vectors dropped
    * before the in-partition sort — keeping ≤8 per vector plus the
    * 1e-9 band around the 3rd-ranked cosine (|double − exact| ≲ 1e-12
    * relative, so every pair the exact cut could admit survives);
    * phase 2 re-joins embeddings for survivors and rescores with the
    * decimal-exact dot, so output is bit-identical to a single-phase
    * exact form. At 100 TB the assignment is the materialized IVF index
    * (maintained partition-incrementally, see `sources/Incremental`),
    * not recomputed per query as in this self-contained oracle form. */
  def knnGraphAutoK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    graft.functions.DoubleDot.register(spark)
    val raw = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val emb = raw.join(autoKAssign(spark, dir), "vec_id")
    val a = emb.select($"vec_id".as("v1"), $"cell", $"embedding".as("e1"),
      $"nrm".as("n1"))
    val b = emb.select($"vec_id".as("v2"), $"cell".as("cell_b"),
      $"embedding".as("e2"), $"nrm".as("n2"))
    val byV1 = Window.partitionBy($"cell", $"v1")
    val pairsD = a.join(b, $"cell" === $"cell_b" && $"v1" =!= $"v2")
      .selectExpr("v1", "cell", "v2",
        "(double_dot(e1, e2) / sqrt(n1 * n2)) AS cos_d")
      .withColumn("rd", row_number().over(byV1.orderBy($"cos_d".desc, $"v2")))
      .withColumn("third", max(when($"rd" === 3, $"cos_d")).over(byV1))
      .filter($"rd" <= 8 || $"third".isNull ||
        $"cos_d" >= $"third" - lit(1e-9))
      .select($"v1", $"cell", $"v2")
    pairsD
      .join(raw.select($"vec_id", $"embedding".as("e1"), $"nrm".as("n1")),
        $"v1" === $"vec_id").drop("vec_id")
      .join(raw.select($"vec_id", $"embedding".as("e2"), $"nrm".as("n2")),
        $"v2" === $"vec_id").drop("vec_id")
      .selectExpr("v1", "cell", "v2",
        s"(${dotSpark("e1", "e2")} / sqrt(n1 * n2)) AS cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"v1").orderBy($"cosine".desc, $"v2")))
      .filter($"rank" <= 3)
      .select($"v1", $"rank", $"v2", $"cell", $"cosine")
      .orderBy($"v1", $"rank")
  }

  val knnGraphAutoKSql: String =
    s"""WITH $autoKCtes,
       |e AS (
       |  SELECT emb.vec_id, a2.cell, emb.embedding,
       |    ${dotDuck("emb.embedding", "emb.embedding")} AS nrm
       |  FROM embeddings emb JOIN a2 ON emb.vec_id = a2.vec_id
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, a.cell, b.vec_id AS v2,
       |    (${dotDuck("a.embedding", "b.embedding")} / sqrt(a.nrm * b.nrm)) AS cosine
       |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |)
       |SELECT v1, CAST(rank AS INTEGER) AS rank, v2, cell, cosine FROM (
       |  SELECT p.*, row_number() OVER (PARTITION BY v1
       |    ORDER BY cosine DESC, v2) AS rank
       |  FROM p
       |) WHERE rank <= 3
       |${sqlOrderBy(Seq("v1", "rank")).trim}""".stripMargin

  /** embed_mutual_knn_autok: [[mutualKnn]]'s reciprocal-edge semantics
    * over [[knnGraphAutoK]]'s K∝N cell-bucketed graph — the SCALE PATH
    * of the mutual-kNN tier (the label-bucketed [[mutualKnn]] twin
    * inherits its chassis' superlinear Σ|bucket|², measured 245.7 s at
    * ×25; this one rides the Σ|cell|² ≈ 250·N budget measured LINEAR
    * in SCALE.md). Same one-build localCheckpoint + reversed-edge
    * equi-join. */
  def mutualKnnAutoK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = knnGraphAutoK(spark, dir)
      .select($"v1", $"v2", $"cell", $"cosine", $"rank")
      // one build feeds both sides of the self-join. r15 NOTE: lazy was
      // tried and REVERTED (see mutualKnn — self-join block races).
      .localCheckpoint()
    val back = g.select($"v1".as("m2"), $"v2".as("m1"),
      $"rank".as("rank_back"))
    g.join(back, $"v1" === $"m1" && $"v2" === $"m2")
      .filter($"v1" < $"v2")
      .select($"v1", $"v2", $"cell", $"cosine",
        $"rank".as("rank_fwd"), $"rank_back")
      .orderBy($"v1", $"v2")
  }

  val mutualKnnAutoKSql: String =
    s"""WITH $autoKCtes,
       |e AS (
       |  SELECT emb.vec_id, a2.cell, emb.embedding,
       |    ${dotDuck("emb.embedding", "emb.embedding")} AS nrm
       |  FROM embeddings emb JOIN a2 ON emb.vec_id = a2.vec_id
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, a.cell, b.vec_id AS v2,
       |    (${dotDuck("a.embedding", "b.embedding")} / sqrt(a.nrm * b.nrm)) AS cosine
       |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |),
       |k AS (
       |  SELECT * FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY v1
       |      ORDER BY cosine DESC, v2) AS rank
       |    FROM p
       |  ) WHERE rank <= 3
       |)
       |SELECT f.v1, f.v2, f.cell, f.cosine,
       |  CAST(f.rank AS INTEGER) AS rank_fwd,
       |  CAST(b.rank AS INTEGER) AS rank_back
       |FROM k f JOIN k b ON f.v1 = b.v2 AND f.v2 = b.v1
       |WHERE f.v1 < f.v2
       |${sqlOrderBy(Seq("f.v1", "f.v2")).trim}""".stripMargin

  /** embed_intrinsic_dim: Facco two-NN intrinsic-dimension estimator
    * (Facco, d'Errico, Rodriguez, Laio 2017) — the embedding-health
    * diagnostic beside `embed_dim_stats`/`embed_pca_power`: how many
    * effective degrees of freedom the embedding cloud actually uses
    * (an ID far below the ambient 64 means the model collapsed;
    * near-ambient means the space is saturated). Per point, the ratio
    * μ = d₂/d₁ of its two nearest-neighbor distances follows
    * F(μ) = 1 − μ^(−d) under local uniformity, so d is both the
    * through-origin slope of (ln μ, −ln(1−F̂)) on the empirical CDF
    * and the MLE n/Σ ln μ — this query reports BOTH.
    *
    * Neighbors are mined WITHIN the auto-K IVF cells (the
    * [[knnGraphAutoK]] posture — a 1-NN/2-NN is by definition nearby,
    * so cell-local search is the right recall/cost point, and the
    * oracle replays the identical cell rule). Engine-portable
    * exactness: squared distances quantize to the shared 1e-14 grid
    * (d_int = floor(dsq·1e14 + 0.5) — the same IEEE assembly both
    * sides, so ranks agree bit-for-bit; exact-duplicate points,
    * d₁ ≤ 0 on the grid, are discarded per Facco §Methods, as are
    * points with <2 cell neighbors); ln μ = ln2·(qlog2 d₂ − qlog2 d₁)
    * /2048 rides the integer qlog2 fixed point (the `text_zipf_fit`
    * discipline), the CDF position of point r of n contributes
    * y_q = qlog2(n) − qlog2(n−r) (r = n dropped — its −ln(1−F) is
    * infinite), and both Σx_q·y_q and Σx_q² are exact BIGINTs; the
    * 1024-grid and ln2 factors cancel so id_cdf = 2·Σxy/Σxx and
    * id_mle = 2048·n/(ln2·Σx_q) are terminal IEEE assemblies of
    * exactly-agreed integers.
    *
    * Scale posture: phase 1 pre-ranks skinny double-cosine rows per
    * cell (vectors dropped before the sort; the 1e-9 slop band keeps
    * every pair the exact top-2 could admit), phase 2 rescores only
    * survivors with the decimal dot — Σ|cell|² ≈ 250·N measured-linear
    * pair budget. The global CDF rank is TWO-LEVEL: a per-x_q
    * partitioned row_number plus a cumulative count over the DISTINCT
    * x_q frame, which is bounded by the qlog2 range (≤ ~50k values
    * independent of N) — no N-row global sort window anywhere. */
  def intrinsicDim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    graft.functions.DoubleDot.register(spark)
    val raw = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val emb = raw.join(autoKAssign(spark, dir), "vec_id")
    val a = emb.select($"vec_id".as("v1"), $"cell", $"embedding".as("e1"),
      $"nrm".as("n1"))
    val b = emb.select($"vec_id".as("v2"), $"cell".as("cell_b"),
      $"embedding".as("e2"), $"nrm".as("n2"))
    val byV1 = Window.partitionBy($"cell", $"v1")
    val pairsD = a.join(b, $"cell" === $"cell_b" && $"v1" =!= $"v2")
      .selectExpr("v1", "cell", "v2",
        "(n1 - 2 * double_dot(e1, e2) + n2) AS dsq_d")
      .withColumn("rd", row_number().over(byV1.orderBy($"dsq_d", $"v2")))
      .withColumn("second", max(when($"rd" === 2, $"dsq_d")).over(byV1))
      .filter($"rd" <= 8 || $"second".isNull ||
        $"dsq_d" <= $"second" + lit(1e-9))
      .select($"v1", $"v2")
    val exact = pairsD
      .join(raw.select($"vec_id", $"embedding".as("e1"), $"nrm".as("n1")),
        $"v1" === $"vec_id").drop("vec_id")
      .join(raw.select($"vec_id", $"embedding".as("e2"), $"nrm".as("n2")),
        $"v2" === $"vec_id").drop("vec_id")
      .selectExpr("v1", "v2",
        s"CAST(floor((n1 - 2 * ${dotSpark("e1", "e2")} + n2) * 1e14 + 0.5)" +
          " AS BIGINT) AS d_int")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"v1").orderBy($"d_int", $"v2")))
      .filter($"rk" <= 2)
    val dd = exact.groupBy($"v1")
      .agg(max(when($"rk" === 1, $"d_int")).as("d1"),
        max(when($"rk" === 2, $"d_int")).as("d2"))
      .filter($"d1" > 0 && $"d2".isNotNull)
      .selectExpr("v1",
        s"CAST(${Curate.qlog2Spark("d2")} - ${Curate.qlog2Spark("d1")}" +
          " AS BIGINT) AS xq")
      // skinny (v1, xq); feeds rank + both sums. r15: lazy — the
      // nn/sum broadcast build materializes it (guide §5).
      .localCheckpoint(false)
    val nRow = dd.agg(count(lit(1)).as("nn"), sum($"xq").as("sum_xq"))
    val grp = dd.groupBy($"xq").agg(count(lit(1)).as("c"))
    val cum = grp.withColumn("cum", sum($"c").over(
      Window.orderBy($"xq") // bounded: ≤ qlog2-range distinct values
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ranked = dd.withColumn("lr",
        row_number().over(Window.partitionBy($"xq").orderBy($"v1")))
      .join(cum, "xq")
      .withColumn("r", $"cum" - $"c" + $"lr")
    val sums = ranked.crossJoin(broadcast(nRow))
      .filter($"r" < $"nn")
      .selectExpr("xq",
        s"CAST(${Curate.qlog2Spark("nn")} - ${Curate.qlog2Spark("(nn - r)")}" +
          " AS BIGINT) AS yq")
      .agg(sum(expr("xq * yq")).as("sxy"), sum(expr("xq * xq")).as("sxx"))
    nRow.crossJoin(sums)
      .selectExpr("nn AS n_points", "sum_xq", "sxx", "sxy",
        "CASE WHEN sxx > 0 THEN (CAST(2 AS DOUBLE) * CAST(sxy AS DOUBLE))" +
          " / CAST(sxx AS DOUBLE) END AS id_cdf",
        "CASE WHEN sum_xq > 0 THEN (CAST(2048 AS DOUBLE) * CAST(nn AS DOUBLE))" +
          " / (CAST(0.6931471805599453 AS DOUBLE) * CAST(sum_xq AS DOUBLE))" +
          " END AS id_mle")
  }

  val intrinsicDimSql: String = {
    def q(c: String) = graft.llm.Curate.qlog2Duck(c)
    s"""WITH $autoKCtes,
       |ide AS (
       |  SELECT emb.vec_id, a2.cell, emb.embedding,
       |    ${dotDuck("emb.embedding", "emb.embedding")} AS nrm
       |  FROM embeddings emb JOIN a2 ON emb.vec_id = a2.vec_id
       |),
       |idp AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2,
       |    CAST(floor((a.nrm - 2 * ${dotDuck("a.embedding", "b.embedding")}
       |      + b.nrm) * 1e14 + 0.5) AS BIGINT) AS d_int
       |  FROM ide a JOIN ide b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |),
       |idr AS (
       |  SELECT * FROM (
       |    SELECT v1, d_int, row_number() OVER (PARTITION BY v1
       |      ORDER BY d_int, v2) AS rk
       |    FROM idp
       |  ) WHERE rk <= 2
       |),
       |idd AS (
       |  SELECT v1, CAST(${q("d2")} - ${q("d1")} AS BIGINT) AS xq FROM (
       |    SELECT v1,
       |      MAX(CASE WHEN rk = 1 THEN d_int END) AS d1,
       |      MAX(CASE WHEN rk = 2 THEN d_int END) AS d2
       |    FROM idr GROUP BY v1
       |  ) WHERE d1 > 0 AND d2 IS NOT NULL
       |),
       |idn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
       |               CAST(SUM(xq) AS BIGINT) AS sum_xq FROM idd),
       |idrank AS (
       |  SELECT xq, row_number() OVER (ORDER BY xq, v1) AS r FROM idd
       |),
       |idsums AS (
       |  SELECT CAST(SUM(xq * yq) AS BIGINT) AS sxy,
       |    CAST(SUM(xq * xq) AS BIGINT) AS sxx
       |  FROM (
       |    SELECT xq, CAST(${q("nn")} - ${q("(nn - r)")} AS BIGINT) AS yq
       |    FROM idrank CROSS JOIN idn WHERE r < nn
       |  )
       |)
       |SELECT nn AS n_points, sum_xq, sxx, sxy,
       |  CASE WHEN sxx > 0 THEN (CAST(2 AS DOUBLE) * CAST(sxy AS DOUBLE))
       |    / CAST(sxx AS DOUBLE) END AS id_cdf,
       |  CASE WHEN sum_xq > 0 THEN (CAST(2048 AS DOUBLE) * CAST(nn AS DOUBLE))
       |    / (CAST(0.6931471805599453 AS DOUBLE) * CAST(sum_xq AS DOUBLE))
       |    END AS id_mle
       |FROM idn CROSS JOIN idsums""".stripMargin
  }

  /** embed_ann_mrr: reciprocal-rank audit of the IVF index — WHERE in
    * the approximate ranking the true nearest neighbor lands, per
    * probe query: `embed_ivf_recall` answers "is the true NN in the
    * candidate set at all", this answers "and at what rank", the
    * metric that separates a nearly-exact index from one that merely
    * doesn't lose the answer (MRR is the standard first-relevant-rank
    * statistic, Voorhees TREC-8 1999). For each probe (vec_id < 5):
    * the TRUE 1-NN by brute-force decimal-exact cosine over the whole
    * corpus (min-id tiebreak), then its position in the auto-K
    * cell-restricted top-10 cosine ranking, or NULL if the cell probe
    * lost it. The reciprocal rank is carried as the exact integer
    * 2520/rank (2520 = lcm(1..10)(k = 10) — so a downstream MRR is an
    * exact BIGINT sum, never an order-dependent float accumulation).
    *
    * Scale posture: the brute-force leg is |probes|·N map work behind
    * a broadcast of the 5 probe vectors (at 100 TB the probe set stays
    * bounded and the scan is one pass); the approx leg rides the same
    * Σ|cell|²-bounded cell join as every IVF query. */
  def annMrr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val q = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        $"nrm".as("q_nrm"))
    val truth = emb.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .selectExpr("q_id", "vec_id",
        s"(${dotSpark("embedding", "q_emb")} / sqrt(nrm * q_nrm)) AS cosine")
      .groupBy($"q_id")
      .agg(expr("max_by(vec_id, struct(cosine, -vec_id))").as("true_nn"))
    val cells = autoKAssign(spark, dir)
    val qc = q.join(cells.withColumnRenamed("vec_id", "q_id"), "q_id")
    val approx = qc
      .join(cells.select($"vec_id".as("m_id"), $"cell"), "cell")
      .filter($"m_id" =!= $"q_id")
      .join(emb.select($"vec_id".as("m_id"), $"embedding".as("m_emb"),
        $"nrm".as("m_nrm")), "m_id")
      .selectExpr("q_id", "m_id",
        s"(${dotSpark("m_emb", "q_emb")} / sqrt(m_nrm * q_nrm)) AS cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cosine".desc, $"m_id")))
      .filter($"rank" <= 10)
    truth.join(approx,
        truth("q_id") === approx("q_id") &&
          truth("true_nn") === approx("m_id"), "left")
      .select(truth("q_id"), $"true_nn",
        $"rank".cast("int").as("approx_rank"),
        coalesce(expr("CAST(2520 AS BIGINT) div rank"), lit(0L))
          .as("rr_2520"))
      .orderBy($"q_id")
  }

  val annMrrSql: String =
    s"""WITH $autoKCtes,
       |mre AS (
       |  SELECT vec_id, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm
       |  FROM embeddings
       |),
       |mrq AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM mre WHERE vec_id < 5
       |),
       |mrtruth AS (
       |  SELECT q_id, vec_id AS true_nn FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        (${dotDuck("e.embedding", "q.q_emb")}
       |          / sqrt(e.nrm * q.q_nrm)) DESC, e.vec_id) AS rn
       |    FROM mre e CROSS JOIN mrq q WHERE e.vec_id <> q.q_id
       |  ) WHERE rn = 1
       |),
       |mrapx AS (
       |  SELECT * FROM (
       |    SELECT q.q_id, m.vec_id AS m_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        (${dotDuck("e.embedding", "q.q_emb")}
       |          / sqrt(e.nrm * q.q_nrm)) DESC, m.vec_id) AS rank
       |    FROM mrq q
       |    JOIN a2 qa ON qa.vec_id = q.q_id
       |    JOIN a2 m ON m.cell = qa.cell AND m.vec_id <> q.q_id
       |    JOIN mre e ON e.vec_id = m.vec_id
       |  ) WHERE rank <= 10
       |)
       |SELECT t.q_id, t.true_nn, CAST(a.rank AS INTEGER) AS approx_rank,
       |  COALESCE(CAST(2520 AS BIGINT) // a.rank, CAST(0 AS BIGINT))
       |    AS rr_2520
       |FROM mrtruth t LEFT JOIN mrapx a
       |  ON a.q_id = t.q_id AND a.m_id = t.true_nn
       |${sqlOrderBy(Seq("t.q_id")).trim}""".stripMargin

  /** NDCG@10 position weights in 1e-9 fixed point — w(r) =
    * ⌊1e9/log₂(r+1) + 0.5⌋, computed ONCE here in Scala and embedded
    * as integer literals in BOTH engines' plans, so no runtime libm
    * log is ever on the comparison path (the qlog2 discipline, but for
    * a 10-constant table there is nothing to compute at all). */
  private val ndcgW: Seq[Long] = (1 to 10).map(r =>
    math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Ideal DCG@10 for graded gains 10,9,…,1 — the per-probe
    * normalizer, an exact BIGINT constant. */
  private val ndcgIdcg: Long =
    (1 to 10).map(i => (11 - i).toLong * ndcgW(i - 1)).sum

  /** embed_ann_ndcg: NDCG@10 audit of the IVF index — the FULL-LIST
    * companion to [[annMrr]]'s first-relevant-rank readout: MRR only
    * sees where the single true NN lands, NDCG grades the whole
    * retrieved ranking against the whole true ranking (Järvelin &
    * Kekäläinen 2002), so an index that returns the right neighborhood
    * in the wrong order is separated from one that returns the wrong
    * neighborhood. Per probe (vec_id < 5): the TRUE top-10 by
    * brute-force decimal-exact cosine defines graded relevance
    * rel(m) = 11 − true_rank(m) (0 outside the true 10); the auto-K
    * cell-restricted top-10 is the retrieved list; DCG accumulates
    * rel·w(rank) as an exact BIGINT with the fixed-point weight table
    * [[ndcgW]], and ndcg = DCG/[[ndcgIdcg]] is one final division —
    * both engines sum the same integers in any order.
    *
    * Scale posture: the truth leg is the [[annMrr]] broadcast-probes
    * one-pass scan (|probes| bounded at 100 TB); the retrieved leg
    * rides the same Σ|cell|²-bounded cell join as every IVF query;
    * the DCG rollup is |probes|·10 rows. */
  def annNdcg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val wArr = s"array(${ndcgW.mkString("L, ")}L)"
    val emb = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val q = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        $"nrm".as("q_nrm"))
    val truth = emb.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .selectExpr("q_id", "vec_id AS m_id",
        s"(${dotSpark("embedding", "q_emb")} / sqrt(nrm * q_nrm)) AS cosine")
      .withColumn("trn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cosine".desc, $"m_id")))
      .filter($"trn" <= 10)
      .select($"q_id", $"m_id", (lit(11) - $"trn").cast("long").as("rel"))
    val cells = autoKAssign(spark, dir)
    val qc = q.join(cells.withColumnRenamed("vec_id", "q_id"), "q_id")
    val approx = qc
      .join(cells.select($"vec_id".as("m_id"), $"cell"), "cell")
      .filter($"m_id" =!= $"q_id")
      .join(emb.select($"vec_id".as("m_id"), $"embedding".as("m_emb"),
        $"nrm".as("m_nrm")), "m_id")
      .selectExpr("q_id", "m_id",
        s"(${dotSpark("m_emb", "q_emb")} / sqrt(m_nrm * q_nrm)) AS cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cosine".desc, $"m_id")))
      .filter($"rank" <= 10)
    val scored = approx.join(truth, Seq("q_id", "m_id"), "left")
      .selectExpr("q_id",
        "CAST(rel IS NOT NULL AS INT) AS hit",
        s"COALESCE(rel, 0) * element_at($wArr, CAST(rank AS INT)) AS g")
      .groupBy($"q_id")
      .agg(sum($"hit").as("true10_hits"), sum($"g").as("dcg_q"))
    q.select($"q_id").join(scored, Seq("q_id"), "left")
      .select($"q_id",
        coalesce($"true10_hits", lit(0L)).as("true10_hits"),
        coalesce($"dcg_q", lit(0L)).as("dcg_q"),
        (coalesce($"dcg_q", lit(0L)).cast("double") /
          lit(ndcgIdcg).cast("double")).as("ndcg"))
      .orderBy($"q_id")
  }

  val annNdcgSql: String = {
    val wArr = s"[${ndcgW.mkString(", ")}]"
    s"""WITH $autoKCtes,
       |nde AS (
       |  SELECT vec_id, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm
       |  FROM embeddings
       |),
       |ndq AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM nde WHERE vec_id < 5
       |),
       |ndtruth AS (
       |  SELECT q_id, m_id, CAST(11 - trn AS BIGINT) AS rel FROM (
       |    SELECT q.q_id, e.vec_id AS m_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        (${dotDuck("e.embedding", "q.q_emb")}
       |          / sqrt(e.nrm * q.q_nrm)) DESC, e.vec_id) AS trn
       |    FROM nde e CROSS JOIN ndq q WHERE e.vec_id <> q.q_id
       |  ) WHERE trn <= 10
       |),
       |ndapx AS (
       |  SELECT * FROM (
       |    SELECT q.q_id, m.vec_id AS m_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        (${dotDuck("e.embedding", "q.q_emb")}
       |          / sqrt(e.nrm * q.q_nrm)) DESC, m.vec_id) AS rank
       |    FROM ndq q
       |    JOIN a2 qa ON qa.vec_id = q.q_id
       |    JOIN a2 m ON m.cell = qa.cell AND m.vec_id <> q.q_id
       |    JOIN nde e ON e.vec_id = m.vec_id
       |  ) WHERE rank <= 10
       |),
       |ndagg AS (
       |  SELECT a.q_id,
       |    CAST(SUM(CAST(t.rel IS NOT NULL AS INTEGER)) AS BIGINT)
       |      AS true10_hits,
       |    CAST(SUM(COALESCE(t.rel, 0)
       |      * ($wArr)[CAST(a.rank AS INTEGER)]) AS BIGINT) AS dcg_q
       |  FROM ndapx a LEFT JOIN ndtruth t
       |    ON t.q_id = a.q_id AND t.m_id = a.m_id
       |  GROUP BY a.q_id
       |)
       |SELECT q.q_id,
       |  COALESCE(g.true10_hits, 0) AS true10_hits,
       |  COALESCE(g.dcg_q, 0) AS dcg_q,
       |  CAST(COALESCE(g.dcg_q, 0) AS DOUBLE)
       |    / CAST($ndcgIdcg AS DOUBLE) AS ndcg
       |FROM ndq q LEFT JOIN ndagg g ON g.q_id = q.q_id
       |${sqlOrderBy(Seq("q.q_id")).trim}""".stripMargin
  }

  /** embed_silhouette: simplified silhouette per label (Hruschka et
    * al. 2004 — the centroid form of Rousseeuw 1987) — the INTERNAL
    * cluster-quality readout beside the EXTERNAL ones
    * (`dedup_cluster_purity`, `dedup_cluster_nmi_ari` need true
    * labels; silhouette does not): per vector, a = euclidean distance
    * to its OWN label centroid, b = the nearest OTHER centroid,
    * s = (b − a)/max(a, b) ∈ [−1, 1]; a label whose mean s ≤ 0 is a
    * cluster the embedding geometry does not actually support. The
    * full Rousseeuw form is all-pairs (O(N²) — unmaterializable at
    * corpus scale); the centroid simplification is the standard
    * linear-cost trade and the one production pipelines run. Centroids
    * and squared distances are the [[kmeansAssign]] fixed-point-exact
    * forms (d = ‖v‖² − 2v·c + ‖c‖², every dot decimal-exact, so
    * d ≥ 0 exactly and sqrt/division are single IEEE ops); per-vector
    * s is quantized at 1e-9 (the hq discipline) so per-label means are
    * exact integer sums in both engines.
    *
    * Scale posture: THE broadcast-K map-only shape — K centroids
    * broadcast, one |corpus|·K distance pass, per-vector pivot to
    * (a, b) with no shuffle wider than the K-cell rollup; output is
    * |labels| rows. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
    val cent = emb
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg(((sum(floor($"x".cast("double") * 1e12 + 0.5).cast("bigint"))
        .cast("double") / 1e12) / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))
      .select($"label".as("c_label"), $"centroid")
    val dist = emb.crossJoin(broadcast(cent))
      .selectExpr("vec_id", "label", "c_label",
        s"""(${dotSpark("embedding", "embedding")}
           | - 2 * ${dotSpark("embedding", "centroid")}
           | + ${dotSpark("centroid", "centroid")}) AS d""".stripMargin.replace("\n", ""))
    val ab = dist.groupBy($"vec_id", $"label")
      .agg(min(when($"c_label" === $"label", $"d")).as("da"),
        min(when($"c_label" =!= $"label", $"d")).as("db"))
      .selectExpr("vec_id", "label", "sqrt(da) AS a", "sqrt(db) AS b")
      .selectExpr("vec_id", "label",
        "CAST(floor(a * 1e9 + 0.5) AS BIGINT) AS aq",
        "CAST(floor(b * 1e9 + 0.5) AS BIGINT) AS bq",
        """CAST(floor(CASE WHEN greatest(a, b) = CAST(0 AS DOUBLE) THEN 0.0
          |  ELSE (b - a) / greatest(a, b) END * 1e9 + 0.5) AS BIGINT)
          |  AS sq""".stripMargin.replace("\n", ""))
    ab.groupBy($"label")
      .agg(count(lit(1)).as("n_vectors"),
        (sum($"aq").cast("double") / 1e9 / count(lit(1))).as("mean_a"),
        (sum($"bq").cast("double") / 1e9 / count(lit(1))).as("mean_b"),
        (sum($"sq").cast("double") / 1e9 / count(lit(1)))
          .as("mean_silhouette"))
      .orderBy($"label")
  }

  val silhouetteSql: String = {
    def dd(x: String, y: String) = dotDuck(x, y)
    s"""WITH silcent0 AS (
       |  SELECT label, i,
       |    CAST(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12
       |      / COUNT(*) AS c
       |  FROM embeddings, range(1, 65) t(i)
       |  GROUP BY label, i
       |),
       |silcent AS (SELECT label AS c_label, list(c ORDER BY i) AS centroid
       |            FROM silcent0 GROUP BY label),
       |sildist AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    (${dd("e.embedding", "e.embedding")}
       |     - 2 * ${dd("e.embedding", "c.centroid")}
       |     + ${dd("c.centroid", "c.centroid")}) AS d
       |  FROM embeddings e, silcent c
       |),
       |silab AS (
       |  SELECT vec_id, label,
       |    sqrt(MIN(CASE WHEN c_label = label THEN d END)) AS a,
       |    sqrt(MIN(CASE WHEN c_label <> label THEN d END)) AS b
       |  FROM sildist GROUP BY vec_id, label
       |),
       |silq AS (
       |  SELECT vec_id, label,
       |    CAST(floor(a * 1e9 + 0.5) AS BIGINT) AS aq,
       |    CAST(floor(b * 1e9 + 0.5) AS BIGINT) AS bq,
       |    CAST(floor(CASE WHEN greatest(a, b) = CAST(0 AS DOUBLE) THEN 0.0
       |      ELSE (b - a) / greatest(a, b) END * 1e9 + 0.5) AS BIGINT) AS sq
       |  FROM silab
       |)
       |SELECT label, COUNT(*) AS n_vectors,
       |  CAST(CAST(SUM(aq) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS mean_a,
       |  CAST(CAST(SUM(bq) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS mean_b,
       |  CAST(CAST(SUM(sq) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*)
       |    AS mean_silhouette
       |FROM silq GROUP BY label
       |${sqlOrderBy(Seq("label")).trim}""".stripMargin
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * prep step): for every anchor vector, the top-2 most-similar
    * vectors of a DIFFERENT label — the near-miss impostors whose
    * gradients actually teach an embedding model, where
    * [[Cluster.negatives]]' random draws teach almost nothing. Mined
    * approximately WITHIN the auto-K IVF cells (the production ANN
    * posture: a hard negative is by definition nearby, so cell-local
    * candidates are the right recall/cost point — the same
    * Σ|cell|² ≈ 250·N measured-linear pair budget as
    * [[knnGraphAutoK]]). Two-phase ranking: a plain-double cosine
    * prunes each anchor's cross-label candidates to a slop-guarded
    * top-8, then the exact decimal dot re-ranks the survivors, so the
    * emitted (rank, cosine) is bit-identical to the single-phase exact
    * form at a fraction of the decimal work.
    *
    * Scale posture: equi-join on cell, per-anchor windows inside
    * cells, norms hoisted per vector — no global sort, no all-pairs
    * path anywhere. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    graft.functions.DoubleDot.register(spark)
    val raw = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val emb = raw.join(autoKAssign(spark, dir), "vec_id")
    val a = emb.select($"vec_id".as("v1"), $"label".as("l1"), $"cell",
      $"embedding".as("e1"), $"nrm".as("n1"))
    val b = emb.select($"vec_id".as("v2"), $"label".as("l2"),
      $"cell".as("cell_b"), $"embedding".as("e2"), $"nrm".as("n2"))
    val byV1 = Window.partitionBy($"cell", $"v1")
    val pairsD = a.join(b, $"cell" === $"cell_b" && $"l1" =!= $"l2")
      .selectExpr("v1", "cell", "v2", "l2",
        "(double_dot(e1, e2) / sqrt(n1 * n2)) AS cos_d")
      .withColumn("rd", row_number().over(byV1.orderBy($"cos_d".desc, $"v2")))
      .withColumn("second", max(when($"rd" === 2, $"cos_d")).over(byV1))
      .filter($"rd" <= 8 || $"second".isNull ||
        $"cos_d" >= $"second" - lit(1e-9))
      .select($"v1", $"v2", $"l2")
    pairsD
      .join(raw.select($"vec_id", $"embedding".as("e1"), $"nrm".as("n1")),
        $"v1" === $"vec_id").drop("vec_id")
      .join(raw.select($"vec_id", $"embedding".as("e2"), $"nrm".as("n2")),
        $"v2" === $"vec_id").drop("vec_id")
      .selectExpr("v1", "v2", "l2",
        s"(${dotSpark("e1", "e2")} / sqrt(n1 * n2)) AS cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"v1").orderBy($"cosine".desc, $"v2")))
      .filter($"rank" <= 2)
      .select($"v1", $"rank", $"v2".as("neg_id"), $"l2".as("neg_label"),
        $"cosine")
      .orderBy($"v1", $"rank")
  }

  /** Triplet-margin threshold for [[triplets]] (γ in the triplet loss). */
  private val TripletMargin = 0.05

  /** embed_triplets: contrastive TRIPLET MINING (Schroff et al. 2015,
    * FaceNet; the data-prep stage of every metric-learning run) — for
    * each anchor, the hardest in-cell positive (nearest same-label
    * vector) and hardest in-cell negative (nearest different-label
    * vector), with the triplet margin cos_pos − cos_neg and a
    * `satisfied` flag at γ=$TripletMargin. Anchors lacking either side
    * in their IVF cell drop out (semi-hard mining is cell-local by
    * design: the cells ARE the candidate structure, so no all-pairs
    * scan exists).
    *
    * Both engines rank on the SAME exact quantized-decimal dot (the
    * [[dotSpark]]/[[dotDuck]] contract), so near-tie rank flips cannot
    * occur. Spark picks each side's winner with one max(struct)
    * aggregation (map-side combinable — no per-cell window sort), the
    * same single-pass shape that carried knn_autok's ×100 rehearsal.
    *
    * Scale posture: Σ|cell|² ≈ 250·N pair stream (measured linear in
    * SCALE.md), two grouped aggregations, then O(N) output. */
  def triplets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val raw = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        s"${dotSpark("embedding", "embedding")} AS nrm")
    val emb = raw.join(autoKAssign(spark, dir), "vec_id")
    val a = emb.select($"vec_id".as("v1"), $"label".as("l1"), $"cell",
      $"embedding".as("e1"), $"nrm".as("n1"))
    val b = emb.select($"vec_id".as("v2"), $"label".as("l2"),
      $"cell".as("cell_b"), $"embedding".as("e2"), $"nrm".as("n2"))
    a.join(b, $"cell" === $"cell_b" && $"v1" =!= $"v2")
      .selectExpr("v1", "v2", "CAST(l1 = l2 AS INT) AS same",
        s"(${dotSpark("e1", "e2")} / sqrt(n1 * n2)) AS cos")
      .groupBy($"v1", $"same")
      .agg(max(struct($"cos", (-$"v2").as("nv2"))).as("top"))
      .select($"v1", $"same", $"top.cos".as("cos"), (-$"top.nv2").as("vid"))
      .groupBy($"v1")
      .agg(max(when($"same" === 1, $"vid")).as("pos_id"),
        max(when($"same" === 1, $"cos")).as("cos_pos"),
        max(when($"same" === 0, $"vid")).as("neg_id"),
        max(when($"same" === 0, $"cos")).as("cos_neg"))
      .filter($"pos_id".isNotNull && $"neg_id".isNotNull)
      .select($"v1".as("vec_id"), $"pos_id", $"neg_id", $"cos_pos",
        $"cos_neg", ($"cos_pos" - $"cos_neg").as("margin"),
        ($"cos_pos" - $"cos_neg" >= TripletMargin).cast("int")
          .as("satisfied"))
      .orderBy($"vec_id")
  }

  val tripletsSql: String =
    s"""WITH $autoKCtes,
       |e AS (
       |  SELECT emb.vec_id, emb.label, a2.cell, emb.embedding,
       |    ${dotDuck("emb.embedding", "emb.embedding")} AS nrm
       |  FROM embeddings emb JOIN a2 ON emb.vec_id = a2.vec_id
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2,
       |    CAST(a.label = b.label AS INTEGER) AS same,
       |    (${dotDuck("a.embedding", "b.embedding")} / sqrt(a.nrm * b.nrm))
       |      AS cos
       |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |),
       |sel AS (
       |  SELECT v1, same, cos, v2 FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY v1, same
       |      ORDER BY cos DESC, v2) AS rn
       |    FROM p
       |  ) WHERE rn = 1
       |),
       |tri AS (
       |  SELECT v1,
       |    MAX(CASE WHEN same = 1 THEN v2 END) AS pos_id,
       |    MAX(CASE WHEN same = 1 THEN cos END) AS cos_pos,
       |    MAX(CASE WHEN same = 0 THEN v2 END) AS neg_id,
       |    MAX(CASE WHEN same = 0 THEN cos END) AS cos_neg
       |  FROM sel GROUP BY v1
       |)
       |SELECT v1 AS vec_id, pos_id, neg_id, cos_pos, cos_neg,
       |  cos_pos - cos_neg AS margin,
       |  CAST(cos_pos - cos_neg >= $TripletMargin AS INTEGER) AS satisfied
       |FROM tri
       |WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
       |${sqlOrderBy(Seq("vec_id")).trim}""".stripMargin

  val hardNegativesSql: String =
    s"""WITH $autoKCtes,
       |e AS (
       |  SELECT emb.vec_id, emb.label, a2.cell, emb.embedding,
       |    ${dotDuck("emb.embedding", "emb.embedding")} AS nrm
       |  FROM embeddings emb JOIN a2 ON emb.vec_id = a2.vec_id
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS neg_id, b.label AS neg_label,
       |    (${dotDuck("a.embedding", "b.embedding")} / sqrt(a.nrm * b.nrm))
       |      AS cosine
       |  FROM e a JOIN e b ON a.cell = b.cell AND a.label <> b.label
       |)
       |SELECT v1, CAST(rank AS INTEGER) AS rank, neg_id,
       |  CAST(neg_label AS INTEGER) AS neg_label, cosine FROM (
       |  SELECT p.*, row_number() OVER (PARTITION BY v1
       |    ORDER BY cosine DESC, neg_id) AS rank
       |  FROM p
       |) WHERE rank <= 2
       |${sqlOrderBy(Seq("v1", "rank")).trim}""".stripMargin

  /** Matryoshka truncation audit: how much nearest-neighbour quality a
    * 16-dim PREFIX of the 64-dim embedding loses — the eval that decides
    * whether truncated (MRL-style) vectors can serve first-stage
    * retrieval. Within each label bucket every vector gets its top-1
    * neighbour twice — once by full 64-dim cosine, once by prefix-16
    * cosine — and the per-label output reports how often the two picks
    * agree plus the total full-cosine regret of the truncated pick
    * (summed in floor-scaled fixed point, so cross-engine exact).
    *
    * Scale posture: same Σ|bucket|² pair shape as [[knnGraph]] (bucket =
    * IVF cell at scale); norms hoisted per vector; the two argmax
    * windows partition by v1 — millions of bucket-sized windows, never a
    * global sort. */
  def mrlRegret(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val emb = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        "slice(embedding, 1, 16) AS e16",
        s"${dotSpark("embedding", "embedding")} AS n64",
        s"${dotSpark("slice(embedding, 1, 16)", "slice(embedding, 1, 16)")} AS n16")
    val a = emb.select($"vec_id".as("v1"), $"label", $"embedding".as("ea"),
      $"e16".as("e16a"), $"n64".as("n64a"), $"n16".as("n16a"))
    val b = emb.select($"vec_id".as("v2"), $"label".as("label_b"),
      $"embedding".as("eb"), $"e16".as("e16b"), $"n64".as("n64b"),
      $"n16".as("n16b"))
    val pairs = a.join(b, $"label" === $"label_b" && $"v1" =!= $"v2")
      .selectExpr("v1", "v2", "label",
        s"(${dotSpark("ea", "eb")} / sqrt(n64a * n64b)) AS full_cos",
        s"(${dotSpark("e16a", "e16b")} / sqrt(n16a * n16b)) AS trunc_cos")
    val wF = Window.partitionBy($"v1").orderBy($"full_cos".desc, $"v2")
    val wT = Window.partitionBy($"v1").orderBy($"trunc_cos".desc, $"v2")
    pairs
      .withColumn("rnf", row_number().over(wF))
      .withColumn("rnt", row_number().over(wT))
      .filter($"rnf" === 1 || $"rnt" === 1)
      .groupBy($"v1", $"label")
      .agg(
        max(when($"rnf" === 1, $"v2")).as("nn_full"),
        max(when($"rnf" === 1, $"full_cos")).as("cos_full"),
        max(when($"rnt" === 1, $"v2")).as("nn_trunc"),
        max(when($"rnt" === 1, $"full_cos")).as("cos_trunc"))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vec"),
        sum(($"nn_full" === $"nn_trunc").cast("int")).as("n_agree"),
        ((sum(floor($"cos_full" * 1e14 + 0.5).cast("bigint"))
          - sum(floor($"cos_trunc" * 1e14 + 0.5).cast("bigint")))
          .cast("double") / 1e14).as("regret"))
      .orderBy($"label")
  }

  val mrlRegretSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    ${dotDuck("embedding", "embedding")} AS n64,
       |    ${dotDuck16("embedding", "embedding")} AS n16
       |  FROM embeddings
       |),
       |p AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2, a.label,
       |    (${dotDuck("a.embedding", "b.embedding")}
       |      / sqrt(a.n64 * b.n64)) AS full_cos,
       |    (${dotDuck16("a.embedding", "b.embedding")}
       |      / sqrt(a.n16 * b.n16)) AS trunc_cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
       |),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY v1 ORDER BY full_cos DESC, v2)
       |      AS rnf,
       |    row_number() OVER (PARTITION BY v1 ORDER BY trunc_cos DESC, v2)
       |      AS rnt
       |  FROM p
       |),
       |best AS (
       |  SELECT v1, label,
       |    MAX(CASE WHEN rnf = 1 THEN v2 END) AS nn_full,
       |    MAX(CASE WHEN rnf = 1 THEN full_cos END) AS cos_full,
       |    MAX(CASE WHEN rnt = 1 THEN v2 END) AS nn_trunc,
       |    MAX(CASE WHEN rnt = 1 THEN full_cos END) AS cos_trunc
       |  FROM r WHERE rnf = 1 OR rnt = 1 GROUP BY v1, label
       |)
       |SELECT label, COUNT(*) AS n_vec,
       |  CAST(SUM(CASE WHEN nn_full = nn_trunc THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(CAST(SUM(CAST(floor(cos_full * 1e14 + 0.5) AS BIGINT))
       |    - SUM(CAST(floor(cos_trunc * 1e14 + 0.5) AS BIGINT)) AS BIGINT)
       |    AS DOUBLE) / 1e14 AS regret
       |FROM best GROUP BY label${sqlOrderBy(Seq("label"))}""".stripMargin

  /** Vector-norm audit — the diagnostic that decides whether dot and
    * cosine retrieval differ for a corpus (and catches broken rows
    * before they poison ANN): norms bucketed into 0.25-wide bins with
    * counts and decimal-exact norm sums per bin, plus the degenerate
    * near-zero-norm count surfaced in its own bin. Every step — the
    * fixed-point self-dot, one correctly-rounded sqrt, a *4/floor bin —
    * is IEEE-identical cross-engine.
    *
    * Scale posture: map-only per vector + one |bins|-row aggregate. */
  def normAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    Tables(spark, dir, "embeddings")
      .selectExpr("vec_id",
        s"sqrt(${dotSpark("embedding", "embedding")}) AS nrm")
      .selectExpr("nrm", "cast(floor(nrm * 4) as bigint) AS bin")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_vec"),
        (sum(floor($"nrm" * 1e12 + 0.5).cast("bigint")).cast("double") / 1e12)
          .as("norm_sum"))
      .orderBy($"bin")
  }

  val normAuditSql: String =
    s"""WITH n AS (
       |  SELECT vec_id,
       |    sqrt(${dotDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |)
       |SELECT CAST(floor(nrm * 4) AS BIGINT) AS bin,
       |  COUNT(*) AS n_vec,
       |  CAST(CAST(SUM(CAST(floor(nrm * 1e12 + 0.5) AS BIGINT)) AS BIGINT)
       |    AS DOUBLE) / 1e12 AS norm_sum
       |FROM n GROUP BY 1${sqlOrderBy(Seq("bin"))}""".stripMargin

  /** Dedup-signal agreement audit — the pipeline-QA question "do my
    * two near-dup detectors agree?", answered by FULL-OUTER joining
    * the text-side LSH candidate pairs ([[Dedup.neardupPairs]], doc_id
    * keyed) against the embedding-cosine pairs ([[neardupPairs]],
    * vec_id keyed; the fixture embeds document i as vector i) and
    * counting the three regions of the Venn diagram. Agreement is the
    * pair-set Jaccard n_both / n_union — exact integers, one guarded
    * IEEE division. Low agreement on a real corpus means the two
    * signals capture different duplication (lexical vs semantic) and
    * BOTH filters belong in the funnel; here the random fixture makes
    * overlap near-zero, which is itself the honest reading.
    *
    * Scale posture: both pair sets are bucket-bounded (LSH bands /
    * label buckets — never all-pairs); the audit join is pair-keyed
    * and its output is one row. */
  def methodAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = graft.llm.Dedup.neardupPairs(spark, dir)
      .select($"d1", $"d2", lit(1).as("in_text"))
    val e = neardupPairs(spark, dir)
      .select($"v1".as("d1"), $"v2".as("d2"), lit(1).as("in_emb"))
    t.join(e, Seq("d1", "d2"), "full_outer")
      .agg(
        count(when($"in_text" === 1 && $"in_emb" === 1, 1)).as("n_both"),
        count(when($"in_text" === 1 && $"in_emb".isNull, 1)).as("n_text_only"),
        count(when($"in_text".isNull && $"in_emb" === 1, 1)).as("n_emb_only"),
        count(lit(1)).as("n_union"))
      .select($"n_both", $"n_text_only", $"n_emb_only", $"n_union",
        graft.Det.nullRatio($"n_both".cast("double"),
          $"n_union".cast("double")).as("agreement"))
  }

  val methodAgreementSql: String =
    s"""WITH ${graft.llm.Dedup.sigSqlCte},
       |tp AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM sig a JOIN sig b ON a.band_a = b.band_a AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id
       |  FROM sig a JOIN sig b ON a.band_b = b.band_b AND a.doc_id < b.doc_id
       |),
       |ev AS (
       |  SELECT vec_id, label, embedding,
       |    ${dotDuck("embedding", "embedding")} AS nrm
       |  FROM embeddings
       |),
       |ep AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE (${dotDuck("a.embedding", "b.embedding")}
       |         / sqrt(a.nrm * b.nrm)) > 0.35
       |),
       |u AS (
       |  SELECT tp.d1 IS NOT NULL AS in_text, ep.d1 IS NOT NULL AS in_emb
       |  FROM tp FULL OUTER JOIN ep ON tp.d1 = ep.d1 AND tp.d2 = ep.d2
       |)
       |SELECT
       |  CAST(SUM(CASE WHEN in_text AND in_emb THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_both,
       |  CAST(SUM(CASE WHEN in_text AND NOT in_emb THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_text_only,
       |  CAST(SUM(CASE WHEN NOT in_text AND in_emb THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_emb_only,
       |  COUNT(*) AS n_union,
       |  ${graft.Det.sqlNullRatio(
            "CAST(SUM(CASE WHEN in_text AND in_emb THEN 1 ELSE 0 END) AS DOUBLE)",
            "CAST(COUNT(*) AS DOUBLE)")} AS agreement
       |FROM u""".stripMargin

  /** Full 64×64 covariance matrix of the embedding dimensions (upper
    * triangle), computed by SINGLE-PASS mergeable Gram accumulation
    * ([[graft.functions.GramAggregator]] — the MLlib RowMatrix Gramian
    * pattern as a typed Aggregator): each partition folds its vectors
    * into one flat d(d+1)/2 fixed-point buffer, partials merge by
    * addition, one ~2 KB buffer per partition crosses the wire, and the
    * 2080 output cells are exploded from the single aggregated row.
    * The naive relational form — posexplode twice and self-join on
    * vec_id — multiplies the scan by d² rows (4096× at d=64); the
    * DuckDB oracle runs exactly that naive form, so the engines
    * cross-check the accumulation through an independent algorithm.
    * Covariance itself is assembled from exact integer sums with a
    * fixed IEEE op sequence (the dim-stats discipline) — bit-identical
    * at any parallelism. Feeds whitening / PCA sanity checks
    * ([[pcaPower]] uses the same moments implicitly). */
  def covariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gram = udaf(new graft.functions.GramAggregator(64))
    Tables(spark, dir, "embeddings")
      .agg(gram($"embedding").as("cells"))
      .select(explode($"cells").as("c"))
      .select($"c.i".as("dim_i"), $"c.j".as("dim_j"),
        $"c.n".as("n_vectors"),
        ((($"c.sxy".cast("double") / 1e9) -
          (($"c.sxi".cast("double") / 1e9) * ($"c.sxj".cast("double") / 1e9))
            / $"c.n".cast("double"))
          / ($"c.n" - 1).cast("double")).as("cov"))
      .orderBy($"dim_i", $"dim_j")
  }

  val covarianceSql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(list_transform(range(0, 64),
       |    i -> struct_pack(d := CAST(i AS INTEGER),
       |                     x := embedding[i + 1]))) AS t
       |  FROM embeddings
       |),
       |e AS (SELECT vec_id, t.d AS d, CAST(t.x AS DOUBLE) AS x FROM ex),
       |p AS (
       |  SELECT a.d AS dim_i, b.d AS dim_j,
       |    CAST(SUM(CAST(floor(a.x * b.x * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
       |    COUNT(*) AS n
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d <= b.d
       |  GROUP BY 1, 2
       |),
       |m AS (
       |  SELECT d, CAST(SUM(CAST(floor(x * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sx
       |  FROM e GROUP BY d
       |)
       |SELECT dim_i, dim_j, CAST(p.n AS BIGINT) AS n_vectors,
       |  ((CAST(sxy AS DOUBLE) / 1e9)
       |    - ((CAST(ma.sx AS DOUBLE) / 1e9) * (CAST(mb.sx AS DOUBLE) / 1e9))
       |       / CAST(p.n AS DOUBLE))
       |  / CAST(p.n - 1 AS DOUBLE) AS cov
       |FROM p JOIN m ma ON ma.d = dim_i JOIN m mb ON mb.d = dim_j
       |${sqlOrderBy(Seq("dim_i", "dim_j")).trim}""".stripMargin

  /** 16 fixed ±1 Johnson–Lindenstrauss projection rows (64-d), LCG
    * seed distinct from [[srpPlanes]] — same literals-in-both-plans
    * determinism trick. Achlioptas (2003): ±1 entries satisfy the JL
    * distance-preservation guarantee with the same constants as
    * Gaussian entries. */
  private val jlPlanes: Seq[Seq[Double]] = {
    var s = 0x9E3779B97F4A7C15L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      if ((s >>> 63) == 1L) 1.0 else -1.0
    }
    Seq.fill(16)(Seq.fill(64)(next()))
  }

  /** embed_jl_distortion: Johnson–Lindenstrauss projection audit —
    * project 64-d embeddings to 16-d with the fixed ±1 matrix (scaled
    * 1/√16, so E‖y_a−y_b‖² = ‖x_a−x_b‖²) and measure, over a
    * systematic pair sample (each vector with its id-successor), the
    * squared-distance ratio r = ‖y_a−y_b‖²/‖x_a−x_b‖². The JL lemma
    * says r concentrates near 1; this scorecard (n, mean, min, max,
    * share within [½, 2]) is the go/no-go check before a pipeline
    * swaps full vectors for a 4× cheaper sketch in a coarse ANN or
    * dedup stage. Every dot product is the codegen'd `decimal_dot`
    * (floor-scaled-long exact form), the projected distance is a
    * fixed 16-term unrolled sum of squared dot DIFFERENCES — one IEEE
    * shape both engines state verbatim — and the mean accumulates
    * 1e9-quantized ratios in exact BIGINT (the χ² trick) so summation
    * order cannot flip the hash.
    *
    * Scale posture: the successor self-join is an equi-join on
    * vec_id+1 (co-partitioned by the id key, linear pairs — never a
    * pair explosion), the 33 decimal_dot calls per pair are map-side,
    * and the output is ONE row. At 100 TB this is a scan with a
    * narrow shuffle on the id key. */
  def jlDistortion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DecimalDot.register(spark)
    val e = Tables(spark, dir, "embeddings")
    val a = e.select($"vec_id", $"embedding".as("e1"))
    val b = e.select(($"vec_id" - 1L).as("vec_id"), $"embedding".as("e2"))
    val dys = jlPlanes.map { p =>
      val pl = planeSpark(p)
      s"(${dotSpark("e1", pl)} - ${dotSpark("e2", pl)})"
    }
    val dproj = dys.map(d => s"($d * $d)").mkString("(", " + ", ")")
    a.join(b, Seq("vec_id"))
      .selectExpr(
        s"(${dotSpark("e1", "e1")} - 2.0D * ${dotSpark("e1", "e2")}" +
          s" + ${dotSpark("e2", "e2")}) AS d2",
        s"$dproj AS p2")
      .filter($"d2" > 0.0)
      .select((($"p2" / lit(16.0)) / $"d2").as("ratio"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor($"ratio" * 1e9 + 0.5).cast("long")).as("rq"),
        min($"ratio").as("min_ratio"), max($"ratio").as("max_ratio"),
        count_if($"ratio" >= 0.5 && $"ratio" <= 2.0).as("n_within"))
      .select($"n_pairs",
        ($"rq".cast("double") / (lit(1e9) * $"n_pairs".cast("double")))
          .as("mean_ratio"),
        $"min_ratio", $"max_ratio", $"n_within",
        ($"n_within".cast("double") / $"n_pairs".cast("double"))
          .as("frac_within_2x"))
  }

  val jlDistortionSql: String = {
    val dys = jlPlanes.map { p =>
      val pl = planeDuck(p)
      s"(${dotDuck("e1", pl)} - ${dotDuck("e2", pl)})"
    }
    val dproj = dys.map(d => s"($d * $d)").mkString("(", " + ", ")")
    s"""WITH jlp AS (
       |  SELECT (${dotDuck("e1", "e1")} - CAST(2.0 AS DOUBLE) * ${dotDuck("e1", "e2")}
       |      + ${dotDuck("e2", "e2")}) AS d2,
       |    $dproj AS p2
       |  FROM (SELECT vec_id, embedding AS e1 FROM embeddings) a
       |  JOIN (SELECT vec_id - 1 AS vec_id, embedding AS e2
       |        FROM embeddings) b USING (vec_id)
       |),
       |jlr AS (
       |  SELECT (p2 / CAST(16.0 AS DOUBLE)) / d2 AS ratio
       |  FROM jlp WHERE d2 > CAST(0.0 AS DOUBLE)
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(CAST(SUM(CAST(floor(ratio * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS DOUBLE)
       |    / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS mean_ratio,
       |  MIN(ratio) AS min_ratio, MAX(ratio) AS max_ratio,
       |  CAST(COUNT(*) FILTER (WHERE ratio >= CAST(0.5 AS DOUBLE)
       |    AND ratio <= CAST(2.0 AS DOUBLE)) AS BIGINT) AS n_within,
       |  CAST(COUNT(*) FILTER (WHERE ratio >= CAST(0.5 AS DOUBLE)
       |    AND ratio <= CAST(2.0 AS DOUBLE)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS frac_within_2x
       |FROM jlr""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_covariance" -> covariance,
    "dedup_method_agreement" -> methodAgreement,
    "embed_norm_audit" -> normAudit,
    "embed_semdedup" -> semDedup,
    "embed_batch_topk" -> batchTopk,
    "embed_mrl_regret" -> mrlRegret,
    "embed_dim_stats" -> dimStats,
    "embed_pca_power" -> pcaPower,
    "embed_ivf_recall" -> ivfRecall,
    "embed_ivf_curve" -> ivfCurve,
    "embed_knn_graph" -> knnGraph,
    "embed_mutual_knn" -> mutualKnn,
    "embed_mutual_knn_autok" -> mutualKnnAutoK,
    "embed_outlier_lof" -> lofOutliers,
    "embed_knn_graph_autok" -> knnGraphAutoK,
    "embed_intrinsic_dim" -> intrinsicDim,
    "embed_ann_mrr" -> annMrr,
    "embed_ann_ndcg" -> annNdcg,
    "embed_silhouette" -> silhouette,
    "embed_hard_negatives" -> hardNegatives,
    "embed_triplets" -> triplets,
    "embed_kmeans_assign" -> kmeansAssign,
    "embed_kmeans_update" -> kmeansUpdate,
    "embed_ivf_autok" -> ivfAutoK,
    "embed_ivf_topk_indexed" -> ivfTopkIndexed,
    "embed_ivfpq_topk" -> ivfpqTopk,
    "embed_ivfpq_recall" -> ivfpqRecall,
    "embed_cosine_topk" -> cosineTopk,
    "embed_ivf_topk" -> ivfTopk,
    "embed_neardup_pairs" -> neardupPairs,
    "embed_srp_neardup" -> srpNeardup,
    "embed_pq_code" -> pqCode,
    "embed_pq_distortion" -> pqDistortion,
    "embed_pq_learned" -> pqLearned,
    "embed_binary_quant" -> binaryQuant,
    "embed_binary_recall" -> binaryRecall,
    "embed_rrf_hybrid" -> rrfHybrid,
    "embed_kcenter_coreset" -> kcenterCoreset,
    "embed_centroid_drift" -> centroidDrift,
    "embed_jl_distortion" -> jlDistortion,
    "embed_quantize" -> quantize)

  val oracles: Map[String, String] = Map(
    "embed_covariance" -> covarianceSql,
    "dedup_method_agreement" -> methodAgreementSql,
    "embed_norm_audit" -> normAuditSql,
    "embed_semdedup" -> semDedupSql,
    "embed_batch_topk" -> batchTopkSql,
    "embed_mrl_regret" -> mrlRegretSql,
    "embed_dim_stats" -> dimStatsSql,
    "embed_pca_power" -> pcaPowerSql,
    "embed_ivf_recall" -> ivfRecallSql,
    "embed_ivf_curve" -> ivfCurveSql,
    "embed_knn_graph" -> knnGraphSql,
    "embed_mutual_knn" -> mutualKnnSql,
    "embed_mutual_knn_autok" -> mutualKnnAutoKSql,
    "embed_outlier_lof" -> lofOutliersSql,
    "embed_knn_graph_autok" -> knnGraphAutoKSql,
    "embed_intrinsic_dim" -> intrinsicDimSql,
    "embed_ann_mrr" -> annMrrSql,
    "embed_ann_ndcg" -> annNdcgSql,
    "embed_silhouette" -> silhouetteSql,
    "embed_hard_negatives" -> hardNegativesSql,
    "embed_triplets" -> tripletsSql,
    "embed_kmeans_assign" -> kmeansAssignSql,
    "embed_kmeans_update" -> kmeansUpdateSql,
    "embed_ivf_autok" -> ivfAutoKSql,
    "embed_ivf_topk_indexed" -> ivfTopkIndexedSql,
    "embed_ivfpq_topk" -> ivfpqTopkSql,
    "embed_ivfpq_recall" -> ivfpqRecallSql,
    "embed_cosine_topk" -> cosineTopkSql,
    "embed_ivf_topk" -> ivfTopkSql,
    "embed_neardup_pairs" -> neardupPairsSql,
    "embed_srp_neardup" -> srpNeardupSql,
    "embed_pq_code" -> pqCodeSql,
    "embed_pq_distortion" -> pqDistortionSql,
    "embed_pq_learned" -> pqLearnedSql,
    "embed_binary_quant" -> binaryQuantSql,
    "embed_binary_recall" -> binaryRecallSql,
    "embed_rrf_hybrid" -> rrfHybridSql,
    "embed_kcenter_coreset" -> kcenterCoresetSql,
    "embed_centroid_drift" -> centroidDriftSql,
    "embed_jl_distortion" -> jlDistortionSql,
    "embed_quantize" -> quantizeSql)
}
