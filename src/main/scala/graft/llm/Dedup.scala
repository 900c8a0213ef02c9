package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Deduplication operators for LLM training-data pipelines (north star
  * `BASELINE.json:6`): exact, MinHash-LSH near-dup, and SimHash.
  *
  * Cross-engine hashing: Spark's default hash functions (murmur3/xxhash)
  * have no DuckDB twin, so every hash here is md5 — identical hex in
  * both engines — with per-signature salts ("0:"..."3:"). MinHash
  * signatures are computed *without exploding*: shingling, hashing and
  * min-reduction happen inside array expressions (`transform` +
  * `array_min`), so the signature stage is a map-only pass — no shuffle,
  * no row blow-up, which is what makes it viable at 100 TB (the only
  * shuffle is the subsequent band-bucket self-join, whose input is one
  * ~200-byte signature row per document).
  *
  * SimHash: 16-bit majority-vote fingerprint over per-word 32-bit
  * hashes, again fully inside array expressions (filter+size per bit).
  */
object Dedup extends graft.QueryModule {

  /** Exact dedup: content-hash group, keeper = min doc_id. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .groupBy(md5($"text".cast("binary")).as("content_hash"))
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"content_hash")
  }

  val exactSql: String =
    s"""SELECT md5(text) AS content_hash,
       |  MIN(doc_id) AS keeper_doc_id,
       |  COUNT(*) AS n_copies
       |FROM documents GROUP BY 1${sqlOrderBy(Seq("content_hash"))}""".stripMargin

  /** Per-document MinHash signature over word 3-gram shingles: 4 salted
    * md5 min-hashes + 2 LSH band keys (2 rows of 2).
    *
    * Formulation note: shingles are exploded and the 4 salted hashes are
    * plain md5 projections, then `min` aggregates per doc. Array-lambda
    * variants (`array_min(transform(...))`) keep everything map-side but
    * run interpreted (higher-order functions break whole-stage codegen)
    * — measured 25x slower. Here every md5 is codegen'd, and the
    * pre-shuffle partial `min` collapses each doc to one row, so the
    * shuffle carries |docs| rows, not |docs x shingles|. */
  def minhashSig(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def h(j: Int) = md5(concat(lit(s"$j:"), $"shingle").cast("binary"))
    Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      // <3-token docs have no 3-gram shingles (and hence no signature):
      // without the guard Spark's sequence(0, size-3) auto-steps -1 for
      // negative spans and emits bogus partial shingles that DuckDB's
      // range() (empty on negative span) never produces
      .filter(size($"tokens") >= 3)
      .select($"doc_id", $"lang", explode(expr(
        """transform(sequence(0, size(tokens) - 3),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))""".stripMargin))
        .as("shingle"))
      .groupBy($"doc_id", $"lang")
      .agg(min(h(0)).as("sig0"), min(h(1)).as("sig1"),
        min(h(2)).as("sig2"), min(h(3)).as("sig3"))
      .withColumn("band_a", md5(concat($"sig0", $"sig1").cast("binary")))
      .withColumn("band_b", md5(concat($"sig2", $"sig3").cast("binary")))
  }

  def minhashQuery(spark: SparkSession, dir: String): DataFrame =
    minhashSig(spark, dir).orderBy("doc_id")

  /** [[minhashSig]]'s codegen explode/groupBy formulation over an
    * ARBITRARY document frame (same salted-md5 algorithm, so signature
    * VALUES are identical to both [[minhashSig]] and the HOF form in
    * `streaming/NeardupStream.signatures`), carrying `source` through
    * the aggregate — the derivation [[lshIndexed]] hands to
    * `sources/Incremental.refresh` (a doc's signature depends on that
    * doc alone, so per-source partition-incremental recompute is
    * valid) and applies inline to the probe delta. */
  private[graft] def sigOf(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    def h(j: Int) = md5(concat(lit(s"$j:"), $"shingle").cast("binary"))
    docs
      .withColumn("tokens", split($"text", " "))
      .filter(size($"tokens") >= 3)
      .select($"doc_id", $"source", explode(expr(
        """transform(sequence(0, size(tokens) - 3),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))""".stripMargin))
        .as("shingle"))
      .groupBy($"doc_id", $"source")
      .agg(min(h(0)).as("sig0"), min(h(1)).as("sig1"),
        min(h(2)).as("sig2"), min(h(3)).as("sig3"))
      .withColumn("band_a", md5(concat($"sig0", $"sig1").cast("binary")))
      .withColumn("band_b", md5(concat($"sig2", $"sig3").cast("binary")))
  }

  /** Bump when the signature algorithm changes: invalidates the cached
    * on-disk index (the algo-version half of the cache key). */
  val SigIndexVersion: Int = 1

  /** r12 minted one index root per full-corpus fingerprint (`fp=*`);
    * under the r13 keying those are dead weight — list them for the
    * one-time sweep in [[lshIndexed]]. */
  private def legacyFpRoots(root: String): Seq[java.io.File] = {
    val d = new java.io.File(root)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.filter(f =>
      f.isDirectory && f.getName.startsWith("fp="))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** dedup_lsh_indexed: the DAILY-DELTA dedup workflow, served FROM
    * the partition-incrementally materialized signature index — the
    * text twin of `embed_ivf_topk_indexed`: new documents (the
    * MAX(source) feed, standing in for today's crawl) are probed
    * against the STANDING corpus's band index without ever
    * recomputing standing signatures. First invocation builds the
    * index through `sources/Incremental.refresh` under an
    * (algo-version, source-dir) cache root — staleness is decided by
    * refresh's OWN per-source-partition manifest fingerprints (that is
    * its whole job; r12's extra full-corpus fingerprint in the root
    * path re-rooted on ANY corpus change, so the daily delta rebuilt
    * everything — the r13 fix). Later invocations fingerprint per
    * partition (one linear scan), recompute only changed partitions,
    * and pay the probe: delta signatures ([[sigOf]], codegen'd)
    * band-joined into the index, 4-hash Jaccard estimate per
    * collision, both bands unioned + distinct (the
    * `streaming/NeardupStream.detect` contract, batch form).
    * Index == batch rebuild and one-partition refresh cost are proven
    * in IncrementalIndexSpec; the DuckDB oracle recomputes everything
    * self-contained, so hash-equality certifies the SERVED pairs.
    *
    * At 100 TB: signature maintenance cost ∝ changed source
    * partitions, never the corpus (the SCALE.md amortization story);
    * the probe shuffles |delta| signatures against band-bucketed index
    * rows — the standing corpus is touched only through the index. */
  /** Refresh-and-read the STANDING signature index — the maintained
    * artifact [[lshIndexed]] probes and (round 14) the artifact
    * [[lshPreflight]] prices from. One call = one source fingerprint
    * scan (staleness), recompute of only the changed source
    * partitions, one vacuum, one manifest-resolved read — the
    * probe-cost class, never a corpus re-shingle. */
  private[graft] def sigIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // cache root = (algo version, source dir) ONLY: per-partition
    // staleness belongs to refresh's manifest fingerprints, and a
    // corpus change must cost |changed partitions|, never a new root
    val root = new java.io.File(
      s"target/graft_sig_cache/v$SigIndexVersion/" +
        java.net.URLEncoder.encode(dir, "UTF-8")).getAbsolutePath
    // one-time sweep of r12's fingerprint-keyed roots (fp=*): they are
    // unreachable generations under the new keying — delete, don't leak
    legacyFpRoots(root).foreach(deleteRecursively)
    graft.sources.Incremental.serve(spark, docs, "source", sigOf,
      s"$root/index")
  }

  def lshIndexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val index = sigIndex(spark, dir)
    val mx = docs.agg(max($"source").as("ms"))
    val delta = docs.join(broadcast(mx), $"source" === $"ms").drop("ms")
    val s = sigOf(delta)
    val idx = index.join(broadcast(mx), $"source" =!= $"ms").select(
      $"doc_id".as("dup_of"),
      $"sig0".as("i0"), $"sig1".as("i1"),
      $"sig2".as("i2"), $"sig3".as("i3"),
      $"band_a".as("iba"), $"band_b".as("ibb"))
    val est = (($"sig0" === $"i0").cast("int") + ($"sig1" === $"i1").cast("int") +
      ($"sig2" === $"i2").cast("int") + ($"sig3" === $"i3").cast("int")) /
      lit(4).cast("double")
    def hit(band: String, ib: String) =
      s.join(idx, col(band) === col(ib))
        .select($"doc_id", $"dup_of", est.as("est_jaccard"))
    hit("band_a", "iba").union(hit("band_b", "ibb"))
      .distinct()
      .orderBy($"doc_id", $"dup_of")
  }

  /** dedup_routed_gate: the round-14 ROUTED ingest composition as an
    * oracle-gated batch query — the batch twin of
    * [[graft.streaming.RoutedDedupStream.textGate]]. The STANDING
    * index (everything before the MAX(source) delta, served from
    * [[sigIndex]]) is priced with the exact `dedup_route_audit` budget
    * rule; the delta then probes down the routed path:
    * `pairwise_banding` → the stateless per-band collision probe
    * (est_jaccard + which band fired), `coarse_contraction` → the
    * exact-signature contraction probe (one verdict per arrival,
    * never a bucket explosion). The verdict rides every output row so
    * downstream consumers can tell which contract produced it.
    *
    * Exactness: the route is the DECIMAL(38,0)/HUGEINT integer
    * comparison of the audit; the oracle recomputes BOTH legs
    * self-contained and filters each by its own route scalar, so
    * hash-equality certifies route AND verdicts whichever way the
    * corpus routes (the fixture routes pairwise; the coarse leg is
    * additionally spec-certified on a degenerate corpus in
    * RoutedDedupStreamSpec).
    *
    * Scale posture: pricing reads band keys of the maintained index
    * (|bands|-row aggregate); the probe shuffles |delta| signatures
    * against band-bucketed (or signature-contracted) index rows. */
  def routedGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    // one materialization of the (small, |corpus|-signatures) index
    // read: the route decision is an EAGER aggregate and the probe is a
    // second consumer — without the checkpoint each action re-resolves
    // the manifest and re-reads the index parquet (measured 8-9 s vs
    // ~3 s at sf0.1)
    // r15: lazy — the route-decision aggregate materializes it.
    val index = sigIndex(spark, dir).localCheckpoint(false)
    val mx = docs.agg(max($"source").as("ms"))
    val standing = index.join(broadcast(mx), $"source" =!= $"ms").drop("ms")
    val delta = docs.join(broadcast(mx), $"source" === $"ms").drop("ms")
    // batch caller ⇒ codegen'd exploded signature form (bit-identical
    // to the stream's HOF form; NeardupStreamSpec), dropping `source`
    // to the probe schema detect expects
    val (route, hits) = graft.streaming.RoutedDedupStream.textGate(
      delta, standing, d => sigOf(d).drop("source"))
    hits.select($"doc_id", $"dup_of", $"est_jaccard", $"band")
      .distinct()
      .withColumn("route", lit(route))
      .orderBy($"doc_id", $"dup_of", $"band")
  }

  lazy val routedGateSql: String = {
    val budget = RoutePairBudgetPerKey
    s"""WITH $sigSqlCte,
       |rgmx AS (SELECT MAX(source) AS ms FROM documents),
       |rgsg AS (
       |  SELECT s.doc_id, d.source, s.sig0, s.sig1, s.sig2, s.sig3,
       |    s.band_a, s.band_b
       |  FROM sig s JOIN documents d USING (doc_id)
       |),
       |rgd AS (SELECT g.* FROM rgsg g, rgmx WHERE g.source = ms),
       |rgi AS (SELECT g.* FROM rgsg g, rgmx WHERE g.source <> ms),
       |rghist AS (
       |  SELECT band, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT 'band_a' AS band, band_a AS v FROM rgi
       |    UNION ALL SELECT 'band_b', band_b FROM rgi
       |  ) GROUP BY band, v
       |),
       |rgroute AS (
       |  SELECT CASE WHEN
       |      SUM(CAST(cnt AS HUGEINT) * (cnt - 1)) // 2
       |        <= CAST($budget AS HUGEINT) * (SELECT COUNT(*) FROM rgi)
       |    THEN 'pairwise_banding' ELSE 'coarse_contraction' END AS route
       |  FROM rghist
       |),
       |rgpair AS (
       |  SELECT DISTINCT n.doc_id, i.doc_id AS dup_of,
       |    (CAST(n.sig0 = i.sig0 AS INTEGER) + CAST(n.sig1 = i.sig1 AS INTEGER)
       |     + CAST(n.sig2 = i.sig2 AS INTEGER)
       |     + CAST(n.sig3 = i.sig3 AS INTEGER)) / CAST(4 AS DOUBLE)
       |      AS est_jaccard,
       |    'band_a' AS band
       |  FROM rgd n JOIN rgi i
       |    ON n.band_a = i.band_a AND n.doc_id <> i.doc_id
       |  WHERE (SELECT route FROM rgroute) = 'pairwise_banding'
       |  UNION ALL
       |  SELECT DISTINCT n.doc_id, i.doc_id,
       |    (CAST(n.sig0 = i.sig0 AS INTEGER) + CAST(n.sig1 = i.sig1 AS INTEGER)
       |     + CAST(n.sig2 = i.sig2 AS INTEGER)
       |     + CAST(n.sig3 = i.sig3 AS INTEGER)) / CAST(4 AS DOUBLE),
       |    'band_b'
       |  FROM rgd n JOIN rgi i
       |    ON n.band_b = i.band_b AND n.doc_id <> i.doc_id
       |  WHERE (SELECT route FROM rgroute) = 'pairwise_banding'
       |),
       |rgreps AS (
       |  SELECT sig0, sig1, sig2, sig3, MIN(doc_id) AS dup_of
       |  FROM rgi GROUP BY sig0, sig1, sig2, sig3
       |),
       |rgcoarse AS (
       |  SELECT n.doc_id, r.dup_of, CAST(1 AS DOUBLE) AS est_jaccard,
       |    'exact_sig' AS band
       |  FROM rgd n JOIN rgreps r
       |    ON n.sig0 = r.sig0 AND n.sig1 = r.sig1
       |      AND n.sig2 = r.sig2 AND n.sig3 = r.sig3
       |      AND n.doc_id <> r.dup_of
       |  WHERE (SELECT route FROM rgroute) = 'coarse_contraction'
       |)
       |SELECT h.*, (SELECT route FROM rgroute) AS route
       |FROM (SELECT * FROM rgpair UNION ALL SELECT * FROM rgcoarse) h
       |${sqlOrderBy(Seq("doc_id", "dup_of", "band")).trim}""".stripMargin
  }

  // lazy: sigSqlCte is declared later in the file (initialization order)
  lazy val lshIndexedSql: String =
    s"""WITH $sigSqlCte,
       |lximx AS (SELECT MAX(source) AS ms FROM documents),
       |lxisg AS (
       |  SELECT s.doc_id, d.source, s.sig0, s.sig1, s.sig2, s.sig3,
       |    s.band_a, s.band_b
       |  FROM sig s JOIN documents d USING (doc_id)
       |),
       |lxid AS (SELECT g.* FROM lxisg g, lximx WHERE g.source = ms),
       |lxii AS (SELECT g.* FROM lxisg g, lximx WHERE g.source <> ms),
       |lxip AS (
       |  SELECT n.doc_id, i.doc_id AS dup_of,
       |    (CAST(n.sig0 = i.sig0 AS INTEGER) + CAST(n.sig1 = i.sig1 AS INTEGER)
       |     + CAST(n.sig2 = i.sig2 AS INTEGER)
       |     + CAST(n.sig3 = i.sig3 AS INTEGER)) / CAST(4 AS DOUBLE)
       |      AS est_jaccard
       |  FROM lxid n JOIN lxii i ON n.band_a = i.band_a
       |  UNION
       |  SELECT n.doc_id, i.doc_id,
       |    (CAST(n.sig0 = i.sig0 AS INTEGER) + CAST(n.sig1 = i.sig1 AS INTEGER)
       |     + CAST(n.sig2 = i.sig2 AS INTEGER)
       |     + CAST(n.sig3 = i.sig3 AS INTEGER)) / CAST(4 AS DOUBLE)
       |  FROM lxid n JOIN lxii i ON n.band_b = i.band_b
       |)
       |SELECT * FROM lxip${sqlOrderBy(Seq("doc_id", "dup_of"))}""".stripMargin

  /** DuckDB twin of [[minhashSig]] as a CTE named `sig`. */
  private[llm] val sigSqlCte: String = {
    def sig(j: Int) =
      s"list_min(list_transform(shingles, s -> md5('$j:' || s)))"
    s"""tok AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS tokens FROM documents
       |),
       |sh AS (
       |  SELECT doc_id, lang,
       |    list_transform(range(0, len(tokens) - 2),
       |      i -> tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]) AS shingles
       |  FROM tok WHERE len(tokens) >= 3
       |),
       |sig0 AS (
       |  SELECT doc_id, lang,
       |    ${sig(0)} AS sig0, ${sig(1)} AS sig1,
       |    ${sig(2)} AS sig2, ${sig(3)} AS sig3
       |  FROM sh
       |),
       |sig AS (
       |  SELECT s.*, md5(sig0 || sig1) AS band_a, md5(sig2 || sig3) AS band_b
       |  FROM sig0 s
       |)""".stripMargin
  }

  val minhashSqlQuery: String =
    s"WITH $sigSqlCte SELECT * FROM sig${sqlOrderBy(Seq("doc_id"))}"

  /** Bare candidate-pair CTE (`cand(d1, d2)`) over `sig`, for oracles
    * that consume the pair graph without the Jaccard estimate. */
  private[llm] val candSqlCte: String =
    s"""cand AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM sig a JOIN sig b ON a.band_a = b.band_a AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id
       |  FROM sig a JOIN sig b ON a.band_b = b.band_b AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** Candidate near-duplicate pairs: docs sharing an LSH band bucket,
    * with the 4-hash Jaccard estimate. Two equi-joins (one per band)
    * unioned — never an OR-join (which would degrade to nested-loop).
    * Unsorted form, reused by [[Cluster]] (a sort mid-pipeline would be
    * wasted work there). */
  private[llm] def candidatePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15 NOTE (2nd session): eager localCheckpoint instead of cache()
    // was tried and REVERTED (paired dev floors: neardup_pairs
    // 0.69→0.91, clusters 1.64→2.13, adamic_adar 1.09→1.22) — the
    // extra blocking materialization job costs more than the band
    // joins' concurrent first-computation of the cached blocks saves.
    val s = minhashSig(spark, dir).cache()
    val a = s.select($"doc_id".as("d1"), $"sig0".as("a0"), $"sig1".as("a1"),
      $"sig2".as("a2"), $"sig3".as("a3"), $"band_a".as("ba"), $"band_b".as("bb"))
    val b = s.select($"doc_id".as("d2"), $"sig0".as("b0"), $"sig1".as("b1"),
      $"sig2".as("b2"), $"sig3".as("b3"), $"band_a".as("bc"), $"band_b".as("bd"))
    val est = (($"a0" === $"b0").cast("int") + ($"a1" === $"b1").cast("int") +
      ($"a2" === $"b2").cast("int") + ($"a3" === $"b3").cast("int")) /
      lit(4).cast("double")
    val p1 = a.join(b, $"ba" === $"bc" && $"d1" < $"d2")
      .select($"d1", $"d2", est.as("est_jaccard"))
    val p2 = a.join(b, $"bb" === $"bd" && $"d1" < $"d2")
      .select($"d1", $"d2", est.as("est_jaccard"))
    p1.union(p2).distinct()
  }

  def neardupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    candidatePairs(spark, dir).orderBy($"d1", $"d2")
  }

  val neardupPairsSql: String =
    s"""WITH $sigSqlCte,
       |p AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    (CAST(a.sig0 = b.sig0 AS INTEGER) + CAST(a.sig1 = b.sig1 AS INTEGER)
       |     + CAST(a.sig2 = b.sig2 AS INTEGER) + CAST(a.sig3 = b.sig3 AS INTEGER))
       |      / CAST(4 AS DOUBLE) AS est_jaccard
       |  FROM sig a JOIN sig b ON a.band_a = b.band_a AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    (CAST(a.sig0 = b.sig0 AS INTEGER) + CAST(a.sig1 = b.sig1 AS INTEGER)
       |     + CAST(a.sig2 = b.sig2 AS INTEGER) + CAST(a.sig3 = b.sig3 AS INTEGER))
       |      / CAST(4 AS DOUBLE) AS est_jaccard
       |  FROM sig a JOIN sig b ON a.band_b = b.band_b AND a.doc_id < b.doc_id
       |)
       |SELECT * FROM p${sqlOrderBy(Seq("d1", "d2"))}""".stripMargin

  /** Chunk-level exact dedup (the C4/RefinedWeb line-dedup pattern at
    * 50-token granularity): documents split into DISJOINT 50-token
    * chunks, chunks hash-grouped corpus-wide, and every chunk occurring
    * more than once reports its occurrence count, spanning-document
    * count, and lexicographically-first (doc, chunk) keeper — the
    * removal list a boilerplate scrubber consumes. Catches the
    * template/footer/navigation duplication WHOLE-document dedup never
    * sees (two different pages sharing one boilerplate block) at a cost
    * [[dedup_span_cover]]'s k-gram machinery doesn't pay: one explode,
    * one hash groupBy — the shuffle carries (hash, doc, chunk) triples.
    *
    * Scale posture: map-side chunking, one partial-agg exchange on the
    * chunk hash, HAVING n>1 prunes the unique mass before any further
    * work; at 100 TB this is the cheapest corpus-wide dedup signal
    * after whole-doc hashing. */
  def chunkExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 50
    val ch = Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks", explode(sequence(lit(0),
        greatest(lit(0), floor((size($"toks") - 1).cast("double") / W)
          .cast("int")))).as("cid"))
      .select($"doc_id", $"cid",
        md5(expr(s"concat_ws(' ', slice(toks, 1 + cid * $W, $W))")
          .cast("binary")).as("chunk_hash"))
    ch.groupBy($"chunk_hash")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct($"doc_id").as("n_docs"),
        min(struct($"doc_id", $"cid")).as("k"))
      .filter($"n_occurrences" > 1)
      .select($"chunk_hash", $"n_occurrences", $"n_docs",
        $"k.doc_id".as("keeper_doc_id"), $"k.cid".as("keeper_chunk_id"))
      .orderBy($"chunk_hash")
  }

  val chunkExactSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |),
       |c AS (
       |  SELECT doc_id, toks,
       |    unnest(range(0, 1 + GREATEST(CAST(0 AS BIGINT),
       |      CAST(floor(CAST(len(toks) - 1 AS DOUBLE) / 50) AS BIGINT)))) AS cid
       |  FROM tok
       |),
       |ch AS (
       |  SELECT doc_id, CAST(cid AS INTEGER) AS cid,
       |    md5(array_to_string(toks[(1 + cid * 50):(cid * 50 + 50)], ' '))
       |      AS chunk_hash
       |  FROM c
       |),
       |g AS (
       |  SELECT chunk_hash, COUNT(*) AS n_occurrences,
       |    COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS kd
       |  FROM ch GROUP BY 1 HAVING COUNT(*) > 1
       |)
       |SELECT g.chunk_hash, g.n_occurrences, g.n_docs,
       |  g.kd AS keeper_doc_id, CAST(MIN(ch.cid) AS INTEGER) AS keeper_chunk_id
       |FROM g JOIN ch ON ch.chunk_hash = g.chunk_hash AND ch.doc_id = g.kd
       |GROUP BY g.chunk_hash, g.n_occurrences, g.n_docs, g.kd
       |${sqlOrderBy(Seq("g.chunk_hash")).trim}""".stripMargin

  /** One-Permutation-Hashing MinHash (Li/Owen/Zhang, NeurIPS 2012): the
    * 100 TB cost fix for signature generation. Classic k-hash MinHash
    * ([[minhashSig]]) computes k salted hashes PER SHINGLE (k× the hash
    * bandwidth of the scan); OPH hashes each shingle ONCE, partitions
    * the 48-bit hash space into k=8 buckets by h mod 8, and takes the
    * min within each bucket — one md5 per shingle regardless of k, the
    * dominant-cost term at corpus scale. Empty buckets are densified by
    * circular borrowing from the next non-empty bucket (rotation
    * densification), keeping the per-bucket collision probability an
    * unbiased Jaccard estimator. Two 4-bucket LSH band keys are derived
    * exactly like the classic path, so the downstream band-bucket join
    * is IDENTICAL plan shape — OPH swaps only the map-side signature
    * cost.
    *
    * Formulation mirrors [[minhashSig]]'s lesson: shingles explode and
    * every hash is a codegen'd md5 projection (array-lambda HOFs run
    * interpreted, measured 25× slower); the 8 conditional mins
    * partial-aggregate map-side, so the shuffle carries one row per doc.
    * Densification is a bounded coalesce chain on the 8 aggregated
    * columns — driver-free, branch-free. */
  private[llm] def ophSig(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 8
    val ex = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .filter(size($"tokens") >= 3)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(tokens) - 3),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))""".stripMargin))
        .as("shingle"))
      .withColumn("h", expr(
        "cast(conv(substr(md5(cast(shingle as binary)), 1, 12), 16, 10) as bigint)"))
    val mins = (0 until K).map(j => min(when($"h" % K === j, $"h")).as(s"m$j"))
    val sig = ex.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
    val dense = (0 until K).map { j =>
      coalesce((0 until K).map(t => col(s"m${(j + t) % K}")): _*).as(s"oph$j")
    }
    sig.select(($"doc_id" +: dense): _*)
      .withColumn("band_a", md5(concat_ws(":",
        (0 until 4).map(j => col(s"oph$j")): _*).cast("binary")))
      .withColumn("band_b", md5(concat_ws(":",
        (4 until 8).map(j => col(s"oph$j")): _*).cast("binary")))
  }

  def minhashOph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ophSig(spark, dir).orderBy($"doc_id")
  }

  /** OPH CTE chain ending in `obands(doc_id, oph0..7, band_a, band_b)`. */
  private[llm] val ophSqlCtes: String = {
    val K = 8
    val mins = (0 until K)
      .map(j => s"    MIN(h) FILTER (h % $K = $j) AS m$j").mkString(",\n")
    val dense = (0 until K).map { j =>
      val chain = (0 until K).map(t => s"m${(j + t) % K}").mkString(", ")
      s"    COALESCE($chain) AS oph$j"
    }.mkString(",\n")
    s"""tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
       |),
       |sh AS (
       |  SELECT doc_id,
       |    list_transform(range(0, len(tokens) - 2),
       |      i -> tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]) AS shingles
       |  FROM tok WHERE len(tokens) >= 3
       |),
       |exs AS (SELECT doc_id, unnest(shingles) AS sgl FROM sh),
       |ex AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(sgl), 1, 12) AS BIGINT) AS h
       |  FROM exs
       |),
       |sig AS (
       |  SELECT doc_id,
       |$mins
       |  FROM ex GROUP BY doc_id
       |),
       |dense AS (
       |  SELECT doc_id,
       |$dense
       |  FROM sig
       |),
       |obands AS (
       |  SELECT doc_id, ${(0 until K).map(j => s"oph$j").mkString(", ")},
       |    md5(concat_ws(':', oph0, oph1, oph2, oph3)) AS band_a,
       |    md5(concat_ws(':', oph4, oph5, oph6, oph7)) AS band_b
       |  FROM dense
       |)""".stripMargin
  }

  val minhashOphSql: String =
    s"WITH $ophSqlCtes SELECT * FROM obands${sqlOrderBy(Seq("doc_id"))}"

  /** OPH recall against the exact-Jaccard truth set — the quality half
    * of the OPH story ([[minhashOph]] is the cost half): candidates
    * from the two OPH band buckets, recall measured against the
    * [[ppjoin]] exact pairs (Jaccard ≥ 0.9), mirroring [[lshRecall]]'s
    * contract for the classic signatures so the two schemes are
    * directly comparable inside one registry. Candidate generation is
    * the same two equi-joins + union — never an OR-join.
    *
    * Scale posture: identical to lshRecall — candidate-bounded
    * everywhere; the truth side is the prefix-filtered PPJoin, the
    * candidate side is Σ|bucket|² band work. */
  def ophRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = ppjoin(spark, dir).select($"d1", $"d2")
    // r15: the OPH signature frame feeds both sides of BOTH band joins
    // (4 references); lazy localCheckpoint so the explode+md5+agg chain
    // builds once (the candidatePairs cache discipline).
    val s = ophSig(spark, dir).localCheckpoint(false)
    val a = s.select($"doc_id".as("d1"), $"band_a".as("ba"), $"band_b".as("bb"))
    val b = s.select($"doc_id".as("d2"), $"band_a".as("bc"), $"band_b".as("bd"))
    val cand = a.join(b, $"ba" === $"bc" && $"d1" < $"d2").select($"d1", $"d2")
      .union(a.join(b, $"bb" === $"bd" && $"d1" < $"d2").select($"d1", $"d2"))
      .distinct()
      .withColumn("hit", lit(1))
    exact.join(cand, Seq("d1", "d2"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        count($"hit").as("n_recalled"))
      .select($"n_true_pairs", $"n_recalled",
        graft.Det.nullRatio($"n_recalled".cast("double"),
          $"n_true_pairs".cast("double")).as("oph_recall"))
  }

  val ophRecallSql: String =
    s"""WITH $ophSqlCtes,
       |ocand AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM obands a JOIN obands b
       |    ON a.band_a = b.band_a AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id
       |  FROM obands a JOIN obands b
       |    ON a.band_b = b.band_b AND a.doc_id < b.doc_id
       |),
       |tok0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
       |),
       |docsh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(0, len(tokens) - 2),
       |      i -> tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]))
       |      AS shingle
       |  FROM tok0 WHERE len(tokens) >= 3
       |),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM docsh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
       |  FROM docsh a JOIN docsh b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |exact AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i
       |  JOIN cnt c1 ON c1.doc_id = i.d1
       |  JOIN cnt c2 ON c2.doc_id = i.d2
       |  WHERE i.i * 10 >= (c1.n + c2.n - i.i) * 9
       |)
       |SELECT COUNT(*) AS n_true_pairs,
       |  CAST(SUM(CASE WHEN ocand.d1 IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_recalled,
       |  ${graft.Det.sqlNullRatio(
            "CAST(SUM(CASE WHEN ocand.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)",
            "CAST(COUNT(*) AS DOUBLE)")} AS oph_recall
       |FROM exact
       |LEFT JOIN ocand ON exact.d1 = ocand.d1 AND exact.d2 = ocand.d2""".stripMargin

  /** 16-bit SimHash fingerprint: per-word 32-bit hash (first 8 md5 hex
    * chars), majority vote per bit position. */
  private[llm] def simhashCore(spark: SparkSession, dir: String): DataFrame = {
    val bits = (0 until 16).map { b =>
      s"""(CASE WHEN 2 * size(filter(hs, x -> (shiftright(x, $b) & 1) = 1)) > size(hs)
         | THEN ${1 << b} ELSE 0 END)""".stripMargin.replace("\n", "")
    }.mkString(" + ")
    Tables(spark, dir, "documents")
      .withColumn("hs", expr(
        """transform(split(text, ' '),
          |          w -> cast(conv(substr(md5(cast(w as binary)), 1, 8), 16, 10) as bigint))""".stripMargin))
      .selectExpr("doc_id", "size(hs) AS n_words",
        s"CAST($bits AS BIGINT) AS simhash16")
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashCore(spark, dir).orderBy("doc_id")

  val simhashSql: String = {
    val bits = (0 until 16).map { b =>
      s"""(CASE WHEN 2 * CAST(len(list_filter(hs, x -> ((x >> $b) & 1) = 1)) AS INTEGER) > CAST(len(hs) AS INTEGER)
         | THEN ${1 << b} ELSE 0 END)""".stripMargin.replace("\n", "")
    }.mkString(" + ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    list_transform(string_split(text, ' '),
       |      w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)) AS hs
       |  FROM documents
       |)
       |SELECT doc_id, CAST(len(hs) AS INTEGER) AS n_words,
       |  CAST($bits AS BIGINT) AS simhash16
       |FROM h${sqlOrderBy(Seq("doc_id"))}""".stripMargin
  }

  /** SimHash near-dup pairs within Hamming distance 1, found by BANDED
    * bucketing, never all-pairs: the 16-bit fingerprint splits into 4
    * nibbles; by pigeonhole, any pair within distance 1 agrees on at
    * least 3 nibble bands, so a 4-way equi-join on (band, nibble)
    * finds EVERY qualifying pair (exact-complete, not probabilistic —
    * unlike MinHash banding there is no recall loss to tune). The
    * re-applied `bit_count(xor)` filter removes band-collision false
    * positives. The DuckDB oracle is the BRUTE-FORCE quadratic form —
    * an independent algorithm, so the engines cross-check the banding
    * argument itself, not just arithmetic. Scale: candidates ∝
    * Σ|bucket|² over 4×16 buckets, vs |corpus|² for the naive join the
    * oracle runs. Honest harness note: 16 bits over 500 random docs is
    * birthday-bound territory (~2k expected chance collisions), so the
    * pair SET here is mostly fingerprint noise — production simhash is
    * 64-bit/8-band, same plan shape, where a distance-1 pair is
    * overwhelming evidence of near-duplication. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = simhashCore(spark, dir).select($"doc_id", $"simhash16")
    val banded = sh.select($"doc_id", $"simhash16",
      explode(expr("array(0, 1, 2, 3)")).as("band"))
      .withColumn("nibble",
        expr("shiftright(simhash16, band * 4) & 15"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.nibble" === $"b.nibble" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        expr("bit_count(a.simhash16 ^ b.simhash16)").as("hamming"))
      .distinct()
    pairs.filter($"hamming" <= 1).orderBy($"d1", $"d2")
  }

  val simhashPairsSql: String = {
    // brute-force oracle over the same simhash16 CTE body
    val shBody = simhashSql.stripSuffix(sqlOrderBy(Seq("doc_id")))
    s"""WITH sh AS ($shBody)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 1
       |${sqlOrderBy(Seq("d1", "d2")).trim}""".stripMargin
  }

  /** Exact word-3-gram Jaccard for the LSH candidate pairs: the
    * verification stage of the MinHash funnel. Candidate-driven — the
    * shingle-level intersection join is restricted to candidate docs
    * FIRST, so its size is |pairs| x |shingles|, never the corpus-wide
    * sum of squared shingle frequencies. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pairOverlap(spark, dir)
      .select($"d1", $"d2", $"est_jaccard", $"n_common",
        ($"n_common" / ($"n_sh1" + $"n_sh2" - $"n_common").cast("double"))
          .as("exact_jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** Shared overlap frame for [[ngramJaccard]] and [[containmentPairs]]:
    * candidate pairs with exact shingle intersection size and both
    * docs' shingle counts. */
  private def pairOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT cached despite 3 consumers (both join sides + counts):
    // measured no win at sf0.1 (the join tree dominates), and pinning a
    // |docs x shingles|-sized intermediate is exactly what you can't
    // afford at 100 TB
    val docs = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .filter(size($"tokens") >= 3) // see minhashSig: no shingles under 3 tokens
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(tokens) - 3),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))""".stripMargin))
        .as("shingle"))
      .distinct()
    val counts = docs.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = neardupPairs(spark, dir)
      .select($"d1", $"d2", $"est_jaccard")
    val shA = docs.select($"doc_id".as("d1"), $"shingle")
    val shB = docs.select($"doc_id".as("d2b"), $"shingle".as("shingle_b"))
    val inter = pairs
      .join(shA, "d1")
      .join(shB, $"d2" === $"d2b" && $"shingle" === $"shingle_b")
      .groupBy($"d1", $"d2")
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(inter, Seq("d1", "d2"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(counts.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("n_sh", "n_sh1"), "d1")
      .join(counts.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("n_sh", "n_sh2"), "d2")
      .select($"d1", $"d2", $"est_jaccard", $"n_common", $"n_sh1", $"n_sh2")
  }

  /** Exact n-gram CONTAINMENT for the LSH candidate pairs: |A∩B| over
    * min(|A|,|B|) — the asymmetric companion to [[ngramJaccard]] that
    * catches quote-inclusion and superset duplication (a page embedding
    * a full copy of a shorter page scores near 1.0 here while its
    * Jaccard is diluted by the extra content). Standard second verifier
    * in web-corpus dedup funnels. Same candidate-driven cost shape as
    * the Jaccard stage — the pair frame is LSH-bounded, never all-pairs. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pairOverlap(spark, dir)
      .select($"d1", $"d2", $"n_common",
        least($"n_sh1", $"n_sh2").as("n_min"),
        ($"n_common" / least($"n_sh1", $"n_sh2").cast("double"))
          .as("containment"))
      .withColumn("is_superdup", $"containment" >= 0.9)
      .orderBy($"d1", $"d2")
  }

  /** CTE body shared by [[ngramJaccardSql]] and [[containmentPairsSql]]:
    * candidate pairs, per-doc shingle counts, intersection sizes. */
  private val pairOverlapCtes: String =
    s"""$sigSqlCte,
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    (CAST(a.sig0 = b.sig0 AS INTEGER) + CAST(a.sig1 = b.sig1 AS INTEGER)
       |     + CAST(a.sig2 = b.sig2 AS INTEGER) + CAST(a.sig3 = b.sig3 AS INTEGER))
       |      / CAST(4 AS DOUBLE) AS est_jaccard
       |  FROM sig a JOIN sig b ON a.band_a = b.band_a AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id,
       |    (CAST(a.sig0 = b.sig0 AS INTEGER) + CAST(a.sig1 = b.sig1 AS INTEGER)
       |     + CAST(a.sig2 = b.sig2 AS INTEGER) + CAST(a.sig3 = b.sig3 AS INTEGER))
       |      / CAST(4 AS DOUBLE)
       |  FROM sig a JOIN sig b ON a.band_b = b.band_b AND a.doc_id < b.doc_id
       |),
       |docsh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM docsh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.d1, p.d2, COUNT(*) AS n_common
       |  FROM pairs p
       |  JOIN docsh a ON a.doc_id = p.d1
       |  JOIN docsh b ON b.doc_id = p.d2 AND b.shingle = a.shingle
       |  GROUP BY p.d1, p.d2
       |)""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $pairOverlapCtes
       |SELECT p.d1, p.d2, p.est_jaccard,
       |  COALESCE(i.n_common, 0) AS n_common,
       |  COALESCE(i.n_common, 0)
       |    / CAST(c1.n_sh + c2.n_sh - COALESCE(i.n_common, 0) AS DOUBLE) AS exact_jaccard
       |FROM pairs p
       |LEFT JOIN inter i ON p.d1 = i.d1 AND p.d2 = i.d2
       |JOIN cnt c1 ON c1.doc_id = p.d1
       |JOIN cnt c2 ON c2.doc_id = p.d2
       |ORDER BY p.d1 NULLS FIRST, p.d2 NULLS FIRST""".stripMargin

  val containmentPairsSql: String =
    s"""WITH $pairOverlapCtes
       |SELECT p.d1, p.d2,
       |  COALESCE(i.n_common, 0) AS n_common,
       |  least(c1.n_sh, c2.n_sh) AS n_min,
       |  COALESCE(i.n_common, 0)
       |    / CAST(least(c1.n_sh, c2.n_sh) AS DOUBLE) AS containment,
       |  COALESCE(i.n_common, 0)
       |    / CAST(least(c1.n_sh, c2.n_sh) AS DOUBLE) >= 0.9 AS is_superdup
       |FROM pairs p
       |LEFT JOIN inter i ON p.d1 = i.d1 AND p.d2 = i.d2
       |JOIN cnt c1 ON c1.doc_id = p.d1
       |JOIN cnt c2 ON c2.doc_id = p.d2
       |ORDER BY p.d1 NULLS FIRST, p.d2 NULLS FIRST""".stripMargin

  /** Benchmark decontamination: flag corpus docs sharing >= 2 word
    * 3-gram shingles with any "eval set" doc (here: doc_id < 5 stands
    * in for the benchmark). The real-world shape for catching test-set
    * leakage in training data.
    *
    * Scale posture: the eval side is benchmark-sized (thousands of
    * docs, not billions) — its distinct shingle dictionary is BROADCAST,
    * so the corpus side stays a map + partial-agg pass with no corpus
    * shuffle on the raw shingle stream; only (doc, eval_doc) overlap
    * counts (bounded by hits, not corpus size) reach the exchange. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def shingles(df: DataFrame) = df
      .withColumn("tokens", split($"text", " "))
      .filter(size($"tokens") >= 3) // see minhashSig: no shingles under 3 tokens
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(tokens) - 3),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))""".stripMargin))
        .as("shingle"))
      .distinct()
    // one shingle+distinct subplan, filtered into both branches:
    // identical subtrees -> ReuseExchange collapses the scan/explode/
    // distinct to a single execution (vs 2x when each side shingles
    // its own filtered scan — measured ~2x cold)
    val sh = shingles(Tables(spark, dir, "documents"))
    val eval = sh.filter($"doc_id" < 5)
      .withColumnRenamed("doc_id", "eval_doc")
    val corpus = sh.filter($"doc_id" >= 5)
    corpus.join(broadcast(eval), "shingle")
      .groupBy($"doc_id", $"eval_doc")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 2)
      .orderBy($"doc_id", $"eval_doc")
  }

  val contaminationSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(0, len(tokens) - 2),
       |      i -> tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3])) AS shingle
       |  FROM tok WHERE len(tokens) >= 3
       |)
       |SELECT c.doc_id, e.doc_id AS eval_doc, COUNT(*) AS n_shared
       |FROM sh c JOIN sh e ON c.shingle = e.shingle
       |WHERE c.doc_id >= 5 AND e.doc_id < 5
       |GROUP BY c.doc_id, e.doc_id
       |HAVING COUNT(*) >= 2
       |ORDER BY c.doc_id NULLS FIRST, eval_doc NULLS FIRST""".stripMargin

  /** Edit-distance verification of the LSH candidate pairs: exact
    * Levenshtein over an ascii-normalized 80-char prefix of each
    * document, with a length-normalized similarity. The shingle-set
    * estimators (Jaccard, SimHash) miss small in-place edits that
    * character-level distance catches — this is the precision backstop
    * of the dedup funnel, and like [[ngramJaccard]] it is CANDIDATE-
    * DRIVEN: the O(len²) DP runs only on LSH survivors, never all
    * pairs. Normalization pins the text to [a-z0-9 ] so both engines
    * measure the same code-point sequence (DuckDB's levenshtein and
    * Spark's agree on ascii; multibyte handling is engine-specific).
    * Scale: two co-partitioned joins on doc_id bring the prefixes to
    * the pair rows; the DP cost is bounded by the fixed prefix. */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val norm = Tables(spark, dir, "documents").select($"doc_id",
      substring(regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), 1, 80)
        .as("norm"))
    candidatePairs(spark, dir).select($"d1", $"d2")
      .join(norm.select($"doc_id".as("d1"), $"norm".as("n1")), "d1")
      .join(norm.select($"doc_id".as("d2"), $"norm".as("n2")), "d2")
      .select($"d1", $"d2", levenshtein($"n1", $"n2").as("editdist"),
        (lit(1.0) - levenshtein($"n1", $"n2").cast("double") /
          greatest(length($"n1"), length($"n2"), lit(1)).cast("double"))
          .as("sim"))
      .orderBy($"d1", $"d2")
  }

  val editDistanceSql: String =
    s"""WITH $sigSqlCte,
       |$candSqlCte,
       |norm AS (
       |  SELECT doc_id,
       |    substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, 80)
       |      AS norm
       |  FROM documents
       |)
       |SELECT d1, d2,
       |  CAST(levenshtein(a.norm, b.norm) AS INTEGER) AS editdist,
       |  1.0 - CAST(levenshtein(a.norm, b.norm) AS DOUBLE)
       |      / CAST(GREATEST(length(a.norm), length(b.norm), 1) AS DOUBLE)
       |    AS sim
       |FROM cand
       |JOIN norm a ON a.doc_id = d1
       |JOIN norm b ON b.doc_id = d2${sqlOrderBy(Seq("d1", "d2"))}""".stripMargin

  /** Per-source n-gram NOVELTY — which source actually contributes new
    * content vs re-serving what an earlier document already said: each
    * distinct 3-gram shingle is credited to its FIRST owner (minimum
    * doc_id — the ingest-order proxy), and a source's novelty ratio is
    * first-owned shingle slots over total distinct shingle slots. The
    * dedup-adjacent curation metric that ranks sources for acquisition:
    * a low ratio means the source mostly duplicates the existing
    * corpus even when no whole document is a near-dup. Exact BIGINT
    * counts; one IEEE division per source.
    *
    * Scale posture: shingles explode map-side (same narrow shape as
    * [[minhashSig]]); the first-owner reduction is one shingle-keyed
    * partial-min; the credit join is shingle-keyed; per-source rollup
    * is |sources| rows. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .filter(size($"tokens") >= 3) // see minhashSig: no shingles under 3 tokens
      .select($"doc_id", $"source", explode(expr(
        """transform(sequence(0, size(tokens) - 3),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))""".stripMargin))
        .as("shingle"))
      .distinct()
    val firstOwner = docs.groupBy($"shingle")
      .agg(min($"doc_id").as("first_doc"))
    docs.join(firstOwner, Seq("shingle"))
      .groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_shingle_slots"),
        sum(($"doc_id" === $"first_doc").cast("long")).as("n_first_owned"))
      .select($"source", $"n_docs", $"n_shingle_slots", $"n_first_owned",
        ($"n_first_owned".cast("double") / $"n_shingle_slots".cast("double"))
          .as("novelty_ratio"))
      .orderBy($"source")
  }

  val noveltySql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS tokens
       |  FROM documents
       |),
       |docsh AS (
       |  SELECT DISTINCT doc_id, source,
       |    unnest(list_transform(range(0, len(tokens) - 2),
       |      i -> tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]))
       |      AS shingle
       |  FROM tok WHERE len(tokens) >= 3
       |),
       |fo AS (SELECT shingle, MIN(doc_id) AS first_doc FROM docsh GROUP BY 1)
       |SELECT source,
       |  COUNT(DISTINCT d.doc_id) AS n_docs,
       |  COUNT(*) AS n_shingle_slots,
       |  CAST(SUM(CASE WHEN d.doc_id = fo.first_doc THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_first_owned,
       |  CAST(SUM(CASE WHEN d.doc_id = fo.first_doc THEN 1 ELSE 0 END)
       |      AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
       |FROM docsh d JOIN fo ON d.shingle = fo.shingle
       |GROUP BY source${graft.Det.sqlOrderBy(Seq("source"))}""".stripMargin

  /** Prefix-filtering set-similarity join (the PPJoin family — Xiao et
    * al., "Efficient Similarity Joins for Near Duplicate Detection",
    * WWW 2008): the EXACT-result alternative to the MinHash funnel.
    * For token-set Jaccard ≥ t, any two qualifying sets MUST share at
    * least one token among their first p = n − ⌈t·n⌉ + 1 tokens in a
    * global rare-first ordering — so the candidate join runs on those
    * short prefixes only, and (unlike LSH banding) NO true pair can be
    * missed: completeness is a theorem, not a recall knob. Candidates
    * then verify with exact intersection counts.
    *
    * Every threshold comparison is INTEGER arithmetic: with t = 0.9,
    * ⌈9n/10⌉ is (9n+9) div 10 (a double 0.9·n would round differently
    * than DuckDB's decimal 0.9), and the Jaccard test is 10·inter ≥
    * 9·union. The only float is the reported jaccard itself. t is
    * high because the fixture's docs share a small vocabulary — at
    * t = 0.6 over half of ALL pairs qualify and the prefix filter
    * selects nothing; 0.9 isolates true near-identical sets (and is
    * the production regime for near-dup removal anyway).
    *
    * Scale posture: the prefix length shrinks as t grows (hot tokens
    * sort LAST, so prefixes hold the rarest tokens and bucket small);
    * candidate volume ∝ Σ|prefix-bucket|², bounded far below the
    * all-pairs join; verification touches candidates only — the same
    * funnel discipline as LSH with exactness instead of recall. */
  def ppjoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the set universe is 3-gram shingles, not bare tokens: the
    // fixture's small vocabulary makes token SETS of long docs converge
    // (at t=0.9 a token-set formulation passes ~1M pairs at sf0.1);
    // shingle sets are discriminative, as everywhere else in the funnel
    val toks = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .filter(size($"tokens") >= 3) // see minhashSig
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(tokens) - 3),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))""".stripMargin))
        .as("tok"))
      .distinct()
      // r15: the shingle set feeds FIVE consumers (n, df, the ranked
      // prefix, both intersection sides); lazy localCheckpoint so the
      // explode+distinct chain builds once instead of per consumer
      // (hitsBipartite pattern).
      .localCheckpoint(false)
    val n = toks.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // global rare-first total order: (document frequency, token)
    val df = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
    val ranked = toks.join(df, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"tok")))
      .join(n, "doc_id")
      // p = n - ceil(0.9*n) + 1, in exact integer arithmetic
      .filter($"pos" <= $"n" - expr("(9 * n + 9) div 10") + 1)
      .select($"doc_id", $"tok")
    val cands = ranked.as("a")
      .join(ranked.as("b"),
        $"a.tok" === $"b.tok" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val tA = toks.select($"doc_id".as("d1"), $"tok")
    val tB = toks.select($"doc_id".as("d2b"), $"tok".as("tok_b"))
    val inter = cands
      .join(tA, "d1")
      .join(tB, $"d2" === $"d2b" && $"tok" === $"tok_b")
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("inter"))
    inter
      .join(n.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
      .join(n.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
      .withColumn("uni", $"n1" + $"n2" - $"inter")
      .filter($"inter" * 10 >= $"uni" * 9) // jaccard >= 0.9, exact
      .select($"d1", $"d2", $"inter", $"uni",
        ($"inter".cast("double") / $"uni".cast("double")).as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  val ppjoinSql: String =
    s"""WITH tok0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
       |),
       |toks AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(0, len(tokens) - 2),
       |      i -> tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]))
       |      AS tok
       |  FROM tok0 WHERE len(tokens) >= 3
       |),
       |n AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
       |df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
       |pfx AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT t.doc_id, t.tok, n.n,
       |      row_number() OVER (PARTITION BY t.doc_id
       |        ORDER BY df.df, t.tok) AS pos
       |    FROM toks t JOIN df ON t.tok = df.tok JOIN n ON t.doc_id = n.doc_id
       |  ) WHERE pos <= n - ((9 * n + 9) // 10) + 1
       |),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |),
       |inter AS (
       |  SELECT c.d1, c.d2, COUNT(*) AS inter
       |  FROM cands c
       |  JOIN toks a ON a.doc_id = c.d1
       |  JOIN toks b ON b.doc_id = c.d2 AND b.tok = a.tok
       |  GROUP BY 1, 2
       |)
       |SELECT i.d1, i.d2, i.inter,
       |  n1.n + n2.n - i.inter AS uni,
       |  CAST(i.inter AS DOUBLE) / CAST(n1.n + n2.n - i.inter AS DOUBLE)
       |    AS jaccard
       |FROM inter i
       |JOIN n n1 ON n1.doc_id = i.d1
       |JOIN n n2 ON n2.doc_id = i.d2
       |WHERE i.inter * 10 >= (n1.n + n2.n - i.inter) * 9
       |${graft.Det.sqlOrderBy(Seq("d1", "d2")).trim}""".stripMargin

  /** LSH recall report card — the number that justifies (or indicts)
    * the MinHash funnel: with [[ppjoin]] providing EXACT ≥0.9 Jaccard
    * ground truth, recall = how many true near-dup pairs the LSH band
    * join actually surfaced as candidates. This turns the usual
    * hand-wavy "LSH recall is tunable" into a measured, regression-
    * gated quantity. The DuckDB oracle recomputes ground truth by
    * BRUTE-FORCE all-pairs Jaccard (no prefix filter), so the eval
    * also re-proves ppjoin's completeness theorem on every run.
    *
    * Scale posture: both inputs are the bounded candidate machines;
    * the scoring join is pair-keyed; output is one row. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = ppjoin(spark, dir).select($"d1", $"d2")
    val cand = candidatePairs(spark, dir).select($"d1", $"d2")
      .withColumn("hit", lit(1))
    exact.join(cand, Seq("d1", "d2"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        count($"hit").as("n_recalled"))
      .select($"n_true_pairs", $"n_recalled",
        graft.Det.nullRatio($"n_recalled".cast("double"),
          $"n_true_pairs".cast("double")).as("lsh_recall"))
  }

  val lshRecallSql: String =
    s"""WITH $sigSqlCte,
       |$candSqlCte,
       |tok0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
       |),
       |docsh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(0, len(tokens) - 2),
       |      i -> tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]))
       |      AS shingle
       |  FROM tok0 WHERE len(tokens) >= 3
       |),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM docsh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
       |  FROM docsh a JOIN docsh b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |exact AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i
       |  JOIN cnt c1 ON c1.doc_id = i.d1
       |  JOIN cnt c2 ON c2.doc_id = i.d2
       |  WHERE i.i * 10 >= (c1.n + c2.n - i.i) * 9
       |)
       |SELECT COUNT(*) AS n_true_pairs,
       |  CAST(SUM(CASE WHEN cand.d1 IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_recalled,
       |  ${graft.Det.sqlNullRatio(
            "CAST(SUM(CASE WHEN cand.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)",
            "CAST(COUNT(*) AS DOUBLE)")} AS lsh_recall
       |FROM exact
       |LEFT JOIN cand ON exact.d1 = cand.d1 AND exact.d2 = cand.d2""".stripMargin

  /** Threshold-tuning curve — the artifact that answers "WHERE do I
    * set the near-dup cut": the exact-Jaccard distribution over the
    * LSH candidate pairs in 0.05 buckets, with the survivors-at-or-
    * above running total (read the removal volume straight off any
    * proposed threshold). Buckets are exact — the Jaccard is a single
    * division of exact integers, identical in both engines, so
    * floor(j·20) can never straddle differently.
    *
    * Scale posture: rides the candidate-driven [[ngramJaccard]]
    * machinery; the curve itself is ≤ 21 bucket rows and one bounded
    * descending running sum. */
  def thresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"bucket".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ngramJaccard(spark, dir)
      .select((floor($"exact_jaccard" * 20) / 20.0).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_at_or_above", sum($"n_pairs").over(w))
      .orderBy($"bucket")
  }

  val thresholdCurveSql: String =
    s"""WITH jac AS ($ngramJaccardSql),
       |b AS (
       |  SELECT floor(exact_jaccard * 20) / 20.0 AS bucket, COUNT(*) AS n_pairs
       |  FROM jac GROUP BY 1
       |)
       |SELECT bucket, n_pairs,
       |  CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_at_or_above
       |FROM b${sqlOrderBy(Seq("bucket"))}""".stripMargin

  /** dedup_url_canonical: URL canonicalization dedup — the FIRST dedup
    * any web-crawl pipeline runs, before any content hashing: the same
    * logical page arrives under uppercase hosts, explicit default
    * ports, trailing slashes, fragments, tracking parameters, and
    * reordered query strings, and naive exact-URL dedup misses all of
    * it. Deterministic fixture: each logical page (doc_id div 4) is
    * emitted in four syntactic variants (plain; UPPERCASE host + :443;
    * trailing slash + reordered params + #fragment; utm_ tracking
    * param), then canonicalized STRUCTURALLY — lowercase host with the
    * default port stripped, path without the trailing slash, query
    * parameters filtered of utm_* and SORTED — and grouped. Four
    * variants per page must collapse to exactly one canonical URL
    * (asserted in the spec); the DuckDB oracle re-derives the whole
    * canonicalization with its own regex/list spellings, so the
    * normalization rules themselves are cross-checked, not just the
    * grouping.
    *
    * Scale posture: canonicalization is a map-only expression chain
    * (regex extracts + array ops, all codegen'd); the only shuffle is
    * the canonical-key groupBy — the same |corpus|-row hash-agg class
    * as exact dedup. */
  def urlCanonical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urls = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "doc_id div 4 AS g", "doc_id % 4 AS v")
      .selectExpr("doc_id",
        """CASE v
          |  WHEN 0 THEN concat('https://h', g % 5, '.example.com/docs/',
          |    g, '?id=', g, '&v=2')
          |  WHEN 1 THEN concat('https://H', g % 5, '.EXAMPLE.COM:443/docs/',
          |    g, '?id=', g, '&v=2')
          |  WHEN 2 THEN concat('https://h', g % 5, '.example.com/docs/',
          |    g, '/?v=2&id=', g, '#frag')
          |  ELSE concat('https://h', g % 5, '.example.com/docs/',
          |    g, '?utm_source=feed&id=', g, '&v=2')
          |END AS url""".stripMargin)
    urls
      .withColumn("host", regexp_replace(
        lower(regexp_extract($"url", "^https://([^/?#]+)", 1)),
        ":443$", ""))
      .withColumn("path", regexp_replace(
        regexp_extract($"url", "^https://[^/?#]+([^?#]*)", 1), "/$", ""))
      .withColumn("params", expr(
        "array_sort(filter(split(regexp_extract(url, '\\\\?([^#]*)', 1), '&'), " +
          "p -> p != '' AND p NOT LIKE 'utm_%'))"))
      .withColumn("canonical_url",
        concat(lit("https://"), $"host", $"path", lit("?"),
          array_join($"params", "&")))
      .groupBy($"canonical_url")
      .agg(count(lit(1)).as("n_variants"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .orderBy($"canonical_url")
  }

  val urlCanonicalSql: String =
    s"""WITH u AS (
       |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents
       |),
       |urls AS (
       |  SELECT doc_id,
       |    CASE v
       |      WHEN 0 THEN 'https://h' || (g % 5) || '.example.com/docs/'
       |        || g || '?id=' || g || '&v=2'
       |      WHEN 1 THEN 'https://H' || (g % 5) || '.EXAMPLE.COM:443/docs/'
       |        || g || '?id=' || g || '&v=2'
       |      WHEN 2 THEN 'https://h' || (g % 5) || '.example.com/docs/'
       |        || g || '/?v=2&id=' || g || '#frag'
       |      ELSE 'https://h' || (g % 5) || '.example.com/docs/'
       |        || g || '?utm_source=feed&id=' || g || '&v=2'
       |    END AS url
       |  FROM u
       |),
       |canon AS (
       |  SELECT doc_id,
       |    'https://'
       |    || regexp_replace(lower(regexp_extract(url, '^https://([^/?#]+)', 1)),
       |         ':443$$', '')
       |    || regexp_replace(regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1),
       |         '/$$', '')
       |    || '?'
       |    || array_to_string(list_sort(list_filter(
       |         string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
       |         p -> p != '' AND p NOT LIKE 'utm_%')), '&') AS canonical_url
       |  FROM urls
       |)
       |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM canon GROUP BY canonical_url
       |${sqlOrderBy(Seq("canonical_url")).trim}""".stripMargin

  /** dq_lsh_preflight: the go/no-go gate a 100 TB pairwise-LSH dedup
    * run checks BEFORE shuffling — per-band bucket second moment
    * (Σ|bucket|²), hot-bucket max size, and predicted candidate-pair
    * volume (Σ C(|bucket|,2)) over ALL THREE LSH families this engine
    * bands: the text minhash bands ([[minhashSig]]'s band_a/band_b),
    * the 4×16-bit media phash bands, and (r13) the 4×7-bit audio
    * fingerprint bands `media_wav_neardup` joins on — each measured
    * over its DISTINCT-hash frame, i.e. after the identical-hash
    * contraction: the population the production band join actually
    * faces. Productizes the ×100
    * image-dedup root-cause (SCALE.md "media_phash_clusters at ×100:
    * the hash-degenerate regime"): there, one 16-bit band value held
    * 48 K of 500 K images (Σ|bucket|² ≈ 3.4·10⁹ per band) and the
    * pairwise run filled the disk — this query IS the pre-flight
    * number that predicts it. A band whose cand_pairs is
    * output-quadratic against the corpus size routes the run to the
    * coarse contract (identical-hash contraction +
    * `media_phash_semdedup` cell grouping) instead of pairwise
    * banding.
    *
    * Exactness: pure integer counting — bucket sizes are exact
    * BIGINTs; the second moment and pair counts accumulate in
    * DECIMAL(38,0)/HUGEINT (a degenerate 100 TB corpus can push
    * Σ|bucket|² past 2^63, where a non-ANSI long wrap would corrupt the
    * verdict's input mid-aggregation) and emit as BIGINT under ANSI
    * semantics — overflow at the boundary is a loud arithmetic error
    * on both engines, never a silent NULL (round 15; the r14
    * DECIMAL(38,0) boundary hash-diverged in the driver's gate).
    *
    * Scale posture (round 14 — the gate RIDES THE INDEX TIER): all
    * four families are priced from the partition-incrementally
    * materialized artifacts ([[sigIndex]],
    * [[graft.multimodal.Media.phashIndex]] /
    * [[graft.multimodal.Media.wavIndex]],
    * [[Similarity.srpIndex]]) — one staleness fingerprint
    * scan per lake (xxhash64, no shingling, no codec), recompute only
    * of mutated partitions, then one map-side-combined groupBy per
    * band family and a |buckets|-bounded rollup. Before r14 the gate
    * re-shingled text and re-DECODED both media lakes per invocation —
    * at 100 TB that gate costs what the job it prices costs.
    * Bit-identity to the from-scratch pricing is proven by
    * [[lshPreflightRecompute]] + Round14OpsSpec; the DuckDB oracle
    * (which always recomputes self-contained) certifies the SERVED
    * values at every SF. */
  def lshPreflight(spark: SparkSession, dir: String): DataFrame =
    preflightOver(
      sigIndex(spark, dir),
      graft.multimodal.Media.phashIndex(spark, dir),
      graft.multimodal.Media.wavIndex(spark, dir),
      Similarity.srpIndex(spark, dir))

  /** The recompute twin of [[lshPreflight]] — signatures re-shingled,
    * media re-decoded, no index involved. Exists to PROVE the served
    * gate bit-identical to a from-scratch pricing (Round14OpsSpec);
    * never registered (at 100 TB a gate that re-decodes the corpus it
    * prices costs what the job it gates costs — the r13 weak mark). */
  private[graft] def lshPreflightRecompute(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    preflightOver(
      minhashSig(spark, dir),
      graft.multimodal.Media.phashQuery(spark, dir)
        .select($"phash_hi", $"phash_lo"),
      graft.multimodal.Media.wavFps(spark, dir).select($"fp"),
      Similarity.srpSig(Tables(spark, dir, "embeddings")))
  }

  /** Shared pricing rollup over the four band families. `sig` needs
    * (band_a, band_b); `phashes` (phash_hi, phash_lo); `wavfps` (fp);
    * `srp` (band_a, band_b) INTs over the embeddings lake (round 14 —
    * the fourth modality through the same priced gate). Both media
    * sides are contracted to DISTINCT hashes first — the gate prices
    * exactly the join populations the routed dedup runs see
    * (identical-hash contraction is their first move). The embed
    * family has 2⁴ buckets per band, so its pairwise cost is
    * output-quadratic on ANY large corpus — the gate pricing it
    * honestly routes `embed_srp_neardup`'s banding to the coarse/IVF
    * contract past ~2⁹ vectors instead of letting n²/16 pairs ship. */
  private def preflightOver(sig: DataFrame, phashes: DataFrame,
      wavfps: DataFrame, srp: DataFrame): DataFrame = {
    import sig.sparkSession.implicits._
    val dec = "DECIMAL(38,0)"
    val text = sig
      .selectExpr("stack(2, 'band_a', band_a, 'band_b', band_b) AS (band, v)")
      .withColumn("family", lit("text_minhash"))
    val embed = srp
      .selectExpr(
        """stack(2, 'band_a', CAST(band_a AS STRING),
          |         'band_b', CAST(band_b AS STRING)) AS (band, v)""".stripMargin)
      .withColumn("family", lit("embed_srp"))
    val reps = phashes.select($"phash_hi", $"phash_lo").distinct()
    val media = graft.multimodal.Media.phashBands(reps)
      .selectExpr(
        """stack(4, 'b0', CAST(b0 AS STRING), 'b1', CAST(b1 AS STRING),
          |         'b2', CAST(b2 AS STRING), 'b3', CAST(b3 AS STRING))
          |  AS (band, v)""".stripMargin)
      .withColumn("family", lit("media_phash"))
    val wav = wavfps
      .select($"fp").distinct()
      .selectExpr((0 until 4).map(i =>
        s"CAST(shiftright(fp, ${7 * i}) & 127 AS STRING) AS b$i"): _*)
      .selectExpr(
        """stack(4, 'b0', b0, 'b1', b1, 'b2', b2, 'b3', b3)
          |  AS (band, v)""".stripMargin)
      .withColumn("family", lit("media_wav"))
    text.unionByName(media).unionByName(wav).unionByName(embed)
      .groupBy($"family", $"band", $"v").agg(count(lit(1)).as("cnt"))
      .groupBy($"family", $"band")
      .agg(sum($"cnt").as("n_keys"),
        count(lit(1)).as("n_buckets"),
        max($"cnt").as("max_bucket"),
        sum(expr(s"CAST(cnt AS $dec) * cnt")).as("ss"),
        sum(expr(s"CAST(cnt AS $dec) * (cnt - 1)")).as("cp2"))
      .selectExpr("family", "band",
        "CAST(n_keys AS BIGINT) AS n_keys",
        "CAST(n_buckets AS BIGINT) AS n_buckets",
        "CAST(max_bucket AS BIGINT) AS max_bucket",
        // the second moment and pair counts accumulate in DECIMAL(38,0)
        // (no silent long wrap mid-aggregation) but EMIT as BIGINT
        // (round-15: the r14 DECIMAL(38,0) boundary hash-diverged in
        // the driver's pandas-hash path despite value equality — int64
        // is the one representation both DuckDB and parquet agree on).
        // Overflow is LOUD, not silent: Spark 4 runs ANSI mode by
        // default, so a degenerate corpus pushing Σ|bucket|² past 2^63
        // fails the cast with an arithmetic error instead of NULLing
        // the route decision's input; DuckDB's BIGINT cast errors the
        // same way. The decimal discipline stays internal wherever a
        // route is COMPARED ([[routeAudit]], RoutedDedupStream.routeOf).
        "CAST(ss AS BIGINT) AS sum_sq",
        // cp2 = Σ cnt·(cnt−1) is even; exact halving via the remainder
        // identity (the floor(double) wrap trap — house rule); the
        // scale-6 intermediate quotient fits precision 38 for any
        // cp2 ≤ 1e32 ≈ (3·10¹⁵ docs)² — far past 100 TB
        s"CAST((cp2 - (cp2 % 2)) / 2 AS BIGINT) AS cand_pairs")
      .orderBy($"family", $"band")
  }

  lazy val lshPreflightSql: String =
    s"""WITH $sigSqlCte,
       |${graft.multimodal.Media.phashSqlCtes},
       |${graft.multimodal.Media.wavFpSqlCtes},
       |pfreps AS (SELECT DISTINCT phash_hi, phash_lo FROM ph),
       |pfwreps AS (SELECT DISTINCT fp FROM wffp),
       |pfsrp AS (
       |  SELECT vec_id,
       |    (${Similarity.srpBandExprsDuck._1}) AS band_a,
       |    (${Similarity.srpBandExprsDuck._2}) AS band_b
       |  FROM embeddings
       |),
       |pfkeys AS (
       |  SELECT 'text_minhash' AS family, 'band_a' AS band, band_a AS v
       |  FROM sig
       |  UNION ALL
       |  SELECT 'text_minhash', 'band_b', band_b FROM sig
       |  UNION ALL
       |  SELECT 'embed_srp', 'band_a', CAST(band_a AS VARCHAR) FROM pfsrp
       |  UNION ALL
       |  SELECT 'embed_srp', 'band_b', CAST(band_b AS VARCHAR) FROM pfsrp
       |  UNION ALL
       |  SELECT 'media_phash', 'b0',
       |    CAST(phash_lo & 65535 AS VARCHAR) FROM pfreps
       |  UNION ALL
       |  SELECT 'media_phash', 'b1',
       |    CAST((phash_lo >> 16) & 65535 AS VARCHAR) FROM pfreps
       |  UNION ALL
       |  SELECT 'media_phash', 'b2',
       |    CAST(phash_hi & 65535 AS VARCHAR) FROM pfreps
       |  UNION ALL
       |  SELECT 'media_phash', 'b3',
       |    CAST((phash_hi >> 16) & 65535 AS VARCHAR) FROM pfreps
       |  UNION ALL
       |  SELECT 'media_wav', 'b0', CAST(fp & 127 AS VARCHAR) FROM pfwreps
       |  UNION ALL
       |  SELECT 'media_wav', 'b1',
       |    CAST((fp >> 7) & 127 AS VARCHAR) FROM pfwreps
       |  UNION ALL
       |  SELECT 'media_wav', 'b2',
       |    CAST((fp >> 14) & 127 AS VARCHAR) FROM pfwreps
       |  UNION ALL
       |  SELECT 'media_wav', 'b3',
       |    CAST((fp >> 21) & 127 AS VARCHAR) FROM pfwreps
       |),
       |pfbkt AS (
       |  SELECT family, band, v, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM pfkeys GROUP BY 1, 2, 3
       |)
       |SELECT family, band,
       |  CAST(SUM(cnt) AS BIGINT) AS n_keys,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(MAX(cnt) AS BIGINT) AS max_bucket,
       |  CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS sum_sq,
       |  CAST(SUM(CAST(cnt AS HUGEINT) * (cnt - 1)) // 2 AS BIGINT)
       |    AS cand_pairs
       |FROM pfbkt GROUP BY family, band
       |${sqlOrderBy(Seq("family", "band")).trim}""".stripMargin

  /** Pair budget per key for [[routeAudit]]: a family whose predicted
    * candidate-pair volume exceeds `budget × n_keys` (i.e. the band
    * join would emit more than `budget` pairs per input key — OUTPUT-
    * SUPERLINEAR against the corpus) is routed to the coarse contract.
    * 32 is the engineering margin: a healthy LSH family on a
    * genuinely-deduplicable corpus emits O(1) pairs/key (measured 0.2
    * on the text fixture), while a hash-degenerate family is 3-5
    * ORDERS over any constant — the constant only needs to sit between
    * those regimes, and no measured corpus lands within 10× of it. */
  val RoutePairBudgetPerKey: Long = 32L

  /** dedup_route_audit: the ROUTING DECISION the preflight gate feeds —
    * per LSH family, consume [[lshPreflight]]'s per-band frame and emit
    * the go/no-go verdict a 100 TB dedup operator actually acts on:
    * `pairwise_banding` when the predicted candidate-pair volume is
    * within [[RoutePairBudgetPerKey]] pairs per key, else
    * `coarse_contraction` (identical-hash contraction + cell grouping —
    * `media_phash_semdedup` / [[graft.multimodal.Media.wavSemDedup]]).
    * Turns the prose contract (SCALE.md §"the ×100 image-dedup
    * root-cause", README "routing") into a tested, oracle-gated query:
    * the piece that runs BETWEEN the gate and the dedup job. Also
    * names the hottest band (max cand_pairs, ties to the lexicographic
    * first) — the band an operator inspects first when a family routes
    * coarse.
    *
    * Exactness: pure integer aggregation over the ≤12-row preflight
    * frame; the verdict is an exact BIGINT comparison — no float ever
    * decides a route.
    *
    * Scale posture: everything after the preflight scan is |families|×
    * |bands| rows; the preflight frame is computed once
    * (localCheckpoint) and feeds both the rollup and the hot-band
    * argmax. */
  def routeAudit(spark: SparkSession, dir: String): DataFrame =
    // r15 NOTE: lazy was tried and REVERTED (1.20x quiet / 1.68x
    // loaded): the rollup and the hot-band argmax are PARALLEL
    // consumers of the 4-row preflight and raced its materialization.
    routeAuditOver(lshPreflight(spark, dir).localCheckpoint())

  /** The rollup of [[routeAudit]] over an explicit preflight-shaped
    * frame — split out so the hot-band TIE-BREAK (two bands tying on
    * max cand_pairs must yield ONE row naming the lexicographic-first
    * band) is provable on a synthetic fixture (Round15OpsSpec). */
  private[graft] def routeAuditOver(pf: DataFrame): DataFrame = {
    import pf.sparkSession.implicits._
    // pair totals, the budget, and the COMPARISON accumulate in
    // DECIMAL(38,0) (a long wrap mid-sum would corrupt exactly the
    // degenerate regime the verdict exists for) but EMIT as BIGINT —
    // ANSI cast = loud overflow error at the boundary, and int64 is
    // the representation the driver's hash path agrees on (round 15)
    val fam = pf.groupBy($"family").agg(
      max($"n_keys").as("n_keys"),
      count(lit(1)).as("n_bands"),
      sum($"cand_pairs".cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("cpt"),
      max($"max_bucket").as("max_bucket"),
      max($"cand_pairs").as("mbp"))
    val hot = pf.join(fam.select($"family", $"mbp"), "family")
      .filter($"cand_pairs" === $"mbp")
      .groupBy($"family").agg(min($"band").as("hot_band"))
    fam.join(hot, "family")
      .selectExpr("family", "n_keys", "n_bands",
        "CAST(cpt AS BIGINT) AS cand_pairs_total",
        "max_bucket", "hot_band",
        s"""CAST(CAST(n_keys AS DECIMAL(38,0)) * $RoutePairBudgetPerKey
           | AS BIGINT) AS pair_budget""".stripMargin.replace("\n", ""),
        s"""CASE WHEN cpt <=
           | CAST(n_keys AS DECIMAL(38,0)) * $RoutePairBudgetPerKey
           | THEN 'pairwise_banding' ELSE 'coarse_contraction'
           | END AS route""".stripMargin.replace("\n", ""))
      .orderBy($"family")
  }

  val routeAuditSql: String =
    s"""WITH pfall AS ($lshPreflightSql),
       |rafam AS (
       |  SELECT family, MAX(n_keys) AS n_keys,
       |    CAST(COUNT(*) AS BIGINT) AS n_bands,
       |    SUM(CAST(cand_pairs AS HUGEINT)) AS cpt,
       |    MAX(max_bucket) AS max_bucket, MAX(cand_pairs) AS mbp
       |  FROM pfall GROUP BY family
       |),
       |rahot AS (
       |  SELECT p.family, MIN(p.band) AS hot_band
       |  FROM pfall p JOIN rafam f
       |    ON p.family = f.family AND p.cand_pairs = f.mbp
       |  GROUP BY p.family
       |)
       |SELECT f.family, f.n_keys, f.n_bands,
       |  CAST(f.cpt AS BIGINT) AS cand_pairs_total,
       |  f.max_bucket, h.hot_band,
       |  CAST(CAST(f.n_keys AS HUGEINT) * $RoutePairBudgetPerKey
       |    AS BIGINT) AS pair_budget,
       |  CASE WHEN f.cpt <=
       |    CAST(f.n_keys AS HUGEINT) * $RoutePairBudgetPerKey
       |    THEN 'pairwise_banding' ELSE 'coarse_contraction'
       |  END AS route
       |FROM rafam f JOIN rahot h USING (family)
       |${sqlOrderBy(Seq("family")).trim}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_route_audit" -> routeAudit,
    "dedup_routed_gate" -> routedGate,
    "dq_lsh_preflight" -> lshPreflight,
    "dedup_lsh_indexed" -> lshIndexed,
    "dedup_url_canonical" -> urlCanonical,
    "dedup_threshold_curve" -> thresholdCurve,
    "dedup_lsh_recall" -> lshRecall,
    "dedup_ppjoin" -> ppjoin,
    "text_novelty" -> novelty,
    "dedup_editdist" -> editDistance,
    "text_contamination" -> contamination,
    "dedup_exact" -> exact,
    "dedup_chunk_exact" -> chunkExact,
    "dedup_minhash_sig" -> minhashQuery,
    "dedup_minhash_oph" -> minhashOph,
    "dedup_oph_recall" -> ophRecall,
    "dedup_neardup_pairs" -> neardupPairs,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_containment" -> containmentPairs,
    "dedup_simhash" -> simhash,
    "dedup_simhash_pairs" -> simhashPairs)

  val oracles: Map[String, String] = Map(
    "dedup_route_audit" -> routeAuditSql,
    "dedup_routed_gate" -> routedGateSql,
    "dq_lsh_preflight" -> lshPreflightSql,
    "dedup_lsh_indexed" -> lshIndexedSql,
    "dedup_url_canonical" -> urlCanonicalSql,
    "dedup_threshold_curve" -> thresholdCurveSql,
    "dedup_lsh_recall" -> lshRecallSql,
    "dedup_ppjoin" -> ppjoinSql,
    "text_novelty" -> noveltySql,
    "dedup_editdist" -> editDistanceSql,
    "text_contamination" -> contaminationSql,
    "dedup_exact" -> exactSql,
    "dedup_chunk_exact" -> chunkExactSql,
    "dedup_minhash_sig" -> minhashSqlQuery,
    "dedup_minhash_oph" -> minhashOphSql,
    "dedup_oph_recall" -> ophRecallSql,
    "dedup_neardup_pairs" -> neardupPairsSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_containment" -> containmentPairsSql,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" -> simhashPairsSql)
}
