package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Corpus-curation operators, batch 2 (round 3): the selection /
  * tokenizer-prep steps a web-scale pretraining pipeline runs after
  * dedup and quality scoring.
  *
  *  - [[sourceCap]]    — per-domain document caps (crawl head-domain
  *                       suppression) as a two-stage distributed top-N.
  *  - [[qualityBuckets]] — CCNet-style head/middle/tail terciles per
  *                       language over a deterministic quality proxy.
  *  - [[bpePairs]]     — one BPE-training merge iteration (top adjacent
  *                       symbol pairs) computed over the word-frequency
  *                       dictionary, so cost is vocab-bounded.
  *  - [[spanCover]]    — cross-document duplicated 8-gram span coverage
  *                       (the exact-substring dedup signal of Lee et al.
  *                       2022, "Deduplicating Training Data Makes
  *                       Language Models Better").
  *
  * Shared discipline (Det.scala): integer/decimal arithmetic everywhere
  * except single exactly-rounded IEEE divisions, salted md5 for any
  * sampling decision, and a DuckDB oracle written as an independent
  * single-stage formulation so the distributed decomposition is proved,
  * not assumed.
  */
object Curate extends graft.QueryModule {

  /** Max documents kept per source ([[sourceCap]]). */
  private val Cap = 15
  /** Sub-bucket fan-out for the local pre-rank stage. */
  private val SubBuckets = 8

  /** Per-source document cap — the "no single domain dominates the
    * corpus" rule every crawl-derived dataset applies. Keeps the Cap
    * lowest-hash documents of each source, hash = md5("cap:" || doc_id)
    * (salted, content-independent: stable under re-crawls and
    * re-partitioning, uncorrelated with [[TextStats.corpusSplit]]'s and
    * [[TextStats.sampleMix]]'s salts).
    *
    * Scale posture: a naive `row_number() OVER (PARTITION BY source)`
    * sends every document of a hot domain to ONE task — the classic
    * skew pathology (a head domain in a crawl can be 1% of the corpus).
    * Stage 1 ranks within (source, hash-sub-bucket) and keeps only Cap
    * per sub-bucket, shrinking any domain to <= SubBuckets*Cap rows;
    * stage 2 ranks those survivors exactly. Any global top-Cap row is
    * top-Cap within its sub-bucket, so the pre-filter drops no winner —
    * the DuckDB oracle's single-stage rank proves it. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
      .withColumn("u",
        expr("cast(conv(substr(md5(cast(concat('cap:', cast(doc_id AS STRING)) as binary)), 1, 8), 16, 10) as bigint)"))
    val local = docs
      .withColumn("lrk", row_number().over(
        Window.partitionBy($"source", pmod($"u", lit(SubBuckets)))
          .orderBy($"u", $"doc_id")))
      .filter($"lrk" <= Cap)
    local
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"u", $"doc_id")))
      .filter($"rk" <= Cap)
      .select($"source", $"rk", $"doc_id")
      .orderBy($"source", $"rk")
  }

  val sourceCapSql: String =
    s"""WITH h AS (
       |  SELECT source, doc_id,
       |    CAST('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |      AS u
       |  FROM documents
       |),
       |r AS (
       |  SELECT source, doc_id,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS INTEGER)
       |      AS rk
       |  FROM h
       |)
       |SELECT source, rk, doc_id FROM r WHERE rk <= $Cap
       |${sqlOrderBy(Seq("source", "rk")).trim}""".stripMargin

  /** CCNet-style quality terciles: within each language, rank documents
    * by a deterministic quality proxy (type-token ratio — both engines
    * compute the identical IEEE double from the same two integers) and
    * cut into head/middle/tail with ntile(3). CCNet keeps "head",
    * retrains on "middle", drops "tail"; the bucket label is the
    * routing key. Ties broken by doc_id so the tercile assignment is a
    * pure function of the corpus. One shuffle on lang; per-language
    * ntile needs a per-partition sort — at 100 TB replace the global
    * per-lang sort with the same bucketed pre-rank as [[sourceCap]] or
    * an approx-quantile cut; here |docs per lang| is window-safe. */
  def qualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id", $"lang",
        expr("size(array_distinct(split(text, ' ')))").as("n_distinct"),
        expr("size(split(text, ' '))").as("n_words"))
      .withColumn("ttr", $"n_distinct" / $"n_words".cast("double"))
      .withColumn("bucket", ntile(3).over(
        Window.partitionBy($"lang").orderBy($"ttr".desc, $"doc_id")))
      .select($"doc_id", $"lang", $"ttr", $"bucket")
      .orderBy($"doc_id")
  }

  val qualityBucketsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
       |  FROM documents
       |)
       |SELECT doc_id, lang,
       |  n_distinct / CAST(n_words AS DOUBLE) AS ttr,
       |  CAST(ntile(3) OVER (PARTITION BY lang
       |    ORDER BY n_distinct / CAST(n_words AS DOUBLE) DESC, doc_id) AS INTEGER)
       |    AS bucket
       |FROM t${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** One merge iteration of BPE tokenizer training: the 20 most frequent
    * adjacent character pairs across the corpus, weighted by word
    * frequency. The trick that makes BPE trainable at 100 TB: collapse
    * the corpus to its word-frequency DICTIONARY first (a map-side-
    * combined groupBy — |vocab| rows out, Zipf-bounded regardless of
    * corpus size), then explode character pairs only over vocab entries.
    * Pair counting is |vocab| x avg_word_len work, independent of corpus
    * row count; each further merge iteration re-runs over the (tiny)
    * dictionary only. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("c_w"))
    vocab
      .select($"c_w", explode(expr(
        "transform(sequence(0, length(w) - 2), i -> substr(w, i + 1, 2))"))
        .as("pair"))
      .groupBy($"pair")
      .agg(sum($"c_w").as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(20)
  }

  val bpePairsSql: String =
    s"""WITH vocab AS (
       |  SELECT w, COUNT(*) AS c_w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE length(w) >= 2 GROUP BY w
       |),
       |pairs AS (
       |  SELECT unnest(list_transform(range(0, length(w) - 1),
       |    i -> substr(w, CAST(i + 1 AS INTEGER), 2))) AS pair, c_w
       |  FROM vocab
       |)
       |SELECT pair, CAST(SUM(c_w) AS BIGINT) AS cnt
       |FROM pairs GROUP BY pair
       |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  /** ITERATED BPE tokenizer training — 5 greedy merge rounds (Sennrich
    * et al. 2016), where [[bpePairs]] is round 1's counting step only.
    * Each round counts adjacent SYMBOL pairs over the word-frequency
    * dictionary, merges the single most frequent pair (cnt DESC, then
    * lexicographic — the deterministic tiebreak both engines state),
    * and rewrites the dictionary before the next count. Output is the
    * merge table a tokenizer ships: (round, pair, merged symbol, count).
    *
    * Symbol sequences are strings with a `chr(31)` before every symbol
    * ("·a·b·c"), so the merge is `replace(wseq, ·pa·pb, ·papb)` — both
    * engines' replace() scans left-to-right and resumes AFTER the
    * replacement, which IS greedy BPE merge semantics ("a a a a" with
    * pair (a,a) → "aa aa", verified cross-engine). The leading-only
    * separator makes the trailing boundary of one match the leading
    * boundary of the next, so runs merge correctly; a symbol can never
    * straddle a false boundary because every symbol start carries the
    * separator and symbols cannot contain it.
    *
    * Scale posture ([[bpePairs]]'s argument, compounded): the corpus
    * collapses to its Zipf-bounded dictionary ONCE (the only corpus-
    * sized shuffle, map-side combined); all 5 rounds run over |vocab|
    * rows — pair counting is one |vocab|×avg_len explode + groupBy per
    * round, the argmax is a 1-row TakeOrdered broadcast back into a
    * narrow projection rewrite. The driver sees only the loop counter,
    * exactly the [[graft.llm.Cluster.pagerankIter]] template. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, dir).reduce(_ unionAll _).orderBy($"round")
  }

  /** The 5-round training loop behind [[bpeVocab]] and [[bpeTokenize]]:
    * returns the learned merges as five 1-row checkpointed frames
    * `(round, pa, pb, merged, cnt)`. */
  /** r15 (guide §2.4): the one corpus-wide word-count table every
    * tokenizer leg derives its dictionary from. The BPE, unigram-LM,
    * and WordPiece trainers each used to run their own corpus
    * explode+groupBy; a query composing several legs (the bake-off
    * queries) paid that scan 3-4×. Filter-then-count == count-then-
    * filter for per-word counts, so each leg's length filter moves
    * AFTER this shared aggregate with bit-identical results. */
  private def wordCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c_w"))
  }

  private def bpeTrain(spark: SparkSession, dir: String): Seq[DataFrame] =
    bpeTrainFrom(spark, wordCounts(spark, dir))

  private def bpeTrainFrom(spark: SparkSession,
      wc: DataFrame): Seq[DataFrame] = {
    import spark.implicits._
    val vocab0 = wc
      .filter(length($"w") >= 2)
      .select(regexp_replace($"w", "(.)", "\u001f$1").as("wseq"), $"c_w")
      // the dictionary feeds all 5 merge rounds. r15: LAZY (guide §5) —
      // round 1's argmax job is the materializing action, so the build
      // no longer costs its own scheduled job; lineage truncates either way.
      .localCheckpoint(false)
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (round <- 1 to 5) {
      val pairs = vocab
        .select($"c_w", split(expr("substr(wseq, 2)"), "\u001f").as("syms"))
        .filter(size($"syms") >= 2) // guards sequence()'s negative-stop hazard
        .select($"c_w", explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "j -> named_struct('pa', syms[j], 'pb', syms[j + 1]))")).as("p"))
        .groupBy($"p.pa".as("pa"), $"p.pb".as("pb"))
        .agg(sum($"c_w").as("cnt"))
      val best = pairs.orderBy($"cnt".desc, $"pa", $"pb").limit(1)
        .select(lit(round).as("round"), $"pa", $"pb",
          concat($"pa", $"pb").as("merged"), $"cnt")
        // 1 row — pins round k's argmax out of k+1's lineage. r15: lazy;
        // the next round's broadcast build (or the final query action)
        // materializes it, saving one scheduled job per merge round.
        .localCheckpoint(false)
      merges += best
      vocab = vocab
        .crossJoin(broadcast(best.select($"pa".as("bpa"), $"pb".as("bpb"))))
        .select(expr(
          "replace(wseq, concat(chr(31), bpa, chr(31), bpb), " +
            "concat(chr(31), bpa, bpb))").as("wseq"), $"c_w")
    }
    merges.toSeq
  }

  /** BPE tokenizer APPLICATION — encode every document with the merge
    * table [[bpeVocab]] learns, closing the tokenizer loop (train ->
    * apply -> measure): per document, the token count under the 5-merge
    * vocab, the character count, and chars-per-token (the compression
    * number tokenizer work optimizes; one exact-integer division).
    *
    * Scale posture — the trick that makes BPE ENCODING corpus-scale:
    * tokenization is a pure function of the word, so the corpus never
    * re-runs the merges. The DISTINCT-word dictionary (Zipf-bounded) is
    * encoded once — five broadcast-1-row replace() projections, merges
    * applied in learned order — and documents get their counts by
    * joining words to the word->n_tokens map and summing: \|tokens\|-row
    * join + per-doc aggregate. A word the merge rounds never saw still
    * encodes correctly (its symbols simply never match a merge pattern —
    * 1-char words fall out as 1 token without a special case). */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15 (guide §2.4): the trainer's dictionary IS the distinct-word
    // set (no length filter on either) — share one corpus agg between
    // the trainer and the apply chain instead of an agg + a distinct.
    val wc = wordCounts(spark, dir).localCheckpoint(false)
    val merges = bpeTrainFrom(spark, wc)
    val toks = Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    var words = wc.select($"w")
      .select($"w", regexp_replace($"w", "(.)", "\u001f$1").as("wseq"))
    for (best <- merges)
      words = words
        .crossJoin(broadcast(best.select($"pa".as("bpa"), $"pb".as("bpb"))))
        .select($"w", expr(
          "replace(wseq, concat(chr(31), bpa, chr(31), bpb), " +
            "concat(chr(31), bpa, bpb))").as("wseq"))
    val nsym = words.select($"w", length($"w").as("n_ch"),
      size(split(expr("substr(wseq, 2)"), "\u001f")).as("n_sym"))
    toks.join(nsym, "w")
      .groupBy($"doc_id")
      .agg(sum($"n_sym".cast("long")).as("n_tokens"),
        sum($"n_ch".cast("long")).as("n_chars"))
      .select($"doc_id", $"n_tokens", $"n_chars",
        ($"n_chars".cast("double") / $"n_tokens".cast("double"))
          .as("chars_per_token"))
      .orderBy($"doc_id")
  }

  /** CTE prelude shared by [[bpeVocabSql]] and [[bpeTokenizeSql]]:
    * the word dictionary plus the 5 unrolled merge rounds, built by the
    * same Scala loop that drives the Spark side. */
  private val bpeCtes: String = {
    val rounds = (1 to 5).map { k =>
      s"""pairs$k AS (
         |  SELECT syms[j + 1] AS pa, syms[j + 2] AS pb,
         |    CAST(SUM(c_w) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(substr(wseq, 2), chr(31)) AS syms, c_w
         |        FROM vocab${k - 1} WHERE length(wseq) > 0),
         |    unnest(range(0, len(syms) - 1)) t(j)
         |  WHERE len(syms) >= 2
         |  GROUP BY 1, 2
         |),
         |best$k AS (
         |  SELECT CAST($k AS INTEGER) AS round, pa, pb, pa || pb AS merged, cnt
         |  FROM pairs$k ORDER BY cnt DESC, pa, pb LIMIT 1
         |),
         |vocab$k AS (
         |  SELECT replace(wseq, chr(31) || b.pa || chr(31) || b.pb,
         |    chr(31) || b.pa || b.pb) AS wseq, c_w
         |  FROM vocab${k - 1} CROSS JOIN best$k b
         |)""".stripMargin
    }.mkString(",\n")
    s"""vocab0 AS (
       |  SELECT regexp_replace(w, '(.)', chr(31) || '\\1', 'g') AS wseq,
       |    CAST(c_w AS BIGINT) AS c_w
       |  FROM (
       |    SELECT w, COUNT(*) AS c_w FROM (
       |      SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |    ) WHERE length(w) >= 2 GROUP BY w
       |  )
       |),
       |$rounds""".stripMargin
  }

  /** CTE chain shared by [[bpeTokenizeSql]] and [[bpeFertilitySql]]:
    * the distinct-word dictionary encoded and run through the 5
    * learned merges, ending in `ns (w, n_ch, n_sym)`. */
  private val bpeApplyCtes: String = {
    val apply = (1 to 5).map { k =>
      s"""aw$k AS (
         |  SELECT w, replace(wseq, chr(31) || b.pa || chr(31) || b.pb,
         |    chr(31) || b.pa || b.pb) AS wseq
         |  FROM aw${k - 1} CROSS JOIN best$k b
         |)""".stripMargin
    }.mkString(",\n")
    s"""allw AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |),
       |aw0 AS (
       |  SELECT w, regexp_replace(w, '(.)', chr(31) || '\\1', 'g') AS wseq
       |  FROM allw
       |),
       |$apply,
       |ns AS (
       |  SELECT w, CAST(length(w) AS BIGINT) AS n_ch,
       |    CAST(len(string_split(substr(wseq, 2), chr(31))) AS BIGINT) AS n_sym
       |  FROM aw5
       |)""".stripMargin
  }

  val bpeVocabSql: String =
    s"""WITH $bpeCtes
       |SELECT round, pa, pb, merged, cnt
       |FROM (SELECT * FROM best1 UNION ALL SELECT * FROM best2
       |      UNION ALL SELECT * FROM best3 UNION ALL SELECT * FROM best4
       |      UNION ALL SELECT * FROM best5)
       |${sqlOrderBy(Seq("round")).trim}""".stripMargin

  val bpeTokenizeSql: String =
    s"""WITH $bpeCtes,
       |$bpeApplyCtes,
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT doc_id,
       |  CAST(SUM(ns.n_sym) AS BIGINT) AS n_tokens,
       |  CAST(SUM(ns.n_ch) AS BIGINT) AS n_chars,
       |  CAST(SUM(ns.n_ch) AS DOUBLE) / CAST(SUM(ns.n_sym) AS DOUBLE)
       |    AS chars_per_token
       |FROM toks JOIN ns USING (w)
       |GROUP BY doc_id${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Tokenizer FERTILITY by language — tokens-per-word under the
    * learned 5-merge vocab, the per-language health number tokenizer
    * teams track (a vocab trained on one language's corpus quietly
    * doubles another's sequence lengths — fertility is where that
    * shows first). Composes [[bpeTokenize]]'s word->token map with the
    * language column: one \|tokens\|-row join, one per-lang aggregate.
    * Fertility and chars-per-token are single divisions of exact
    * integer sums. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15: same shared-dictionary shape as bpeTokenize.
    val wc = wordCounts(spark, dir).localCheckpoint(false)
    val merges = bpeTrainFrom(spark, wc)
    val toks = Tables(spark, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("w"))
    var words = wc.select($"w")
      .select($"w", regexp_replace($"w", "(.)", "\u001f$1").as("wseq"))
    for (best <- merges)
      words = words
        .crossJoin(broadcast(best.select($"pa".as("bpa"), $"pb".as("bpb"))))
        .select($"w", expr(
          "replace(wseq, concat(chr(31), bpa, chr(31), bpb), " +
            "concat(chr(31), bpa, bpb))").as("wseq"))
    val nsym = words.select($"w", length($"w").as("n_ch"),
      size(split(expr("substr(wseq, 2)"), "\u001f")).as("n_sym"))
    toks.join(nsym, "w")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_sym".cast("long")).as("n_tokens"),
        sum($"n_ch".cast("long")).as("n_chars"))
      .select($"lang", $"n_words", $"n_tokens",
        ($"n_tokens".cast("double") / $"n_words".cast("double"))
          .as("fertility"),
        ($"n_chars".cast("double") / $"n_tokens".cast("double"))
          .as("chars_per_token"))
      .orderBy($"lang")
  }

  val bpeFertilitySql: String =
    s"""WITH $bpeCtes,
       |$bpeApplyCtes,
       |toks AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(ns.n_sym) AS BIGINT) AS n_tokens,
       |  CAST(SUM(ns.n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility,
       |  CAST(SUM(ns.n_ch) AS DOUBLE) / CAST(SUM(ns.n_sym) AS DOUBLE)
       |    AS chars_per_token
       |FROM toks JOIN ns USING (w)
       |GROUP BY lang${sqlOrderBy(Seq("lang"))}""".stripMargin

  /** text_unigram_em: one hard-EM (Viterbi) iteration of the
    * unigram-LM tokenizer objective (Kudo 2018; the SentencePiece
    * unigram trainer) over the same Zipf-bounded word dictionary the
    * BPE leg trains on — the OTHER of the two tokenizer families a
    * data pipeline ships. Seed inventory = every single character plus
    * the top-20 substrings of length 2–4 by corpus weight; seed
    * log-probs are EXACT INTEGER fixed-point base-2 logs
    * (qlog2(c) = (b<<10) + ((c<<10)>>b) − 1024, b = ⌊log2 c⌋ via the
    * binary-digit length — monotone, additive, and bit-identical in
    * both engines, per the house transcendental-free rule; libm ln
    * would break the hash gate). E-step: per dictionary word, Viterbi
    * segmentation under the current piece scores — a bounded DP (max
    * piece length 4, words capped at 16 chars) run as ONE zero-shuffle
    * map expression: `aggregate` builds the per-position best
    * (score, −m, seg) states against the broadcast piece→score map,
    * struct ordering = max score then shortest piece, the same rule the
    * oracle's rn=1 window states. M-step: explode each word's Viterbi
    * segmentation, weight by word count, re-estimate piece counts.
    * Output: (piece, seed_cnt, lp, em_cnt) — the count transfer from
    * redundant pieces toward the pieces the Viterbi decode actually
    * uses, which is exactly the signal SentencePiece prunes on.
    *
    * Scale posture: the corpus collapses to its dictionary once (the
    * only corpus-sized shuffle, map-side combined); the DP is map-only
    * over \|vocab\| rows with a ≤100-entry broadcast map; the M-step
    * shuffles \|vocab\|·avg_pieces skinny rows. The DuckDB oracle
    * unrolls the same DP as 16 prefix-length CTE steps over a running
    * (word, pos) state union — identical scores, identical tiebreak. */
  /** Exact integer fixed-point base-2 log shared by the unigram-LM
    * legs: qlog2(c) = (b<<10) + ((c<<10)>>b) − 1024 with b = ⌊log2 c⌋
    * via the binary-digit length — monotone, additive, bit-identical
    * cross-engine. Spark spelling. */
  private[graft] def qlog2Spark(c: String) =
    s"((length(bin($c)) - 1) * 1024 + (($c * 1024) div " +
      s"shiftleft(CAST(1 AS BIGINT), length(bin($c)) - 1)) - 1024)"

  /** The bounded Viterbi DP (max piece length 4, words ≤16 chars) as a
    * single zero-shuffle `aggregate` expression over columns `w` and a
    * broadcast `lpmap`; struct ordering = max score then shortest
    * piece, the same rule the oracle's rn=1 window states. Shared by
    * the EM train step and the corpus tokenizer apply step. */
  private val unigramViterbiSeg: String =
    """aggregate(
      |  sequence(1, length(w)),
      |  array(named_struct('s', CAST(0 AS BIGINT), 'negm', 0, 'seg', '')),
      |  (acc, j) -> concat(acc, array(
      |    array_max(filter(transform(sequence(1, 4), m ->
      |      IF(j - m >= 0
      |          AND element_at(lpmap, substr(w, j - m + 1, m)) IS NOT NULL,
      |        named_struct(
      |          's', element_at(acc, j - m + 1).s
      |            + element_at(lpmap, substr(w, j - m + 1, m)),
      |          'negm', -m,
      |          'seg', concat(element_at(acc, j - m + 1).seg,
      |            chr(31), substr(w, j - m + 1, m))),
      |        NULL)),
      |      x -> x IS NOT NULL)))),
      |  acc -> element_at(acc, -1).seg) AS seg""".stripMargin

  /** The corpus word dictionary the unigram legs train/apply over. */
  private def unigramWords(spark: SparkSession, dir: String): DataFrame =
    unigramWordsFrom(spark, wordCounts(spark, dir))

  /** The 1-16-char dictionary cut of [[wordCounts]] (counts identical
    * to filtering before the aggregate — the filter is on the group
    * key). */
  private def unigramWordsFrom(spark: SparkSession, wc: DataFrame): DataFrame = {
    import spark.implicits._
    wc.filter(length($"w") >= 1 && length($"w") <= 16)
  }

  def unigramEm(spark: SparkSession, dir: String): DataFrame =
    unigramEmFrom(spark, wordCounts(spark, dir))

  private def unigramEmFrom(spark: SparkSession, wc: DataFrame): DataFrame = {
    import spark.implicits._
    val words = unigramWordsFrom(spark, wc)
      // feeds seed counting AND the DP. r15: lazy (guide §5) — the
      // seed-inventory aggregation materializes it.
      .localCheckpoint(false)
    val pieces = words
      .select($"c_w", explode(expr(
        """flatten(transform(sequence(1, 4), l ->
          | IF(length(w) >= l,
          |   transform(sequence(1, length(w) - l + 1), i -> substr(w, i, l)),
          |   array())))""".stripMargin)).as("piece"))
      .groupBy($"piece").agg(sum($"c_w").as("seed_cnt"))
    val singles = pieces.filter(length($"piece") === 1)
    val multis = pieces.filter(length($"piece") >= 2)
      .orderBy($"seed_cnt".desc, $"piece").limit(20)
    val inv = singles.unionAll(multis)
    val tot = inv.agg(sum($"seed_cnt").as("c_tot"))
    val lp = inv.crossJoin(broadcast(tot))
      .selectExpr("piece", "seed_cnt",
        s"CAST(${qlog2Spark("seed_cnt")} - ${qlog2Spark("c_tot")} AS BIGINT) AS lp")
      // tiny; feeds the DP map, the join, the output. r15: lazy — the
      // lpmap broadcast build is the materializing action.
      .localCheckpoint(false)
    val lpRow = lp
      .agg(map_from_entries(collect_list(struct($"piece", $"lp"))).as("lpmap"))
    val seg = words.crossJoin(broadcast(lpRow))
      .selectExpr("w", "c_w", unigramViterbiSeg)
    val emCnt = seg
      .select($"c_w",
        explode(split(expr("substr(seg, 2)"), "\\u001f")).as("piece"))
      .groupBy($"piece").agg(sum($"c_w").as("em_cnt"))
    lp.join(emCnt, Seq("piece"), "left")
      .select($"piece", $"seed_cnt", $"lp",
        coalesce($"em_cnt", lit(0L)).as("em_cnt"))
      .orderBy($"piece")
  }

  /** text_unigram_tokenize: the APPLY tier of the unigram-LM leg —
    * tokenize the corpus with the post-EM model (the [[unigramEm]]
    * train step's re-estimated piece counts, add-one smoothed so every
    * inventory piece — in particular every single character — stays
    * usable and coverage is total). Mirrors [[bpeTokenize]]'s contract:
    * per document, subword token count, char count, and compression
    * (chars per token) under the trained tokenizer — the corpus-wide
    * statistic a tokenizer change is actually judged by.
    *
    * Scale posture: the model is vocab-bounded (≤ singles + 20 rows);
    * the Viterbi re-segmentation runs once per DISTINCT dictionary
    * word (zero-shuffle map over the broadcast piece→score map), and
    * the corpus-sized work is one word-dictionary join + per-doc sum —
    * the same encode-once-per-distinct-word shape as the BPE apply
    * tier. Words outside the 1–16-char dictionary bound are excluded
    * from both engines' counts (tokenizer training never saw them). */
  /** Per-distinct-word (w, n_ch, n_sym) under the post-EM unigram
    * model — the word-level core both [[unigramTokenize]] and
    * [[tokenizerCompare]] aggregate over. */
  private def unigramWordSyms(spark: SparkSession, dir: String): DataFrame =
    // lazy-checkpointed: the dictionary feeds both the EM train leg and
    // the Viterbi re-segmentation (2 refs)
    unigramWordSymsFrom(spark, wordCounts(spark, dir).localCheckpoint(false))

  private def unigramWordSymsFrom(spark: SparkSession,
      wc: DataFrame): DataFrame = {
    import spark.implicits._
    val model = unigramEmFrom(spark, wc) // (piece, seed_cnt, lp, em_cnt)
    val t2 = model.agg((sum($"em_cnt") + count(lit(1))).as("t_tot"))
    val lp2 = model.crossJoin(broadcast(t2))
      .selectExpr("piece",
        s"CAST(${qlog2Spark("(em_cnt + 1)")} - ${qlog2Spark("t_tot")} AS BIGINT) AS lp")
    val lpRow = lp2
      .agg(map_from_entries(collect_list(struct($"piece", $"lp"))).as("lpmap"))
    val seg = unigramWordsFrom(spark, wc).select($"w")
      .crossJoin(broadcast(lpRow))
      .selectExpr("w", unigramViterbiSeg)
    seg.select($"w", length($"w").as("n_ch"),
      size(split(expr("substr(seg, 2)"), "")).as("n_sym"))
  }

  def unigramTokenize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1 && length($"w") <= 16)
    toks.join(unigramWordSyms(spark, dir), "w")
      .groupBy($"doc_id")
      .agg(sum($"n_sym".cast("long")).as("n_tokens"),
        sum($"n_ch".cast("long")).as("n_chars"))
      .select($"doc_id", $"n_tokens", $"n_chars",
        ($"n_chars".cast("double") / $"n_tokens".cast("double"))
          .as("chars_per_token"))
      .orderBy($"doc_id")
  }

  /** DuckDB spelling of [[qlog2Spark]]. */
  private[graft] def qlog2Duck(c: String) =
    s"((length(bin($c)) - 1) * 1024 + (($c * 1024) // " +
      s"(CAST(1 AS BIGINT) << (length(bin($c)) - 1))) - 1024)"

  /** The oracle's 16-step unrolled Viterbi DP over `uwords`, scored
    * against `lpTable` — prefixed so the train and apply legs can each
    * unroll their own pass in one statement. The reused running-state
    * CTEs are MATERIALIZED: referenced twice per step, a plain CTE
    * chain inlines 2^16 scans. */
  private def unigramDpCtes(p: String, lpTable: String): String = {
    val dp = (1 to 16).map { j =>
      s"""${p}b$j AS (
         |  SELECT w, c_w, s, seg FROM (
         |    SELECT i.w, i.c_w, i.s, i.seg,
         |      row_number() OVER (PARTITION BY i.w ORDER BY i.s DESC, i.m) AS rn
         |    FROM (
         |      SELECT v.w, v.c_w, m.m, b.s + l.lp AS s,
         |        b.seg || chr(31) || substr(v.w, $j - m.m + 1, m.m) AS seg
         |      FROM uwords v
         |      CROSS JOIN (SELECT unnest(range(1, 5)) AS m) m
         |      JOIN ${p}ball${j - 1} b ON b.w = v.w AND b.pos = $j - m.m
         |      JOIN $lpTable l ON l.piece = substr(v.w, $j - m.m + 1, m.m)
         |      WHERE length(v.w) >= $j AND m.m <= $j
         |    ) i
         |  ) WHERE rn = 1
         |),
         |${p}ball$j AS MATERIALIZED (
         |  SELECT * FROM ${p}ball${j - 1}
         |  UNION ALL SELECT w, c_w, $j AS pos, s, seg FROM ${p}b$j
         |)""".stripMargin
    }.mkString(",\n")
    s"""${p}ball0 AS MATERIALIZED (
       |  SELECT w, c_w, 0 AS pos, CAST(0 AS BIGINT) AS s, '' AS seg
       |  FROM uwords),
       |$dp""".stripMargin
  }

  /** Shared train-leg CTE chain: word dictionary, seed inventory,
    * seed log-probs, the train DP, and the EM-re-estimated counts —
    * everything both [[unigramEmSql]] and [[unigramTokenizeSql]]
    * consume. */
  private val unigramTrainCtes: String = {
    def qlog2(c: String) = qlog2Duck(c)
    val dp = unigramDpCtes("", "ulp")
    s"""uwords AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS c_w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE length(w) BETWEEN 1 AND 16 GROUP BY w
       |),
       |upieces AS MATERIALIZED (
       |  SELECT substr(w, CAST(i + 1 AS INTEGER), CAST(l AS INTEGER)) AS piece,
       |    CAST(SUM(c_w) AS BIGINT) AS seed_cnt
       |  FROM uwords, unnest(range(1, 5)) tl(l),
       |    unnest(range(0, length(w) - l + 1)) ti(i)
       |  GROUP BY 1
       |),
       |usingles AS (SELECT piece, seed_cnt FROM upieces WHERE length(piece) = 1),
       |umultis AS (SELECT piece, seed_cnt FROM upieces WHERE length(piece) >= 2
       |            ORDER BY seed_cnt DESC, piece LIMIT 20),
       |uinv AS (SELECT * FROM usingles UNION ALL SELECT * FROM umultis),
       |utot AS (SELECT CAST(SUM(seed_cnt) AS BIGINT) AS c_tot FROM uinv),
       |ulp AS MATERIALIZED (
       |  SELECT piece, seed_cnt,
       |    CAST(${qlog2("seed_cnt")} - ${qlog2("c_tot")} AS BIGINT) AS lp
       |  FROM uinv, utot
       |),
       |$dp,
       |vit AS (
       |  SELECT b.c_w, b.seg
       |  FROM ball16 b JOIN uwords v ON v.w = b.w AND b.pos = length(v.w)
       |),
       |uem AS (
       |  SELECT piece, CAST(SUM(c_w) AS BIGINT) AS em_cnt FROM (
       |    SELECT unnest(string_split(substr(seg, 2), chr(31))) AS piece, c_w
       |    FROM vit
       |  ) GROUP BY piece
       |)""".stripMargin
  }

  val unigramEmSql: String =
    s"""WITH $unigramTrainCtes
       |SELECT l.piece, l.seed_cnt, l.lp,
       |  COALESCE(e.em_cnt, CAST(0 AS BIGINT)) AS em_cnt
       |FROM ulp l LEFT JOIN uem e ON e.piece = l.piece
       |ORDER BY l.piece NULLS FIRST""".stripMargin

  val unigramTokenizeSql: String = {
    val applyDp = unigramDpCtes("t", "ulp2")
    s"""WITH $unigramTrainCtes,
       |umodel AS (
       |  SELECT l.piece, COALESCE(e.em_cnt, CAST(0 AS BIGINT)) AS em_cnt
       |  FROM ulp l LEFT JOIN uem e ON e.piece = l.piece
       |),
       |ut2 AS (
       |  SELECT CAST(SUM(em_cnt) + COUNT(*) AS BIGINT) AS t_tot FROM umodel
       |),
       |ulp2 AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(${qlog2Duck("(em_cnt + 1)")} - ${qlog2Duck("t_tot")} AS BIGINT) AS lp
       |  FROM umodel, ut2
       |),
       |$applyDp,
       |tns AS (
       |  SELECT b.w, CAST(length(b.w) AS INTEGER) AS n_ch,
       |    CAST(len(string_split(substr(b.seg, 2), chr(31))) AS INTEGER) AS n_sym
       |  FROM tball16 b JOIN uwords v ON v.w = b.w AND b.pos = length(v.w)
       |),
       |dtoks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE length(w) BETWEEN 1 AND 16
       |)
       |SELECT d.doc_id,
       |  CAST(SUM(t.n_sym) AS BIGINT) AS n_tokens,
       |  CAST(SUM(t.n_ch) AS BIGINT) AS n_chars,
       |  CAST(SUM(t.n_ch) AS DOUBLE) / CAST(SUM(t.n_sym) AS DOUBLE)
       |    AS chars_per_token
       |FROM dtoks d JOIN tns t ON t.w = d.w
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id NULLS FIRST""".stripMargin
  }

  /** text_lm_surprisal: CCNet-style language-model quality scoring
    * (Wenzek et al. 2020 — the perplexity-bucket filter the LLaMA /
    * CCNet pipelines run ahead of training): per document, the mean
    * surprisal of its token bigrams under an add-one-smoothed bigram
    * LM trained on the corpus itself, and the head/middle/tail
    * tercile bucket CCNet keeps/reviews/drops. Surprisal is the exact
    * integer fixed-point base-2 log shared with the unigram-LM leg:
    * per bigram occurrence, qlog2(c(w1) + V) − qlog2(c(w1,w2) + 1) in
    * 1/1024-bit units (≥ 0, additive, bit-identical cross-engine —
    * libm ln would break the hash gate); the only doubles are the two
    * final ratios, computed from the same exact integers in the same
    * order in both engines.
    *
    * Scale posture: bigram extraction is map-only (one pass over the
    * token arrays); the model is two hash aggregations (bigram and
    * unigram counts — the same |tokens|-row shuffle class as TF-IDF);
    * scoring is one shuffle join of doc-bigrams to bigram counts plus
    * a broadcast of the |vocab|-row context counts' relevant slice via
    * the same join. The tercile is a single window over |docs| skinny
    * rows. No all-pairs anything. */
  def lmSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docBg = Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .select($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
    val toks = Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
    val cW = toks.groupBy($"w".as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = toks.agg(countDistinct($"w").as("v"))
    val cBg = docBg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val scored = docBg
      .join(cBg, Seq("w1", "w2"))
      .join(cW, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .selectExpr("doc_id",
        s"CAST(${qlog2Spark("(c1 + v)")} - ${qlog2Spark("(c12 + 1)")} AS BIGINT) AS sq")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"sq").as("surprisal_q"))
      .select($"doc_id", $"n_bigrams", $"surprisal_q",
        ($"surprisal_q".cast("double") / lit(1024.0) /
          $"n_bigrams".cast("double")).as("bits_per_bigram"))
    scored
      .withColumn("nt", ntile(3).over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"bits_per_bigram", $"doc_id")))
      .select($"doc_id", $"n_bigrams", $"surprisal_q", $"bits_per_bigram",
        when($"nt" === 1, "head").when($"nt" === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy($"doc_id")
  }

  /** text_lm_gap: train/held-out surprisal gap — the memorization
    * (generalization-gap) probe of the corpus LM quality signal: the
    * add-one-smoothed bigram model is trained on the EVEN doc_id fold
    * only, then both folds are scored under it; a held-out mean
    * surprisal far above train means the model memorizes fold-specific
    * strings (id leaks, boilerplate) rather than learning the
    * language — exactly the diagnostic run before trusting
    * [[lmSurprisal]]'s buckets as a quality filter. Unseen events are
    * the add-one floor by construction (c₁₂→0, c₁→0 under the LEFT
    * joins), so held-out scoring needs no special casing. Same qlog2
    * discipline: per-fold Σ surprisal is an exact BIGINT, the two
    * means and the gap are terminal IEEE assemblies.
    *
    * Fixed contract: the denominator count c₁ is the RAW train
    * unigram count (every token, including document-final tokens and
    * tokens of <2-token docs), NOT the bigram-history count
    * Σ_w₂ c₁₂(w₁,·) — so P(w₂|w₁) does not normalize to exactly 1
    * over w₂. This is the deliberate engine-portable contract (both
    * engines compute the identical quantity); it slightly inflates
    * every surprisal uniformly and cancels in the train/held-out GAP,
    * which is the statistic this query reports.
    *
    * Scale posture: identical to [[lmSurprisal]] — two vocab-bounded
    * count tables behind one corpus pass each, the scoring join rides
    * the bigram key, output is ONE row. */
  def lmGap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docBg = Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", ($"doc_id" % 2).as("fold"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .select($"doc_id", $"fold", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
    val trainToks = Tables(spark, dir, "documents")
      .filter($"doc_id" % 2 === 0)
      .select(explode(split($"text", " ")).as("w"))
    val cW = trainToks.groupBy($"w".as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = trainToks.agg(countDistinct($"w").as("v"))
    val cBg = docBg.filter($"fold" === 0)
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val byFold = docBg
      .join(cBg, Seq("w1", "w2"), "left")
      .join(cW, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .selectExpr("fold",
        s"CAST(${qlog2Spark("(coalesce(c1, 0) + v)")}" +
          s" - ${qlog2Spark("(coalesce(c12, 0) + 1)")} AS BIGINT) AS sq")
      .groupBy($"fold")
      .agg(count(lit(1)).as("nb"), sum($"sq").as("sque"))
    byFold.agg(
      max(when($"fold" === 0, $"nb")).as("n_train_bigrams"),
      max(when($"fold" === 1, $"nb")).as("n_heldout_bigrams"),
      max(when($"fold" === 0,
        $"sque".cast("double") / lit(1024.0) / $"nb".cast("double")))
        .as("train_bits"),
      max(when($"fold" === 1,
        $"sque".cast("double") / lit(1024.0) / $"nb".cast("double")))
        .as("heldout_bits"))
      .withColumn("gap_bits", $"heldout_bits" - $"train_bits")
  }

  val lmGapSql: String =
    s"""WITH gdocs AS (
       |  SELECT doc_id, doc_id % 2 AS fold, string_split(text, ' ') AS t
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2
       |),
       |gbg AS MATERIALIZED (
       |  SELECT doc_id, fold, t[i + 1] AS w1, t[i + 2] AS w2
       |  FROM gdocs, unnest(range(0, len(t) - 1)) ti(i)
       |),
       |gcw AS (
       |  SELECT w AS w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |    WHERE doc_id % 2 = 0
       |  ) GROUP BY 1
       |),
       |gv AS (
       |  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |    WHERE doc_id % 2 = 0)
       |),
       |gcbg AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM gbg WHERE fold = 0 GROUP BY 1, 2
       |),
       |gfold AS (
       |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS nb,
       |    CAST(SUM(CAST(${qlog2Duck("(COALESCE(c.c1, 0) + gv.v)")}
       |      - ${qlog2Duck("(COALESCE(g.c12, 0) + 1)")} AS BIGINT))
       |      AS BIGINT) AS sque
       |  FROM gbg b
       |    LEFT JOIN gcbg g ON b.w1 = g.w1 AND b.w2 = g.w2
       |    LEFT JOIN gcw c ON b.w1 = c.w1
       |    CROSS JOIN gv
       |  GROUP BY fold
       |)
       |SELECT
       |  MAX(CASE WHEN fold = 0 THEN nb END) AS n_train_bigrams,
       |  MAX(CASE WHEN fold = 1 THEN nb END) AS n_heldout_bigrams,
       |  MAX(CASE WHEN fold = 0 THEN CAST(sque AS DOUBLE)
       |    / CAST(1024.0 AS DOUBLE) / CAST(nb AS DOUBLE) END) AS train_bits,
       |  MAX(CASE WHEN fold = 1 THEN CAST(sque AS DOUBLE)
       |    / CAST(1024.0 AS DOUBLE) / CAST(nb AS DOUBLE) END)
       |    AS heldout_bits,
       |  MAX(CASE WHEN fold = 1 THEN CAST(sque AS DOUBLE)
       |    / CAST(1024.0 AS DOUBLE) / CAST(nb AS DOUBLE) END)
       |  - MAX(CASE WHEN fold = 0 THEN CAST(sque AS DOUBLE)
       |    / CAST(1024.0 AS DOUBLE) / CAST(nb AS DOUBLE) END) AS gap_bits
       |FROM gfold""".stripMargin

  val lmSurprisalSql: String =
    s"""WITH ldocs AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2
       |),
       |lbg AS MATERIALIZED (
       |  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
       |  FROM ldocs, unnest(range(0, len(t) - 1)) ti(i)
       |),
       |lcw AS (
       |  SELECT w AS w1, COUNT(*) AS c1 FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |  ) GROUP BY 1
       |),
       |lv AS (
       |  SELECT COUNT(DISTINCT w) AS v FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |),
       |lcbg AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM lbg GROUP BY 1, 2
       |),
       |lsc AS (
       |  SELECT b.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(${qlog2Duck("(c.c1 + lv.v)")}
       |      - ${qlog2Duck("(g.c12 + 1)")}) AS BIGINT) AS surprisal_q
       |  FROM lbg b
       |  JOIN lcbg g ON g.w1 = b.w1 AND g.w2 = b.w2
       |  JOIN lcw c ON c.w1 = b.w1
       |  CROSS JOIN lv
       |  GROUP BY b.doc_id
       |),
       |lrated AS (
       |  SELECT doc_id, n_bigrams, surprisal_q,
       |    CAST(surprisal_q AS DOUBLE) / 1024.0 / CAST(n_bigrams AS DOUBLE)
       |      AS bits_per_bigram
       |  FROM lsc
       |)
       |SELECT doc_id, n_bigrams, surprisal_q, bits_per_bigram,
       |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
       |    AS ppl_bucket
       |FROM (SELECT lrated.*,
       |        ntile(3) OVER (ORDER BY bits_per_bigram, doc_id) AS nt
       |      FROM lrated)
       |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** text_kneser_ney: interpolated Kneser–Ney bigram probabilities
    * (Kneser & Ney 1995; Chen & Goodman 1998 — the smoothing every
    * KenLM-style n-gram quality scorer ships) for the corpus's top-100
    * bigrams. Where [[lmSurprisal]]'s add-one model overweights
    * frequent unigrams, KN backs off to CONTINUATION counts: how many
    * distinct contexts a word follows, not how often it appears.
    *
    *   P_KN(w2|w1) = max(c(w1w2) − d, 0)/c(w1·)
    *               + d·N1+(w1,·)/c(w1·) · N1+(·,w2)/B,   d = 3/4
    *
    * With d = 3/4 the whole expression is the exact rational
    * [max(4·c12 − 3, 0)·B + 3·fanout(w1)·fanin(w2)] / (4·c1·B) — all
    * BIGINT counts, ONE terminal IEEE division per row, no logs (the
    * house transcendental-free rule). The oracle recomputes every
    * count independently in DuckDB.
    *
    * Scale posture: the same |tokens|-row bigram aggregation class as
    * [[lmSurprisal]]; continuation/fanout tables are |vocab|-row
    * reaggregations of the bigram-type table (map-side combinable);
    * the type total is a broadcast 1-row frame; top-100 is a
    * TakeOrdered, never a global sort materialization. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bg = Tables(spark, dir, "documents")
      .select(split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .select($"bg.w1".as("w1"), $"bg.w2".as("w2"))
    val cBg = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      // feeds three reaggregations + the join. r15: lazy (guide §5) —
      // the b_types broadcast build is the materializing action.
      .localCheckpoint(false)
    val ctx = cBg.groupBy($"w1")
      .agg(sum($"c12").as("c1"), count(lit(1)).as("fanout"))
    val prec = cBg.groupBy($"w2").agg(count(lit(1)).as("fanin"))
    val btypes = cBg.agg(count(lit(1)).as("b_types"))
    cBg.join(ctx, "w1").join(prec, "w2").crossJoin(broadcast(btypes))
      .select($"w1", $"w2", $"c12", $"c1", $"fanout", $"fanin", $"b_types",
        ((greatest($"c12" * 4L - 3L, lit(0L)) * $"b_types"
          + lit(3L) * $"fanout" * $"fanin").cast("double")
          / (lit(4L) * $"c1" * $"b_types").cast("double")).as("p_kn"))
      .orderBy($"c12".desc, $"w1", $"w2")
      .limit(100)
  }

  val kneserNeySql: String =
    s"""WITH kbg AS (
       |  SELECT t[i + 1] AS w1, t[i + 2] AS w2
       |  FROM (SELECT string_split(text, ' ') AS t FROM documents
       |        WHERE len(string_split(text, ' ')) >= 2),
       |    unnest(range(0, len(t) - 1)) ti(i)
       |),
       |kcbg AS MATERIALIZED (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM kbg GROUP BY 1, 2
       |),
       |kctx AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |    CAST(COUNT(*) AS BIGINT) AS fanout
       |  FROM kcbg GROUP BY w1
       |),
       |kprec AS (
       |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS fanin FROM kcbg GROUP BY w2
       |),
       |kb AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_types FROM kcbg)
       |SELECT g.w1, g.w2, g.c12, c.c1, c.fanout, p.fanin, kb.b_types,
       |  CAST(greatest(g.c12 * 4 - 3, 0) * kb.b_types
       |    + 3 * c.fanout * p.fanin AS DOUBLE)
       |    / CAST(4 * c.c1 * kb.b_types AS DOUBLE) AS p_kn
       |FROM kcbg g
       |  JOIN kctx c ON g.w1 = c.w1
       |  JOIN kprec p ON g.w2 = p.w2
       |  CROSS JOIN kb
       |ORDER BY g.c12 DESC, g.w1, g.w2 LIMIT 100""".stripMargin

  /** text_wordpiece: the THIRD tokenizer family — WordPiece greedy
    * longest-match-first segmentation (Wu et al. 2016, the BERT
    * tokenizer; maximal munch with `##` continuation pieces), closing
    * the BPE / unigram-LM / WordPiece trio a tokenizer bake-off
    * compares. Vocabulary is derived deterministically and
    * POSITION-AWARE, the WordPiece convention: word-initial pieces are
    * stored raw, word-internal pieces prefixed `##`; every single
    * character observed at each position class is included (total
    * coverage — no UNK path), plus the top-20 multi-char pieces of
    * length 2–4 per position class by corpus weight. Encoding walks
    * each DISTINCT dictionary word left to right taking the LONGEST
    * vocab piece at the cursor — a zero-shuffle `aggregate` expression
    * against a broadcast piece set (cursor state advances ≥1 char per
    * step, so 16 iterations cover the 16-char dictionary bound).
    * Output mirrors [[bpeTokenize]]: per document, subword token
    * count, char count, chars-per-token.
    *
    * Scale posture: same encode-once-per-distinct-word discipline as
    * the other two tokenizer legs — corpus-sized work is one word join
    * + per-doc sum; the greedy walk is map-only over |vocab_words|
    * rows with a ≤ (singles + 40)-entry broadcast map. The DuckDB
    * oracle replays the same greedy walk as 16 unrolled max-munch CTE
    * steps — an independent formulation of the same traversal. */
  /** Per-distinct-word (w, n_ch, n_sym) under the WordPiece greedy
    * longest-match segmentation — the word-level core both
    * [[wordpieceTokenize]] and [[tokenizerTrio]] aggregate over. */
  private def wordpieceWordSyms(spark: SparkSession, dir: String): DataFrame =
    wordpieceWordSymsFrom(spark, wordCounts(spark, dir))

  private def wordpieceWordSymsFrom(spark: SparkSession,
      wc: DataFrame): DataFrame = {
    import spark.implicits._
    // r15: lazy (guide §5) — the vmap broadcast build materializes the
    // dictionary once for all five vocab branches.
    val words = unigramWordsFrom(spark, wc).localCheckpoint(false)
    val initMulti = words
      .select($"c_w", explode(expr(
        """filter(transform(sequence(2, 4), l ->
          |  IF(length(w) >= l, substr(w, 1, CAST(l AS INT)), NULL)),
          |  x -> x IS NOT NULL)""".stripMargin)).as("piece"))
      .groupBy($"piece").agg(sum($"c_w").as("cnt"))
      .orderBy($"cnt".desc, $"piece").limit(20)
    val contMulti = words
      .select($"c_w", explode(expr(
        """flatten(transform(sequence(2, 4), l ->
          |  IF(length(w) >= l + 1,
          |    transform(sequence(2, length(w) - l + 1),
          |      i -> concat('##', substr(w, CAST(i AS INT), CAST(l AS INT)))),
          |    array())))""".stripMargin)).as("piece"))
      .groupBy($"piece").agg(sum($"c_w").as("cnt"))
      .orderBy($"cnt".desc, $"piece").limit(20)
    val initSingle = words.select(substring($"w", 1, 1).as("piece")).distinct()
    val contSingle = words.filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(2, length(w)), i -> concat('##', substr(w, CAST(i AS INT), 1)))"))
        .as("piece")).distinct()
    val vocab = initMulti.select($"piece")
      .unionAll(contMulti.select($"piece"))
      .unionAll(initSingle).unionAll(contSingle)
      .distinct()
    val vmapRow = vocab
      .agg(map_from_entries(collect_list(struct($"piece", lit(1)))).as("vmap"))
    val greedy =
      """aggregate(
        |  sequence(1, length(w)),
        |  named_struct('pos', 0, 'n', CAST(0 AS BIGINT)),
        |  (acc, j) -> IF(acc.pos = j - 1,
        |    named_struct(
        |      'pos', acc.pos + array_max(filter(transform(sequence(1, 4), m ->
        |        IF(j + m - 1 <= length(w) AND element_at(vmap,
        |             IF(j = 1, substr(w, j, CAST(m AS INT)),
        |                concat('##', substr(w, j, CAST(m AS INT))))) IS NOT NULL,
        |          CAST(m AS INT), NULL)), x -> x IS NOT NULL)),
        |      'n', acc.n + 1),
        |    acc),
        |  acc -> acc.n) AS n_sym""".stripMargin
    words.select($"w").crossJoin(broadcast(vmapRow))
      .selectExpr("w", greedy)
      .select($"w", length($"w").as("n_ch"), $"n_sym")
  }

  def wordpieceTokenize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1 && length($"w") <= 16)
    toks.join(wordpieceWordSyms(spark, dir), "w")
      .groupBy($"doc_id")
      .agg(sum($"n_sym").as("n_tokens"),
        sum($"n_ch".cast("long")).as("n_chars"))
      .select($"doc_id", $"n_tokens", $"n_chars",
        ($"n_chars".cast("double") / $"n_tokens".cast("double"))
          .as("chars_per_token"))
      .orderBy($"doc_id")
  }

  /** The WordPiece oracle CTE fragment (vocab derivation + 16 unrolled
    * greedy max-munch steps + word-level `wsyms`) shared by
    * [[wordpieceTokenizeSql]] and [[tokenizerTrioSql]]. */
  private val wordpieceCtes: String = {
    // 16 unrolled greedy max-munch steps; each step advances every
    // unfinished word-state by its longest matching piece (states are
    // MATERIALIZED — referenced twice per step)
    val steps = (1 to 16).map { j =>
      s"""wp$j AS MATERIALIZED (
         |  SELECT w, pos, n FROM wp${j - 1} WHERE pos = length(w)
         |  UNION ALL
         |  SELECT w, pos + mbest AS pos, n + 1 AS n FROM (
         |    SELECT s.w, s.pos, s.n, max(m.m) AS mbest
         |    FROM wp${j - 1} s
         |    CROSS JOIN (SELECT unnest(range(1, 5)) AS m) m
         |    JOIN wpvocab v ON v.piece =
         |      CASE WHEN s.pos = 0 THEN substr(s.w, 1, CAST(m.m AS INTEGER))
         |           ELSE '##' || substr(s.w, CAST(s.pos + 1 AS INTEGER),
         |                                CAST(m.m AS INTEGER)) END
         |    WHERE s.pos < length(s.w) AND s.pos + m.m <= length(s.w)
         |    GROUP BY s.w, s.pos, s.n)
         |)""".stripMargin
    }.mkString(",\n")
    s"""wpwords AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS c_w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE length(w) BETWEEN 1 AND 16 GROUP BY w
       |),
       |wpim AS (
       |  SELECT piece FROM (
       |    SELECT substr(w, 1, CAST(l AS INTEGER)) AS piece,
       |      CAST(SUM(c_w) AS BIGINT) AS cnt
       |    FROM wpwords, unnest(range(2, 5)) tl(l)
       |    WHERE length(w) >= l GROUP BY 1
       |  ) ORDER BY cnt DESC, piece LIMIT 20
       |),
       |wpcm AS (
       |  SELECT piece FROM (
       |    SELECT '##' || substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER))
       |      AS piece, CAST(SUM(c_w) AS BIGINT) AS cnt
       |    FROM wpwords, unnest(range(2, 5)) tl(l),
       |      unnest(range(2, length(w) - l + 2)) ti(i)
       |    WHERE length(w) >= l + 1 GROUP BY 1
       |  ) ORDER BY cnt DESC, piece LIMIT 20
       |),
       |wpis AS (SELECT DISTINCT substr(w, 1, 1) AS piece FROM wpwords),
       |wpcs AS (
       |  SELECT DISTINCT '##' || substr(w, CAST(i AS INTEGER), 1) AS piece
       |  FROM wpwords, unnest(range(2, length(w) + 1)) ti(i)
       |  WHERE length(w) >= 2
       |),
       |wpvocab AS MATERIALIZED (
       |  SELECT DISTINCT piece FROM (
       |    SELECT piece FROM wpim UNION ALL SELECT piece FROM wpcm
       |    UNION ALL SELECT piece FROM wpis UNION ALL SELECT piece FROM wpcs)
       |),
       |wp0 AS MATERIALIZED (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS n FROM wpwords
       |),
       |$steps,
       |wsyms AS (
       |  SELECT w, length(w) AS n_ch, n AS n_sym FROM wp16
       |)""".stripMargin
  }

  val wordpieceTokenizeSql: String =
    s"""WITH $wordpieceCtes,
       |wtoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT t.doc_id,
       |  CAST(SUM(s.n_sym) AS BIGINT) AS n_tokens,
       |  CAST(SUM(s.n_ch) AS BIGINT) AS n_chars,
       |  CAST(SUM(s.n_ch) AS DOUBLE) / CAST(SUM(s.n_sym) AS DOUBLE)
       |    AS chars_per_token
       |FROM wtoks t JOIN wsyms s ON t.w = s.w
       |WHERE length(t.w) BETWEEN 1 AND 16
       |GROUP BY t.doc_id${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** text_tokenizer_compare: the BPE and unigram-LM apply tiers put
    * head-to-head — per language, fertility (tokens per word) and
    * compression (chars per token) under EACH trained tokenizer, and
    * which one wins. This is the actual decision table a pretraining
    * team reads when picking a tokenizer family (Kudo & Richardson
    * 2018 report exactly this comparison); computing it inside the
    * engine means the decision updates with every corpus refresh.
    * Restricted to the 1–16-char dictionary both tokenizers cover so
    * the comparison is apples-to-apples.
    *
    * Scale posture: both models are vocab-bounded; both word-level
    * encoders run once per DISTINCT word; the corpus-sized work is one
    * shared token explode joined to two tiny word maps, aggregated
    * map-side to |langs| rows. */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15 (guide §2.4): ONE shared word-count dictionary for the BPE
    // trainer, the BPE apply chain, and the unigram EM+DP leg — the
    // corpus explode+groupBy used to run 3× inside this query.
    val wc = wordCounts(spark, dir).localCheckpoint(false)
    val merges = bpeTrainFrom(spark, wc)
    var words = unigramWordsFrom(spark, wc).select($"w")
      .select($"w", regexp_replace($"w", "(.)", "$1").as("wseq"))
    for (best <- merges)
      words = words
        .crossJoin(broadcast(best.select($"pa".as("bpa"), $"pb".as("bpb"))))
        .select($"w", expr(
          "replace(wseq, concat(chr(31), bpa, chr(31), bpb), " +
            "concat(chr(31), bpa, bpb))").as("wseq"))
    val bpeSyms = words.select($"w",
      size(split(expr("substr(wseq, 2)"), "")).as("bpe_sym"))
    val uniSyms = unigramWordSymsFrom(spark, wc)
      .select($"w", $"n_ch", $"n_sym".as("uni_sym"))
    val toks = Tables(spark, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1 && length($"w") <= 16)
    toks.join(bpeSyms, "w").join(uniSyms, "w")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum($"bpe_sym".cast("long")).as("bpe_tokens"),
        sum($"uni_sym".cast("long")).as("uni_tokens"),
        sum($"n_ch".cast("long")).as("n_chars"))
      .select($"lang", $"n_words", $"bpe_tokens", $"uni_tokens",
        ($"bpe_tokens".cast("double") / $"n_words".cast("double"))
          .as("bpe_fertility"),
        ($"uni_tokens".cast("double") / $"n_words".cast("double"))
          .as("uni_fertility"),
        ($"n_chars".cast("double") / $"bpe_tokens".cast("double"))
          .as("bpe_chars_per_token"),
        ($"n_chars".cast("double") / $"uni_tokens".cast("double"))
          .as("uni_chars_per_token"),
        when($"bpe_tokens" < $"uni_tokens", "bpe")
          .when($"uni_tokens" < $"bpe_tokens", "unigram")
          .otherwise("tie").as("winner"))
      .orderBy($"lang")
  }

  val tokenizerCompareSql: String =
    s"""WITH $bpeCtes,
       |$unigramTrainCtes,
       |umodel AS (
       |  SELECT l.piece, COALESCE(e.em_cnt, CAST(0 AS BIGINT)) AS em_cnt
       |  FROM ulp l LEFT JOIN uem e ON e.piece = l.piece
       |),
       |ut2 AS (
       |  SELECT CAST(SUM(em_cnt) + COUNT(*) AS BIGINT) AS t_tot FROM umodel
       |),
       |ulp2 AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(${qlog2Duck("(em_cnt + 1)")} - ${qlog2Duck("t_tot")} AS BIGINT) AS lp
       |  FROM umodel, ut2
       |),
       |${unigramDpCtes("t", "ulp2")},
       |tns AS (
       |  SELECT b.w, CAST(length(b.w) AS INTEGER) AS n_ch,
       |    CAST(len(string_split(substr(b.seg, 2), chr(31))) AS INTEGER)
       |      AS uni_sym
       |  FROM tball16 b JOIN uwords v ON v.w = b.w AND b.pos = length(v.w)
       |),
       |cw0 AS (
       |  SELECT w, regexp_replace(w, '(.)', chr(31) || '\\1', 'g') AS wseq
       |  FROM uwords
       |),
       |${(1 to 5).map { k =>
          s"""cw$k AS (
             |  SELECT w, replace(wseq, chr(31) || b.pa || chr(31) || b.pb,
             |    chr(31) || b.pa || b.pb) AS wseq
             |  FROM cw${k - 1} CROSS JOIN best$k b
             |)""".stripMargin
        }.mkString(",\n")},
       |bns AS (
       |  SELECT w,
       |    CAST(len(string_split(substr(wseq, 2), chr(31))) AS INTEGER)
       |      AS bpe_sym
       |  FROM cw5
       |),
       |cmptoks AS (
       |  SELECT lang, w FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE length(w) BETWEEN 1 AND 16
       |)
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(b.bpe_sym) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(u.uni_sym) AS BIGINT) AS uni_tokens,
       |  CAST(SUM(b.bpe_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS bpe_fertility,
       |  CAST(SUM(u.uni_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS uni_fertility,
       |  CAST(SUM(u.n_ch) AS DOUBLE) / CAST(SUM(b.bpe_sym) AS DOUBLE)
       |    AS bpe_chars_per_token,
       |  CAST(SUM(u.n_ch) AS DOUBLE) / CAST(SUM(u.uni_sym) AS DOUBLE)
       |    AS uni_chars_per_token,
       |  CASE WHEN SUM(b.bpe_sym) < SUM(u.uni_sym) THEN 'bpe'
       |       WHEN SUM(u.uni_sym) < SUM(b.bpe_sym) THEN 'unigram'
       |       ELSE 'tie' END AS winner
       |FROM cmptoks t JOIN bns b ON b.w = t.w JOIN tns u ON u.w = t.w
       |GROUP BY lang
       |${sqlOrderBy(Seq("lang")).trim}""".stripMargin

  /** text_tokenizer_trio: the full three-family bake-off —
    * [[tokenizerCompare]]'s per-language scorecard extended with the
    * WordPiece leg, so one query answers the question a tokenizer
    * selection actually asks: per language, token counts and
    * fertilities under BPE, unigram-LM, and WordPiece, and which
    * family compresses this language best (deterministic tie-break in
    * bpe → unigram → wordpiece order). All three encoders run at the
    * DISTINCT-WORD grain against their bounded broadcast models; the
    * corpus-sized work is one shared token scan + three word joins.
    *
    * Scale posture: the union of three measured-flat stages (SCALE.md
    * fourth wave: wordpiece FLAT ×25→×100; the bpe/unigram legs ride
    * `text_tokenizer_compare`'s measured chassis). */
  def tokenizerTrio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15 (guide §2.4): one shared dictionary for all FOUR legs (BPE
    // train, BPE apply, unigram EM+DP, WordPiece) — was 4 corpus aggs.
    val wc = wordCounts(spark, dir).localCheckpoint(false)
    val merges = bpeTrainFrom(spark, wc)
    var words = unigramWordsFrom(spark, wc).select($"w")
      .select($"w", regexp_replace($"w", "(.)", "$1").as("wseq"))
    for (best <- merges)
      words = words
        .crossJoin(broadcast(best.select($"pa".as("bpa"), $"pb".as("bpb"))))
        .select($"w", expr(
          "replace(wseq, concat(chr(31), bpa, chr(31), bpb), " +
            "concat(chr(31), bpa, bpb))").as("wseq"))
    val bpeSyms = words.select($"w",
      size(split(expr("substr(wseq, 2)"), "")).as("bpe_sym"))
    val uniSyms = unigramWordSymsFrom(spark, wc)
      .select($"w", $"n_ch", $"n_sym".as("uni_sym"))
    val wpSyms = wordpieceWordSymsFrom(spark, wc)
      .select($"w", $"n_sym".as("wp_sym"))
    val toks = Tables(spark, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1 && length($"w") <= 16)
    toks.join(bpeSyms, "w").join(uniSyms, "w").join(wpSyms, "w")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum($"bpe_sym".cast("long")).as("bpe_tokens"),
        sum($"uni_sym".cast("long")).as("uni_tokens"),
        sum($"wp_sym").as("wp_tokens"))
      .select($"lang", $"n_words", $"bpe_tokens", $"uni_tokens",
        $"wp_tokens",
        ($"bpe_tokens".cast("double") / $"n_words".cast("double"))
          .as("bpe_fertility"),
        ($"uni_tokens".cast("double") / $"n_words".cast("double"))
          .as("uni_fertility"),
        ($"wp_tokens".cast("double") / $"n_words".cast("double"))
          .as("wp_fertility"),
        when($"bpe_tokens" <= $"uni_tokens" &&
          $"bpe_tokens" <= $"wp_tokens", "bpe")
          .when($"uni_tokens" <= $"wp_tokens", "unigram")
          .otherwise("wordpiece").as("winner"))
      .orderBy($"lang")
  }

  val tokenizerTrioSql: String = {
    val cmp = tokenizerCompareSql
    // reuse the compare oracle's full CTE chain (bpe merges, unigram
    // EM + DP, per-word bns/tns, the shared token scan) and extend it
    // with the WordPiece fragment + the three-way final select
    val ctesEnd = cmp.indexOf(")\nSELECT lang,")
    require(ctesEnd > 0, "tokenizerCompareSql shape changed")
    val ctes = cmp.substring(0, ctesEnd + 1)
    s"""$ctes,
       |$wordpieceCtes
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(b.bpe_sym) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(u.uni_sym) AS BIGINT) AS uni_tokens,
       |  CAST(SUM(w.n_sym) AS BIGINT) AS wp_tokens,
       |  CAST(SUM(b.bpe_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS bpe_fertility,
       |  CAST(SUM(u.uni_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS uni_fertility,
       |  CAST(SUM(w.n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS wp_fertility,
       |  CASE WHEN SUM(b.bpe_sym) <= SUM(u.uni_sym)
       |            AND SUM(b.bpe_sym) <= SUM(w.n_sym) THEN 'bpe'
       |       WHEN SUM(u.uni_sym) <= SUM(w.n_sym) THEN 'unigram'
       |       ELSE 'wordpiece' END AS winner
       |FROM cmptoks t
       |  JOIN bns b ON b.w = t.w
       |  JOIN tns u ON u.w = t.w
       |  JOIN wsyms w ON w.w = t.w
       |GROUP BY lang
       |${sqlOrderBy(Seq("lang")).trim}""".stripMargin
  }

  /** corpus_mix_entropy: Shannon entropy of each language's SOURCE
    * mixture — the diversity number a data-mixture dashboard tracks
    * (a language whose corpus collapses into one domain is a
    * fine-tuning liability long before its token count says so).
    * Made hash-gateable by the same exact integer fixed-point log the
    * tokenizer tier uses: H·N = Σ_s c_s·(qlog2(N) − qlog2(c_s)) in
    * 1/1024-bit units — pure BIGINT arithmetic, bit-identical in both
    * engines, divided once at the end into bits-per-doc. Also emits
    * the normalized evenness H/log2(S) (1.0 = perfectly even mix).
    *
    * Scale posture: one |docs|-row groupBy to (lang, source) counts,
    * then a |langs×sources|-row rollup — two map-side-combined
    * aggregations, output |langs| rows at any corpus size. */
  def mixEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, dir, "documents")
      .groupBy($"lang", $"source").agg(count(lit(1)).as("c_s"))
    val perLang = cells.groupBy($"lang")
      .agg(sum($"c_s").as("n_docs"), count(lit(1)).as("n_sources"))
    cells.join(perLang, "lang")
      .selectExpr("lang", "n_docs", "n_sources",
        s"c_s * (${qlog2Spark("n_docs")} - ${qlog2Spark("c_s")}) AS hq")
      .groupBy($"lang")
      .agg(first($"n_docs").as("n_docs"),
        first($"n_sources").as("n_sources"),
        sum($"hq").as("entropy_q"))
      .selectExpr("lang", "n_docs", "n_sources", "entropy_q",
        "CAST(entropy_q AS DOUBLE) / 1024.0 / CAST(n_docs AS DOUBLE) AS bits_per_doc",
        s"""CASE WHEN n_sources > 1
           |  THEN (CAST(entropy_q AS DOUBLE) / 1024.0 / CAST(n_docs AS DOUBLE))
           |    / (CAST(${qlog2Spark("n_sources")} AS DOUBLE) / 1024.0)
           |  ELSE CAST(0 AS DOUBLE) END AS evenness""".stripMargin)
      .orderBy($"lang")
  }

  val mixEntropySql: String =
    s"""WITH mecells AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c_s
       |  FROM documents GROUP BY lang, source
       |),
       |meper AS (
       |  SELECT lang, CAST(SUM(c_s) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_sources
       |  FROM mecells GROUP BY lang
       |)
       |SELECT lang, n_docs, n_sources, entropy_q,
       |  CAST(entropy_q AS DOUBLE) / 1024.0 / CAST(n_docs AS DOUBLE)
       |    AS bits_per_doc,
       |  CASE WHEN n_sources > 1
       |    THEN (CAST(entropy_q AS DOUBLE) / 1024.0 / CAST(n_docs AS DOUBLE))
       |      / (CAST(${qlog2Duck("n_sources")} AS DOUBLE) / 1024.0)
       |    ELSE CAST(0 AS DOUBLE) END AS evenness
       |FROM (
       |  SELECT c.lang,
       |    ANY_VALUE(p.n_docs) AS n_docs,
       |    ANY_VALUE(p.n_sources) AS n_sources,
       |    CAST(SUM(c.c_s * (${qlog2Duck("p.n_docs")} - ${qlog2Duck("c.c_s")}))
       |      AS BIGINT) AS entropy_q
       |  FROM mecells c JOIN meper p ON p.lang = c.lang
       |  GROUP BY c.lang
       |)
       |${sqlOrderBy(Seq("lang")).trim}""".stripMargin

  /** corpus_weighted_sample: distributed weighted sampling WITHOUT
    * replacement (Efraimidis–Spirakis 2006 A-ES, the one-pass
    * reservoir algorithm every mixture builder at scale uses): each
    * doc draws key u^(1/w) and the top-n keys per language stratum
    * are the sample — here length-weighted (w = n_chars), i.e.
    * sampling proportional-to-size for a token budget.
    *
    * Made exactly cross-engine: u is the salted-md5 u32 (+1, so
    * log is defined), and instead of u^(1/w) we rank by the monotone
    * transform −log2(u/2^32)/w in integer fixed point —
    * neg = 32768 − qlog2(u') (1/1024-bit units, ≥ 0), key =
    * (neg · 2^20) div w, both operands non-negative so Spark's
    * truncating `div` and DuckDB's flooring `//` agree. Smallest key
    * wins (u largest ⇔ neg smallest), doc_id tiebreak.
    *
    * Scale posture: one map pass computes keys, then a per-stratum
    * top-n via the rank window — which Catalyst rewrites to a partial
    * `WindowGroupLimit` BELOW the exchange (plan-gated in PlanSpec),
    * so each map task forwards at most n rows per stratum: that
    * per-partition bounded heap IS the A-ES reservoir, and the
    * shuffle carries n·|langs| rows per task, not the corpus. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 50
    val keyed = Tables(spark, dir, "documents")
      .select($"lang", $"doc_id", $"n_chars".as("w"))
      .withColumn("u", expr(
        "cast(conv(substr(md5(cast(concat('aes:', cast(doc_id AS STRING)) " +
          "as binary)), 1, 8), 16, 10) as bigint) + 1"))
      .withColumn("neg", expr(s"32768 - ${qlog2Spark("u")}"))
      .withColumn("k", expr("(neg * 1048576) div w"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"k", $"doc_id")
    keyed.withColumn("rk", row_number().over(w))
      .filter($"rk" <= n)
      .select($"lang", $"rk", $"doc_id", $"w", $"k")
      .orderBy($"lang", $"rk")
  }

  val weightedSampleSql: String =
    s"""WITH wsk AS (
       |  SELECT lang, doc_id, n_chars AS w,
       |    CAST('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |      AS BIGINT) + 1 AS u
       |  FROM documents
       |),
       |wsn AS (
       |  SELECT lang, doc_id, w,
       |    CAST(((32768 - ${qlog2Duck("u")}) * 1048576) // w AS BIGINT) AS k
       |  FROM wsk
       |),
       |wsr AS (
       |  SELECT lang, doc_id, w, k,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY k, doc_id)
       |      AS INTEGER) AS rk
       |  FROM wsn
       |)
       |SELECT lang, rk, doc_id, w, k FROM wsr WHERE rk <= 50
       |${sqlOrderBy(Seq("lang", "rk")).trim}""".stripMargin

  /** The PII detector patterns, in the Java-regex ∩ RE2 common dialect
    * so Spark and DuckDB count identically: email, E.164-ish phone,
    * IPv4, US-SSN shape, and long digit runs (the catch-all for
    * account/card numbers). Order matters for [[piiRedact]]: longer /
    * more specific shapes first so a redaction never splits a match a
    * later pattern would have caught. */
  private[graft] val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone" -> "\\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}",
    "digit_run" -> "[0-9]{6,}")

  /** text_pii_scan: regex PII detection — the redaction audit every
    * publicly-released training corpus runs (C4 and The Pile document
    * exactly this pass). Per source: document count, per-pattern match
    * totals, and the count of documents with ANY hit. Map-only (one
    * regexp_extract_all per pattern fused into a single projection),
    * aggregated map-side — at 100 TB this is a single scan emitting
    * |sources| rows. The harness corpus is PII-clean, so the oracle's
    * assertion is that both engines count ZERO the same way — the
    * detection direction is proven by PiiSpec's seeded-dirty frame
    * (each pattern trips; [[piiRedact]] then drives every count back
    * to zero), the same clean-corpus/dirty-spec split as dq_checks. */
  def piiScan(spark: SparkSession, dir: String): DataFrame =
    piiScanFrame(Tables(spark, dir, "documents"))

  /** [[piiScan]] over an arbitrary (source, text) frame — the spec
    * seeds a dirty one; production pipelines point it at any stage. */
  def piiScanFrame(docs: DataFrame): DataFrame = {
    // column-form regexp_extract_all: the pattern rides as a literal,
    // never through the SQL parser (whose string-literal escaping
    // would strip the \b / \+ / \. backslashes)
    val counts = piiPatterns.map { case (n, p) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0)))
        .cast("long").as(s"n_$n")
    }
    val perDoc = docs.select(col("source") +: counts: _*)
    val total = piiPatterns.map { case (n, _) => col(s"n_$n") }
      .reduce(_ + _)
    perDoc
      .withColumn("any_hit", (total > 0).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        piiPatterns.map { case (n, _) =>
          sum(col(s"n_$n")).as(s"n_$n")
        } :+ sum(col("any_hit")).as("n_docs_with_pii"): _*)
      .orderBy(col("source"))
  }

  val piiScanSql: String = {
    val cols = piiPatterns.map { case (n, p) =>
      s"CAST(SUM(len(regexp_extract_all(text, '$p'))) AS BIGINT) AS n_$n"
    }.mkString(",\n       |  ")
    val anyExpr = piiPatterns.map { case (_, p) =>
      s"len(regexp_extract_all(text, '$p'))"
    }.mkString(" + ")
    s"""SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  $cols,
       |  CAST(SUM(CASE WHEN $anyExpr > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_with_pii
       |FROM documents GROUP BY source
       |${sqlOrderBy(Seq("source")).trim}""".stripMargin
  }

  /** Redaction transform paired with [[piiScan]]: each pattern's
    * matches replaced by a typed placeholder, applied in the same
    * specificity order the scan counts in. Pure column expression —
    * composable into any pipeline stage, batch or streaming. */
  def piiRedact(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiPatterns.foldLeft(text) { case (c, (n, p)) =>
      regexp_replace(c, p, s"<$n>")
    }

  /** Cross-document duplicated-span coverage — the exact-substring dedup
    * signal (Lee et al. 2022): for every document, how much of it is
    * covered by an 8-token window that appears verbatim in at least one
    * OTHER document. Pipeline: 8-gram shingles with start positions →
    * shingles present in >= 2 distinct docs (the duplicate set) →
    * candidate-driven join back to positions → per-doc union of the
    * covered [i, i+7] intervals (counted exactly by exploding each
    * window to its 8 token slots and distinct-counting).
    *
    * Scale posture: the shingle groupBy shuffles |tokens| rows (same
    * class as the minhash signature build, Dedup.scala); everything
    * after is proportional to DUPLICATED spans only, which curation
    * assumes is the small minority. No all-pairs comparison anywhere.
    * Spans shorter than 8 tokens never match (both engines emit zero
    * shingles for <8-token docs — the <3-token sequence() hazard from
    * ADVICE.md round 2 doesn't arise because of the size filter). */
  def spanCover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.PosShingles.register(spark)
    val toks = Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 8)
      .select($"doc_id", size($"t").as("n_tok"), $"t")
    // native generator (functions/PosShingles): rows stream out lazily,
    // no per-doc shingle array materialization — vs the explode(
    // transform(sequence…)) chain; equality proven in PosShinglesSpec
    val sh = toks.selectExpr("doc_id", "n_tok",
      "pos_shingles(t, 8, ' ') AS (i, sh)")
    val dup = sh.groupBy($"sh")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"sh")
    sh.join(dup, "sh")
      .select($"doc_id", $"n_tok", $"i",
        explode(expr("sequence(i, i + 7)")).as("p"))
      .groupBy($"doc_id")
      .agg(
        first($"n_tok").as("n_tok"),
        countDistinct(when($"p" === $"i", $"i")).as("n_dup_spans"),
        countDistinct($"p").as("n_covered"),
        (countDistinct($"p") / first($"n_tok").cast("double"))
          .as("dup_fraction"))
      .orderBy($"doc_id")
  }

  val spanCoverSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8
       |),
       |sh AS (
       |  SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tok,
       |    unnest(list_transform(range(0, len(t) - 7),
       |      i -> struct_pack(i := CAST(i AS INTEGER),
       |                       sh := array_to_string(list_slice(t, i + 1, i + 8), ' '))))
       |      AS s
       |  FROM toks
       |),
       |flat AS (SELECT doc_id, n_tok, s.i AS i, s.sh AS sh FROM sh),
       |dup AS (
       |  SELECT sh FROM flat GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
       |),
       |cov AS (
       |  SELECT doc_id, n_tok, i, unnest(range(i, i + 8)) AS p
       |  FROM flat JOIN dup USING (sh)
       |)
       |SELECT doc_id, ANY_VALUE(n_tok) AS n_tok,
       |  CAST(COUNT(DISTINCT CASE WHEN p = i THEN i END) AS BIGINT) AS n_dup_spans,
       |  CAST(COUNT(DISTINCT p) AS BIGINT) AS n_covered,
       |  COUNT(DISTINCT p) / CAST(ANY_VALUE(n_tok) AS DOUBLE) AS dup_fraction
       |FROM cov GROUP BY doc_id${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** dedup_max_span: VARIABLE-LENGTH maximal-match upgrade of
    * [[spanCover]] — per document, the longest token span shared
    * verbatim with some single other document (Lee et al. 2022's
    * dedup signal at its natural granularity instead of the fixed
    * 8-gram one). No suffix array is materialized: matching 8-gram
    * anchors between two documents lie on a DIAGONAL (d1, d2,
    * p1 − p2), and a maximal run of consecutive anchors along one
    * diagonal IS a maximal shared span — overlapping 8-grams force
    * token-exact equality across the whole window, so a run of R
    * anchors certifies a shared span of exactly R + 7 tokens. Runs
    * fall out of the classic gaps-and-islands window (p1 minus
    * row_number over the diagonal).
    *
    * Scale posture: the anchor self-join is candidate-driven
    * (Σ\|shingle bucket\|² pair work — the [[spanCover]]/PPJoin class,
    * proportional to duplicated content, never all-pairs); the island
    * window partitions by (d1, d2, diag) — millions of short
    * partitions; the per-doc rollup is one skinny aggregation. */
  def maxSpan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.PosShingles.register(spark)
    val toks = Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 8)
    val sh = toks.selectExpr("doc_id", "pos_shingles(t, 8, ' ') AS (i, sh)")
    val pairs = sh.select($"sh", $"doc_id".as("d1"), $"i".as("p1"))
      .join(sh.select($"sh", $"doc_id".as("d2"), $"i".as("p2")), "sh")
      .filter($"d1" =!= $"d2")
      .select($"d1", $"p1", $"d2", ($"p1" - $"p2").as("diag"))
    val w = Window.partitionBy($"d1", $"d2", $"diag").orderBy($"p1")
    val runs = pairs
      .withColumn("grp", $"p1" - row_number().over(w))
      .groupBy($"d1", $"d2", $"diag", $"grp")
      .agg(count(lit(1)).as("run"))
    val perDoc = runs.groupBy($"d1".as("doc_id"))
      .agg(max($"run" + 7).as("longest"), count(lit(1)).as("n_runs"))
    Tables(spark, dir, "documents").select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"longest", lit(0L)).as("longest_dup_span"),
        coalesce($"n_runs", lit(0L)).as("n_dup_runs"))
      .orderBy($"doc_id")
  }

  val maxSpanSql: String =
    s"""WITH mtoks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8
       |),
       |mflat AS MATERIALIZED (
       |  SELECT doc_id, s.i AS i, s.sh AS sh FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(t) - 7),
       |        i -> struct_pack(i := CAST(i AS INTEGER),
       |          sh := array_to_string(list_slice(t, i + 1, i + 8), ' '))))
       |        AS s
       |    FROM mtoks)
       |),
       |mpr AS (
       |  SELECT a.doc_id AS d1, a.i AS p1, b.doc_id AS d2,
       |    a.i - b.i AS diag
       |  FROM mflat a JOIN mflat b
       |    ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |),
       |mruns AS (
       |  SELECT d1, COUNT(*) AS run FROM (
       |    SELECT d1, d2, diag, p1,
       |      p1 - row_number() OVER (PARTITION BY d1, d2, diag
       |        ORDER BY p1) AS grp
       |    FROM mpr
       |  ) GROUP BY d1, d2, diag, grp
       |),
       |mper AS (
       |  SELECT d1 AS doc_id, CAST(MAX(run + 7) AS BIGINT) AS longest,
       |    CAST(COUNT(*) AS BIGINT) AS n_runs
       |  FROM mruns GROUP BY d1
       |)
       |SELECT d.doc_id,
       |  COALESCE(p.longest, CAST(0 AS BIGINT)) AS longest_dup_span,
       |  COALESCE(p.n_runs, CAST(0 AS BIGINT)) AS n_dup_runs
       |FROM documents d LEFT JOIN mper p USING (doc_id)
       |${sqlOrderBy(Seq("doc_id")).trim}""".stripMargin

  /** Benchmark DECONTAMINATION audit — the n-gram overlap check every
    * serious pretraining corpus ships (GPT-3 appendix C; The Pile;
    * FineWeb's decontamination pass): training documents sharing long
    * verbatim n-grams with an evaluation suite leak test answers into
    * the train set and corrupt downstream evals. The held-out suite is
    * stood in by the documents of the lexicographically-first source
    * (deterministic, corpus-derived); every OTHER document is scored by
    * the fraction of its 8-gram windows appearing verbatim ANYWHERE in
    * the eval set, with the ≥25% verdict a curation pipeline would gate
    * shipping on.
    *
    * Scale posture: eval shingles collapse to a DISTINCT set (the
    * benchmark suite is tiny next to the corpus — broadcast-able at
    * 100 TB; here an equi-join); the train side is the same streaming
    * [[graft.functions.PosShingles]] generator [[spanCover]] uses, and
    * the hit test is ONE row-preserving left join against the deduped
    * eval shingles (no fanout: the join key is distinct on the build
    * side) feeding a single per-doc count — no all-pairs comparison,
    * work ∝ \|train tokens\| + \|eval shingles\|. */
  def decontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.PosShingles.register(spark)
    val docs = Tables(spark, dir, "documents")
    val evalSrc = docs.agg(min($"source").as("eval_src"))
    val toks = docs
      .select($"doc_id", $"source", split($"text", " ").as("t"))
      .filter(size($"t") >= 8)
      .crossJoin(broadcast(evalSrc))
    val sh = toks.selectExpr("doc_id", "source", "eval_src",
      "pos_shingles(t, 8, ' ') AS (i, sh)")
    val evalSh = sh.filter($"source" === $"eval_src")
      .select($"sh").distinct().withColumn("m", lit(1))
    sh.filter($"source" =!= $"eval_src")
      .select($"doc_id", $"sh")
      .join(evalSh, Seq("sh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"), count($"m").as("n_hit"))
      .select($"doc_id", $"n_windows", $"n_hit",
        ($"n_hit".cast("double") / $"n_windows".cast("double"))
          .as("contam_frac"))
      .withColumn("verdict",
        when($"contam_frac" >= 0.25, lit("contaminated"))
          .otherwise(lit("clean")))
      .orderBy($"doc_id")
  }

  val decontamSql: String =
    s"""WITH ev AS (SELECT MIN(source) AS eval_src FROM documents),
       |toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8
       |),
       |sh AS (
       |  SELECT doc_id, source,
       |    unnest(list_transform(range(0, len(t) - 7),
       |      i -> array_to_string(list_slice(t, i + 1, i + 8), ' '))) AS sh
       |  FROM toks
       |),
       |evs AS (
       |  SELECT DISTINCT sh, 1 AS m FROM sh, ev WHERE source = eval_src
       |),
       |tr AS (
       |  SELECT doc_id, sh.sh AS sh FROM sh, ev WHERE source <> eval_src
       |),
       |scored AS (
       |  SELECT tr.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_windows,
       |    CAST(COUNT(evs.m) AS BIGINT) AS n_hit
       |  FROM tr LEFT JOIN evs USING (sh)
       |  GROUP BY tr.doc_id
       |)
       |SELECT doc_id, n_windows, n_hit,
       |  CAST(n_hit AS DOUBLE) / CAST(n_windows AS DOUBLE) AS contam_frac,
       |  CASE WHEN CAST(n_hit AS DOUBLE) / CAST(n_windows AS DOUBLE) >= 0.25
       |    THEN 'contaminated' ELSE 'clean' END AS verdict
       |FROM scored${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** corpus_pipeline_funnel: the END-TO-END curation funnel as one
    * query — survivor counts through raw → exact dedup (keep the
    * min-doc_id copy per content hash) → decontamination (drop the
    * eval source itself plus every ≥25% 8-gram-overlap doc) →
    * quality filter (the 4-rule FineWeb-style conjunction) — i.e. the
    * number a curation run reports at each stage gate, computed by
    * COMPOSING the registered stage operators ([[graft.llm.Dedup.exact]],
    * [[decontam]], [[filterVerdicts]]) rather than re-stating them.
    * Docs too short to carry an 8-gram window pass decontamination by
    * construction (no windows → nothing can overlap), matching the
    * stage operator's own domain.
    *
    * Scale posture: each stage is the already-audited operator's plan
    * (hash groupBy / broadcast eval-shingle join / map-only rules);
    * the funnel adds only doc_id-keyed left joins carrying one flag
    * bit each and a single global aggregate — no new shuffle class,
    * one wide row out. */
  def pipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents").select($"doc_id", $"source")
    val evalSrc = docs.agg(min($"source").as("eval_src"))
    val keepers = graft.llm.Dedup.exact(spark, dir)
      .select($"keeper_doc_id".as("doc_id")).withColumn("k1", lit(1))
    val contam = decontam(spark, dir)
      .filter($"verdict" === "contaminated")
      .select($"doc_id").withColumn("c1", lit(1))
    val quality = filterVerdicts(spark, dir)
      .filter($"keep" === 1)
      .select($"doc_id").withColumn("q1", lit(1))
    docs
      .join(keepers, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .crossJoin(broadcast(evalSrc))
      .select(
        ($"k1" === 1).as("s1"),
        ($"k1" === 1 && $"source" =!= $"eval_src" && $"c1".isNull).as("s2"),
        ($"k1" === 1 && $"source" =!= $"eval_src" && $"c1".isNull &&
          $"q1" === 1).as("s3"))
      .agg(count(lit(1)).as("n_raw"),
        count_if($"s1").as("n_after_exact"),
        count_if($"s2").as("n_after_decontam"),
        count_if($"s3").as("n_after_quality"))
      .selectExpr("n_raw", "n_after_exact", "n_after_decontam",
        "n_after_quality",
        "CAST(n_after_quality AS DOUBLE) / CAST(n_raw AS DOUBLE) " +
          "AS survival_rate")
  }

  val pipelineFunnelSql: String =
    s"""WITH pfk AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
       |),
       |ev AS (SELECT MIN(source) AS eval_src FROM documents),
       |pftoks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8
       |),
       |pfsh AS (
       |  SELECT doc_id, source,
       |    unnest(list_transform(range(0, len(t) - 7),
       |      i -> array_to_string(list_slice(t, i + 1, i + 8), ' '))) AS sh
       |  FROM pftoks
       |),
       |pfevs AS (
       |  SELECT DISTINCT sh, 1 AS m FROM pfsh, ev WHERE source = eval_src
       |),
       |pfcontam AS (
       |  SELECT doc_id FROM (
       |    SELECT tr.doc_id,
       |      CAST(COUNT(*) AS BIGINT) AS n_windows,
       |      CAST(COUNT(pfevs.m) AS BIGINT) AS n_hit
       |    FROM (SELECT doc_id, pfsh.sh AS sh FROM pfsh, ev
       |          WHERE source <> eval_src) tr
       |    LEFT JOIN pfevs USING (sh)
       |    GROUP BY tr.doc_id)
       |  WHERE CAST(n_hit AS DOUBLE) / CAST(n_windows AS DOUBLE) >= 0.25
       |),
       |pfb AS (
       |  SELECT doc_id, text,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> t IN ('the', 'a', 'value', 'data'))) AS INTEGER) AS n_stop
       |  FROM documents
       |),
       |pftopw AS (
       |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_word_freq FROM (
       |    SELECT doc_id, w, COUNT(*) AS c FROM (
       |      SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) GROUP BY 1, 2
       |  ) GROUP BY doc_id
       |),
       |pfq AS (
       |  SELECT b.doc_id FROM pfb b JOIN pftopw t ON t.doc_id = b.doc_id
       |  WHERE NOT (b.n_words < 30)
       |    AND NOT (b.n_stop * 100 < b.n_words OR b.n_stop * 2 > b.n_words)
       |    AND NOT (t.max_word_freq * 10 > b.n_words)
       |    AND NOT ((length(b.text) - (b.n_words - 1)) < b.n_words * 2 OR
       |             (length(b.text) - (b.n_words - 1)) > b.n_words * 12)
       |),
       |pfflags AS (
       |  SELECT
       |    k.doc_id IS NOT NULL AS s1,
       |    k.doc_id IS NOT NULL AND d.source <> ev.eval_src
       |      AND c.doc_id IS NULL AS s2,
       |    k.doc_id IS NOT NULL AND d.source <> ev.eval_src
       |      AND c.doc_id IS NULL AND q.doc_id IS NOT NULL AS s3
       |  FROM documents d
       |  LEFT JOIN pfk k ON k.doc_id = d.doc_id
       |  LEFT JOIN pfcontam c ON c.doc_id = d.doc_id
       |  LEFT JOIN pfq q ON q.doc_id = d.doc_id
       |  CROSS JOIN ev
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
       |  CAST(COUNT(*) FILTER (s1) AS BIGINT) AS n_after_exact,
       |  CAST(COUNT(*) FILTER (s2) AS BIGINT) AS n_after_decontam,
       |  CAST(COUNT(*) FILTER (s3) AS BIGINT) AS n_after_quality,
       |  CAST(COUNT(*) FILTER (s3) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS survival_rate
       |FROM pfflags""".stripMargin

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"), unigram ratio
    * form: score each document by how target-like its token
    * distribution is, weight(doc) = mean over tokens of
    * p_target(w) / p_source(w), with the English subset standing in as
    * the target distribution. DSIR proper uses hashed n-gram features
    * and log-ratios; the ratio mean keeps the SAME ordering signal
    * while staying in Det's deterministic-double discipline (each
    * probability is one exact-count IEEE division; no transcendental
    * functions, which differ in the last ulp across engines — the same
    * reason PMI and fluency are stated in ratio form).
    *
    * Scale posture: two vocab-bounded groupBys (map-side combined) for
    * the source/target unigram models, corpus totals via a 1-row
    * broadcast (the tfidf pattern, never a driver collect), then one
    * |tokens|-row join against the broadcast-able vocab table and a
    * per-doc aggregate. Tokens unseen in the target contribute ratio 0
    * — at 100 TB add hashing (feature buckets) exactly like DSIR to cap
    * vocab memory; the plumbing is identical. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables(spark, dir, "documents")
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("w"))
    val totals = toks.agg(
      count(lit(1)).as("n_src"),
      count(when($"lang" === "en", 1)).as("n_tgt"))
    val src = toks.groupBy($"w").agg(count(lit(1)).as("c_s"))
    val tgt = toks.filter($"lang" === "en")
      .groupBy($"w").agg(count(lit(1)).as("c_t"))
    val ratio = src.join(tgt, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select($"w",
        ((coalesce($"c_t", lit(0L)).cast("double") / $"n_tgt".cast("double")) /
          ($"c_s".cast("double") / $"n_src".cast("double"))).as("r"))
    toks.join(ratio, Seq("w"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        (graft.Det.xsum($"r") / count(lit(1)).cast("double"))
          .as("dsir_weight"))
      .orderBy($"doc_id")
  }

  /** Shared DSIR CTE chain: per-doc mean target/source token-ratio as
    * `dsw(doc_id, n_tok, dsir_weight)` — reused by the resampling
    * composition below. */
  private val dsirSqlCtes: String =
    s"""toks AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents
       |),
       |totals AS (
       |  SELECT COUNT(*) AS n_src,
       |    COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_tgt
       |  FROM toks
       |),
       |src AS (SELECT w, COUNT(*) AS c_s FROM toks GROUP BY w),
       |tgt AS (SELECT w, COUNT(*) AS c_t FROM toks WHERE lang = 'en' GROUP BY w),
       |ratio AS (
       |  SELECT w,
       |    (CAST(COALESCE(c_t, 0) AS DOUBLE) / CAST(n_tgt AS DOUBLE))
       |      / (CAST(c_s AS DOUBLE) / CAST(n_src AS DOUBLE)) AS r
       |  FROM src LEFT JOIN tgt USING (w), totals
       |),
       |dsw AS (
       |  SELECT doc_id, COUNT(*) AS n_tok,
       |    ${graft.Det.sqlSum("r")} / CAST(COUNT(*) AS DOUBLE) AS dsir_weight
       |  FROM toks JOIN ratio USING (w)
       |  GROUP BY doc_id
       |)""".stripMargin

  val dsirWeightsSql: String =
    s"""WITH $dsirSqlCtes
       |SELECT doc_id, n_tok, dsir_weight
       |FROM dsw${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** corpus_dsir_resample: the SELECTION half of DSIR (Xie et al.
    * 2023) — importance RESAMPLING of the corpus under the
    * [[dsirWeights]] target-likeness weights, via the same
    * Efraimidis–Spirakis machinery as [[weightedSample]]: each doc's
    * weight quantizes to a ≥1 integer (floor(w·10⁶+0.5), bit-stable
    * because the weight itself is oracle-green), key = −qlog2(u)/wq in
    * non-negative integer fixed point, global top-200 smallest keys =
    * the resampled, target-shifted training subset. This closes the
    * score→resample loop the DSIR paper actually ships.
    *
    * Scale posture: the weight computation is [[dsirWeights]]'s two
    * vocab-bounded aggs; the resample adds one map pass + a global
    * rank(≤200) window that compiles to a partial WindowGroupLimit —
    * at most 200 rows per map task reach the exchange. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = dsirWeights(spark, dir)
      .select($"doc_id", $"dsir_weight")
      .withColumn("wq", greatest(lit(1L),
        expr("CAST(floor(dsir_weight * 1e6 + 0.5) AS BIGINT)")))
      .withColumn("u", expr(
        "cast(conv(substr(md5(cast(concat('dsir:', cast(doc_id AS STRING)) " +
          "as binary)), 1, 8), 16, 10) as bigint) + 1"))
      .withColumn("neg", expr(s"32768 - ${qlog2Spark("u")}"))
      .withColumn("k", expr("(neg * 1048576) div wq"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"k", $"doc_id")
    keyed.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 200)
      .select($"rk", $"doc_id", $"dsir_weight", $"k")
      .orderBy($"rk")
  }

  val dsirResampleSql: String =
    s"""WITH $dsirSqlCtes,
       |drk AS (
       |  SELECT doc_id, dsir_weight,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(floor(dsir_weight * 1e6 + 0.5) AS BIGINT)) AS wq,
       |    CAST('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |      AS BIGINT) + 1 AS u
       |  FROM dsw
       |),
       |drs AS (
       |  SELECT doc_id, dsir_weight,
       |    CAST(((32768 - ${qlog2Duck("u")}) * 1048576) // wq AS BIGINT) AS k
       |  FROM drk
       |)
       |SELECT rk, doc_id, dsir_weight, k FROM (
       |  SELECT doc_id, dsir_weight, k,
       |    CAST(row_number() OVER (ORDER BY k, doc_id) AS INTEGER) AS rk
       |  FROM drs)
       |WHERE rk <= 200
       |${sqlOrderBy(Seq("rk")).trim}""".stripMargin

  /** Vocabulary growth curve (Heaps' law): cumulative distinct-word
    * count as the corpus grows in doc_id order — the estimator behind
    * "how much bigger must the tokenizer vocab be at 10× data".
    * Exact cumulative distinct is a running set union (stateful, not
    * distributable); the equivalent distributed form assigns each word
    * to the FIRST document that introduces it (a min aggregate), buckets
    * first-occurrences by corpus position, and prefix-sums the bounded
    * bucket series — two partial-agg exchanges plus one |buckets|-row
    * window, no stateful scan. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // bigram vocabulary: the synthetic unigram vocab saturates in the
    // first handful of documents (31 words), so the growth unit is the
    // word BIGRAM — same unit the fluency corpus-LM models, with a
    // genuine Heaps-style long tail on this corpus
    val firstSeen = Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("w"))
      .groupBy($"w").agg(min($"doc_id").as("fd"))
    firstSeen
      .groupBy(expr("fd div 50").as("bucket"))
      .agg(count(lit(1)).as("new_words"))
      .withColumn("vocab_size", sum($"new_words").over(
        Window.orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy($"bucket")
  }

  val vocabGrowthSql: String =
    s"""WITH fs AS (
       |  SELECT w, MIN(doc_id) AS fd FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, len(t) - 1),
       |        i -> t[i+1] || ' ' || t[i+2])) AS w
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |    WHERE len(t) >= 2
       |  ) GROUP BY w
       |),
       |b AS (
       |  SELECT fd // 50 AS bucket, COUNT(*) AS new_words FROM fs GROUP BY 1
       |)
       |SELECT bucket, new_words,
       |  CAST(SUM(new_words) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS vocab_size
       |FROM b${sqlOrderBy(Seq("bucket"))}""".stripMargin

  /** text_heaps_fit: Heaps'-law fit V(N) = K·N^β over the
    * [[vocabGrowth]] curve — the β that answers "how much bigger must
    * the tokenizer vocabulary be at 10× data" as ONE number (β ≈ 0.5
    * typical for natural text; β → 1 means the feed keeps minting
    * novel strings — an id-leak/boilerplate smell). The growth points
    * are the same first-occurrence buckets as vocabGrowth, extended
    * with cumulative BIGRAM token counts; both coordinates go through
    * the engine-portable qlog2 integer fixed point, the five OLS
    * moments are exact BIGINT over the bounded bucket series, and
    * β = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) is one terminal IEEE assembly
    * (the 1024 fixed-point scale cancels in the slope — the
    * `text_zipf_fit` identity); the intercept is reported in qlog2
    * units (log₂K·1024) rather than K itself (2^x is transcendental).
    *
    * Scale posture: two corpus-collapsing aggregates (first-occurrence
    * per bigram, tokens per bucket), then every window/join/OLS runs
    * on the |buckets|-row series. */
  def heapsFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = qlog2Spark _
    val docs = Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
    // token totals need no explode — one map-side rollup of per-doc
    // bigram counts; only the first-occurrence pass pays the explode
    val bucketTok = docs
      .select($"doc_id", (size($"t") - 1).cast("long").as("nb"))
      .groupBy(expr("doc_id div 50").as("bucket"))
      .agg(sum($"nb").as("toks"))
    val bucketNew = docs
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("w"))
      .groupBy($"w").agg(min($"doc_id").as("fd"))
      .groupBy(expr("fd div 50").as("bucket"))
      .agg(count(lit(1)).as("new_words"))
    val w = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = bucketTok.join(bucketNew, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_words"))
      .withColumn("n_cum", sum($"toks").over(w))
      .withColumn("v_cum", sum($"new_words").over(w))
      .selectExpr(s"CAST(${q("n_cum")} AS BIGINT) AS x",
        s"CAST(${q("v_cum")} AS BIGINT) AS y")
    pts.agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"n".cast("double").as("nd"),
        $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"),
        $"sxy".cast("double").as("sxyd"), $"sxx".cast("double").as("sxxd"),
        $"n".as("n_points"))
      .select($"n_points",
        (($"nd" * $"sxyd" - $"sxd" * $"syd")
          / ($"nd" * $"sxxd" - $"sxd" * $"sxd")).as("heaps_beta"),
        (($"syd" - ($"nd" * $"sxyd" - $"sxd" * $"syd")
          / ($"nd" * $"sxxd" - $"sxd" * $"sxd") * $"sxd")
          / $"nd").as("intercept_qlog2"))
  }

  val heapsFitSql: String = {
    val q = qlog2Duck _
    s"""WITH hbt AS (
       |  SELECT doc_id // 50 AS bucket,
       |    CAST(SUM(CAST(len(t) - 1 AS BIGINT)) AS BIGINT) AS toks
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |  WHERE len(t) >= 2
       |  GROUP BY 1
       |),
       |hbn AS (
       |  SELECT fd // 50 AS bucket, CAST(COUNT(*) AS BIGINT) AS new_words
       |  FROM (
       |    SELECT w, MIN(doc_id) AS fd FROM (
       |      SELECT doc_id, unnest(list_transform(range(0, len(t) - 1),
       |        i -> t[i+1] || ' ' || t[i+2])) AS w
       |      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |      WHERE len(t) >= 2
       |    ) GROUP BY w
       |  ) GROUP BY 1
       |),
       |hpts AS (
       |  SELECT CAST(${q("n_cum")} AS BIGINT) AS x,
       |    CAST(${q("v_cum")} AS BIGINT) AS y
       |  FROM (
       |    SELECT
       |      CAST(SUM(toks) OVER (ORDER BY hbt.bucket
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS n_cum,
       |      CAST(SUM(COALESCE(new_words, 0)) OVER (ORDER BY hbt.bucket
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS v_cum
       |    FROM hbt LEFT JOIN hbn ON hbt.bucket = hbn.bucket
       |  )
       |),
       |hm AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       |    CAST(COUNT(*) AS DOUBLE) AS nd,
       |    CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sxd,
       |    CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS syd,
       |    CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxyd,
       |    CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxxd
       |  FROM hpts
       |)
       |SELECT n_points,
       |  (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS heaps_beta,
       |  (syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd)
       |    / nd AS intercept_qlog2
       |FROM hm""".stripMargin
  }

  /** Temperature-scaled language mixing (the mT5/DoReMi re-balancing
    * step): raw per-language document counts are re-weighted as
    * count^T with T = 0.5, flattening the head language's dominance
    * while keeping relative order, and a 1M-document budget is
    * allocated proportionally. T = 0.5 makes the power a single `sqrt`
    * — correctly-rounded IEEE, so engine-identical — and the weight
    * normalization runs in floor-scaled fixed point (scale 6 — the
    * scaled weight times the 1M budget stays exact-BIGINT even at
    * trillion-document counts) with the final ppm allocation in pure
    * BIGINT arithmetic: no float sum ever crosses an engine boundary.
    *
    * Scale posture: one map-side-combined count per language, a
    * |langs|-row broadcast total, and the allocation math on |langs|
    * rows — corpus volume only touches the first aggregate. */
  def langTemperature(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables(spark, dir, "documents")
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt($"n_docs".cast("double")) * 1e6 + 0.5)
        .cast("bigint"))
    val tot = cnt.agg(sum($"w").as("w_tot"))
    cnt.crossJoin(broadcast(tot))
      .select($"lang", $"n_docs",
        ($"w".cast("double") / $"w_tot".cast("double")).as("share"),
        expr("(w * 1000000) div w_tot").as("alloc_ppm"))
      .orderBy($"lang")
  }

  val langTemperatureSql: String =
    s"""WITH cnt AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      AS w
       |  FROM documents GROUP BY lang
       |),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_tot FROM cnt)
       |SELECT lang, n_docs,
       |  CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE) AS share,
       |  (w * 1000000) // w_tot AS alloc_ppm
       |FROM cnt, tot${sqlOrderBy(Seq("lang"))}""".stripMargin

  /** Reproducible epoch shuffles: each training epoch's global document
    * order is rank-by-salted-hash — a pure function of (epoch, doc_id),
    * so any worker, rerun, or resumed job recomputes the identical
    * permutation with no shuffle-file state to persist, and different
    * epochs get decorrelated orders by construction (different salt =
    * independent hash). The standard alternative — materializing a
    * shuffled copy per epoch — rewrites the corpus E times; this writes
    * nothing.
    *
    * Scale posture: the rank is one global sort per epoch over (hash,
    * id) — at 100 TB the sort is range-partitioned and each worker
    * reads only its rank range; more commonly the hash itself serves
    * as the SORT KEY of a bucketed layout and no runtime sort happens
    * at all. */
  def epochOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def rank(epoch: Int) = row_number().over(
      Window.orderBy(
        expr(s"md5(cast(concat('e$epoch:', cast(doc_id as string)) as binary))"),
        $"doc_id"))
    Tables(spark, dir, "documents")
      .select($"doc_id")
      .withColumn("rank_e0", rank(0))
      .withColumn("rank_e1", rank(1))
      .orderBy($"doc_id")
  }

  val epochOrderSql: String =
    s"""SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY md5('e0:' || CAST(doc_id AS VARCHAR)),
       |    doc_id) AS INTEGER) AS rank_e0,
       |  CAST(row_number() OVER (ORDER BY md5('e1:' || CAST(doc_id AS VARCHAR)),
       |    doc_id) AS INTEGER) AS rank_e1
       |FROM documents${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Language-mix drift between two corpus cohorts (here: even vs odd
    * doc ids — in production: yesterday's crawl vs today's): per-lang
    * counts in each cohort, their shares, and the share delta — the
    * distribution-shift monitor a training-data pipeline alerts on
    * before a drifted mix silently changes model behavior. Shares are
    * single exactly-rounded IEEE divisions of exact counts and the
    * delta one subtraction — engine-identical throughout.
    *
    * Scale posture: one conditional-count aggregate (both cohorts in
    * one scan) to |langs| rows + a 1-row broadcast of the totals. */
  def langDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir, "documents")
      .groupBy($"lang")
      .agg(
        sum(($"doc_id" % 2 === 0).cast("long")).as("n_a"),
        sum(($"doc_id" % 2 =!= 0).cast("long")).as("n_b"))
    val tot = base.agg(sum($"n_a").as("tot_a"), sum($"n_b").as("tot_b"))
    base.crossJoin(broadcast(tot))
      .select($"lang", $"n_a", $"n_b",
        ($"n_a".cast("double") / $"tot_a".cast("double")).as("share_a"),
        ($"n_b".cast("double") / $"tot_b".cast("double")).as("share_b"),
        (($"n_b".cast("double") / $"tot_b".cast("double"))
          - ($"n_a".cast("double") / $"tot_a".cast("double"))).as("drift"))
      .orderBy($"lang")
  }

  val langDriftSql: String =
    s"""WITH base AS (
       |  SELECT lang,
       |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a,
       |    CAST(SUM(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b
       |  FROM documents GROUP BY lang
       |),
       |tot AS (
       |  SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
       |    CAST(SUM(n_b) AS BIGINT) AS tot_b FROM base
       |)
       |SELECT lang, n_a, n_b,
       |  CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS share_a,
       |  CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS share_b,
       |  (CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
       |    - (CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE)) AS drift
       |FROM base, tot${sqlOrderBy(Seq("lang"))}""".stripMargin

  /** Neyman allocation of a labeling budget — survey sampling's
    * minimum-variance answer to "how many docs should each source
    * contribute to a 10,000-doc human-review sample": n_h ∝ N_h·S_h
    * (stratum size × stratum std-dev of the doc-length signal), the
    * variance-weighted dual of [[langTemperature]]'s count^0.5 ppm
    * split. Every step is exact: lengths are integers so the moment
    * sums are BIGINT; S_h is one sqrt of an exact ratio; the weight
    * N_h·S_h quantizes to 1e-6 fixed point; and the 10,000 slots
    * apportion by floor shares plus LARGEST-REMAINDER top-up — rank
    * on the exact integer remainder B·w mod Σw — so the allocations
    * are integers that provably sum to the budget at any partitioning.
    *
    * Scale posture: one partial-agg to |sources| moment rows; the
    * apportionment runs entirely on that bounded set (broadcast total,
    * bounded rank window). */
  def neymanAlloc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 10000L
    val strata = Tables(spark, dir, "documents")
      .select($"source", length($"text").cast("long").as("len"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"len").as("s1"), sum($"len" * $"len").as("s2"))
      .withColumn("sd", sqrt(
        ($"n_docs" * $"s2" - $"s1" * $"s1").cast("double") /
          ($"n_docs" * $"n_docs").cast("double")))
      .withColumn("wq",
        expr("CAST(floor(n_docs * sd * 1e6 + 0.5) AS BIGINT)"))
    val tot = strata.agg(sum($"wq").as("wtot"))
    val based = strata.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * wq) div wtot"))
      .withColumn("rem", expr(s"($budget * wq) % wtot"))
    val wRem = Window.orderBy($"rem".desc, $"source")
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    based
      .withColumn("short", lit(budget) - sum($"base").over(wAll))
      .withColumn("rk", row_number().over(wRem))
      .select($"source", $"n_docs", $"sd",
        ($"base" + ($"rk" <= $"short").cast("long")).as("alloc"))
      .orderBy($"source")
  }

  val neymanAllocSql: String =
    s"""WITH strata AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS s1,
       |    CAST(SUM(CAST(length(text) AS BIGINT)
       |      * CAST(length(text) AS BIGINT)) AS BIGINT) AS s2
       |  FROM documents GROUP BY 1
       |),
       |w AS (
       |  SELECT source, n_docs,
       |    sqrt(CAST(n_docs * s2 - s1 * s1 AS DOUBLE)
       |      / CAST(n_docs * n_docs AS DOUBLE)) AS sd,
       |    CAST(floor(n_docs * sqrt(CAST(n_docs * s2 - s1 * s1 AS DOUBLE)
       |      / CAST(n_docs * n_docs AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS wq
       |  FROM strata
       |),
       |t AS (SELECT CAST(SUM(wq) AS BIGINT) AS wtot FROM w),
       |b AS (
       |  SELECT source, n_docs, sd,
       |    (10000 * wq) // wtot AS base,
       |    (10000 * wq) % wtot AS rem
       |  FROM w CROSS JOIN t
       |),
       |r AS (
       |  SELECT b.*,
       |    10000 - SUM(base) OVER () AS short,
       |    row_number() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM b
       |)
       |SELECT source, n_docs, sd,
       |  CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc
       |FROM r${sqlOrderBy(Seq("source"))}""".stripMargin

  /** Composite filter VERDICT table — the FineWeb/Gopher/C4 shape of a
    * quality funnel: every document gets one row with a per-rule flag
    * column and the final keep bit, so "which rule killed this doc"
    * (the number a filter-tuning loop actually needs) is a GROUP BY
    * away, and rules can be ablated without re-running the scan. Four
    * deterministic rules, all exact-integer/ratio arithmetic:
    * too_short (< 30 words), stop_band (stopword ratio outside
    * [0.01, 0.5] — cleared-fraction integer comparisons, no float
    * thresholds), word_rep (any single word > 10% of tokens — the
    * cheap repetition proxy), len_band (mean token length outside
    * [2, 12] — cleared-fraction again). keep = no flag set.
    *
    * Scale posture: one scan; the only shuffle is the per-doc word
    * top-frequency (partial-aggregated (doc, word) counts); flags are
    * codegen'd integer comparisons. At 100 TB each rule column is also
    * the input to the removal-attribution rollup — no second pass. */
  def filterVerdicts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir, "documents")
      .select($"doc_id", $"text", split($"text", " ").as("toks"))
      .select($"doc_id", $"text", size($"toks").as("n_words"),
        expr("size(filter(toks, t -> t IN ('the', 'a', 'value', 'data')))")
          .as("n_stop"))
    val topw = Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("max_word_freq"))
    base.join(topw, "doc_id")
      .select($"doc_id", $"n_words",
        ($"n_words" < 30).cast("int").as("flag_too_short"),
        // stopword ratio outside [0.01, 0.5]: 100*ns < nw OR 2*ns > nw
        ($"n_stop" * 100 < $"n_words" || $"n_stop" * 2 > $"n_words")
          .cast("int").as("flag_stop_band"),
        ($"max_word_freq" * 10 > $"n_words").cast("int").as("flag_word_rep"),
        // mean token length = (chars - (nw-1)) / nw outside [2, 12]
        ((length($"text") - ($"n_words" - 1)) < $"n_words" * 2 ||
          (length($"text") - ($"n_words" - 1)) > $"n_words" * 12)
          .cast("int").as("flag_len_band"))
      .withColumn("keep",
        ($"flag_too_short" + $"flag_stop_band" + $"flag_word_rep" +
          $"flag_len_band" === 0).cast("int"))
      .orderBy($"doc_id")
  }

  val filterVerdictsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
       |),
       |b AS (
       |  SELECT doc_id, text,
       |    CAST(len(toks) AS INTEGER) AS n_words,
       |    CAST(len(list_filter(toks,
       |      t -> t IN ('the', 'a', 'value', 'data'))) AS INTEGER) AS n_stop
       |  FROM base
       |),
       |w AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |),
       |topw AS (
       |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_word_freq FROM (
       |    SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2
       |  ) GROUP BY doc_id
       |)
       |SELECT b.doc_id, b.n_words,
       |  CAST(b.n_words < 30 AS INTEGER) AS flag_too_short,
       |  CAST(b.n_stop * 100 < b.n_words OR b.n_stop * 2 > b.n_words
       |    AS INTEGER) AS flag_stop_band,
       |  CAST(topw.max_word_freq * 10 > b.n_words AS INTEGER) AS flag_word_rep,
       |  CAST((length(b.text) - (b.n_words - 1)) < b.n_words * 2 OR
       |       (length(b.text) - (b.n_words - 1)) > b.n_words * 12
       |    AS INTEGER) AS flag_len_band,
       |  CAST(CAST(b.n_words < 30 AS INTEGER)
       |     + CAST(b.n_stop * 100 < b.n_words OR b.n_stop * 2 > b.n_words AS INTEGER)
       |     + CAST(topw.max_word_freq * 10 > b.n_words AS INTEGER)
       |     + CAST((length(b.text) - (b.n_words - 1)) < b.n_words * 2 OR
       |            (length(b.text) - (b.n_words - 1)) > b.n_words * 12 AS INTEGER)
       |     = 0 AS INTEGER) AS keep
       |FROM b JOIN topw ON topw.doc_id = b.doc_id
       |${sqlOrderBy(Seq("b.doc_id")).trim}""".stripMargin

  /** Multiplicative-weights learning rate for [[mwReweight]]. */
  private val MwEta = 0.5

  /** DoReMi-flavored domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * one multiplicative-weights update of the per-domain sampling
    * mixture, upweighting domains whose "excess loss" proxy is high.
    * DoReMi's proxy is reference-model excess loss; in a
    * model-free pipeline the stand-in is the quality deficit — how far
    * the domain's mean type-token ratio sits BELOW the corpus mean
    * (low-TTR domains are the underfit/boilerplate-heavy ones a
    * curriculum upweights or a cleaner revisits). The update is the
    * LINEAR multiplicative-weights rule w_i ∝ u_i·(1 + η·excess_i)
    * (the 1+ηx form of exp(ηx) — rational, so no transcendentals):
    * u_i is the baseline token share, and the normalized result is the
    * new sampling mixture. Per-document TTRs are 1e9-quantized before
    * the integer domain sums, and the final normalization divides two
    * exact integers, so the mixture is bit-identical across engines
    * and at any parallelism.
    *
    * Scale posture: two map-side-combined aggregations (per-domain,
    * then the 1-row corpus total broadcast back) — |domains| rows of
    * state regardless of corpus size; no skew (domain stats, not
    * per-doc routing). */
  def mwReweight(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = Tables(spark, dir, "documents")
      .select($"source",
        expr("size(split(text, ' '))").as("n_words"),
        expr("size(array_distinct(split(text, ' ')))").as("n_distinct"))
      .withColumn("q",
        floor($"n_distinct" / $"n_words".cast("double") * 1e9 + 0.5)
          .cast("long"))
    val dom = perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words".cast("long")).as("toks"),
        sum($"q").as("sq"))
    val tot = dom.agg(sum($"n_docs").as("nd"), sum($"toks").as("tt"),
      sum($"sq").as("tq"))
    val domMean = $"sq".cast("double") / $"n_docs".cast("double")
    val corpMean = $"tq".cast("double") / $"nd".cast("double")
    val excess = greatest(lit(0.0), (corpMean - domMean) / 1e9)
    val u = $"toks".cast("double") / $"tt".cast("double")
    val w = u * (lit(1.0) + lit(MwEta) * excess)
    val qw = floor(w * 1e12 + 0.5).cast("long")
    val scored = dom.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", u.as("tok_share"), excess.as("excess"),
        qw.as("qw"))
    val denom = scored.agg(sum($"qw").as("dq"))
    scored.crossJoin(broadcast(denom))
      .select($"source", $"n_docs", $"tok_share", $"excess",
        ($"qw".cast("double") / $"dq".cast("double")).as("weight"))
      .orderBy($"source")
  }

  val mwReweightSql: String =
    s"""WITH perdoc AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(floor(len(list_distinct(string_split(text, ' ')))
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1e9 + 0.5)
       |      AS BIGINT) AS q
       |  FROM documents
       |),
       |dom AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_words) AS BIGINT) AS toks,
       |    CAST(SUM(q) AS BIGINT) AS sq
       |  FROM perdoc GROUP BY source
       |),
       |tot AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS nd,
       |    CAST(SUM(toks) AS BIGINT) AS tt,
       |    CAST(SUM(sq) AS BIGINT) AS tq
       |  FROM dom
       |),
       |scored AS (
       |  SELECT source, n_docs,
       |    CAST(toks AS DOUBLE) / CAST(tt AS DOUBLE) AS tok_share,
       |    greatest(CAST(0.0 AS DOUBLE),
       |      (CAST(tq AS DOUBLE) / CAST(nd AS DOUBLE)
       |       - CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE)) / 1e9) AS excess,
       |    CAST(floor(CAST(toks AS DOUBLE) / CAST(tt AS DOUBLE)
       |      * (1.0 + $MwEta * greatest(CAST(0.0 AS DOUBLE),
       |          (CAST(tq AS DOUBLE) / CAST(nd AS DOUBLE)
       |           - CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE)) / 1e9))
       |      * 1e12 + 0.5) AS BIGINT) AS qw
       |  FROM dom CROSS JOIN tot
       |),
       |den AS (SELECT CAST(SUM(qw) AS BIGINT) AS dq FROM scored)
       |SELECT source, n_docs, tok_share, excess,
       |  CAST(qw AS DOUBLE) / CAST(dq AS DOUBLE) AS weight
       |FROM scored CROSS JOIN den${sqlOrderBy(Seq("source"))}""".stripMargin

  /** corpus_quality_lpm: train a LINEAR PROBABILITY MODEL that screens
    * documents for near-dup risk from two cheap surface features — the
    * "fast classifier distills the expensive signal" pattern every
    * production curation stack runs (a fastText/logreg gate trained on
    * labels a slower pipeline produced; CCNet, FineWeb-Edu). Label
    * y = doc participates in ≥1 LSH candidate pair; features
    * x1 = n_chars, x2 = 1e4-scaled distinct-token ratio (integer
    * division — already quantized). The 3-parameter OLS solves the
    * normal equations CLOSED-FORM by Cramer's rule over nine exact
    * BIGINT moment sums, so training is one aggregation pass and the
    * only doubles are shape-identical rational expressions of exact
    * integers. The model is then applied back to every document and
    * graded in-sample: confusion counts at the 0.5 threshold.
    *
    * Output: one row — coefficients, confusion matrix, accuracy.
    *
    * Scale posture: labels ride the existing bucketed candidate graph;
    * the moment pass is one map-side-combined aggregation to a 1-row
    * frame broadcast back for scoring. Nothing iterative, nothing
    * collected. */
  /** Shared LPM scoring pass behind [[qualityLpm]] and
    * [[graft.star.Inference.brierCalibration]]: per-document label y
    * (doc participates in ≥1 LSH candidate pair) and raw linear-
    * probability prediction `pred_p = b0 + b1·x1 + b2·x2` from the
    * closed-form OLS, alongside the broadcast model columns
    * (n, sy, b0, b1, b2). SQL twin: [[lpmScoredSqlCtes]]. */
  def lpmScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r15: both endpoints from ONE candidate-pair build (explode ==
    // the old union of the two projections, row for row) instead of
    // invoking the band-join machinery twice.
    val flagged = Dedup.candidatePairs(spark, dir)
      .select(explode(array($"d1", $"d2")).as("doc_id"))
      .distinct()
      .withColumn("y", lit(1L))
    val feats = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "n_chars AS x1",
        // promote BEFORE the multiply: Spark would evaluate
        // 10000 * size(...) in 32-bit INT and wrap silently past
        // ~214k distinct tokens, while DuckDB computes in BIGINT
        """CAST((10000L * CAST(size(array_distinct(split(text, ' '))) AS BIGINT))
           div size(split(text, ' ')) AS BIGINT) AS x2""")
      .join(flagged, Seq("doc_id"), "left")
      .select($"doc_id", $"x1", $"x2", coalesce($"y", lit(0L)).as("y"))
      // r15: feats feeds the moment aggregation AND the scoring join —
      // lazy checkpoint so the tokenize+label chain runs once (the
      // broadcast beta build materializes it).
      .localCheckpoint(false)
    val m = feats.agg(
      count(lit(1)).as("n"), sum($"x1").as("s1"), sum($"x2").as("s2"),
      sum($"x1" * $"x1").as("s11"), sum($"x1" * $"x2").as("s12"),
      sum($"x2" * $"x2").as("s22"), sum($"y").as("sy"),
      sum($"x1" * $"y").as("s1y"), sum($"x2" * $"y").as("s2y"))
    // Cramer's rule over the 3x3 normal equations, doubles cast from
    // exact BIGINTs in one fixed expression shape per coefficient
    val beta = m.selectExpr(
      "n", "sy",
      """(CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS det""",
      """(CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
        + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE))) AS d0""",
      """(CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
        - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))) AS d1""",
      """(CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE))
        - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
        + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS d2""")
      .selectExpr("n", "sy", "d0 / det AS b0", "d1 / det AS b1",
        "d2 / det AS b2")
    feats.crossJoin(broadcast(beta))
      .withColumn("pred_p",
        $"b0" + $"b1" * $"x1".cast("double")
          + $"b2" * $"x2".cast("double"))
  }

  def qualityLpm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lpmScored(spark, dir)
      .withColumn("pred", ($"pred_p" >= 0.5).cast("long"))
      .groupBy($"n", $"sy", $"b0", $"b1", $"b2")
      .agg(
        count_if($"pred" === 1 && $"y" === 1).as("tp"),
        count_if($"pred" === 1 && $"y" === 0).as("fp"),
        count_if($"pred" === 0 && $"y" === 0).as("tn"),
        count_if($"pred" === 0 && $"y" === 1).as("fn"))
      .select($"n".as("n_docs"), $"sy".as("n_flagged"), $"b0", $"b1",
        $"b2", $"tp", $"fp", $"tn", $"fn",
        (($"tp" + $"tn").cast("double") / $"n").as("accuracy"))
  }

  /** The flagged→feats→m→beta→lpm_scored DuckDB CTE chain shared by
    * [[qualityLpmSql]] and Inference's brierCalibrationSql — callers
    * prepend `Dedup.sigSqlCte` + `Dedup.candSqlCte`. */
  val lpmScoredSqlCtes: String =
    s"""flagged AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT d1 AS doc_id FROM cand UNION ALL SELECT d2 FROM cand)
       |),
       |feats AS (
       |  SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS x1,
       |    CAST((10000 * len(list_distinct(string_split(d.text, ' '))))
       |      // len(string_split(d.text, ' ')) AS BIGINT) AS x2,
       |    CAST(CASE WHEN f.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |      AS y
       |  FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
       |),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
       |    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
       |    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
       |    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
       |    CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x1 * y) AS BIGINT) AS s1y,
       |    CAST(SUM(x2 * y) AS BIGINT) AS s2y
       |  FROM feats
       |),
       |beta AS (
       |  SELECT n, sy,
       |    (CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
       |      - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
       |      + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)))
       |    / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
       |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
       |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS b0,
       |    (CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
       |      - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
       |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)))
       |    / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
       |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
       |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS b1,
       |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE))
       |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
       |      + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
       |    / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
       |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
       |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS b2
       |  FROM m
       |),
       |lpm_scored AS (
       |  SELECT f.doc_id, f.y, b.n, b.sy, b.b0, b.b1, b.b2,
       |    b.b0 + b.b1 * CAST(f.x1 AS DOUBLE)
       |      + b.b2 * CAST(f.x2 AS DOUBLE) AS pred_p
       |  FROM feats f CROSS JOIN beta b
       |)""".stripMargin

  /** Self-contained WITH-body (sig, cand, flagged…lpm_scored) for
    * callers outside the llm package (Dedup's CTEs are package-private). */
  val lpmScoredSqlAll: String =
    s"${Dedup.sigSqlCte},\n${Dedup.candSqlCte},\n$lpmScoredSqlCtes"

  val qualityLpmSql: String =
    s"""WITH $lpmScoredSqlAll,
       |scored AS (
       |  SELECT y, CAST(pred_p >= 0.5 AS BIGINT) AS pred,
       |    n, sy, b0, b1, b2
       |  FROM lpm_scored
       |)
       |SELECT n AS n_docs, sy AS n_flagged, b0, b1, b2,
       |  CAST(count_if(pred = 1 AND y = 1) AS BIGINT) AS tp,
       |  CAST(count_if(pred = 1 AND y = 0) AS BIGINT) AS fp,
       |  CAST(count_if(pred = 0 AND y = 0) AS BIGINT) AS tn,
       |  CAST(count_if(pred = 0 AND y = 1) AS BIGINT) AS fn,
       |  CAST(count_if(pred = y) AS DOUBLE) / n AS accuracy
       |FROM scored GROUP BY n, sy, b0, b1, b2""".stripMargin

  /** corpus_token_budget: the TOKEN-BUDGET CUT — rank every document by
    * a quality proxy (1e4-scaled distinct-token ratio, doc_id
    * tiebreak) and keep the best prefix whose cumulative token count
    * fits a budget of ¼ of the corpus ("we can afford to train on 25%
    * of what we crawled — keep the best quarter"). This is the final
    * selection step after dedup/filtering in every compute-bound
    * pretraining plan (the Chinchilla-style budget arrives in tokens,
    * not documents). Output is the per-source admission scorecard:
    * which sources survive a quality-ranked global cut.
    *
    * All arithmetic is integer (token counts, quantized scores,
    * cumulative sums); the one double per source is the admitted-token
    * share. Scale posture: a naive `Window.orderBy(score)` over every
    * document would move the WHOLE corpus to one partition (Spark's
    * un-partitioned WindowExec), so the prefix sum is decomposed the
    * distributed way: (1) per-score token totals — a bounded ≤10001-row
    * series (score is the 1e4-quantized ratio) whose exclusive running
    * sum is the per-bucket OFFSET, computed by a window over only that
    * tiny series; (2) a within-bucket cumulative sum via a window
    * PARTITIONED by score (ordered by doc_id) — fully parallel, skew
    * bounded by docs-per-score (a hot score value would nest the same
    * offset+partition decomposition one level down on doc_id ranges).
    * cum_tok = offset(score) + within-bucket prefix — bit-identical to
    * the naive global window, which is exactly what the DuckDB oracle
    * runs. Rollup is |sources| rows. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source",
        "CAST(size(split(text, ' ')) AS BIGINT) AS ntok",
        // 64-bit multiply to match the DuckDB oracle (INT would wrap)
        """(10000L * CAST(size(array_distinct(split(text, ' '))) AS BIGINT))
           div size(split(text, ' ')) AS score""")
    val tot = docs.agg(sum($"ntok").as("total_tokens"))
    // exclusive prefix of per-score totals: the window runs over the
    // bounded score series (≤10001 rows), never over the corpus
    val offsets = docs.groupBy($"score").agg(sum($"ntok").as("btok"))
      .withColumn("offset", coalesce(
        sum($"btok").over(Window.orderBy($"score".desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"score", $"offset")
    val within = Window.partitionBy($"score").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(offsets), "score").crossJoin(broadcast(tot))
      .withColumn("cum_tok", $"offset" + sum($"ntok").over(within))
      .withColumn("selected", ($"cum_tok" * 4 <= $"total_tokens")
        .cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"selected").as("n_selected"),
        sum($"ntok").as("tokens_total"),
        sum($"selected" * $"ntok").as("tokens_selected"))
      .select($"source", $"n_docs", $"n_selected", $"tokens_total",
        $"tokens_selected",
        ($"tokens_selected".cast("double") / $"tokens_total")
          .as("admitted_share"))
      .orderBy($"source")
  }

  val tokenBudgetSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
       |    (10000 * len(list_distinct(string_split(text, ' '))))
       |      // len(string_split(text, ' ')) AS score
       |  FROM documents
       |),
       |tot AS (SELECT CAST(SUM(ntok) AS BIGINT) AS total_tokens FROM docs),
       |cum AS (
       |  SELECT source, ntok,
       |    CAST(SUM(ntok) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok,
       |    total_tokens
       |  FROM docs CROSS JOIN tot
       |),
       |flag AS (
       |  SELECT source, ntok,
       |    CAST(cum_tok * 4 <= total_tokens AS BIGINT) AS selected
       |  FROM cum
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(selected) AS BIGINT) AS n_selected,
       |  CAST(SUM(ntok) AS BIGINT) AS tokens_total,
       |  CAST(SUM(selected * ntok) AS BIGINT) AS tokens_selected,
       |  CAST(SUM(selected * ntok) AS DOUBLE) / SUM(ntok) AS admitted_share
       |FROM flag GROUP BY source${sqlOrderBy(Seq("source"))}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_quality_lpm" -> qualityLpm,
    "corpus_token_budget" -> tokenBudget,
    "corpus_mw_reweight" -> mwReweight,
    "corpus_filter_verdicts" -> filterVerdicts,
    "corpus_neyman_alloc" -> neymanAlloc,
    "corpus_lang_drift" -> langDrift,
    "corpus_epoch_order" -> epochOrder,
    "corpus_lang_temperature" -> langTemperature,
    "corpus_vocab_growth" -> vocabGrowth,
    "text_heaps_fit" -> heapsFit,
    "corpus_source_cap" -> sourceCap,
    "corpus_quality_buckets" -> qualityBuckets,
    "text_bpe_pairs" -> bpePairs,
    "text_bpe_vocab" -> bpeVocab,
    "corpus_decontam" -> decontam,
    "text_bpe_tokenize" -> bpeTokenize,
    "text_bpe_fertility" -> bpeFertility,
    "text_unigram_em" -> unigramEm,
    "text_unigram_tokenize" -> unigramTokenize,
    "text_lm_surprisal" -> lmSurprisal,
    "text_lm_gap" -> lmGap,
    "text_kneser_ney" -> kneserNey,
    "text_wordpiece" -> wordpieceTokenize,
    "text_tokenizer_trio" -> tokenizerTrio,
    "text_pii_scan" -> piiScan,
    "text_tokenizer_compare" -> tokenizerCompare,
    "corpus_mix_entropy" -> mixEntropy,
    "corpus_weighted_sample" -> weightedSample,
    "corpus_pipeline_funnel" -> pipelineFunnel,
    "text_dsir_weights" -> dsirWeights,
    "corpus_dsir_resample" -> dsirResample,
    "dedup_span_cover" -> spanCover,
    "dedup_max_span" -> maxSpan)

  val oracles: Map[String, String] = Map(
    "corpus_quality_lpm" -> qualityLpmSql,
    "corpus_token_budget" -> tokenBudgetSql,
    "corpus_mw_reweight" -> mwReweightSql,
    "corpus_filter_verdicts" -> filterVerdictsSql,
    "corpus_neyman_alloc" -> neymanAllocSql,
    "corpus_lang_drift" -> langDriftSql,
    "corpus_epoch_order" -> epochOrderSql,
    "corpus_lang_temperature" -> langTemperatureSql,
    "corpus_vocab_growth" -> vocabGrowthSql,
    "text_heaps_fit" -> heapsFitSql,
    "corpus_source_cap" -> sourceCapSql,
    "corpus_quality_buckets" -> qualityBucketsSql,
    "text_bpe_pairs" -> bpePairsSql,
    "text_bpe_vocab" -> bpeVocabSql,
    "corpus_decontam" -> decontamSql,
    "text_bpe_tokenize" -> bpeTokenizeSql,
    "text_bpe_fertility" -> bpeFertilitySql,
    "text_unigram_em" -> unigramEmSql,
    "text_unigram_tokenize" -> unigramTokenizeSql,
    "text_lm_surprisal" -> lmSurprisalSql,
    "text_lm_gap" -> lmGapSql,
    "text_kneser_ney" -> kneserNeySql,
    "text_wordpiece" -> wordpieceTokenizeSql,
    "text_tokenizer_trio" -> tokenizerTrioSql,
    "text_pii_scan" -> piiScanSql,
    "text_tokenizer_compare" -> tokenizerCompareSql,
    "corpus_mix_entropy" -> mixEntropySql,
    "corpus_weighted_sample" -> weightedSampleSql,
    "corpus_pipeline_funnel" -> pipelineFunnelSql,
    "text_dsir_weights" -> dsirWeightsSql,
    "corpus_dsir_resample" -> dsirResampleSql,
    "dedup_span_cover" -> spanCoverSql,
    "dedup_max_span" -> maxSpanSql)
}
