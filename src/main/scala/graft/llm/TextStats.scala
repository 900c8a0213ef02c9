package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy

/** Text-analysis operators for LLM data curation (north star): quality
  * scoring, token counting, and n-gram-heuristic language ID — each a
  * pure map over `documents` (no shuffle; scales linearly with data and
  * parallelizes per file split at 100 TB).
  *
  * Every metric is integer/array arithmetic + one final double division,
  * so Spark and DuckDB produce bit-identical outputs.
  */
object TextStats extends graft.QueryModule {

  private val stopwords = Seq("the", "a", "value", "data")
  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Per-document quality stats: lengths, type-token ratio, stopword
    * ratio, composite 0-3 quality score. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .selectExpr(
        "doc_id", "lang", "source",
        "length(text) AS n_chars",
        "size(tokens) AS n_words",
        "size(array_distinct(tokens)) AS n_distinct",
        s"size(filter(tokens, t -> t IN ${inList(stopwords)})) AS n_stopwords")
      .withColumn("ttr", $"n_distinct" / $"n_words".cast("double"))
      .withColumn("avg_word_len",
        ($"n_chars" - $"n_words" + 1) / $"n_words".cast("double"))
      .withColumn("stopword_ratio", $"n_stopwords" / $"n_words".cast("double"))
      .withColumn("quality_score",
        when($"n_words".between(20, 200), 1).otherwise(0) +
          when($"ttr" >= 0.25, 1).otherwise(0) +
          when($"stopword_ratio".between(0.01, 0.5), 1).otherwise(0))
      .orderBy($"doc_id")
  }

  val statsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, source,
       |    CAST(length(text) AS INTEGER) AS n_chars,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
       |    CAST(len(list_filter(string_split(text, ' '),
       |         t -> t IN ${inList(stopwords)})) AS INTEGER) AS n_stopwords
       |  FROM documents
       |),
       |d AS (
       |  SELECT t.*,
       |    n_distinct / CAST(n_words AS DOUBLE) AS ttr,
       |    (n_chars - n_words + 1) / CAST(n_words AS DOUBLE) AS avg_word_len,
       |    n_stopwords / CAST(n_words AS DOUBLE) AS stopword_ratio
       |  FROM t
       |)
       |SELECT d.*,
       |  (CASE WHEN n_words BETWEEN 20 AND 200 THEN 1 ELSE 0 END
       |   + CASE WHEN ttr >= 0.25 THEN 1 ELSE 0 END
       |   + CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END)
       |  AS quality_score
       |FROM d${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Language-ID heuristic: marker-word hit counts per candidate
    * language, deterministic argmax (preference order en>de>fr>es>zh on
    * ties). The `lang` label rides along so downstream can measure
    * heuristic agreement. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "table", "row"),
    "de" -> Seq("der", "die", "und", "nicht"),
    "fr" -> Seq("le", "la", "et", "ne"),
    "es" -> Seq("el", "la", "y", "no"),
    "zh" -> Seq("de", "shi", "bu", "le"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var df = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
    for ((l, ws) <- markers)
      df = df.withColumn(s"score_$l",
        expr(s"size(filter(tokens, t -> t IN ${inList(ws)}))"))
    val pred = markers.map(_._1).init.foldRight(lit(markers.last._1)) {
      case (l, rest) =>
        when(markers.filter(_._1 != l).map(o => col(s"score_$l") >= col(s"score_${o._1}"))
          .reduce(_ && _), l).otherwise(rest)
    }
    df.withColumn("predicted_lang", pred)
      .withColumn("n_words", expr("size(tokens)"))
      .select(($"doc_id" +: $"lang" +: $"n_words" +:
        markers.map(m => col(s"score_${m._1}")) :+ $"predicted_lang"): _*)
      .orderBy($"doc_id")
  }

  val langIdSql: String = {
    val scores = markers.map { case (l, ws) =>
      s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(ws)})) AS INTEGER) AS score_$l"
    }.mkString(",\n    ")
    // same right-fold CASE chain as the Spark side
    val pred = markers.map(_._1).init.foldRight(s"'${markers.last._1}'") {
      case (l, rest) =>
        val conds = markers.filter(_._1 != l)
          .map(o => s"score_$l >= score_${o._1}").mkString(" AND ")
        s"CASE WHEN $conds THEN '$l' ELSE $rest END"
    }
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
       |    $scores
       |  FROM documents
       |)
       |SELECT doc_id, lang, n_words,
       |  ${markers.map(m => s"score_${m._1}").mkString(", ")},
       |  $pred AS predicted_lang
       |FROM s${sqlOrderBy(Seq("doc_id"))}""".stripMargin
  }

  /** Language-ID quality eval: confusion cells (label × prediction)
    * with per-label recall — the monitoring table behind any classifier
    * gate in a curation pipeline ([[langId]] carries the label along
    * for exactly this). Recall = exact-count ratio, one IEEE division;
    * cells bound the output at |langs|², tiny at any corpus scale. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    langId(spark, dir)
      .groupBy($"lang", $"predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_label", sum($"n_docs").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"lang")))
      .select($"lang", $"predicted_lang", $"n_docs",
        ($"n_docs" / $"n_label".cast("double")).as("label_share"))
      .orderBy($"lang", $"predicted_lang")
  }

  val langConfusionSql: String =
    s"""WITH pred AS ($langIdSql),
       |cells AS (
       |  SELECT lang, predicted_lang, COUNT(*) AS n_docs
       |  FROM pred GROUP BY 1, 2
       |)
       |SELECT lang, predicted_lang, n_docs,
       |  n_docs / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
       |    AS label_share
       |FROM cells${sqlOrderBy(Seq("lang", "predicted_lang"))}""".stripMargin

  /** Token counting: whitespace tokens, regex word tokens, and the
    * chars/4 BPE-ish estimate used for budget planning. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS ws_tokens",
        "size(filter(split(text, '[^a-z0-9]+'), t -> t != '')) AS re_tokens",
        "CAST(ceil(length(text) / CAST(4 AS DOUBLE)) AS BIGINT) AS est_bpe_tokens",
        "length(text) AS n_chars")
      .orderBy($"doc_id")
  }

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
       |  CAST(len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
       |       t -> t != '')) AS INTEGER) AS re_tokens,
       |  CAST(ceil(length(text) / CAST(4 AS DOUBLE)) AS BIGINT) AS est_bpe_tokens,
       |  CAST(length(text) AS INTEGER) AS n_chars
       |FROM documents${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Corpus vocabulary heavy hitters: explode words -> count -> top-30
    * (the exact form; at 100 TB the same query swaps the exact count
    * for a count-min/space-saving sketch, trading the full-key shuffle
    * for constant memory). Ties broken lexicographically. */
  def wordTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy($"n_occurrences".desc, $"word")
      .limit(30)
  }

  val wordTopkSql: String =
    s"""SELECT word, COUNT(*) AS n_occurrences
       |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |GROUP BY word
       |ORDER BY n_occurrences DESC NULLS LAST, word NULLS FIRST
       |LIMIT 30""".stripMargin

  /** text_yule_k: Yule's characteristic K (Yule 1944, "The Statistical
    * Study of Literary Vocabulary") per document, rolled up by
    * language — the length-robust vocabulary-richness statistic
    * (K = 10⁴·(Σc² − N)/N² over the per-document term-frequency
    * spectrum). High K means a repetitive, template-like vocabulary —
    * one of the classic boilerplate/generated-text signals a quality
    * pipeline thresholds on. Per-doc K is a rational of exact integer
    * moments; the per-language mean follows the house
    * quantize-then-integer-sum rule (K quantized to 1e6 before the
    * sum), so the rollup is exact in both engines.
    *
    * Scale posture: explode→(doc, term) count→per-doc moments are
    * map-side-combined shuffles on doc_id (already the corpus's
    * partition key); the rollup is |lang| rows. */
  def yuleK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = graft.Tables(spark, dir, "documents")
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"lang", $"term").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"c").as("n"), sum($"c" * $"c").as("s2"))
      .select($"doc_id", $"lang",
        expr("""CAST(floor(CAST(10000 * (s2 - n) AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1e6 + 0.5)
                AS BIGINT)""").as("kq"))
    perDoc.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"kq").as("k_sum"),
        min($"kq").as("k_min_q"), max($"kq").as("k_max_q"))
      .select($"lang", $"n_docs",
        ($"k_sum".cast("double") / $"n_docs" / lit(1e6)).as("k_mean"),
        ($"k_min_q".cast("double") / lit(1e6)).as("k_min"),
        ($"k_max_q".cast("double") / lit(1e6)).as("k_max"))
      .orderBy($"lang")
  }

  val yuleKSql: String =
    s"""WITH tc AS (
       |  SELECT doc_id, lang, term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, lang,
       |          unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term <> ''
       |  GROUP BY doc_id, lang, term
       |),
       |pd AS (
       |  SELECT doc_id, lang,
       |    CAST(floor(CAST(10000 * (SUM(c * c) - SUM(c)) AS DOUBLE)
       |      / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) * 1e6
       |      + 0.5) AS BIGINT) AS kq
       |  FROM tc GROUP BY doc_id, lang
       |)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(kq) AS DOUBLE) / COUNT(*) / 1e6 AS k_mean,
       |  CAST(MIN(kq) AS DOUBLE) / 1e6 AS k_min,
       |  CAST(MAX(kq) AS DOUBLE) / 1e6 AS k_max
       |FROM pd GROUP BY lang${sqlOrderBy(Seq("lang"))}""".stripMargin

  /** text_burstiness: Church–Gale burstiness (Church & Gale 1995,
    * "Poisson mixtures") — per-term variance-to-mean ratio of the
    * per-document count across the WHOLE corpus (absent docs count 0).
    * VMR ≈ 1 means Poisson scatter (function words); VMR ≫ 1 means the
    * term clumps into few documents — the signal that separates topical
    * content terms from glue, and the corpus-health check that flags
    * boilerplate injected by one source. All moments are exact integer
    * sums (Σc, Σc² over per-doc counts), and the zero-count docs enter
    * only through N, so VMR = Σc²/Σc − Σc/N is one identical rational
    * double expression per engine. Top 30 by VMR, term tiebreak.
    *
    * Scale posture: explode→(term, doc) count→per-term aggregate is two
    * map-side-combined shuffles on term; the corpus size N is a 1-row
    * broadcast; TakeOrdered caps the result. Vocabulary-bounded state,
    * nothing quadratic. */
  /** text_zipf_fit: Zipf-law slope per language — the log-log OLS fit
    * of frequency vs rank over the top-1000 terms, the corpus-health
    * diagnostic (natural language sits near slope −1; scraped
    * boilerplate and template spam bend it) every corpus audit plots.
    * Stated entirely in the tokenizer tier's exact integer fixed-point
    * base-2 logs: x=qlog2(rank), y=qlog2(freq) in 1/1024-bit units,
    * all five OLS moments are BIGINT sums, and slope = (nΣxy−ΣxΣy) /
    * (nΣxx−ΣxΣx) is exact-integer-numerator over exact-integer-
    * denominator — ONE IEEE division (the 1024 scale cancels, so the
    * slope is directly dimensionless); the intercept does the same
    * with one more divide into log2-frequency units. No runtime
    * ln/log anywhere.
    *
    * Scale posture: vocab groupBy (map-combined) → per-language
    * rank(≤1000) window (partial WindowGroupLimit — maps forward at
    * most 1000 terms per language) → a |langs|-row aggregate of five
    * BIGINT moments. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = graft.Tables(spark, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"lang", $"term").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"lang").orderBy($"c".desc, $"term")
    tf.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 1000)
      .selectExpr("lang",
        s"CAST(${Curate.qlog2Spark("rk")} AS BIGINT) AS x",
        s"CAST(${Curate.qlog2Spark("c")} AS BIGINT) AS y")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_terms"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .selectExpr("lang", "n_terms",
        """CAST(n_terms * sxy - sx * sy AS DOUBLE)
          |  / CAST(n_terms * sxx - sx * sx AS DOUBLE) AS zipf_slope"""
          .stripMargin,
        """(CAST(sy AS DOUBLE)
          |  - (CAST(n_terms * sxy - sx * sy AS DOUBLE)
          |     / CAST(n_terms * sxx - sx * sx AS DOUBLE))
          |    * CAST(sx AS DOUBLE))
          |  / CAST(n_terms AS DOUBLE) / 1024e0 AS intercept_log2"""
          .stripMargin)
      .orderBy($"lang")
  }

  val zipfFitSql: String =
    s"""WITH ztf AS (
       |  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term <> ''
       |  GROUP BY lang, term
       |),
       |zrk AS (
       |  SELECT lang,
       |    CAST(${Curate.qlog2Duck("rk")} AS BIGINT) AS x,
       |    CAST(${Curate.qlog2Duck("c")} AS BIGINT) AS y
       |  FROM (
       |    SELECT lang, c,
       |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, term)
       |        AS rk
       |    FROM ztf)
       |  WHERE rk <= 1000
       |),
       |zm AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM zrk GROUP BY lang
       |)
       |SELECT lang, n_terms,
       |  CAST(n_terms * sxy - sx * sy AS DOUBLE)
       |    / CAST(n_terms * sxx - sx * sx AS DOUBLE) AS zipf_slope,
       |  (CAST(sy AS DOUBLE)
       |    - (CAST(n_terms * sxy - sx * sy AS DOUBLE)
       |       / CAST(n_terms * sxx - sx * sx AS DOUBLE))
       |      * CAST(sx AS DOUBLE))
       |    / CAST(n_terms AS DOUBLE) / 1024e0 AS intercept_log2
       |FROM zm
       |${sqlOrderBy(Seq("lang")).trim}""".stripMargin

  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = graft.Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    graft.Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("c"))
      .groupBy($"term")
      .agg(count(lit(1)).as("doc_freq"), sum($"c").as("total_count"),
        sum($"c" * $"c").as("sum_sq"))
      .crossJoin(broadcast(n))
      .select($"term", $"doc_freq", $"total_count",
        ($"sum_sq".cast("double") / $"total_count"
          - $"total_count".cast("double") / $"n_docs").as("vmr"))
      .filter($"total_count" >= 5)
      .orderBy($"vmr".desc, $"term")
      .limit(30)
  }

  val burstinessSql: String =
    s"""WITH tc AS (
       |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term <> ''
       |  GROUP BY term, doc_id
       |),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |pt AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq,
       |    CAST(SUM(c) AS BIGINT) AS total_count,
       |    CAST(SUM(c * c) AS BIGINT) AS sum_sq
       |  FROM tc GROUP BY term
       |)
       |SELECT term, doc_freq, total_count,
       |  CAST(sum_sq AS DOUBLE) / total_count
       |    - CAST(total_count AS DOUBLE) / n_docs AS vmr
       |FROM pt CROSS JOIN nn
       |WHERE total_count >= 5
       |ORDER BY vmr DESC NULLS LAST, term NULLS FIRST
       |LIMIT 30""".stripMargin

  /** Sketch-based heavy hitters (no oracle — see
    * HeavyHittersAggregator: count overestimates depend on partitioning;
    * the guarantee is tested in HeavyHittersSpec). The capacity here
    * exceeds the corpus vocabulary, so locally it returns the exact
    * ranking; at 100 TB the same query with the same capacity keeps
    * constant memory where [[wordTopk]]'s exact groupBy shuffles every
    * distinct token. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sketch = udaf(new graft.functions.HeavyHittersAggregator(256))
    graft.Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .agg(sketch($"word").as("ranked"))
      .select(posexplode($"ranked").as(Seq("rank", "word")))
      .limit(30)
  }

  /** Oracle-checkable companion of [[heavyHitters]] — the classic
    * TWO-PASS heavy hitters: pass 1 is the space-saving sketch, whose
    * guarantee (every item with true count > n/capacity is tracked) makes
    * its ≤capacity tracked words a SUPERSET of the heavy set; pass 2
    * re-counts exactly, but only words in that broadcast candidate set,
    * then keeps those above n/capacity. The result equals the exact
    * GROUP BY + HAVING answer — so DuckDB can gate it — while the
    * sketch stays load-bearing: a dropped heavy word would make the
    * hash compare fail.
    *
    * Scale posture: pass 1 is constant-memory per partition with a
    * merge tree (no full-vocabulary shuffle); pass 2 shuffles only the
    * ≤capacity candidate words' counts. Two corpus scans, bounded
    * state — the standard trade against [[wordTopk]]'s full-key
    * shuffle. */
  def heavyGuaranteed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def words = graft.Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
    val sketch = udaf(new graft.functions.HeavyHittersAggregator(256))
    val cand = words.agg(sketch($"word").as("ranked"))
      .select(explode($"ranked").as("word"))
    val total = words.agg(count(lit(1)).as("n_total"))
    words.join(broadcast(cand), "word")
      .groupBy($"word")
      .agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(total))
      .filter($"n_occurrences" * 256 > $"n_total")
      .select($"word", $"n_occurrences")
      .orderBy($"word")
  }

  val heavyGuaranteedSql: String =
    s"""WITH w AS (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |),
       |t AS (SELECT COUNT(*) AS n_total FROM w)
       |SELECT word, COUNT(*) AS n_occurrences
       |FROM w, t
       |GROUP BY word, n_total
       |HAVING COUNT(*) * 256 > n_total${sqlOrderBy(Seq("word"))}""".stripMargin

  /** Document fingerprinting via rolling windows (Rabin/winnowing
    * shape): slide an 8-char window over the text at stride 4, hash
    * each window, keep the minimum — a content fingerprint stable
    * under append-only edits past the minimizing window, the building
    * block of winnowing-based near-dup detection.
    *
    * Scale posture: like the minhash stage, the |windows|-row explode
    * collapses under a partial (map-side) `min` before the shuffle,
    * so only one (doc_id, fingerprint) state per doc crosses the wire;
    * window hashing is codegen'd projections, not a lambda. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id",
        explode(expr("sequence(1, greatest(length(text) - 7, 1), 4)")).as("i"),
        $"text")
      .select($"doc_id", md5(expr("substr(text, i, 8)")).as("h"))
      .groupBy($"doc_id")
      .agg(min($"h").as("fingerprint"), count(lit(1)).as("n_windows"))
      .orderBy($"doc_id")
  }

  val fingerprintSql: String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    unnest(range(1, greatest(length(text) - 7, 1) + 1, 4)) AS i,
       |    text
       |  FROM documents
       |)
       |SELECT doc_id, MIN(md5(substr(text, CAST(i AS INTEGER), 8))) AS fingerprint,
       |  COUNT(*) AS n_windows
       |FROM w GROUP BY doc_id${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Winnowing fingerprint profile (the MOSS scheme: Schleimer/Wilkerson/
    * Aiken, SIGMOD'03): hash every 8-char gram, slide a w=4 window over
    * the gram sequence, select each window's RIGHTMOST-minimal hash,
    * dedup selections — the guarantee is every shared substring of
    * length ≥ w+k−1 contributes a shared fingerprint, with selection
    * density ~2/(w+1). Emitted as a per-doc profile (gram count,
    * selected-fingerprint count, density, min/max selected hash) that
    * is uniquely determined by the selected set, so the oracle gates
    * the whole selection logic. Rightmost-minimal tie-break is encoded
    * portably as min over the string key `hash ∥ (10^7 − pos)` —
    * lexicographic min = (hash asc, pos desc), no engine-specific
    * arg-min tie rules.
    *
    * Scale posture: grams explode map-side and collapse through the
    * per-doc windows (documents are bounded, so a per-doc window sort
    * is a few-KB in-partition sort — never corpus-global); the distinct
    * and final agg carry one row per SELECTED fingerprint (~2n/(w+1)),
    * not per gram. */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val grams = Tables(spark, dir, "documents")
      .select($"doc_id",
        explode(expr("sequence(1, greatest(length(text) - 7, 1))")).as("pos"),
        $"text")
      .select($"doc_id", $"pos",
        concat(md5(expr("substr(text, pos, 8)")),
          lpad((lit(10000000) - $"pos").cast("string"), 8, "0")).as("key"))
    val w = Window.partitionBy($"doc_id").orderBy($"pos").rowsBetween(0, 3)
    val sel = grams
      .withColumn("selkey", min($"key").over(w))
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .filter($"pos" <= greatest($"n_grams" - 3, lit(1)))
      .select($"doc_id", $"n_grams",
        expr("substr(selkey, 1, 32)").as("fp"),
        (lit(10000000) - expr("CAST(substr(selkey, 33, 8) AS BIGINT)"))
          .as("sel_pos"))
      .distinct()
    sel.groupBy($"doc_id", $"n_grams")
      .agg(count(lit(1)).as("n_fp"),
        min($"fp").as("fp_min"), max($"fp").as("fp_max"))
      .select($"doc_id", $"n_grams", $"n_fp",
        ($"n_fp".cast("double") / $"n_grams".cast("double")).as("density"),
        $"fp_min", $"fp_max")
      .orderBy($"doc_id")
  }

  val winnowingSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS pos,
       |    text
       |  FROM documents
       |),
       |k AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    md5(substr(text, CAST(pos AS INTEGER), 8))
       |      || lpad(CAST(10000000 - pos AS VARCHAR), 8, '0') AS key
       |  FROM g
       |),
       |wsel AS (
       |  SELECT doc_id, pos,
       |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey,
       |    CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_grams
       |  FROM k
       |),
       |sel AS (
       |  SELECT DISTINCT doc_id, n_grams,
       |    substr(selkey, 1, 32) AS fp,
       |    10000000 - CAST(substr(selkey, 33, 8) AS BIGINT) AS sel_pos
       |  FROM wsel
       |  WHERE pos <= greatest(n_grams - 3, 1)
       |)
       |SELECT doc_id, n_grams, COUNT(*) AS n_fp,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS density,
       |  MIN(fp) AS fp_min, MAX(fp) AS fp_max
       |FROM sel GROUP BY doc_id, n_grams${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Corpus normalization (the Common-Crawl-style cleaning pass):
    * strip non-alphanumerics, collapse whitespace runs, trim — emitted
    * as before/after size metrics plus an md5 of the normalized form
    * (the join key for cleaned-corpus dedup). Pure map, no shuffle;
    * simple character-class regexes keep Java-regex (Spark) and RE2
    * (DuckDB) semantics identical. */
  def normalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("norm",
        trim(regexp_replace(regexp_replace($"text", "[^a-z0-9 ]", ""), " +", " ")))
      .selectExpr(
        "doc_id",
        "length(text) AS raw_len",
        "length(norm) AS norm_len",
        "size(split(norm, ' ')) AS norm_words",
        "md5(norm) AS norm_hash")
      .orderBy($"doc_id")
  }

  val normalizeSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, text,
       |    trim(regexp_replace(regexp_replace(text, '[^a-z0-9 ]', '', 'g'),
       |         ' +', ' ', 'g')) AS norm
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(length(text) AS INTEGER) AS raw_len,
       |  CAST(length(norm) AS INTEGER) AS norm_len,
       |  CAST(len(string_split(norm, ' ')) AS INTEGER) AS norm_words,
       |  md5(norm) AS norm_hash
       |FROM n${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Per-document top-3 terms by TF-IDF. The idf here is the LINEAR
    * variant `N / df` (a ratio of exact integers, one double rounding)
    * rather than `ln(N/df)` — ln is transcendental and libm vs
    * java.lang.Math differ by 1 ulp on some inputs, which would break
    * the cross-engine hash gate; the ranking is identical for any
    * monotone idf. Swap in `log` at deployment if the absolute scores
    * matter.
    *
    * Scale posture: term counts and document frequency are both
    * partial-aggregated map-side before their shuffles; N arrives via a
    * broadcast 1-row cross join (no driver collect); the final top-3 is
    * a row_number window partitioned by doc_id — millions of small
    * partitions, never a global sort. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
    val terms = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    val df = terms.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"term")
    terms.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", ($"tf" * $"n_docs") / $"df".cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rank")
  }

  val tfidfSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY doc_id, term
       |),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT t.doc_id, t.term, t.tf, d.df,
       |    (t.tf * n.n_docs) / CAST(d.df AS DOUBLE) AS score
       |  FROM terms t JOIN dfreq d ON t.term = d.term, n
       |),
       |ranked AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC NULLS LAST, term NULLS FIRST) AS INTEGER) AS rank,
       |    term, tf, df, score
       |  FROM scored
       |)
       |SELECT * FROM ranked WHERE rank <= 3
       |${sqlOrderBy(Seq("doc_id", "rank")).trim}""".stripMargin

  /** The end-to-end curation pass an LLM training-data pipeline runs
    * before tokenization: quality-gate (composite score >= 2, same
    * formula as [[stats]]) -> exact dedup on the NORMALIZED text hash
    * (same cleaning as [[normalize]], keeper = min doc_id) -> per-lang
    * yield report (surviving docs + whitespace/BPE-estimate token
    * budgets). One query composing three operators, because that is how
    * the pieces are actually used.
    *
    * Scale posture: one map-only pass derives quality + norm_hash; the
    * dedup is a groupBy on the hash (partial agg first) followed by an
    * inner join back on (norm_hash, doc_id) — both shuffles carry only
    * survivors; the final per-lang rollup is ~|langs| rows. */
  def corpusPrep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .withColumn("n_words", size($"tokens"))
      .withColumn("ttr",
        size(array_distinct($"tokens")) / $"n_words".cast("double"))
      .withColumn("stopword_ratio",
        expr(s"size(filter(tokens, t -> t IN ${inList(stopwords)}))") /
          $"n_words".cast("double"))
      .withColumn("quality_score",
        when($"n_words".between(20, 200), 1).otherwise(0) +
          when($"ttr" >= 0.25, 1).otherwise(0) +
          when($"stopword_ratio".between(0.01, 0.5), 1).otherwise(0))
      .withColumn("norm",
        trim(regexp_replace(regexp_replace($"text", "[^a-z0-9 ]", ""), " +", " ")))
      .withColumn("norm_hash", md5($"norm"))
      .filter($"quality_score" >= 2)
    val keepers = scored.groupBy($"norm_hash")
      .agg(min($"doc_id").as("doc_id"))
    scored.join(keepers, Seq("norm_hash", "doc_id"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_words".cast("bigint")).as("total_ws_tokens"),
        sum(ceil(length($"text") / lit(4.0)).cast("bigint")).as("total_est_bpe_tokens"))
      .orderBy($"lang")
  }

  val corpusPrepSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |    string_split(text, ' ') AS tokens,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
       |  FROM documents
       |),
       |q AS (
       |  SELECT t.*,
       |    len(list_distinct(tokens)) / CAST(n_words AS DOUBLE) AS ttr,
       |    len(list_filter(tokens, x -> x IN ${inList(stopwords)}))
       |      / CAST(n_words AS DOUBLE) AS stopword_ratio,
       |    trim(regexp_replace(regexp_replace(text, '[^a-z0-9 ]', '', 'g'),
       |         ' +', ' ', 'g')) AS norm
       |  FROM t
       |),
       |s AS (
       |  SELECT q.*,
       |    (CASE WHEN n_words BETWEEN 20 AND 200 THEN 1 ELSE 0 END
       |     + CASE WHEN ttr >= 0.25 THEN 1 ELSE 0 END
       |     + CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END)
       |      AS quality_score,
       |    md5(norm) AS norm_hash
       |  FROM q
       |),
       |kept AS (SELECT * FROM s WHERE quality_score >= 2),
       |keepers AS (SELECT norm_hash, MIN(doc_id) AS doc_id FROM kept GROUP BY norm_hash)
       |SELECT k.lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(k.n_words) AS BIGINT) AS total_ws_tokens,
       |  CAST(SUM(CAST(ceil(length(k.text) / CAST(4 AS DOUBLE)) AS BIGINT)) AS BIGINT)
       |    AS total_est_bpe_tokens
       |FROM kept k JOIN keepers USING (norm_hash, doc_id)
       |GROUP BY k.lang${sqlOrderBy(Seq("lang"))}""".stripMargin

  /** Deterministic train/val/test split by content-independent hash of
    * the document key: md5(doc_id) first-8-hex-chars mod 100 → 80/10/10.
    * The split is a pure function of doc_id — stable under corpus
    * growth, re-partitioning, and cluster resize (no RNG, no sampling
    * seed to version), which is the property a reproducible training-
    * data pipeline needs. Map-only until the tiny (split, lang) rollup.
    * Holding out by hash also composes with dedup: the same doc always
    * lands in the same split, so near-duplicate leakage across splits is
    * traceable to the dedup stage, not the splitter. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("bucket",
        expr("cast(conv(substr(md5(cast(cast(doc_id AS STRING) as binary)), 1, 8), 16, 10) as bigint) % 100"))
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(expr("cast(size(split(text, ' ')) as bigint)")).as("n_tokens"))
      .orderBy($"split", $"lang")
  }

  val corpusSplitSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, text,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
       |      AS bucket
       |  FROM documents
       |)
       |SELECT
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |FROM b GROUP BY 1, 2${sqlOrderBy(Seq("split", "lang"))}""".stripMargin

  /** Token-budget sequence packing (fixed-boundary): documents in
    * doc_id order are laid end-to-end on a token tape and each doc is
    * assigned to the 2048-token bin its FIRST token falls in — the
    * deterministic cousin of greedy bin packing (greedy depends on
    * visit order, which no distributed engine should promise; the
    * fixed-boundary form is a pure function of the sorted corpus).
    * Output is per-bin doc count, token count, and budget utilization —
    * what a pretraining data loader needs to size batches.
    *
    * Scale posture: the global running sum is a DISTRIBUTED prefix sum,
    * not a single-partition window (`Window.orderBy` with no partition
    * key coalesces the world into one task — the exact WindowExec
    * pathology Det documents). Docs are grouped into fixed doc_id
    * buckets (1024 ids each — a pure function of the key, NOT
    * spark_partition_id or sampled range boundaries, both of which can
    * differ between a plan's two evaluations); the per-doc running sum
    * within a bucket is a hash-partitioned parallel window, and only
    * the |corpus|/1024 per-bucket totals flow through the one global
    * (exclusive-prefix) window — 10^5 tiny rows per 10^8 docs; recurse
    * the same trick if buckets themselves outgrow one task. Integer
    * arithmetic throughout, so bin ids are engine-independent — the
    * oracle's single-window form proves the decomposition. */
  def corpusPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 2048L
    val t = Tables(spark, dir, "documents")
      .select($"doc_id", expr("cast(size(split(text, ' ')) as bigint)").as("n_tok"))
      .withColumn("bkt", expr("doc_id div 1024"))
    // exclusive prefix over per-bucket totals: |buckets| rows only
    val boff = t.groupBy($"bkt").agg(sum($"n_tok").as("bsum"))
      .withColumn("boff", coalesce(sum($"bsum").over(
        Window.orderBy($"bkt").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select($"bkt", $"boff")
    val local = t.withColumn("lcum", sum($"n_tok").over(
      Window.partitionBy($"bkt").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    local.join(broadcast(boff), "bkt")
      .withColumn("cum", $"lcum" + $"boff")
      .withColumn("bin", expr(s"(cum - n_tok) div $budget"))
      .groupBy($"bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        (sum($"n_tok").cast("double") / budget).as("utilization"))
      .orderBy($"bin")
  }

  val corpusPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents
       |),
       |c AS (
       |  SELECT doc_id, n_tok,
       |    SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t
       |)
       |SELECT CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_tok) AS DOUBLE) / 2048 AS utilization
       |FROM c GROUP BY 1${sqlOrderBy(Seq("bin"))}""".stripMargin

  /** Target sampling rate per language for [[sampleMix]] — the "data
    * mixture" a pretraining run wants (downsample the over-represented
    * head, keep the tail). */
  private val mixRates = Seq(
    "de" -> 1.0, "en" -> 0.5, "es" -> 0.75, "fr" -> 1.0, "zh" -> 0.25)

  /** Deterministic mixture (re-)sampling: keep each document with a
    * per-language probability, decided by a salted content-independent
    * hash of the doc key — u = md5("mix:" || doc_id) first-8-hex /
    * 2^32 ∈ [0,1), keep iff u < rate(lang). Like [[corpusSplit]] the
    * decision is a pure function of the key: stable under corpus
    * growth, partitioning, and re-runs, and independent of the split
    * assignment (different salt). u is a 32-bit integer divided by a
    * power of two, so the double is EXACT and the comparison has no
    * cross-engine rounding hazard. Map-only until the 5-row rollup;
    * at 100 TB the filter runs at scan speed and the shuffle carries
    * |langs| rows. Unknown languages default to keep-all (rate 1.0):
    * a sampler that silently drops unlisted sources is a data-loss
    * bug, not a mixture. */
  def sampleMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rate = mixRates.foldLeft(lit(1.0)) { case (e, (l, r)) =>
      when($"lang" === l, lit(r)).otherwise(e)
    }
    Tables(spark, dir, "documents")
      .withColumn("u",
        expr("cast(conv(substr(md5(cast(concat('mix:', cast(doc_id AS STRING)) as binary)), 1, 8), 16, 10) as bigint)")
          / lit(4294967296.0))
      .withColumn("target_rate", rate)
      .withColumn("keep", ($"u" < $"target_rate").cast("int"))
      .groupBy($"lang")
      .agg(
        first($"target_rate").as("target_rate"),
        count(lit(1)).as("n_total"),
        sum($"keep").as("n_kept"),
        (sum($"keep") / count(lit(1)).cast("double")).as("realized_rate"))
      .orderBy($"lang")
  }

  val sampleMixSql: String = {
    val rateCase = mixRates
      .map { case (l, r) => s"WHEN '$l' THEN CAST($r AS DOUBLE)" }
      .mkString("CASE lang ", " ", " ELSE CAST(1.0 AS DOUBLE) END")
    s"""WITH d AS (
       |  SELECT lang, $rateCase AS target_rate,
       |    CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |      / 4294967296.0 AS u
       |  FROM documents
       |)
       |SELECT lang, ANY_VALUE(target_rate) AS target_rate,
       |  COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN u < target_rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  SUM(CASE WHEN u < target_rate THEN 1 ELSE 0 END)
       |    / CAST(COUNT(*) AS DOUBLE) AS realized_rate
       |FROM d GROUP BY lang${sqlOrderBy(Seq("lang"))}""".stripMargin
  }

  /** Within-document repetition stats (Gopher-style quality rule):
    * duplicate-word and duplicate-bigram fractions, plus a repetitive
    * flag. Boilerplate, keyword-stuffed, and template-generated pages
    * score high; a curation pipeline drops or downweights them. Pure
    * map over per-doc arrays — no shuffle, no cross-doc state, scales
    * at scan speed (the array lambdas run interpreted, but the work is
    * bounded by document length and avoids the |docs x ngrams| explode
    * + two-level groupBy a codegen'd formulation would shuffle). */
  def repNgrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .selectExpr(
        "doc_id", "lang",
        "size(tokens) AS n_words",
        "size(array_distinct(tokens)) AS n_uniq_words",
        // CASE keeps sequence() off the <2-token branch (negative spans
        // auto-step -1 — same hazard as the shingle builders)
        """CASE WHEN size(tokens) >= 2 THEN
          |  size(array_distinct(transform(sequence(0, size(tokens) - 2),
          |       i -> concat_ws(' ', tokens[i], tokens[i+1]))))
          | ELSE 0 END AS n_uniq_bigrams""".stripMargin)
      .withColumn("n_bigrams", greatest($"n_words" - 1, lit(0)))
      .withColumn("dup_word_frac",
        ($"n_words" - $"n_uniq_words") / $"n_words".cast("double"))
      .withColumn("dup_bigram_frac",
        when($"n_bigrams" > 0,
          ($"n_bigrams" - $"n_uniq_bigrams") / $"n_bigrams".cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("repetitive", $"dup_bigram_frac" > 0.2)
      .select($"doc_id", $"lang", $"n_words", $"n_uniq_words", $"n_bigrams",
        $"n_uniq_bigrams", $"dup_word_frac", $"dup_bigram_frac", $"repetitive")
      .orderBy($"doc_id")
  }

  val repNgramsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS tokens FROM documents
       |),
       |s AS (
       |  SELECT doc_id, lang,
       |    CAST(len(tokens) AS INTEGER) AS n_words,
       |    CAST(len(list_distinct(tokens)) AS INTEGER) AS n_uniq_words,
       |    CASE WHEN len(tokens) >= 2 THEN
       |      CAST(len(list_distinct(list_transform(range(0, len(tokens) - 1),
       |           i -> tokens[i+1] || ' ' || tokens[i+2]))) AS INTEGER)
       |     ELSE 0 END AS n_uniq_bigrams,
       |    CAST(greatest(len(tokens) - 1, 0) AS INTEGER) AS n_bigrams
       |  FROM t
       |)
       |SELECT doc_id, lang, n_words, n_uniq_words, n_bigrams, n_uniq_bigrams,
       |  (n_words - n_uniq_words) / CAST(n_words AS DOUBLE) AS dup_word_frac,
       |  CASE WHEN n_bigrams > 0 THEN
       |    (n_bigrams - n_uniq_bigrams) / CAST(n_bigrams AS DOUBLE)
       |   ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_frac,
       |  CASE WHEN n_bigrams > 0 THEN
       |    (n_bigrams - n_uniq_bigrams) / CAST(n_bigrams AS DOUBLE)
       |   ELSE CAST(0.0 AS DOUBLE) END > 0.2 AS repetitive
       |FROM s${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  // Conservative regex subset valid with identical semantics in Java
  // regex (Spark) and RE2 (DuckDB): literal classes, bounded/greedy
  // quantifiers, no backrefs/lookarounds.
  private val emailRx = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRx = "\\+?[0-9][0-9 .-]{6,}[0-9]"

  /** PII redaction: scrub emails/phone numbers, count redactions. The
    * corpus fixture contains no PII, so the query first embeds a
    * deterministic contact line derived from doc_id (same construction
    * in the oracle) — the scrub logic, not the data, is under test.
    * Map-only: regex replace at scan speed, no shuffle; patterns stay
    * in the Java∩RE2 common subset so engines agree match-for-match. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("raw", concat(
        $"text", lit(" contact user"), $"doc_id",
        lit("@mail.example.com or +1 555-010-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
      .select(
        $"doc_id",
        size(expr(s"regexp_extract_all(raw, '${emailRx.replace("\\", "\\\\")}', 0)"))
          .as("n_emails"),
        size(expr(s"regexp_extract_all(raw, '${phoneRx.replace("\\", "\\\\")}', 0)"))
          .as("n_phones"),
        regexp_replace(
          regexp_replace($"raw", lit(emailRx), lit("<EMAIL>")),
          lit(phoneRx), lit("<PHONE>")).as("scrubbed"))
      .orderBy($"doc_id")
  }

  val piiScrubSql: String =
    s"""WITH r AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@mail.example.com or +1 555-010-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$emailRx')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(raw, '$phoneRx')) AS INTEGER) AS n_phones,
       |  regexp_replace(regexp_replace(raw, '$emailRx', '<EMAIL>', 'g'),
       |                 '$phoneRx', '<PHONE>', 'g') AS scrubbed
       |FROM r${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** RAG-ingestion chunking: split each document into overlapping
    * token windows (W=50, stride S=25), the retrieval-index unit every
    * embedding pipeline feeds on. Chunk count = 1 + max(0,
    * ceil((n-W)/S)) so every doc yields at least one chunk and the
    * last window may run short; `slice` clamps identically in both
    * engines. Map-only explode — chunk rows ∝ corpus tokens / S, no
    * shuffle before the output sort; at 100 TB this runs at scan speed
    * and feeds the embedding stage per-partition. */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 50
    val S = 25
    Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0),
          greatest(lit(0), floor((size($"toks") - W + (S - 1)).cast("double") / S)
            .cast("int")))).as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        expr(s"slice(toks, 1 + chunk_id * $S, $W)").as("ctoks"))
      .select($"doc_id", $"chunk_id",
        size($"ctoks").as("n_tokens"),
        array_join($"ctoks", " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val chunkSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |),
       |c AS (
       |  SELECT doc_id, toks,
       |    unnest(range(0, 1 + GREATEST(CAST(0 AS BIGINT),
       |      CAST(floor(CAST(len(toks) - 50 + 24 AS DOUBLE) / 25) AS BIGINT)))) AS chunk_id
       |  FROM tok
       |)
       |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       |  CAST(len(toks[(1 + chunk_id * 25):(chunk_id * 25 + 50)]) AS INTEGER) AS n_tokens,
       |  array_to_string(toks[(1 + chunk_id * 25):(chunk_id * 25 + 50)], ' ') AS chunk_text
       |FROM c${sqlOrderBy(Seq("doc_id", "chunk_id"))}""".stripMargin

  /** Corpus-LM fluency score: the average bigram transition probability
    * P(w2|w1) of a document under the corpus's own first-order language
    * model — the classic cheap perplexity proxy for quality filtering
    * (gibberish and shuffled text score near zero; template text scores
    * high) WITHOUT transcendentals: probabilities are exact-count
    * ratios c(w1,w2)/c(w1·) in one IEEE division each, decimal-summed
    * per doc, one final division — cross-engine exact, log-free.
    * A support floor (count >= 3) bounds the model dictionary; bigrams
    * below it count as unknown (reported separately), so rare-token
    * noise doesn't masquerade as fluency. Scale: model counts
    * partial-agg map-side to the dictionary size; the doc-side join is
    * keyed on the bigram string, and the model is broadcastable after
    * the floor at any corpus size with a bounded vocabulary. */
  def fluency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def bigrams(df: DataFrame): DataFrame = df
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("bg"))
    val bg = bigrams(Tables(spark, dir, "documents"))
    val model = bg.groupBy($"bg").agg(count(lit(1)).as("c_bg"))
      .filter($"c_bg" >= 3)
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
    val left = model.groupBy($"w1").agg(sum($"c_bg").as("c_left"))
    val probs = model.join(left, "w1")
      .select($"bg", ($"c_bg".cast("double") / $"c_left".cast("double")).as("p"))
    bg.join(probs, Seq("bg"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count($"p").as("n_known"),
        (graft.Det.xsum($"p") / nullif(count($"p"), lit(0)).cast("double"))
          .as("fluency"))
      .orderBy($"doc_id")
  }

  val fluencySql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0, len(t) - 1),
       |      i -> t[i+1] || ' ' || t[i+2])) AS bg
       |  FROM tok WHERE len(t) >= 2
       |),
       |model AS (
       |  SELECT bg, COUNT(*) AS c_bg FROM bg GROUP BY bg HAVING COUNT(*) >= 3
       |),
       |m2 AS (SELECT bg, c_bg, split_part(bg, ' ', 1) AS w1 FROM model),
       |lf AS (SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_left FROM m2 GROUP BY w1),
       |probs AS (
       |  SELECT bg, CAST(c_bg AS DOUBLE) / CAST(c_left AS DOUBLE) AS p
       |  FROM m2 JOIN lf USING (w1)
       |)
       |SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(p) AS n_known,
       |  ${graft.Det.sqlSum("p")} / CAST(NULLIF(COUNT(p), 0) AS DOUBLE) AS fluency
       |FROM bg LEFT JOIN probs USING (bg)
       |GROUP BY doc_id${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  /** Count-Min sketch, ORACLE-CHECKED — the frequency sketch is usually
    * consigned to rows-only checks, but CMS counters are purely
    * ADDITIVE (each token increments one cell per row of the d×w
    * matrix), so the whole sketch is a GROUP BY: partition order can
    * never change a counter, and the d=4, w=64 matrix plus every
    * point estimate (min over the token's 4 cells) is expressible in
    * portable SQL on both engines. The query builds the sketch, takes
    * the exact top-10 tokens, and reports exact vs CMS estimate with
    * the overestimate gap — the CMS guarantee (est ≥ exact, error ≤
    * εN with probability 1−δ) surfaced as data. Salted md5 cells
    * match the MinHash hashing discipline (cross-engine identical).
    *
    * Scale posture: the sketch state is 256 counters regardless of
    * corpus size — the partial agg collapses everything map-side; the
    * top-10 exact pass is the standard word-count plan. In production
    * the same cells live in a mergeable Aggregator buffer; here the
    * GROUP BY formulation is chosen BECAUSE it is oracle-checkable. */
  def cmsEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def cell(j: Int, tok: String) =
      s"cast(conv(substr(md5(cast(concat('$j:', $tok) as binary)), 1, 8)," +
        s" 16, 10) as bigint) % 64"
    val toks = Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("tok"))
    val cms = toks
      .select(explode(expr(
        s"array(${(0 until 4).map(j => s"struct($j AS r, ${cell(j, "tok")} AS b)").mkString(", ")})"))
        .as("cell"))
      .groupBy($"cell.r".as("r"), $"cell.b".as("b"))
      .agg(count(lit(1)).as("c"))
    val top = toks.groupBy($"tok").agg(count(lit(1)).as("exact"))
      .withColumn("rn", row_number().over(
        Window.orderBy($"exact".desc, $"tok")))
      .filter($"rn" <= 10)
    val probes = top.select($"tok", $"exact", explode(expr(
      s"array(${(0 until 4).map(j => s"struct($j AS r, ${cell(j, "tok")} AS b)").mkString(", ")})"))
      .as("cell"))
      .select($"tok", $"exact", $"cell.r".as("pr"), $"cell.b".as("pb"))
    probes
      .join(cms, $"pr" === $"r" && $"pb" === $"b")
      .groupBy($"tok", $"exact")
      .agg(min($"c").as("cms_est"))
      .select($"tok", $"exact", $"cms_est",
        ($"cms_est" - $"exact").as("overcount"))
      .orderBy($"exact".desc, $"tok")
  }

  val cmsEstimateSql: String = {
    def cell(j: Int, tok: String) =
      s"CAST('0x' || substr(md5('$j:' || $tok), 1, 8) AS BIGINT) % 64"
    val cellRows = (0 until 4).map(j =>
      s"SELECT $j AS r, ${cell(j, "tok")} AS b, tok FROM toks").mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
       |),
       |cells AS (
       |  $cellRows
       |),
       |cms AS (SELECT r, b, COUNT(*) AS c FROM cells GROUP BY 1, 2),
       |top AS (
       |  SELECT tok, COUNT(*) AS exact,
       |    row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rn
       |  FROM toks GROUP BY tok
       |  ORDER BY exact DESC, tok LIMIT 10
       |),
       |probes AS (
       |  ${(0 until 4).map(j =>
            s"SELECT tok, exact, rn, $j AS r, ${cell(j, "tok")} AS b FROM top")
            .mkString("\n  UNION ALL\n  ")}
       |)
       |SELECT p.tok, p.exact, CAST(MIN(c.c) AS BIGINT) AS cms_est,
       |  CAST(MIN(c.c) - p.exact AS BIGINT) AS overcount
       |FROM probes p JOIN cms c ON p.r = c.r AND p.b = c.b
       |GROUP BY p.tok, p.exact
       |ORDER BY p.exact DESC NULLS LAST, p.tok NULLS FIRST""".stripMargin
  }

  /** Bloom-filter membership audit, ORACLE-CHECKED — the fifth classic
    * sketch (after HLL, KMV, space-saving, CMS), and like CMS its
    * state is relational: a Bloom bit array IS the distinct set of
    * (salt, bucket) pairs hit by the keyed inserts — order-independent
    * by construction — so the filter, every probe, and every
    * false-positive verdict are expressible as portable SQL on both
    * engines. Build: k=3 salted md5 hashes into m=256 bits over the
    * distinct tokens of source 'src0'. Probe: the corpus-wide top-20
    * tokens; a probe is a member iff all 3 of its bits are set, and
    * the join against src0's exact token set labels each hit TRUE or
    * FALSE POSITIVE — the sketch's defining error mode surfaced as
    * data instead of asserted in prose.
    *
    * Scale posture: the filter state is |set bits| ≤ 256 rows after a
    * map-side distinct; probes are 3-row lookups against that tiny
    * set. At 100 TB this is the shuffle-free pre-join existence
    * filter (the runtime bloom Spark injects — gated in PlanSpec —
    * is this same structure built automatically). */
  def bloomAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def cell(j: Int, tok: String) =
      s"cast(conv(substr(md5(cast(concat('$j:', $tok) as binary)), 1, 8)," +
        s" 16, 10) as bigint) % 256"
    val toks = Tables(spark, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("tok"))
    val bits = toks.filter($"source" === "src0")
      .select(explode(expr(
        s"array(${(0 until 3).map(j => s"struct($j AS r, ${cell(j, "tok")} AS b)").mkString(", ")})"))
        .as("c"))
      .select($"c.r".as("r"), $"c.b".as("b")).distinct()
    val src0 = toks.filter($"source" === "src0")
      .select($"tok".as("s0_tok")).distinct()
    val top = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(Window.orderBy($"n".desc, $"tok")))
      .filter($"rn" <= 20)
    val probes = top.select($"tok", $"n", $"rn", explode(expr(
      s"array(${(0 until 3).map(j => s"struct($j AS r, ${cell(j, "tok")} AS b)").mkString(", ")})"))
      .as("c"))
      .select($"tok", $"n", $"rn", $"c.r".as("pr"), $"c.b".as("pb"))
    val hits = probes
      .join(bits, $"pr" === $"r" && $"pb" === $"b", "left")
      .groupBy($"tok", $"n", $"rn")
      .agg(count($"r").as("bits_set"))
    hits
      .join(src0, $"tok" === $"s0_tok", "left")
      .select($"tok", $"n".as("corpus_count"),
        ($"bits_set" === 3).cast("int").as("bloom_member"),
        $"s0_tok".isNotNull.cast("int").as("exact_in_src0"),
        (($"bits_set" === 3) && $"s0_tok".isNull).cast("int")
          .as("false_positive"))
      .orderBy($"corpus_count".desc, $"tok")
  }

  val bloomAuditSql: String = {
    def cell(j: Int, tok: String) =
      s"CAST('0x' || substr(md5('$j:' || $tok), 1, 8) AS BIGINT) % 256"
    val bitRows = (0 until 3).map(j =>
      s"SELECT DISTINCT $j AS r, ${cell(j, "tok")} AS b FROM s0toks")
      .mkString("\n  UNION\n  ")
    val probeRows = (0 until 3).map(j =>
      s"SELECT tok, n, $j AS pr, ${cell(j, "tok")} AS pb FROM top")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
       |),
       |s0toks AS (SELECT DISTINCT tok FROM toks WHERE source = 'src0'),
       |bits AS (
       |  $bitRows
       |),
       |top AS (
       |  SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
       |  ORDER BY n DESC, tok LIMIT 20
       |),
       |probes AS (
       |  $probeRows
       |),
       |hits AS (
       |  SELECT p.tok, p.n, COUNT(bits.r) AS bits_set
       |  FROM probes p
       |  LEFT JOIN bits ON p.pr = bits.r AND p.pb = bits.b
       |  GROUP BY p.tok, p.n
       |)
       |SELECT h.tok, h.n AS corpus_count,
       |  CAST(h.bits_set = 3 AS INTEGER) AS bloom_member,
       |  CAST(s.tok IS NOT NULL AS INTEGER) AS exact_in_src0,
       |  CAST(h.bits_set = 3 AND s.tok IS NULL AS INTEGER) AS false_positive
       |FROM hits h LEFT JOIN s0toks s ON h.tok = s.tok
       |ORDER BY corpus_count DESC NULLS LAST, h.tok NULLS FIRST""".stripMargin
  }

  /** Compression-ratio quality signal via the native
    * [[graft.functions.DeflateLen]] expression — the curation
    * heuristic the Gopher-class repetition rules approximate: per
    * language, the distribution (min/p50-as-mean proxy/max via exact
    * min/max and decimal mean) of deflate_bytes/raw_bytes. Boilerplate
    * compresses far below the corpus norm; noise barely compresses.
    * NO DuckDB oracle exists (SQL has no zlib), so this entry is
    * rows-only by design like the sketch estimators; the expression's
    * semantics (determinism, monotonicity under repetition,
    * null-safety) are pinned in DeflateLenSpec.
    *
    * Scale posture: map-only scalar over each doc + one partial-agg
    * to |langs| rows. */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DeflateLen.register(spark)
    Tables(spark, dir, "documents")
      .selectExpr("lang", "length(text) AS raw_len",
        "deflate_len(text) AS comp_len")
      .withColumn("ratio", $"comp_len".cast("double") / $"raw_len".cast("double"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        min($"ratio").as("min_ratio"),
        (sum(expr("CAST(floor(ratio * 1e9 + 0.5) AS BIGINT)")).cast("double")
          / 1e9 / count(lit(1))).as("mean_ratio"),
        max($"ratio").as("max_ratio"))
      .orderBy($"lang")
  }

  /** RAKE keyword extraction (Rose et al. 2010) — the classic
    * stopword-delimited phrase scorer: candidate phrases are maximal
    * stopword-free token runs (gaps-and-islands on token position),
    * each word scores degree/frequency over the document's phrases
    * (degree = Σ length of phrases containing it, self included), and a
    * phrase scores the sum of its word scores; the top phrase per doc
    * is the document's keyphrase. Word scores are integer-exact:
    * deg·10⁹ div freq (both engines' integer division truncates
    * identically on positives), so phrase sums are exact BIGINT and
    * summation order cannot flip the hash — one /10⁹ at the end.
    *
    * Scale posture: everything is per-document (explode → two
    * doc-keyed aggregations → one doc-partitioned rank window); no
    * corpus-wide state exists, so the operator is embarrassingly
    * parallel over documents at any scale. */
  def keywordRake(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tok = Tables(spark, dir, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
    val ns = tok.filter(!$"w".isin(stopwords: _*))
      .withColumn("rn",
        row_number().over(Window.partitionBy($"doc_id").orderBy($"pos")))
      .withColumn("ph", $"pos" - $"rn")
    val phrases = ns.groupBy($"doc_id", $"ph")
      .agg(count(lit(1)).as("plen"),
        expr("concat_ws(' ', transform(array_sort(collect_list(struct(pos, w))), s -> s.w))")
          .as("phrase"))
    val wordStats = ns
      .join(phrases.select($"doc_id", $"ph", $"plen"), Seq("doc_id", "ph"))
      .groupBy($"doc_id", $"w")
      .agg(sum($"plen").as("deg"), count(lit(1)).as("freq"))
      .withColumn("sq", expr("deg * 1000000000L div freq"))
    val scored = ns.join(wordStats.select($"doc_id", $"w", $"sq"), Seq("doc_id", "w"))
      .groupBy($"doc_id", $"ph")
      .agg(sum($"sq").as("score_q"))
    val np = phrases.groupBy($"doc_id").agg(count(lit(1)).as("n_phrases"))
    phrases.join(scored, Seq("doc_id", "ph"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score_q".desc, $"phrase")))
      .filter($"rk" === 1)
      .join(np, "doc_id")
      .select($"doc_id", $"phrase".as("top_phrase"),
        ($"score_q".cast("double") / 1e9).as("rake_score"), $"n_phrases")
      .orderBy($"doc_id")
  }

  val keywordRakeSql: String =
    s"""WITH tok0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |),
       |tok AS (
       |  SELECT doc_id, unnest(list_transform(range(0, len(ts)),
       |    i -> struct_pack(pos := CAST(i AS INTEGER), w := ts[i+1]))) AS t
       |  FROM tok0
       |),
       |tt AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM tok),
       |ns AS (
       |  SELECT doc_id, pos, w,
       |    pos - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS INTEGER) AS ph
       |  FROM tt WHERE w NOT IN ${inList(stopwords)}
       |),
       |phr AS (
       |  SELECT doc_id, ph, COUNT(*) AS plen,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase
       |  FROM ns GROUP BY 1, 2
       |),
       |ws AS (
       |  SELECT ns.doc_id, ns.w,
       |    CAST(SUM(plen) AS BIGINT) AS deg, COUNT(*) AS freq
       |  FROM ns JOIN phr ON ns.doc_id = phr.doc_id AND ns.ph = phr.ph
       |  GROUP BY 1, 2
       |),
       |wq AS (SELECT doc_id, w, (deg * 1000000000) // freq AS sq FROM ws),
       |sc AS (
       |  SELECT ns.doc_id, ns.ph, CAST(SUM(sq) AS BIGINT) AS score_q
       |  FROM ns JOIN wq ON ns.doc_id = wq.doc_id AND ns.w = wq.w
       |  GROUP BY 1, 2
       |),
       |np AS (SELECT doc_id, COUNT(*) AS n_phrases FROM phr GROUP BY 1),
       |top AS (
       |  SELECT p.doc_id, p.phrase, s.score_q
       |  FROM phr p JOIN sc s ON p.doc_id = s.doc_id AND p.ph = s.ph
       |  QUALIFY row_number() OVER (PARTITION BY p.doc_id
       |    ORDER BY s.score_q DESC, p.phrase) = 1
       |)
       |SELECT t.doc_id, t.phrase AS top_phrase,
       |  CAST(t.score_q AS DOUBLE) / 1e9 AS rake_score,
       |  np.n_phrases
       |FROM top t JOIN np ON t.doc_id = np.doc_id
       |${graft.Det.sqlOrderBy(Seq("t.doc_id")).trim}""".stripMargin

  /** text_js_divergence: pairwise Jensen–Shannon divergence between
    * the languages' unigram distributions — the corpus-similarity
    * number behind mixture design ("are these two slices near-
    * duplicate distributions?"), domain drift, and DSIR-style
    * target-likeness, symmetric and bounded in [0,1] bit where KL is
    * neither. Stated entirely in the house exact integer fixed-point
    * base-2 log (qlog2): per word, P/M and Q/M are RATIOS of integer
    * products (2·c1·N2 vs c1·N2 + c2·N1), so each log is a DIFFERENCE
    * of two qlog2 integers, each side's sum Σ c·Δqlog2 is an exact
    * BIGINT, and JSD = (S1/N1 + S2/N2)/2048 emerges from two terminal
    * IEEE divisions (1024 qlog2 scale × the ½ mixture factor). Words
    * absent from one side contribute only through the other (the c=0
    * guard — JSD needs no smoothing, unlike KL).
    *
    * Scale posture: one |tokens|-row (lang, word) rollup (map-side
    * combined, vocab-bounded output), a full-outer self-join on word
    * within each lang pair — |langs|²/2 passes over the vocab-bounded
    * count table, never the corpus — and a |pairs|-row rollup. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables(spark, dir, "documents")
      .select($"lang", explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
      // feeds totals AND the pair expansion. r15: lazy — the totals
      // crossJoin broadcast build materializes it (guide §5).
      .localCheckpoint(false)
    val totals = counts.groupBy($"lang").agg(sum($"c").as("n"))
    val pairs = totals.select($"lang".as("l1"), $"n".as("n1"))
      .crossJoin(totals.select($"lang".as("l2"), $"n".as("n2")))
      .filter($"l1" < $"l2")
    // bounded pair expansion: broadcast the |langs|²/2-row pair table
    // over the vocab-bounded count table, pivot the two sides per word
    val expanded = broadcast(pairs)
      .join(counts, $"lang" === $"l1" || $"lang" === $"l2")
      .groupBy($"l1", $"l2", $"n1", $"n2", $"w")
      .agg(max(when($"lang" === $"l1", $"c")).as("c1"),
        max(when($"lang" === $"l2", $"c")).as("c2"))
    val t1 = s"(c1 * (${Curate.qlog2Spark("(2 * c1 * n2)")}" +
      s" - ${Curate.qlog2Spark("(c1 * n2 + coalesce(c2, 0) * n1)")}))"
    val t2 = s"(c2 * (${Curate.qlog2Spark("(2 * c2 * n1)")}" +
      s" - ${Curate.qlog2Spark("(c2 * n1 + coalesce(c1, 0) * n2)")}))"
    expanded
      .selectExpr("l1", "l2", "n1", "n2",
        s"CAST(IF(c1 IS NOT NULL, $t1, 0) AS BIGINT) AS s1w",
        s"CAST(IF(c2 IS NOT NULL, $t2, 0) AS BIGINT) AS s2w")
      .groupBy($"l1", $"l2", $"n1", $"n2")
      .agg(sum($"s1w").as("s1q"), sum($"s2w").as("s2q"))
      .select($"l1", $"l2", $"n1", $"n2",
        (($"s1q".cast("double") / $"n1".cast("double")
          + $"s2q".cast("double") / $"n2".cast("double")) / 2048.0)
          .as("jsd_bits"))
      .orderBy($"l1", $"l2")
  }

  val jsDivergenceSql: String = {
    def q(e: String) = Curate.qlog2Duck(e)
    s"""WITH jc AS MATERIALIZED (
       |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE length(w) >= 1 GROUP BY lang, w
       |),
       |jt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM jc GROUP BY lang),
       |jp AS (
       |  SELECT a.lang AS l1, a.n AS n1, b.lang AS l2, b.n AS n2
       |  FROM jt a CROSS JOIN jt b WHERE a.lang < b.lang
       |),
       |jx AS (
       |  SELECT l1, l2, n1, n2, w,
       |    MAX(CASE WHEN lang = l1 THEN c END) AS c1,
       |    MAX(CASE WHEN lang = l2 THEN c END) AS c2
       |  FROM jp JOIN jc ON lang = l1 OR lang = l2
       |  GROUP BY l1, l2, n1, n2, w
       |),
       |js AS (
       |  SELECT l1, l2, n1, n2,
       |    CAST(SUM(CASE WHEN c1 IS NOT NULL THEN
       |      c1 * (${q("(2 * c1 * n2)")}
       |        - ${q("(c1 * n2 + COALESCE(c2, 0) * n1)")}) ELSE 0 END)
       |      AS BIGINT) AS s1q,
       |    CAST(SUM(CASE WHEN c2 IS NOT NULL THEN
       |      c2 * (${q("(2 * c2 * n1)")}
       |        - ${q("(c2 * n1 + COALESCE(c1, 0) * n2)")}) ELSE 0 END)
       |      AS BIGINT) AS s2q
       |  FROM jx GROUP BY l1, l2, n1, n2
       |)
       |SELECT l1, l2, n1, n2,
       |  (CAST(s1q AS DOUBLE) / CAST(n1 AS DOUBLE)
       |    + CAST(s2q AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2048.0 AS jsd_bits
       |FROM js${graft.Det.sqlOrderBy(Seq("l1", "l2"))}""".stripMargin
  }

  /** text_readability: Flesch reading-ease and Flesch–Kincaid grade
    * level per language (Flesch 1948; Kincaid et al. 1975) — the
    * classic readability pair a quality-filtering pipeline uses as a
    * cheap complexity prior (too-low ease ⇒ boilerplate/code, too-high
    * ⇒ fragment lists). Syllables are the standard vowel-group proxy
    * (runs of [aeiouy] — exact regexp counts, the only portable
    * syllable estimator); sentence count is max(1, #[.!?]) per
    * document (the synthetic corpus carries no terminators, so each
    * document scores as one sentence — the formula degrades to
    * words-per-doc, stated here so the oracle contract is explicit).
    * All three totals are exact BIGINT sums per language; the two
    * scores are terminal IEEE assemblies with every fractional literal
    * CAST to DOUBLE on the DuckDB side (bare decimals parse as DECIMAL
    * there and constant-fold differently).
    *
    * Scale posture: pure map over documents + one |langs|-row rollup —
    * scan-speed at 100 TB, zero joins. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = Tables(spark, dir, "documents")
      .selectExpr("lang",
        "CAST(size(split(text, ' ')) AS BIGINT) AS w",
        "greatest(CAST(regexp_count(text, '[.!?]') AS BIGINT), 1L) AS s",
        "CAST(regexp_count(text, '[aeiouy]+') AS BIGINT) AS y")
    perDoc.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"w").as("n_words"), sum($"s").as("n_sentences"),
        sum($"y").as("n_syllables"))
      .select($"lang", $"n_docs", $"n_words", $"n_sentences",
        $"n_syllables",
        (lit(206.835)
          - lit(1.015) * ($"n_words".cast("double")
            / $"n_sentences".cast("double"))
          - lit(84.6) * ($"n_syllables".cast("double")
            / $"n_words".cast("double"))).as("flesch_ease"),
        (lit(0.39) * ($"n_words".cast("double")
          / $"n_sentences".cast("double"))
          + lit(11.8) * ($"n_syllables".cast("double")
            / $"n_words".cast("double"))
          - lit(15.59)).as("fk_grade"))
      .orderBy($"lang")
  }

  val readabilitySql: String =
    s"""WITH rd AS (
       |  SELECT lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
       |    greatest(CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT),
       |      1) AS s,
       |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS y
       |  FROM documents
       |)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(w) AS BIGINT) AS n_words,
       |  CAST(SUM(s) AS BIGINT) AS n_sentences,
       |  CAST(SUM(y) AS BIGINT) AS n_syllables,
       |  CAST(206.835 AS DOUBLE)
       |    - CAST(1.015 AS DOUBLE) * (CAST(SUM(w) AS DOUBLE)
       |      / CAST(SUM(s) AS DOUBLE))
       |    - CAST(84.6 AS DOUBLE) * (CAST(SUM(y) AS DOUBLE)
       |      / CAST(SUM(w) AS DOUBLE)) AS flesch_ease,
       |  CAST(0.39 AS DOUBLE) * (CAST(SUM(w) AS DOUBLE)
       |      / CAST(SUM(s) AS DOUBLE))
       |    + CAST(11.8 AS DOUBLE) * (CAST(SUM(y) AS DOUBLE)
       |      / CAST(SUM(w) AS DOUBLE))
       |    - CAST(15.59 AS DOUBLE) AS fk_grade
       |FROM rd GROUP BY lang
       |${sqlOrderBy(Seq("lang")).trim}""".stripMargin

  /** text_bigram_entropy: per-language word-bigram entropy rate —
    * H = Σ −p·log₂p over the language's bigram distribution, the
    * information-density number that separates genuine language from
    * templated boilerplate (low H = the same transitions repeat = the
    * compressibility signal `text_compression_ratio` measures
    * byte-wise, here in interpretable bits). Shannon's estimator in
    * the engine-portable qlog2 fixed point: each bigram type
    * contributes c·(qlog2(N) − qlog2(c)) — exact BIGINT — so H_q sums
    * order-free; bits-per-bigram and the evenness ratio
    * H/log₂(types) are terminal IEEE assemblies.
    *
    * Scale posture: one map-side-combined (lang, bigram) rollup (the
    * vocabulary-bounded table every tokenizer leg rides), a broadcast
    * |lang|-row totals join, |langs| rows out. */
  def bigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = graft.llm.Curate.qlog2Spark _
    val cells = Tables(spark, dir, "documents")
      .select($"lang", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select($"lang", explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("bg"))
      .groupBy($"lang", $"bg").agg(count(lit(1)).as("c"))
    val tot = cells.groupBy($"lang")
      .agg(sum($"c").as("n"), count(lit(1)).as("types"))
    cells.join(broadcast(tot), "lang")
      .selectExpr("lang", "n", "types",
        s"c * (CAST(${q("n")} AS BIGINT) - ${q("c")}) AS hq")
      .groupBy($"lang", $"n", $"types")
      .agg(sum($"hq").as("h_q"))
      .select($"lang", $"n".as("n_bigrams"), $"types".as("n_types"),
        $"h_q",
        ($"h_q".cast("double") / (lit(1024.0) * $"n".cast("double")))
          .as("entropy_bits"),
        (($"h_q".cast("double") / (lit(1024.0) * $"n".cast("double")))
          / (expr(s"CAST(${q("types")} AS BIGINT)").cast("double")
            / lit(1024.0))).as("evenness"))
      .orderBy($"lang")
  }

  val bigramEntropySql: String = {
    val q = graft.llm.Curate.qlog2Duck _
    s"""WITH becells AS (
       |  SELECT lang, bg, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT lang, unnest(list_transform(range(0, len(t) - 1),
       |      i -> t[i+1] || ' ' || t[i+2])) AS bg
       |    FROM (SELECT lang, string_split(text, ' ') AS t FROM documents)
       |    WHERE len(t) >= 2
       |  ) GROUP BY lang, bg
       |),
       |betot AS (
       |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS BIGINT) AS types
       |  FROM becells GROUP BY lang
       |)
       |SELECT lang, n AS n_bigrams, types AS n_types,
       |  CAST(SUM(c * (CAST(${q("n")} AS BIGINT) - ${q("c")})) AS BIGINT)
       |    AS h_q,
       |  CAST(SUM(c * (CAST(${q("n")} AS BIGINT) - ${q("c")})) AS DOUBLE)
       |    / (CAST(1024.0 AS DOUBLE) * CAST(n AS DOUBLE)) AS entropy_bits,
       |  (CAST(SUM(c * (CAST(${q("n")} AS BIGINT) - ${q("c")})) AS DOUBLE)
       |    / (CAST(1024.0 AS DOUBLE) * CAST(n AS DOUBLE)))
       |    / (CAST(CAST(${q("types")} AS BIGINT) AS DOUBLE)
       |      / CAST(1024.0 AS DOUBLE)) AS evenness
       |FROM becells JOIN betot USING (lang)
       |GROUP BY lang, n, types
       |${sqlOrderBy(Seq("lang")).trim}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bigram_entropy" -> bigramEntropy,
    "text_readability" -> readability,
    "text_js_divergence" -> jsDivergence,
    "text_keyword_rake" -> keywordRake,
    "text_compression_ratio" -> compressionRatio,
    "text_bloom_audit" -> bloomAudit,
    "text_cms_estimate" -> cmsEstimate,
    "text_fluency" -> fluency,
    "corpus_chunk" -> chunk,
    "corpus_split" -> corpusSplit,
    "corpus_pack" -> corpusPack,
    "corpus_sample_mix" -> sampleMix,
    "text_rep_ngrams" -> repNgrams,
    "text_pii_scrub" -> piiScrub,
    "text_normalize" -> normalize,
    "text_stats" -> stats,
    "text_lang_id" -> langId,
    "text_lang_confusion" -> langConfusion,
    "text_token_count" -> tokenCount,
    "text_word_topk" -> wordTopk,
    "text_burstiness" -> burstiness,
    "text_yule_k" -> yuleK,
    "text_zipf_fit" -> zipfFit,
    "text_heavy_hitters" -> heavyHitters,
    "text_heavy_guaranteed" -> heavyGuaranteed,
    "text_fingerprint" -> fingerprint,
    "text_winnowing" -> winnowing,
    "text_tfidf" -> tfidf,
    "corpus_prep" -> corpusPrep)

  val oracles: Map[String, String] = Map(
    "text_bigram_entropy" -> bigramEntropySql,
    "text_readability" -> readabilitySql,
    "text_js_divergence" -> jsDivergenceSql,
    "text_keyword_rake" -> keywordRakeSql,
    "text_bloom_audit" -> bloomAuditSql,
    "text_cms_estimate" -> cmsEstimateSql,
    "text_fluency" -> fluencySql,
    "corpus_chunk" -> chunkSql,
    "corpus_split" -> corpusSplitSql,
    "corpus_pack" -> corpusPackSql,
    "corpus_sample_mix" -> sampleMixSql,
    "text_rep_ngrams" -> repNgramsSql,
    "text_pii_scrub" -> piiScrubSql,
    "text_normalize" -> normalizeSql,
    "text_stats" -> statsSql,
    "text_lang_id" -> langIdSql,
    "text_lang_confusion" -> langConfusionSql,
    "text_token_count" -> tokenCountSql,
    "text_word_topk" -> wordTopkSql,
    "text_burstiness" -> burstinessSql,
    "text_yule_k" -> yuleKSql,
    "text_zipf_fit" -> zipfFitSql,
    "text_heavy_guaranteed" -> heavyGuaranteedSql,
    "text_fingerprint" -> fingerprintSql,
    "text_winnowing" -> winnowingSql,
    "text_tfidf" -> tfidfSql,
    "corpus_prep" -> corpusPrepSql)
}
