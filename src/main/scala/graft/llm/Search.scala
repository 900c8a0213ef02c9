package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Term-based relevance scoring for corpus curation: BM25 top-k over
  * `documents` for a fixed query-term set — the retrieval primitive a
  * training-data pipeline uses to pull topic-relevant documents (or to
  * score proximity to a seed set) without an embedding model.
  *
  * Scoring contract: classic BM25 (k1=1.2, b=0.75) with the idf factor
  * in ODDS form, (N - df + 0.5) / (df + 0.5), not its logarithm. Every
  * other engine constant in this repo avoids transcendental functions
  * (see TextStats.tfidf: libm implementations differ in the last ulp
  * across engines, which a hash-compare gate cannot tolerate); the odds
  * form keeps the score a composition of IEEE-exact +,*,/ so Spark and
  * DuckDB agree bit-for-bit. For a single term the ranking is identical
  * to log-idf BM25 (log is monotone); for multi-term sums it is a
  * deliberately defined variant that weights rare terms more sharply.
  *
  * Scale posture: one map pass computes per-doc term frequencies inside
  * array expressions (no explode — the shuffle-free form); the corpus
  * statistics (N, Σdl, per-term df) are ONE aggregated row, broadcast
  * back by the cross join; top-k is TakeOrderedAndProject, never a
  * global sort. At 100 TB: scan-speed map + a 1-row exchange + k rows
  * to the driver.
  */
object Search extends graft.QueryModule {

  private val terms = Seq("query", "join", "vector")

  /** Shared Spark/DuckDB SQL fragments — the formula TEXT is identical
    * in both dialects so the expression trees (and thus every IEEE
    * rounding step) match. */
  private def scoreTerm(i: Int): String =
    s"((n_docs - df$i + 0.5) / (df$i + 0.5))" +
      s" * ((tf$i * (1.2 + 1)) / (tf$i + 1.2 * (1 - 0.75 + 0.75 * dl / (total_dl / n_docs))))"

  private val scoreSql: String =
    terms.indices.map(scoreTerm).mkString("(", " + ", ")")

  private val anyMatch: String =
    terms.indices.map(i => s"tf$i").mkString(" + ") + " > 0"

  def bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"size(filter(tokens, x -> x = '$t')) AS tf$i"
    }
    val toks = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .selectExpr(Seq("doc_id", "lang", "size(tokens) AS dl") ++ tfCols: _*)
    val stats = toks.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum($"dl").cast("double").as("total_dl") +:
        terms.indices.map(i =>
          sum(($"tf$i" > 0).cast("int")).cast("double").as(s"df$i"))): _*)
    toks.crossJoin(broadcast(stats))
      .filter(expr(anyMatch))
      .selectExpr(
        Seq("doc_id", "lang", "dl") ++ terms.indices.map(i => s"tf$i") :+
          s"$scoreSql AS score": _*)
      .orderBy($"score".desc, $"doc_id")
      .limit(20)
  }

  val bm25Sql: String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS INTEGER) AS tf$i"
    }.mkString(",\n       |    ")
    val dfCols = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n       |    ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS dl,
       |    $tfCols
       |  FROM documents
       |),
       |st AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) AS total_dl,
       |    $dfCols
       |  FROM toks
       |)
       |SELECT doc_id, lang, dl, ${terms.indices.map(i => s"tf$i").mkString(", ")},
       |  $scoreSql AS score
       |FROM toks, st
       |WHERE $anyMatch
       |ORDER BY score DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  /** Collocation mining: top word bigrams by pointwise-lift — the
    * ratio form of PMI, lift(a,b) = P(ab)/(P(a)P(b)) = c(ab)·N_bi /
    * (c(a)·c(b)) — used in curation to find multi-word expressions
    * worth treating as units (tokenizer merges, stop-phrase lists).
    * Ratio, not log (transcendental-free cross-engine rule; log is
    * monotone so the RANKING is identical to true PMI). The lift
    * numerator/denominator are multiplied as doubles, so there is no
    * integer-overflow hazard at corpus scale and both engines round
    * identically (same formula text).
    *
    * Scale posture: bigram and unigram counts are partial-aggregated
    * map-side before their exchanges (counts, not token streams, cross
    * the wire); the corpus-total row broadcasts; the two unigram-count
    * joins reuse one exchange; top-k is TakeOrderedAndProject. The
    * c(ab) >= 3 support floor is applied BEFORE the joins, so join
    * input is the (small) frequent-bigram set, not the full bigram
    * vocabulary. */
  def wordPmi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
    val uni = tok.select(explode($"tokens").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c_w"))
    val bi = tok.filter(size($"tokens") >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1]))""".stripMargin))
        .as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c_ab"))
    val nBi = bi.agg(sum($"c_ab").as("n_bi"))
    bi.filter($"c_ab" >= 3)
      .crossJoin(broadcast(nBi))
      .withColumn("a", expr("split(bg, ' ')[0]"))
      .withColumn("b", expr("split(bg, ' ')[1]"))
      .join(uni.select($"w".as("a"), $"c_w".as("c_a")), "a")
      .join(uni.select($"w".as("b"), $"c_w".as("c_b")), "b")
      .selectExpr("a", "b", "c_ab", "c_a", "c_b",
        "(CAST(c_ab AS DOUBLE) * n_bi) / (CAST(c_a AS DOUBLE) * c_b) AS lift")
      .orderBy($"lift".desc, $"a", $"b")
      .limit(30)
  }

  val wordPmiSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
       |),
       |uni AS (
       |  SELECT w, COUNT(*) AS c_w
       |  FROM (SELECT unnest(tokens) AS w FROM tok) GROUP BY w
       |),
       |bi AS (
       |  SELECT bg, COUNT(*) AS c_ab
       |  FROM (SELECT unnest(list_transform(range(0, len(tokens) - 1),
       |          i -> tokens[i+1] || ' ' || tokens[i+2])) AS bg
       |        FROM tok WHERE len(tokens) >= 2)
       |  GROUP BY bg
       |),
       |nb AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bi FROM bi),
       |f AS (
       |  SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
       |    c_ab, n_bi
       |  FROM bi, nb WHERE c_ab >= 3
       |)
       |SELECT f.a, f.b, f.c_ab, u1.c_w AS c_a, u2.c_w AS c_b,
       |  (CAST(f.c_ab AS DOUBLE) * f.n_bi) / (CAST(u1.c_w AS DOUBLE) * u2.c_w) AS lift
       |FROM f
       |JOIN uni u1 ON u1.w = f.a
       |JOIN uni u2 ON u2.w = f.b
       |ORDER BY lift DESC, a NULLS FIRST, b NULLS FIRST
       |LIMIT 30""".stripMargin

  /** text_dunning_llr: Dunning's log-likelihood-ratio collocation test
    * (Dunning 1993, "Accurate Methods for the Statistics of Surprise
    * and Coincidence") — the statistically-sound companion to
    * [[wordPmi]]: PMI/lift over-rewards rare pairs (two hapaxes that
    * co-occur once score maximal lift), while the G² statistic weights
    * evidence by count, which is why LLR is the standard collocation
    * ranker for tokenizer-merge and stop-phrase candidate lists. For
    * each bigram (a,b) the 2×2 contingency over the bigram stream —
    * O11 = c(ab), O12 = c(a·) − c(ab), O21 = c(·b) − c(ab),
    * O22 = N − c(a·) − c(·b) + c(ab) — is scored as
    * G²_q = 2·Σ_k O_k·(qlog2(O_k·N) − qlog2(R_k·C_k)), every term an
    * exact BIGINT product of the engine-portable qlog2 fixed-point
    * base-2 log ([[graft.llm.Curate.qlog2Spark]]); zero cells
    * contribute exactly 0 (0·log 0 = 0). The ranking key llr_q is the
    * exact integer; llr_bits = llr_q/1024 is the single terminal
    * division (units: bits of evidence, = G²/(2·ln 2)).
    *
    * Scale posture: identical to [[wordPmi]] — map-side-combined
    * bigram counts, the two marginal tables derive from the bigram
    * counts (never re-scan the corpus), the ≥3 support floor prunes
    * before the joins, and top-k is TakeOrderedAndProject. */
  def dunningLlr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = graft.llm.Curate.qlog2Spark _
    val bi = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .filter(size($"tokens") >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |          i -> concat_ws(' ', tokens[i], tokens[i+1]))""".stripMargin))
        .as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c_ab"))
      // vocabulary-bounded counts feed FOUR consumers (marginals, the
      // total, the scored pairs) — checkpoint or the corpus-sized
      // explode+groupBy replays once per consumer (measured 109 s →
      // one pass at ×25). r15: lazy — the n-total broadcast build is
      // the materializing action (guide §5).
      .localCheckpoint(false)
    val af = bi.groupBy(expr("split(bg, ' ')[0]").as("a"))
      .agg(sum($"c_ab").as("c_af"))
    val bs = bi.groupBy(expr("split(bg, ' ')[1]").as("b"))
      .agg(sum($"c_ab").as("c_bs"))
    val nBi = bi.agg(sum($"c_ab").as("n"))
    def term(o: String, r: String, c: String) =
      s"IF($o > 0, $o * (CAST(${q(s"($o * n)")} AS BIGINT)" +
        s" - ${q(s"($r * $c)")}), CAST(0 AS BIGINT))"
    bi.filter($"c_ab" >= 3)
      .withColumn("a", expr("split(bg, ' ')[0]"))
      .withColumn("b", expr("split(bg, ' ')[1]"))
      .join(af, "a").join(bs, "b")
      .crossJoin(broadcast(nBi))
      .selectExpr("a", "b", "c_ab", "c_af", "c_bs", "n",
        "c_af - c_ab AS o12", "c_bs - c_ab AS o21",
        "n - c_af - c_bs + c_ab AS o22",
        "n - c_af AS r2", "n - c_bs AS c2")
      .selectExpr("a", "b", "c_ab", "c_af", "c_bs",
        s"""(${term("c_ab", "c_af", "c_bs")}
           | + ${term("o12", "c_af", "c2")}
           | + ${term("o21", "r2", "c_bs")}
           | + ${term("o22", "r2", "c2")}) * 2 AS llr_q""".stripMargin)
      .withColumn("llr_bits",
        $"llr_q".cast("double") / lit(1024.0))
      .orderBy($"llr_q".desc, $"a", $"b")
      .limit(20)
  }

  val dunningLlrSql: String = {
    val q = graft.llm.Curate.qlog2Duck _
    def term(o: String, r: String, c: String) =
      s"CASE WHEN $o > 0 THEN $o * (CAST(${q(s"($o * n)")} AS BIGINT)" +
        s" - ${q(s"($r * $c)")}) ELSE 0 END"
    s"""WITH lbi AS (
       |  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_ab
       |  FROM (SELECT unnest(list_transform(range(0, len(tokens) - 1),
       |          i -> tokens[i+1] || ' ' || tokens[i+2])) AS bg
       |        FROM (SELECT string_split(text, ' ') AS tokens FROM documents)
       |        WHERE len(tokens) >= 2)
       |  GROUP BY bg
       |),
       |laf AS (
       |  SELECT string_split(bg, ' ')[1] AS a,
       |    CAST(SUM(c_ab) AS BIGINT) AS c_af
       |  FROM lbi GROUP BY 1
       |),
       |lbs AS (
       |  SELECT string_split(bg, ' ')[2] AS b,
       |    CAST(SUM(c_ab) AS BIGINT) AS c_bs
       |  FROM lbi GROUP BY 1
       |),
       |ln_ AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM lbi),
       |cells AS (
       |  SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
       |    c_ab, c_af, c_bs, n,
       |    c_af - c_ab AS o12, c_bs - c_ab AS o21,
       |    n - c_af - c_bs + c_ab AS o22,
       |    n - c_af AS r2, n - c_bs AS c2
       |  FROM lbi
       |    JOIN laf ON laf.a = string_split(bg, ' ')[1]
       |    JOIN lbs ON lbs.b = string_split(bg, ' ')[2]
       |    CROSS JOIN ln_
       |  WHERE c_ab >= 3
       |)
       |SELECT a, b, c_ab, c_af, c_bs,
       |  CAST((${term("c_ab", "c_af", "c_bs")}
       |   + ${term("o12", "c_af", "c2")}
       |   + ${term("o21", "r2", "c_bs")}
       |   + ${term("o22", "r2", "c2")}) * 2 AS BIGINT) AS llr_q,
       |  CAST((${term("c_ab", "c_af", "c_bs")}
       |   + ${term("o12", "c_af", "c2")}
       |   + ${term("o21", "r2", "c_bs")}
       |   + ${term("o22", "r2", "c2")}) * 2 AS DOUBLE)
       |    / CAST(1024.0 AS DOUBLE) AS llr_bits
       |FROM cells
       |ORDER BY llr_q DESC, a NULLS FIRST, b NULLS FIRST
       |LIMIT 20""".stripMargin
  }

  /** text_textrank: TextRank keyword extraction (Mihalcea & Tarau,
    * EMNLP 2004) — weighted PageRank over the corpus word
    * co-occurrence graph (edge weight = adjacency count, the window-1
    * form), the graph-centrality complement to frequency-based RAKE
    * and the df-based TF-IDF: a word ranks high when it co-occurs
    * with other high-ranking words, which surfaces topic hubs rather
    * than merely frequent tokens. Three damped iterations
    * (d = 0.85) in the engine-exact rank_ppb discipline of
    * `graph_pagerank_iter5`: ranks start 1e9/N, inflow sums
    * r·0.85·w/W(v) through [[graft.Det.xsum]] (DECIMAL(28,5) — one
    * deterministic reduction, never a shuffle-order float sum), and
    * the DuckDB oracle unrolls the identical three steps. Top-20 by
    * (rank desc, word).
    *
    * Scale posture: the corpus collapses to its bigram counts
    * map-side; every structure after is VOCABULARY-bounded (Zipf: the
    * distinct-adjacency table grows sublinearly in corpus size), the
    * per-iteration join is an equi hash join on the word key, and
    * top-k is TakeOrderedAndProject. */
  def textrank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bi = Tables(spark, dir, "documents")
      .withColumn("tokens", split($"text", " "))
      .filter(size($"tokens") >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |          i -> named_struct('a', tokens[i], 'b', tokens[i+1]))"""
          .stripMargin)).as("p"))
      .filter($"p.a" =!= $"p.b")
      .groupBy($"p.a".as("a"), $"p.b".as("b"))
      .agg(count(lit(1)).as("c"))
      // vocab-bounded; feeds both union branches. r15: all three
      // checkpoints in this chain are LAZY — the nn-count broadcast
      // build materializes nodes→edges→bi in one scheduled job instead
      // of three (guide §5); lineage truncation is unchanged.
      .localCheckpoint(false)
    val edges = bi.select($"a".as("src"), $"b".as("dst"), $"c")
      .union(bi.select($"b".as("src"), $"a".as("dst"), $"c"))
      .groupBy($"src", $"dst").agg(sum($"c").as("wgt"))
      .localCheckpoint(false) // feeds wout + 3 iteration joins
    val wout = edges.groupBy($"src").agg(sum($"wgt").as("wv"))
    val nodes = edges.select($"src".as("word")).distinct()
      .localCheckpoint(false)
    val nRow = nodes.agg(count(lit(1)).as("nn"))
    var rank = nodes.crossJoin(broadcast(nRow))
      .select($"word", (lit(1e9) / $"nn").as("r"))
    for (_ <- 1 to 3) {
      val inflow = edges.join(wout, "src")
        .join(rank.withColumnRenamed("word", "src"), "src")
        .groupBy($"dst")
        .agg(graft.Det.xsum($"r" * lit(0.85) * $"wgt" / $"wv").as("inflow"))
        .withColumnRenamed("dst", "word")
      rank = nodes.crossJoin(broadcast(nRow))
        .join(inflow, Seq("word"), "left")
        .select($"word",
          (lit(1.5e8) / $"nn" + coalesce($"inflow", lit(0.0))).as("r"))
    }
    rank.select($"word", $"r".as("rank_ppb"))
      .orderBy($"rank_ppb".desc, $"word")
      .limit(20)
  }

  val textrankSql: String = {
    val iters = (1 to 3).map { k =>
      s"""trrank$k AS (
         |  SELECT trnodes.word,
         |    (1.5e8 / nn) + COALESCE(inf.inflow, 0.0) AS r
         |  FROM trnodes CROSS JOIN trn LEFT JOIN (
         |    SELECT dst AS word,
         |      ${graft.Det.sqlSum(s"r * 0.85 * wgt / wv")} AS inflow
         |    FROM tredges JOIN trwout USING (src)
         |    JOIN trrank${k - 1} rk ON rk.word = src
         |    GROUP BY dst) inf ON inf.word = trnodes.word
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH trbi AS (
       |  SELECT p['a'] AS a, p['b'] AS b, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(list_transform(range(0, len(tokens) - 1),
       |          i -> {'a': tokens[i+1], 'b': tokens[i+2]})) AS p
       |        FROM (SELECT string_split(text, ' ') AS tokens FROM documents)
       |        WHERE len(tokens) >= 2)
       |  WHERE p['a'] <> p['b']
       |  GROUP BY 1, 2
       |),
       |tredges AS (
       |  SELECT src, dst, CAST(SUM(c) AS BIGINT) AS wgt FROM (
       |    SELECT a AS src, b AS dst, c FROM trbi
       |    UNION ALL
       |    SELECT b, a, c FROM trbi
       |  ) GROUP BY src, dst
       |),
       |trwout AS (
       |  SELECT src, CAST(SUM(wgt) AS BIGINT) AS wv FROM tredges GROUP BY src
       |),
       |trnodes AS (SELECT DISTINCT src AS word FROM tredges),
       |trn AS (SELECT COUNT(*) AS nn FROM trnodes),
       |trrank0 AS (SELECT word, 1e9 / nn AS r FROM trnodes CROSS JOIN trn),
       |$iters
       |SELECT word, r AS rank_ppb FROM trrank3
       |ORDER BY rank_ppb DESC, word NULLS FIRST
       |LIMIT 20""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25" -> bm25,
    "text_word_pmi" -> wordPmi,
    "text_dunning_llr" -> dunningLlr,
    "text_textrank" -> textrank)

  val oracles: Map[String, String] = Map(
    "text_bm25" -> bm25Sql,
    "text_word_pmi" -> wordPmiSql,
    "text_dunning_llr" -> dunningLlrSql,
    "text_textrank" -> textrankSql)
}
