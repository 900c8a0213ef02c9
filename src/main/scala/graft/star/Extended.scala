package graft.star

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.sqlOrderBy
import graft.functions.WeightedRateAggregator
import graft.pipeline.FlightPipeline

/** UDAF + Generator coverage (SURVEY.md §2.10): the custom typed
  * Aggregator in a real grouped query, and an explode-based generator
  * query — both oracle-checked.
  */
object Extended extends graft.QueryModule {

  /** Weighted delay rate per carrier via the custom Aggregator — the
    * UDAF result must equal the relational sum/sum form (that is
    * literally its DuckDB oracle). */
  def udafWeightedRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wr = udaf(WeightedRateAggregator)
    FlightPipeline.silver(spark, dir)
      .groupBy($"carrier")
      .agg(wr($"arr_del15", $"arr_flights").as("weighted_delay_rate"),
        count(lit(1)).as("n_rows"))
      .orderBy($"carrier")
  }

  val udafWeightedRateSql: String = FlightPipeline.withCtes(
    s"""
       |, g AS (
       |  SELECT carrier,
       |    CAST(SUM(CAST(arr_del15 AS DECIMAL(28,5))) AS DOUBLE) AS num,
       |    CAST(SUM(CAST(arr_flights AS DECIMAL(28,5))) AS DOUBLE) AS den,
       |    COUNT(*) AS n_rows
       |  FROM master GROUP BY carrier
       |)
       |SELECT carrier,
       |  CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE) ELSE num / den END
       |    AS weighted_delay_rate,
       |  n_rows
       |FROM g${sqlOrderBy(Seq("carrier"))}""".stripMargin)

  /** Generator query: explode every embedding value into 0.05-wide
    * buckets — a 320k-row explode collapsed by a partial-aggregating
    * count, the canonical explode->aggregate shape. Min/max are
    * order-independent; the mean goes through floor-scaled fixed point
    * at scale 9 (a decimal CAST of full-entropy doubles is not
    * cross-engine bit-stable — see DecimalDot; scale 9 keeps the grand
    * scaled sum < 2^53 even at sf1+). */
  def embedHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "embeddings")
      .select(explode($"embedding").as("x"))
      .select(floor($"x".cast("double") * 20).cast("int").as("bucket"),
        $"x".cast("double").as("xd"))
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_values"),
        min($"xd").as("min_value"),
        max($"xd").as("max_value"),
        ((sum(floor($"xd" * 1e9 + 0.5).cast("bigint")).cast("double") / 1e9)
          / count(lit(1))).as("mean_value"))
      .orderBy($"bucket")
  }

  val embedHistogramSql: String =
    s"""WITH v AS (
       |  SELECT CAST(unnest(embedding) AS DOUBLE) AS xd FROM embeddings
       |),
       |b AS (SELECT CAST(floor(xd * 20) AS INTEGER) AS bucket, xd FROM v)
       |SELECT bucket,
       |  COUNT(*) AS n_values,
       |  MIN(xd) AS min_value,
       |  MAX(xd) AS max_value,
       |  CAST(CAST(SUM(CAST(floor(xd * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |    / 1e9 / COUNT(*) AS mean_value
       |FROM b GROUP BY bucket${sqlOrderBy(Seq("bucket"))}""".stripMargin

  /** Date/time function library coverage (SURVEY.md §2.5 F9): extract,
    * truncate, offset, diff, end-of-month — engine-portable forms. */
  def dateFunctions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .filter($"o_orderkey" % 500 === 0)
      .select(
        $"o_orderkey",
        to_date($"o_orderdate").as("order_date"),
        year($"o_orderdate").as("y"),
        quarter($"o_orderdate").as("q"),
        dayofmonth($"o_orderdate").as("dom"),
        to_date(date_trunc("month", $"o_orderdate")).as("month_start"),
        last_day($"o_orderdate").as("month_end"),
        date_add(to_date($"o_orderdate"), 90).as("due_date"),
        datediff(to_date(lit("1998-01-01")), to_date($"o_orderdate"))
          .as("days_to_98"))
      .orderBy($"o_orderkey")
  }

  val dateFunctionsSql: String =
    s"""SELECT o_orderkey,
       |  CAST(o_orderdate AS DATE) AS order_date,
       |  CAST(year(o_orderdate) AS INTEGER) AS y,
       |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
       |  CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
       |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
       |  CAST(o_orderdate AS DATE) + 90 AS due_date,
       |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INTEGER) AS days_to_98
       |FROM orders WHERE o_orderkey % 500 = 0${graft.Det.sqlOrderBy(Seq("o_orderkey"))}""".stripMargin

  /** String/map function library coverage (SURVEY.md §2.5 F9):
    * concat/case/substr/regexp/split/pad/replace/search plus
    * `str_to_map` parsing — engine-portable forms over `customer`.
    * (DuckDB's map extraction yields a LIST, so the map check oracles
    * the extracted scalar: Spark builds and parses a real map whose
    * value must round-trip back to the source column.) */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "part")
      .filter($"p_partkey" % 20 === 0)
      .selectExpr(
        "p_partkey",
        "concat(p_type, '|', p_name) AS full_name",
        "lower(p_type) AS type_lower",
        "reverse(p_name) AS name_rev",
        "substr(p_type, 1, 3) AS type3",
        "regexp_extract(p_brand, '#([0-9]+)$', 1) AS brand_num",
        "element_at(split(p_name, ' '), 1) AS first_word",
        "length(p_name) AS name_len",
        "lpad(CAST(p_partkey AS STRING), 9, '0') AS padded_key",
        "replace(p_brand, 'Brand#', 'B') AS short_brand",
        "instr(p_brand, '#') AS hash_pos",
        "str_to_map(concat('brand:', p_brand, ';type:', p_type), ';', ':')['type'] AS from_map")
      .orderBy($"p_partkey")
  }

  val stringFunctionsSql: String =
    s"""SELECT p_partkey,
       |  concat(p_type, '|', p_name) AS full_name,
       |  lower(p_type) AS type_lower,
       |  reverse(p_name) AS name_rev,
       |  substr(p_type, 1, 3) AS type3,
       |  regexp_extract(p_brand, '#([0-9]+)$$', 1) AS brand_num,
       |  split_part(p_name, ' ', 1) AS first_word,
       |  CAST(length(p_name) AS INTEGER) AS name_len,
       |  lpad(CAST(p_partkey AS VARCHAR), 9, '0') AS padded_key,
       |  replace(p_brand, 'Brand#', 'B') AS short_brand,
       |  CAST(strpos(p_brand, '#') AS INTEGER) AS hash_pos,
       |  p_type AS from_map
       |FROM part WHERE p_partkey % 20 = 0${sqlOrderBy(Seq("p_partkey"))}""".stripMargin

  /** Array higher-order-function library (F9 complement to
    * [[dateFunctions]]/[[stringFunctions]]): transform / filter /
    * aggregate / zip-style / exists / sort / flatten over derived
    * integer arrays, reduced to scalar outputs. Integer-only arithmetic
    * so every lambda result is engine-exact (float-array HOFs would
    * re-open the accumulation-order seam Det exists to close). HOFs run
    * interpreted in Spark — fine here (bounded 10-element arrays, one
    * projection); hot paths use codegen'd explode/native expressions
    * instead (see Dedup/minhashSig formulation note). */
  def arrayFunctions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "part")
      .filter($"p_partkey" % 20 === 0)
      .selectExpr(
        "p_partkey",
        "1 + CAST(p_partkey % 10 AS INT) AS n")
      .selectExpr(
        "p_partkey",
        "sequence(1, n) AS arr")
      .selectExpr(
        "p_partkey",
        "size(arr) AS n_elems",
        "array_max(arr) AS mx",
        "size(filter(arr, x -> x % 2 = 0)) AS n_even",
        "aggregate(transform(arr, x -> x * x), 0, (a, x) -> a + x) AS sum_sq",
        "aggregate(transform(sequence(1, size(arr)), i -> arr[i-1] * arr[size(arr)-i]), 0, (a, x) -> a + x) AS dot_rev",
        "CAST(exists(arr, x -> x % 7 = 0) AS INT) AS has_mult7",
        "CAST(forall(arr, x -> x <= 10) AS INT) AS all_small",
        "element_at(sort_array(arr, false), 1) AS sorted_first",
        "size(flatten(array(arr, slice(arr, 1, 2)))) AS flat_len",
        "CAST(coalesce(array_position(arr, 5), 0) AS INT) AS pos5")
      .orderBy($"p_partkey")
  }

  val arrayFunctionsSql: String =
    s"""WITH a AS (
       |  SELECT p_partkey,
       |    range(1, 2 + CAST(p_partkey % 10 AS INTEGER)) AS arr
       |  FROM part WHERE p_partkey % 20 = 0
       |)
       |SELECT p_partkey,
       |  CAST(len(arr) AS INTEGER) AS n_elems,
       |  CAST(list_max(arr) AS INTEGER) AS mx,
       |  CAST(len(list_filter(arr, x -> x % 2 = 0)) AS INTEGER) AS n_even,
       |  CAST(list_sum(list_transform(arr, x -> x * x)) AS INTEGER) AS sum_sq,
       |  CAST(list_sum(list_transform(range(1, len(arr) + 1),
       |    i -> arr[i] * arr[len(arr) - i + 1])) AS INTEGER) AS dot_rev,
       |  CASE WHEN len(list_filter(arr, x -> x % 7 = 0)) > 0
       |    THEN 1 ELSE 0 END AS has_mult7,
       |  CASE WHEN len(list_filter(arr, x -> x > 10)) = 0
       |    THEN 1 ELSE 0 END AS all_small,
       |  CAST(list_reverse_sort(arr)[1] AS INTEGER) AS sorted_first,
       |  CAST(len(flatten([arr, arr[1:2]])) AS INTEGER) AS flat_len,
       |  CAST(COALESCE(list_position(arr, 5), 0) AS INTEGER) AS pos5
       |FROM a${sqlOrderBy(Seq("p_partkey"))}""".stripMargin

  /** Schemaless JSON-path extraction (F-tier complement to the
    * schema'd `from_json` silver path): `get_json_object` pulls one
    * field out of a free-form JSON properties column — the "I just need
    * this key" shape that dominates event analytics, where declaring a
    * full schema per query is impractical. Map-only + one partial-agg
    * exchange; at 100 TB the path extraction runs at scan speed and
    * only \|event_type\| aggregate rows move. */
  def jsonPath(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val jsonPathSql: String =
    s"""SELECT event_type,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       |  MIN(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS min_k,
       |  MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k
       |FROM events
       |GROUP BY event_type${sqlOrderBy(Seq("event_type"))}""".stripMargin

  /** Fuzzy part-name matching via the native [[graft.functions.JaroWinkler]]
    * expression — the entity-resolution scorer Spark lacks, proven
    * against DuckDB's BUILT-IN `jaro_winkler_similarity` (a custom
    * Catalyst Expression graded by an independent native
    * implementation, the strongest oracle a custom function can get).
    * Within-brand name pairs keep the candidate set bounded; the
    * similarity is quantized to 1e-6 (exact integer micro-units) so
    * the hash gate compares integers — a last-ulp divergence in some
    * future engine build cannot flip a cell.
    *
    * Scale posture: one brand-keyed self-join (never all-pairs across
    * brands — the blocking-key discipline of entity resolution); the
    * scorer is a map-only codegen'd scalar. */
  def jaroPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.JaroWinkler.register(spark)
    // deterministic 1/20 key sample bounds the within-brand pair set
    // (the full blocking join at sf0.1 emits >1M rows of fixture-vocab
    // lookalikes — right plan shape, pointless volume for the gate)
    val p = Tables(spark, dir, "part")
      .filter($"p_partkey" % 20 === 0)
      .select($"p_partkey", $"p_brand", $"p_name")
    val a = p.select($"p_brand", $"p_partkey".as("k1"), $"p_name".as("n1"))
    val b = p.select($"p_brand".as("brand_b"), $"p_partkey".as("k2"),
      $"p_name".as("n2"))
    a.join(b, $"p_brand" === $"brand_b" && $"k1" < $"k2")
      .selectExpr("p_brand", "k1", "k2", "n1", "n2",
        "cast(round(jaro_winkler(n1, n2) * 1e6) as bigint) AS jw6")
      .filter($"jw6" >= 800000L)
      .orderBy($"p_brand", $"k1", $"k2")
  }

  val jaroPairsSql: String =
    s"""SELECT a.p_brand, a.p_partkey AS k1, b.p_partkey AS k2,
       |  a.p_name AS n1, b.p_name AS n2,
       |  CAST(round(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6)
       |    AS BIGINT) AS jw6
       |FROM part a JOIN part b
       |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |  AND a.p_partkey % 20 = 0 AND b.p_partkey % 20 = 0
       |WHERE CAST(round(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6)
       |    AS BIGINT) >= 800000
       |${sqlOrderBy(Seq("a.p_brand", "k1", "k2")).trim}""".stripMargin

  /** Damerau vs plain Levenshtein over the same brand-blocked sample
    * as [[jaroPairs]]: both distances per pair (Spark's built-in
    * levenshtein + the native [[graft.functions.DamerauLevenshtein]]
    * expression), kept where the Damerau distance is ≤ 4. The delta
    * column counts the adjacent-transposition credit — integer output
    * end to end, so the custom expression is graded by DuckDB's
    * built-in `damerau_levenshtein` with no numeric seam of any kind.
    *
    * Scale posture: identical to jaroPairs — blocking-key self-join,
    * map-only codegen'd scalars. */
  def damerauPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DamerauLevenshtein.register(spark)
    val p = Tables(spark, dir, "part")
      .filter($"p_partkey" % 20 === 0)
      .select($"p_partkey", $"p_brand", $"p_name")
    val a = p.select($"p_brand", $"p_partkey".as("k1"), $"p_name".as("n1"))
    val b = p.select($"p_brand".as("brand_b"), $"p_partkey".as("k2"),
      $"p_name".as("n2"))
    a.join(b, $"p_brand" === $"brand_b" && $"k1" < $"k2")
      .selectExpr("p_brand", "k1", "k2", "n1", "n2",
        "levenshtein(n1, n2) AS lev",
        "damerau_levenshtein(n1, n2) AS dl")
      .filter($"dl" <= 4)
      .withColumn("transposition_credit", $"lev" - $"dl")
      .orderBy($"p_brand", $"k1", $"k2")
  }

  val damerauPairsSql: String =
    s"""SELECT a.p_brand, a.p_partkey AS k1, b.p_partkey AS k2,
       |  a.p_name AS n1, b.p_name AS n2,
       |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev,
       |  CAST(damerau_levenshtein(a.p_name, b.p_name) AS INTEGER) AS dl,
       |  CAST(levenshtein(a.p_name, b.p_name)
       |    - damerau_levenshtein(a.p_name, b.p_name) AS INTEGER)
       |    AS transposition_credit
       |FROM part a JOIN part b
       |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |  AND a.p_partkey % 20 = 0 AND b.p_partkey % 20 = 0
       |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 4
       |${sqlOrderBy(Seq("a.p_brand", "k1", "k2")).trim}""".stripMargin

  /** URL parsing (F9 completion): Spark's NATIVE `parse_url`
    * (HOST / PATH / QUERY / per-key query param) over deterministic
    * synthetic URLs built from document fields, graded by DuckDB
    * re-deriving every component with independent regex extraction —
    * the parser-vs-regex cross-check that pins what `parse_url`
    * actually returns (including the key-missing NULL contract).
    *
    * Scale posture: map-only scalar functions; at 100 TB this is the
    * first stage of any web-corpus pipeline (host for domain-level
    * dedup/caps, path/query for boilerplate heuristics). */
  def urlParse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .filter($"doc_id" % 7 === 0)
      .selectExpr("doc_id",
        "concat('https://', source, '.example.com/docs/', " +
          "CAST(doc_id AS STRING), '?lang=', lang, '&v=2') AS url")
      .selectExpr("doc_id", "url",
        "parse_url(url, 'HOST') AS host",
        "parse_url(url, 'PATH') AS path",
        "parse_url(url, 'QUERY') AS query",
        "parse_url(url, 'QUERY', 'lang') AS lang_param",
        "parse_url(url, 'QUERY', 'missing') AS absent_param")
      .orderBy($"doc_id")
  }

  val urlParseSql: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://' || source || '.example.com/docs/' ||
       |      CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&v=2' AS url
       |  FROM documents WHERE doc_id % 7 = 0
       |)
       |SELECT doc_id, url,
       |  regexp_extract(url, '^https://([^/]+)/', 1) AS host,
       |  regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
       |  regexp_extract(url, '[?](.*)$$', 1) AS query,
       |  regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
       |  CAST(NULL AS VARCHAR) AS absent_param
       |FROM u${sqlOrderBy(Seq("doc_id"))}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "func_url_parse" -> urlParse,
    "func_damerau_pairs" -> damerauPairs,
    "func_jaro_pairs" -> jaroPairs,
    "agg_udaf_weighted_rate" -> udafWeightedRate,
    "embed_value_histogram" -> embedHistogram,
    "func_dates" -> dateFunctions,
    "func_strings" -> stringFunctions,
    "func_arrays" -> arrayFunctions,
    "func_json_path" -> jsonPath)

  val oracles: Map[String, String] = Map(
    "func_url_parse" -> urlParseSql,
    "func_damerau_pairs" -> damerauPairsSql,
    "func_jaro_pairs" -> jaroPairsSql,
    "agg_udaf_weighted_rate" -> udafWeightedRateSql,
    "embed_value_histogram" -> embedHistogramSql,
    "func_dates" -> dateFunctionsSql,
    "func_strings" -> stringFunctionsSql,
    "func_arrays" -> arrayFunctionsSql,
    "func_json_path" -> jsonPathSql)
}
