package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Collection generation operators (SURVEY §2.2 P7, §2.5 W5, §2.4 A10/A11;
  * reference: ai/collection_generator.py:252-348,325-333,577-616).
  *
  * The deterministic template path (the reference works with zero AI —
  * setup_ai_client falls back to contextual tags, :167-195): tag-criteria
  * filter + match-score, top-8 per collection with a ≥2 floor, tag usage
  * stats, and keyword trend analysis. Tags are array<struct<tag, confidence>>
  * (the MapType of SURVEY §1.3 flattened so the oracle can replay it).
  */
object Collections {

  /** (poi_id, tags). */
  val taggedPois: Seq[(String, Seq[(String, Double)])] = Seq(
    ("t1", Seq("romantic" -> 0.9, "terrace" -> 0.7, "wine" -> 0.8)),
    ("t2", Seq("romantic" -> 0.55, "noisy" -> 0.9)),
    ("t3", Seq("terrace" -> 0.85, "brunch" -> 0.6)),
    ("t4", Seq("romantic" -> 0.4, "wine" -> 0.95)),
    ("t5", Seq("brunch" -> 0.9, "terrace" -> 0.5, "noisy" -> 0.65)),
    ("t6", Seq("wine" -> 0.7)))

  /** (collection_id, required_tags, excluded_tags, min_confidence). */
  val templates: Seq[(String, Seq[String], Seq[String], Double)] = Seq(
    ("romantic_evenings", Seq("romantic", "wine"), Seq("noisy"), 0.5),
    ("sunny_brunch", Seq("brunch", "terrace"), Seq(), 0.6),
    ("impossible", Seq("michelin"), Seq(), 0.5))

  def taggedPoisDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    taggedPois.map { case (id, tags) => (id, tags.map(t => TagConf(t._1, t._2))) }
      .toDF("poi_id", "tags")
  }
  case class TagConf(tag: String, confidence: Double)

  def templatesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    templates.toDF("collection_id", "required_tags", "excluded_tags", "min_confidence")
  }

  /** P7 + W5: per (collection, poi): keep when ≥1 required tag at confidence ≥
    * min AND no excluded tag at confidence ≥ min; match_score = Σ confidences
    * of matching required tags; top-8 per collection, collections need ≥2.
    *
    * The predicate + score run as ONE codegen'd pass over the tag array
    * ([[graft.expr.Expressions.TagMatchScore]]: null = ineligible) — the
    * interpreted `exists`/`aggregate(filter(...))` lambdas it replaces
    * multiply per (poi × template) with real collection catalogs.
    *
    * The top-8 is one `row_number` window over ONE exchange on
    * `collection_id`, and the member count a second window over the same
    * partitioning (no aggregate joined back). It stays parallel at catalog
    * scale because Spark's InferWindowGroupLimit turns `rnk <= 8` into a
    * `WindowGroupLimit` whose Partial half runs BELOW the exchange: each
    * map task keeps at most 8 rows per collection before the shuffle, so
    * the single task that finally sorts a collection sees at most
    * 8 × (map tasks) rows, not every matched row of it (JobBudgetSpec pins
    * the plan shape). The order key (match_score desc, poi_id asc) is
    * total, so the result is deterministic. */
  def generate(pois: DataFrame, tmpl: DataFrame): DataFrame = {
    val matched = pois.join(broadcast(tmpl))
      .withColumn("match_score", round(graft.expr.functions.tag_match_score(
        col("tags"), col("required_tags"), col("excluded_tags"), col("min_confidence")), 6))
      .filter(col("match_score").isNotNull)
    val byCollection = Window.partitionBy(col("collection_id"))
    matched
      .withColumn("rnk", row_number().over(
        byCollection.orderBy(col("match_score").desc, col("poi_id").asc)))
      .filter(col("rnk") <= 8)
      .withColumn("n_members", count(lit(1)).over(byCollection))
      .filter(col("n_members") >= 2)
      .select(col("collection_id"), col("poi_id"), col("match_score"),
        col("rnk").cast("long").as("rnk"), col("n_members"))
  }

  def qCollections(spark: SparkSession, dir: String): DataFrame =
    generate(taggedPoisDf(spark), templatesDf(spark))

  /** A10 — tag usage stats (Counter of tag keys over POIs). */
  def qTagUsage(spark: SparkSession, dir: String): DataFrame =
    taggedPoisDf(spark)
      .select(explode(col("tags")).as("t"))
      .groupBy(col("t.tag").as("tag"))
      .agg(count(lit(1)).as("n_pois"),
        round(avg(col("t.confidence")), 6).as("avg_confidence"))

  /** A11 — trend keyword analysis over documents: keyword regex counts →
    * top-10 (collection_generator.py:577-616 re-expressed over the corpus). */
  def qTrendKeywords(spark: SparkSession, dir: String): DataFrame = {
    val keywords = Seq("fast", "slow", "new", "merge", "stream", "window")
    graft.Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(col("word").isin(keywords: _*))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p7_collections" -> (qCollections _),
    "p7_collections_vol" -> (qCollectionsVol _),
    "p7_collections_vol24" -> (qCollectionsVol24 _),
    "a10_tag_usage" -> (qTagUsage _),
    "a11_trend_keywords" -> (qTrendKeywords _))

  /** Tagged POIs derived from `customer` (identical modulus-confidence
    * formulas both engines) — the tag-criteria/top-k dataflow at volume. */
  def taggedPoisVol(spark: SparkSession, dir: String): DataFrame = {
    // conditional concat instead of filter(array(...), lambda): HOF lambdas
    // run interpreted per row; this form stays in whole-stage codegen and
    // builds the identical array (same element order)
    val clauses = Seq("romantic" -> 100, "wine" -> 89, "terrace" -> 53,
      "brunch" -> 31, "noisy" -> 7).map { case (tag, m) =>
      s"""CASE WHEN CAST(c_custkey % $m AS DOUBLE) / $m.0 > 0.3
         |THEN array(named_struct('tag', '$tag', 'confidence', CAST(c_custkey % $m AS DOUBLE) / $m.0))
         |ELSE array() END""".stripMargin.replace('\n', ' ')
    }
    graft.Tables.customer(spark, dir).select(
      col("c_custkey").cast("string").as("poi_id"),
      expr(clauses.mkString("concat(", ", ", ")")).as("tags"))
  }

  def qCollectionsVol(spark: SparkSession, dir: String): DataFrame =
    generate(taggedPoisVol(spark, dir), templatesDf(spark))

  /** A catalog-scale template set (24 deterministic templates over the tag
    * vocabulary) — the reference's real collection catalogs run dozens of
    * templates against city-scale POI sets, which is exactly the (poi ×
    * template) multiplier the codegen'd TagMatchScore exists for. */
  val tagVocab: Seq[String] = Seq("romantic", "wine", "terrace", "brunch", "noisy")
  val templates24: Seq[(String, Seq[String], Seq[String], Double)] =
    (0 until 24).map { i =>
      val req = Seq(tagVocab(i % 5), tagVocab((i / 5 + i + 1) % 5)).distinct
      val exc = if (i % 3 == 0) Seq(tagVocab((i + 2) % 5)).filterNot(req.contains) else Seq()
      (f"tmpl_$i%02d", req, exc, 0.3 + 0.03 * (i % 10))
    }

  def templates24Df(spark: SparkSession): DataFrame = {
    import spark.implicits._
    templates24.toDF("collection_id", "required_tags", "excluded_tags", "min_confidence")
  }

  def qCollectionsVol24(spark: SparkSession, dir: String): DataFrame =
    // fanned ONLY here: the 24-template explode × TagMatchScore is the
    // heavy chain; the 4-template vol variant measured faster unfanned
    // (the keyed shuffle cost what the extra width saved)
    generate(graft.Tables.fanOut(taggedPoisVol(spark, dir), col("poi_id")),
      templates24Df(spark))

  private def tagsSql(tags: Seq[(String, Double)]): String =
    tags.map { case (t, c) => s"{'tag': '$t', 'confidence': CAST($c AS DOUBLE)}" }
      .mkString("[", ", ", "]")

  private def poisValues: String = taggedPois.map { case (id, tags) =>
    s"('$id', ${tagsSql(tags)})"
  }.mkString("(VALUES ", ", ", ")") + " AS tp(poi_id, tags)"

  private def templValuesOf(ts: Seq[(String, Seq[String], Seq[String], Double)]): String =
    ts.map { case (id, req, exc, mc) =>
      val r = req.map(t => s"'$t'").mkString("[", ", ", "]")
      val e = if (exc.isEmpty) "CAST([] AS VARCHAR[])" else exc.map(t => s"'$t'").mkString("[", ", ", "]")
      s"('$id', $r, $e, CAST($mc AS DOUBLE))"
    }.mkString("(VALUES ", ", ", ")") +
      " AS tm(collection_id, required_tags, excluded_tags, min_confidence)"

  private def templValues: String = templValuesOf(templates)

  private val poisVolSql =
    """(SELECT CAST(c_custkey AS VARCHAR) AS poi_id,
      |   list_filter([
      |     {'tag': 'romantic', 'confidence': CAST(c_custkey % 100 AS DOUBLE) / 100.0},
      |     {'tag': 'wine', 'confidence': CAST(c_custkey % 89 AS DOUBLE) / 89.0},
      |     {'tag': 'terrace', 'confidence': CAST(c_custkey % 53 AS DOUBLE) / 53.0},
      |     {'tag': 'brunch', 'confidence': CAST(c_custkey % 31 AS DOUBLE) / 31.0},
      |     {'tag': 'noisy', 'confidence': CAST(c_custkey % 7 AS DOUBLE) / 7.0}],
      |     t -> t.confidence > 0.3) AS tags
      | FROM customer) AS tp""".stripMargin

  private def collectionsSqlFrom(poisSrc: String, tmplSrc: String = templValues): String =
    s"""WITH matched AS (
       |  SELECT collection_id, poi_id,
       |    CAST(round(coalesce(list_sum(list_transform(
       |      list_filter(tags, t -> list_contains(required_tags, t.tag) AND t.confidence >= min_confidence),
       |      t -> t.confidence)), 0.0), 6) AS DOUBLE) AS match_score
       |  FROM $poisSrc CROSS JOIN $tmplSrc
       |  WHERE len(list_filter(tags, t -> list_contains(required_tags, t.tag) AND t.confidence >= min_confidence)) >= 1
       |    AND len(list_filter(tags, t -> list_contains(excluded_tags, t.tag) AND t.confidence >= min_confidence)) = 0),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY collection_id
       |    ORDER BY match_score DESC, poi_id ASC) AS rnk
       |  FROM matched),
       |kept AS (SELECT * FROM ranked WHERE rnk <= 8),
       |sizes AS (SELECT collection_id, count(*) AS n_members FROM kept
       |          GROUP BY collection_id HAVING count(*) >= 2)
       |SELECT k.collection_id, k.poi_id, k.match_score, CAST(k.rnk AS BIGINT) AS rnk,
       |  s.n_members
       |FROM kept k JOIN sizes s USING (collection_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "p7_collections" -> collectionsSqlFrom(poisValues),
    "p7_collections_vol" -> collectionsSqlFrom(poisVolSql),
    "p7_collections_vol24" -> collectionsSqlFrom(poisVolSql, templValuesOf(templates24)),
    "a10_tag_usage" ->
      s"""SELECT t.tag AS tag, count(*) AS n_pois,
         |  CAST(round(avg(t.confidence), 6) AS DOUBLE) AS avg_confidence
         |FROM (SELECT unnest(tags) AS t FROM $poisValues)
         |GROUP BY t.tag""".stripMargin,
    "a11_trend_keywords" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word FROM documents)
        |WHERE word IN ('fast', 'slow', 'new', 'merge', 'stream', 'window')
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 10""".stripMargin)
}
