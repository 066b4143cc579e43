package graft.domain

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Classification stage (SURVEY §2.4 A1–A7, §3.4; reference:
  * intelligent_classifier.py:25-547).
  *
  * The reference loops per-POI issuing 5+ queries each (N+1). Here the whole
  * stage is one dataflow with exactly two shuffles: groupBy(poi_id) over
  * mentions and over snapshots, then a broadcast-friendly join back to poi and
  * one wide select computing A1–A6. A7 city stats are a third small shuffle on
  * the already-tiny scored output. At 100 TB this shape is shuffle-minimal and
  * fully partition-parallel on poi_id.
  *
  * Every operator takes `asOf` explicitly — no wall-clock reads — so results
  * are deterministic and oracle-checkable (FIXTURES.md determinism rules).
  */
object Classify {

  private def clamp(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** tanh spelled via exp so the DuckDB-1.0 oracle (no tanh builtin) runs the
    * byte-identical formula. */
  private def tanhE(x: Column): Column = (exp(x * 2.0) - 1.0) / (exp(x * 2.0) + 1.0)

  /** weight_type defaults (intelligent_classifier.py:32-36; unknown → 0.5). */
  private def weightType(st: Column): Column =
    when(st === "guide", 1.0).when(st === "press", 0.8).when(st === "local", 0.5).otherwise(0.5)

  /** decay tau per source type (intelligent_classifier.py:38-42; default 30). */
  private def tauDays(st: Column): Column =
    when(st === "guide", 180.0).when(st === "press", 75.0).when(st === "local", 30.0).otherwise(30.0)

  /** Per-POI mention features in ONE pass (replaces the reference's 4 separate
    * per-POI queries: A1 inputs :55-60, momentum bonus :225-230, badge checks
    * :310-351). */
  def mentionFeatures(mentions: DataFrame, asOf: String): DataFrame = {
    val st = lower(col("source_type"))
    val asOfTs = to_timestamp(lit(asOf))
    val deltaDays = datediff(to_date(asOfTs), to_date(col("created_at"))).cast("double")
    // w_time: stored value, else exp decay from created_at, else 0.5
    // (intelligent_classifier.py:73-88)
    val wTime = coalesce(
      col("w_time"),
      when(col("created_at").isNotNull, exp(deltaDays / -tauDays(st))).otherwise(lit(0.5)))
    val contribution =
      weightType(st) * coalesce(col("authority_weight"), lit(1.0)) *
        wTime * coalesce(col("match_score"), lit(1.0))
    // windowed checks use the RAW stored w_time with 0.0 default — the
    // reference does NOT recompute decay there (:225-230, :310-321)
    val wRaw = coalesce(col("w_time"), lit(0.0))
    val in30d = col("created_at") >= asOfTs - expr("INTERVAL 30 DAYS")
    val in60d = col("created_at") >= asOfTs - expr("INTERVAL 60 DAYS")
    mentions.groupBy(col("poi_id")).agg(
      sum(contribution).as("raw_authority"),
      count(when(in30d && wRaw > 0.8, 1)).as("n_recent_high08"),
      count(when(in60d && wRaw > 0.6, 1)).as("n_recent_quality06"),
      count(when(st.isin("press", "local"), 1)).as("n_press_local"),
      count(when(st === "local", 1)).as("n_local"))
  }

  /** Per-POI snapshot features: total count + newest/oldest reviews inside the
    * trailing 14-day window (intelligent_classifier.py:184-257, W2). */
  def snapshotFeatures(snapshots: DataFrame, asOf: String): DataFrame = {
    val asOfTs = to_timestamp(lit(asOf))
    val inWin = col("captured_at") >= asOfTs - expr("INTERVAL 14 DAYS")
    snapshots.groupBy(col("poi_id")).agg(
      count(lit(1)).as("n_snapshots_total"),
      count(when(inWin, 1)).as("n_snapshots_14d"),
      max(when(inWin, struct(col("captured_at"), col("reviews_count")))).as("newest14"),
      min(when(inWin, struct(col("captured_at"), col("reviews_count")))).as("oldest14"))
      .select(col("poi_id"), col("n_snapshots_total"), col("n_snapshots_14d"),
        col("newest14.reviews_count").as("newest_reviews"),
        col("oldest14.reviews_count").as("oldest_reviews"))
  }

  /** Full A1–A6 scoring: poi ⋈ mentionFeatures ⋈ snapshotFeatures → staged
    * projections. Returns one row per poi with all scores, badges,
    * eligibility.
    *
    * Each score that later formulas reuse (authority, review,
    * days-since-first-seen, momentum, gatto) is staged as a column of its
    * own and referenced by name downstream: a Column value used in several
    * formulas is otherwise inlined into each (gatto holds three score
    * trees, eligibility gatto's and two of them again), and the optimizer
    * walks that text on every pass and every adaptive re-plan. Staging
    * changes no arithmetic, so the values are bit-identical. */
  def scores(poi: DataFrame, mentions: DataFrame, snapshots: DataFrame, asOf: String): DataFrame = {
    val asOfTs = to_timestamp(lit(asOf))
    val mf = mentionFeatures(mentions, asOf)
    val sf = snapshotFeatures(snapshots, asOf)
    val joined = poi
      .join(mf, poi("id") === mf("poi_id"), "left")
      .join(sf, poi("id") === sf("poi_id"), "left")

    // A1 authority (intelligent_classifier.py:51-99)
    val authority = clamp(tanhE(coalesce(col("raw_authority"), lit(0.0)) / 100.0) * 100.0, 0, 100)

    // A2 review (:101-131) — log1p via ln(1+x) (oracle parity)
    val scoreRating = clamp((col("rating") - 3.5) / 1.5, 0, 1) * 100.0
    val scoreVolume = when(col("reviews_count") > 0,
      clamp(log(lit(1.0) + col("reviews_count")) / log(lit(2001.0)), 0, 1) * 100.0).otherwise(0.0)
    val reviewRaw = lit(0.70) * scoreRating + lit(0.30) * scoreVolume
    val reviewAdj = when(col("category").isin("bar", "night_club"), reviewRaw * 0.85).otherwise(reviewRaw)
    val review = when(col("rating").isNull, 0.0).otherwise(clamp(reviewAdj, 0, 100))

    val daysSinceFirstSeen = datediff(to_date(asOfTs), to_date(col("first_seen_at")))
    val staged = joined
      .withColumn("__authority", authority)
      .withColumn("__review", review)
      .withColumn("__days_first_seen", daysSinceFirstSeen)
    val (authorityS, reviewS, daysS) =
      (col("__authority"), col("__review"), col("__days_first_seen"))

    // A3 momentum (:133-257)
    val delta14 = when(col("n_snapshots_14d") >= 2,
      greatest(col("newest_reviews") - col("oldest_reviews"), lit(0))).otherwise(lit(0))
    val baseMomentum = when(delta14 > 0, least(delta14.cast("double") / 5.0, lit(1.0)) * 100.0).otherwise(0.0)
    val bonus = when(coalesce(col("n_recent_high08"), lit(0L)) >= 2, 15.0).otherwise(0.0)
    val withCat = when(col("category") === "bakery", (baseMomentum + bonus) * 1.15)
      .otherwise(baseMomentum + bonus)
    val insufficientFallback = when(col("first_seen_at").isNotNull && daysS < 30, 50.0)
      .otherwise(0.0)
    val momentum = clamp(
      when(coalesce(col("n_snapshots_total"), lit(0L)) < 2, insufficientFallback).otherwise(withCat),
      0, 100)
    val momentumS = col("__momentum")

    // A4 gatto (:393-396)
    val gatto = clamp(lit(0.5) * authorityS + lit(0.3) * reviewS + lit(0.2) * momentumS, 0, 100)
    val gattoS = col("__gatto")

    // A5 badges (:398-460) — badge checks default rating to 0 when null
    val rating0 = coalesce(col("rating"), lit(0.0))
    val badgeNew = col("first_seen_at").isNotNull && daysS <= 60 &&
      coalesce(col("n_recent_quality06"), lit(0L)) >= 1
    val badgeTrending = momentumS >= 65.0 || coalesce(col("n_recent_high08"), lit(0L)) >= 2
    val badgeHiddenGem = rating0 >= 4.6 && coalesce(col("reviews_count"), lit(0)) < 500 &&
      coalesce(col("n_press_local"), lit(0L)) >= 1
    val badgeLocalFav = rating0 >= 4.4 && coalesce(col("n_local"), lit(0L)) >= 2

    // A6 eligibility (:462-474)
    val eligibility = when(gattoS >= 60.0 && (authorityS >= 40.0 || reviewS >= 70.0), "approved")
      .when(gattoS >= 50.0, "eligible")
      .otherwise("hold")

    staged
      .withColumn("__momentum", momentum)
      .withColumn("__gatto", gatto)
      .select(
        col("id"), col("name"), col("category"), col("city"),
        round(authorityS, 6).as("authority_score"),
        round(reviewS, 6).as("review_score"),
        round(momentumS, 6).as("momentum_score"),
        round(gattoS, 6).as("gatto_score"),
        badgeNew.as("badge_new"),
        badgeTrending.as("badge_trending"),
        badgeHiddenGem.as("badge_hidden_gem"),
        badgeLocalFav.as("badge_local_favorite"),
        concat_ws(",",
          when(badgeNew, "new"), when(badgeTrending, "trending"),
          when(badgeHiddenGem, "hidden_gem"), when(badgeLocalFav, "local_favorite")).as("badges"),
        eligibility.as("eligibility_status_new"),
        col("eligibility_status").as("eligibility_status_old"))
  }

  /** A7 — city percentiles + status-transition counts
    * (intelligent_classifier.py:488-541) over the scored output. */
  def cityStats(scored: DataFrame): DataFrame =
    scored.groupBy(col("city")).agg(
      count(lit(1)).as("n_pois"),
      round(expr("percentile(gatto_score, 0.5)"), 6).as("p50_gatto"),
      round(expr("percentile(gatto_score, 0.95)"), 6).as("p95_gatto"))

  def transitions(scored: DataFrame): DataFrame =
    scored.groupBy(
      concat(col("eligibility_status_old"), lit("->"), col("eligibility_status_new"))
        .as("transition"))
      .agg(count(lit(1)).as("n"))

  // ------------------------------------------------------- declared queries

  def qClassifyScores(spark: SparkSession, dir: String): DataFrame =
    scores(Fixtures.poiDf(spark), Fixtures.mentionsDf(spark),
      Fixtures.snapshotsDf(spark), Fixtures.asOf)
      .drop("name") // keep the compare narrow: scores + badges + status

  def qClassifyCityStats(spark: SparkSession, dir: String): DataFrame =
    cityStats(qClassifyScores(spark, dir))

  def qClassifyTransitions(spark: SparkSession, dir: String): DataFrame =
    transitions(qClassifyScores(spark, dir))

  /** A3's city p95 normalizer computed FOR REAL (the reference stubs it at
    * 5.0, intelligent_classifier.py:211-218; SURVEY A3 mandates the real
    * implementation): per-city exact p95 of the per-POI 14-day review deltas,
    * with the 5.0 floor as fallback for degenerate cities. `scores()` keeps
    * the executed-code constant for formula parity; this feeds it at scale. */
  def cityP95Normalizer(poi: DataFrame, snapshots: DataFrame, asOf: String): DataFrame = {
    val sf = snapshotFeatures(snapshots, asOf)
    val delta = when(col("n_snapshots_14d") >= 2,
      greatest(col("newest_reviews") - col("oldest_reviews"), lit(0))).otherwise(lit(0))
    poi.join(sf, poi("id") === sf("poi_id"), "left")
      .select(col("city"), coalesce(delta, lit(0)).cast("double").as("delta14"))
      .groupBy(col("city"))
      .agg(round(greatest(expr("percentile(delta14, 0.95)"), lit(5.0)), 6).as("p95_normalizer"),
        count(lit(1)).as("n_pois"))
  }

  def qCityP95(spark: SparkSession, dir: String): DataFrame =
    cityP95Normalizer(Fixtures.poiDf(spark), Fixtures.snapshotsDf(spark), Fixtures.asOf)

  // ---------------------------------------------------- P9 rescoring filter

  /** (id, city, updated_at, last_scored_at) — covers: never scored (nulls
    * first), scored <24h ago (skip), stale update + scored (excluded by the
    * disjunctive filter), stale update + never scored (kept). */
  val rescoringPois: Seq[(String, String, String, Option[String])] = Seq(
    ("r1", "paris", "2025-05-30 00:00:00", None),
    ("r2", "paris", "2025-05-29 00:00:00", Some("2025-05-31 12:00:00")),
    ("r3", "paris", "2025-05-28 00:00:00", Some("2025-05-20 00:00:00")),
    ("r4", "paris", "2025-04-01 00:00:00", Some("2025-05-10 00:00:00")),
    ("r5", "paris", "2025-04-01 00:00:00", None),
    ("r6", "paris", "2025-05-31 00:00:00", Some("2025-05-25 06:00:00")))

  /** P9 — rescoring candidate selection (intelligent_classifier.py:465-476
    * disjunctive filter + ordering, :376-387 24 h skip): updated ≤7 d OR never
    * scored, minus rows scored within 24 h; ordered last_scored_at ASC NULLS
    * FIRST then updated_at DESC, with the rank in the output so the ordering
    * is part of the hash check. */
  def qRescoringFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val asOfTs = to_timestamp(lit(Fixtures.asOf))
    val pois = rescoringPois.toDF("id", "city", "updated_at", "last_scored_at")
      .withColumn("updated_at", to_timestamp(col("updated_at")))
      .withColumn("last_scored_at", to_timestamp(col("last_scored_at")))
    val queueOrder = Seq(col("last_scored_at").asc_nulls_first,
      col("updated_at").desc, col("id").asc)
    val w = Window.orderBy(queueOrder: _*)
    // volume-safe top-k (r22; r21 verdict item 4, the SinkQueries:392
    // pattern): the global orderBy().limit plans as TakeOrderedAndProject,
    // so only the ≤10 survivors flow through the single-task rank window —
    // identical output (the ordering is total: id asc breaks every tie, and
    // the limit previously applied AFTER the same ordering's rank).
    pois
      .filter(col("updated_at") >= asOfTs - expr("INTERVAL 7 DAYS") ||
        col("last_scored_at").isNull)
      .filter(col("last_scored_at").isNull ||
        col("last_scored_at") < asOfTs - expr("INTERVAL 24 HOURS"))
      .orderBy(queueOrder: _*)
      .limit(10)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("id"), col("city"),
        date_format(col("updated_at"), "yyyy-MM-dd").as("updated_date"),
        date_format(col("last_scored_at"), "yyyy-MM-dd").as("last_scored_date"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a3_city_p95_normalizer" -> (qCityP95 _),
    "p9_rescoring_filter" -> (qRescoringFilter _),
    "classify_scores" -> (qClassifyScores _),
    "classify_city_stats" -> (qClassifyCityStats _),
    "classify_transitions" -> (qClassifyTransitions _))

  /** Oracle: same dataflow in SQL over the same VALUES fixtures. */
  private[domain] def scoredSql: String =
    scoredSqlFrom(Fixtures.poiValues, Fixtures.mentionValues, Fixtures.snapshotValues, Fixtures.asOf)

  /** Same oracle dataflow, parameterized over its three relation sources
    * (each a SQL relation aliased poi/m/s with the fixture column names) and
    * the as-of instant — lets the sf-scale volume variants reuse the exact
    * CTE text the 8-row fixture check proved. */
  private[domain] def scoredSqlFrom(poiSrc: String, mentionSrc: String,
      snapshotSrc: String, asOfStr: String): String = {
    val asOf = s"TIMESTAMP '$asOfStr'"
    s"""WITH mf AS (
       |  SELECT poi_id,
       |    sum(
       |      (CASE lower(source_type) WHEN 'guide' THEN 1.0 WHEN 'press' THEN 0.8
       |            WHEN 'local' THEN 0.5 ELSE 0.5 END)
       |      * coalesce(authority_weight, 1.0)
       |      * coalesce(w_time,
       |          CASE WHEN created_at IS NOT NULL THEN
       |            exp(-date_diff('day', CAST(created_at AS DATE), CAST($asOf AS DATE))
       |                / (CASE lower(source_type) WHEN 'guide' THEN 180.0 WHEN 'press' THEN 75.0
       |                        WHEN 'local' THEN 30.0 ELSE 30.0 END))
       |          ELSE 0.5 END)
       |      * coalesce(match_score, 1.0)) AS raw_authority,
       |    count(CASE WHEN created_at >= $asOf - INTERVAL 30 DAY
       |               AND coalesce(w_time, 0.0) > 0.8 THEN 1 END) AS n_recent_high08,
       |    count(CASE WHEN created_at >= $asOf - INTERVAL 60 DAY
       |               AND coalesce(w_time, 0.0) > 0.6 THEN 1 END) AS n_recent_quality06,
       |    count(CASE WHEN lower(source_type) IN ('press','local') THEN 1 END) AS n_press_local,
       |    count(CASE WHEN lower(source_type) = 'local' THEN 1 END) AS n_local
       |  FROM $mentionSrc
       |  GROUP BY poi_id),
       |sf AS (
       |  SELECT poi_id,
       |    count(*) AS n_snapshots_total,
       |    count(CASE WHEN captured_at >= $asOf - INTERVAL 14 DAY THEN 1 END) AS n_snapshots_14d,
       |    arg_max(reviews_count, captured_at)
       |      FILTER (WHERE captured_at >= $asOf - INTERVAL 14 DAY) AS newest_reviews,
       |    arg_min(reviews_count, captured_at)
       |      FILTER (WHERE captured_at >= $asOf - INTERVAL 14 DAY) AS oldest_reviews
       |  FROM $snapshotSrc
       |  GROUP BY poi_id),
       |wide AS (
       |  SELECT poi.*, mf.* EXCLUDE (poi_id), sf.* EXCLUDE (poi_id),
       |    least(greatest(
       |      (exp(coalesce(mf.raw_authority, 0.0) / 100.0 * 2.0) - 1.0)
       |      / (exp(coalesce(mf.raw_authority, 0.0) / 100.0 * 2.0) + 1.0) * 100.0,
       |      0.0), 100.0) AS authority,
       |    CASE WHEN poi.rating IS NULL THEN 0.0 ELSE
       |      least(greatest(
       |        0.70 * (least(greatest((poi.rating - 3.5) / 1.5, 0.0), 1.0) * 100.0)
       |        + 0.30 * (CASE WHEN poi.reviews_count > 0 THEN
       |            least(greatest(ln(1.0 + poi.reviews_count) / ln(2001.0), 0.0), 1.0) * 100.0
       |            ELSE 0.0 END), 0.0), 100.0)
       |      * (CASE WHEN poi.category IN ('bar','night_club') THEN 1.0 ELSE 1.0 END)
       |    END AS review_pre,
       |    CASE WHEN coalesce(sf.n_snapshots_14d, 0) >= 2
       |         THEN greatest(sf.newest_reviews - sf.oldest_reviews, 0) ELSE 0 END AS delta14
       |  FROM $poiSrc
       |  LEFT JOIN mf ON mf.poi_id = poi.id
       |  LEFT JOIN sf ON sf.poi_id = poi.id),
       |scored AS (
       |  SELECT *,
       |    CASE WHEN rating IS NULL THEN 0.0
       |         WHEN category IN ('bar','night_club') THEN least(greatest(
       |           (0.70 * (least(greatest((rating - 3.5) / 1.5, 0.0), 1.0) * 100.0)
       |            + 0.30 * (CASE WHEN reviews_count > 0 THEN
       |                least(greatest(ln(1.0 + reviews_count) / ln(2001.0), 0.0), 1.0) * 100.0
       |                ELSE 0.0 END)) * 0.85, 0.0), 100.0)
       |         ELSE review_pre END AS review,
       |    least(greatest(
       |      CASE WHEN coalesce(n_snapshots_total, 0) < 2 THEN
       |        CASE WHEN first_seen_at IS NOT NULL
       |             AND date_diff('day', CAST(first_seen_at AS DATE), CAST($asOf AS DATE)) < 30
       |             THEN 50.0 ELSE 0.0 END
       |      ELSE
       |        (CASE WHEN delta14 > 0 THEN least(delta14 / 5.0, 1.0) * 100.0 ELSE 0.0 END
       |         + CASE WHEN coalesce(n_recent_high08, 0) >= 2 THEN 15.0 ELSE 0.0 END)
       |        * (CASE WHEN category = 'bakery' THEN 1.15 ELSE 1.0 END)
       |      END, 0.0), 100.0) AS momentum
       |  FROM wide),
       |final AS (
       |  SELECT *,
       |    least(greatest(0.5 * authority + 0.3 * review + 0.2 * momentum, 0.0), 100.0) AS gatto,
       |    (first_seen_at IS NOT NULL
       |     AND date_diff('day', CAST(first_seen_at AS DATE), CAST($asOf AS DATE)) <= 60
       |     AND coalesce(n_recent_quality06, 0) >= 1) AS b_new,
       |    (momentum >= 65.0 OR coalesce(n_recent_high08, 0) >= 2) AS b_trending,
       |    (coalesce(rating, 0.0) >= 4.6 AND coalesce(reviews_count, 0) < 500
       |     AND coalesce(n_press_local, 0) >= 1) AS b_hidden,
       |    (coalesce(rating, 0.0) >= 4.4 AND coalesce(n_local, 0) >= 2) AS b_localfav
       |  FROM scored)
       |SELECT id, category, city,
       |  round(authority, 6) AS authority_score,
       |  round(review, 6) AS review_score,
       |  round(momentum, 6) AS momentum_score,
       |  round(gatto, 6) AS gatto_score,
       |  b_new AS badge_new, b_trending AS badge_trending,
       |  b_hidden AS badge_hidden_gem, b_localfav AS badge_local_favorite,
       |  concat_ws(',',
       |    CASE WHEN b_new THEN 'new' END,
       |    CASE WHEN b_trending THEN 'trending' END,
       |    CASE WHEN b_hidden THEN 'hidden_gem' END,
       |    CASE WHEN b_localfav THEN 'local_favorite' END) AS badges,
       |  CASE WHEN gatto >= 60.0 AND (authority >= 40.0 OR review >= 70.0) THEN 'approved'
       |       WHEN gatto >= 50.0 THEN 'eligible' ELSE 'hold' END AS eligibility_status_new,
       |  eligibility_status AS eligibility_status_old
       |FROM final""".stripMargin
  }

  private def rescoringValues: String = rescoringPois.map { case (id, city, up, ls) =>
    val lss = ls.map(v => s"TIMESTAMP '$v'").getOrElse("CAST(NULL AS TIMESTAMP)")
    s"('$id', '$city', TIMESTAMP '$up', $lss)"
  }.mkString("(VALUES ", ", ", ")") +
    " AS rp(id, city, updated_at, last_scored_at)"

  val oracles: Map[String, String] = Map(
    "p9_rescoring_filter" -> {
      val asOf = s"TIMESTAMP '${Fixtures.asOf}'"
      s"""SELECT CAST(row_number() OVER (ORDER BY last_scored_at ASC NULLS FIRST,
         |    updated_at DESC, id ASC) AS BIGINT) AS rnk,
         |  id, city,
         |  strftime(updated_at, '%Y-%m-%d') AS updated_date,
         |  strftime(last_scored_at, '%Y-%m-%d') AS last_scored_date
         |FROM $rescoringValues
         |WHERE (updated_at >= $asOf - INTERVAL 7 DAY OR last_scored_at IS NULL)
         |  AND (last_scored_at IS NULL OR last_scored_at < $asOf - INTERVAL 24 HOUR)
         |ORDER BY rnk LIMIT 10""".stripMargin
    },
    "a3_city_p95_normalizer" -> {
      val asOf = s"TIMESTAMP '${Fixtures.asOf}'"
      s"""SELECT city,
         |  CAST(round(greatest(quantile_cont(delta14, 0.95), 5.0), 6) AS DOUBLE) AS p95_normalizer,
         |  count(*) AS n_pois
         |FROM (
         |  SELECT poi.city, CAST(coalesce(
         |    CASE WHEN sf.n14 >= 2 THEN greatest(sf.newest - sf.oldest, 0) ELSE 0 END,
         |    0) AS DOUBLE) AS delta14
         |  FROM ${Fixtures.poiValues}
         |  LEFT JOIN (
         |    SELECT poi_id,
         |      count(CASE WHEN captured_at >= $asOf - INTERVAL 14 DAY THEN 1 END) AS n14,
         |      arg_max(reviews_count, captured_at)
         |        FILTER (WHERE captured_at >= $asOf - INTERVAL 14 DAY) AS newest,
         |      arg_min(reviews_count, captured_at)
         |        FILTER (WHERE captured_at >= $asOf - INTERVAL 14 DAY) AS oldest
         |    FROM ${Fixtures.snapshotValues} GROUP BY poi_id) sf
         |  ON sf.poi_id = poi.id)
         |GROUP BY city""".stripMargin
    },
    "classify_scores" -> scoredSql,
    "classify_city_stats" ->
      s"""SELECT city, count(*) AS n_pois,
         |  round(quantile_cont(gatto_score, 0.5), 6) AS p50_gatto,
         |  round(quantile_cont(gatto_score, 0.95), 6) AS p95_gatto
         |FROM ($scoredSql) GROUP BY city""".stripMargin,
    "classify_transitions" ->
      s"""SELECT eligibility_status_old || '->' || eligibility_status_new AS transition,
         |  count(*) AS n
         |FROM ($scoredSql) GROUP BY transition""".stripMargin)
}
