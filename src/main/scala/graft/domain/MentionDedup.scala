package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Mention deduplication (SURVEY §2.5 W3/W4; reference:
  * mention_scanner/dedup.py:47-96, scanner.py:743-766,864-889).
  *
  * W3: group by (source_id, dedupe_key(url)), keep the top `maxPerWindow`
  * mentions ranked by authority_weight_snapshot × w_time descending. The
  * engine follows the executed code default of 2 (dedup.py:89-91), not the
  * config value 3 (SURVEY §7.5 resolves the mismatch in favor of code).
  *
  * W4: in-batch first-seen-wins dedup on (domain, normalized_url) OR
  * (domain, normalized_title) — a row is dropped if EITHER key was seen.
  *
  * Scale: both are single window/aggregate shuffles on their group keys; no
  * driver-side state. First-seen order is an explicit `ord` column (at scale:
  * the SERP rank), never implicit row order.
  */
object MentionDedup {

  /** (mid, source_id, url, dedup_key, domain, title, authority_weight_snapshot,
    * w_time, ord). dedup_key is carried explicitly; DedupKeySyncSpec pins it to
    * TextAlgo.dedupeKey(url) so fixture and expression cannot drift. */
  val dedupCandidates: Seq[(String, String, String, String, String, String, Double, Double, Int)] = Seq(
    ("d1", "lefooding", "https://www.lefooding.com/restaurants/le-rigmarole",
      "www.lefooding.com/restaurants/le-rigmarole", "lefooding.com", "Le Rigmarole", 0.9, 0.9, 1),
    ("d2", "lefooding", "https://www.lefooding.com/restaurants/le-rigmarole-v2",
      "www.lefooding.com/restaurants/le-rigmarole", "lefooding.com", "Le Rigmarole encore", 0.9, 0.7, 2),
    ("d3", "lefooding", "https://www.lefooding.com/restaurants/le-rigmarole-update",
      "www.lefooding.com/restaurants/le-rigmarole", "lefooding.com", "Le Rigmarole update", 0.9, 0.95, 3),
    ("d4", "lefooding", "https://www.lefooding.com/fr/autre-page",
      "www.lefooding.com/autre-page", "lefooding.com", "Autre page", 0.9, 0.2, 4),
    ("d5", "timeout", "https://www.timeout.fr/paris/food/best",
      "www.timeout.fr/paris/food/best", "timeout.fr", "Best food", 0.8, 0.6, 5),
    ("d6", "timeout", "https://www.timeout.fr/paris/food/best-2024",
      "www.timeout.fr/paris/food/best", "timeout.fr", "Best food 2024", 0.8, 0.6, 6))

  def dedupCandidatesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    dedupCandidates.toDF("mid", "source_id", "url", "dedup_key", "domain",
      "title", "authority_weight_snapshot", "w_time", "ord")
  }

  def dedupCandidateValues: String = dedupCandidates.map {
    case (m, s, u, k, d, t, aw, wt, o) =>
      s"('$m', '$s', '$u', '$k', '$d', '${t.replace("'", "''")}', CAST($aw AS DOUBLE), CAST($wt AS DOUBLE), $o)"
  }.mkString("(VALUES ", ", ", ")") +
    " AS dc(mid, source_id, url, dedup_key, domain, title, authority_weight_snapshot, w_time, ord)"

  /** W3 — windowed best-per-(source, dedupe-key), keep ≤ maxPerWindow. */
  def windowDedup(mentions: DataFrame, maxPerWindow: Int = 2): DataFrame = {
    val w = Window.partitionBy(col("source_id"), col("dedup_key"))
      .orderBy((col("authority_weight_snapshot") * col("w_time")).desc, col("ord").asc)
    mentions.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= maxPerWindow)
  }

  /** W4 — first-seen wins if BOTH (domain, norm_url) and (domain, norm_title)
    * are unseen, and only KEPT rows register their keys (scanner.py:747-765:
    * a row dropped by one key does NOT claim its other key). Because both
    * seen-sets are keyed by domain, the global sequential scan decomposes
    * exactly into independent per-domain scans — implemented as
    * `flatMapSortedGroups` on the `domain` column, which distributes while
    * preserving the reference's sequential semantics bit-for-bit.
    *
    * The groups are STREAMED: grouping on the column itself needs no key
    * deserialization per row (no `AppendColumns`), Spark's own sort orders
    * each group by `ord` (spilling when a Zipf-hot domain outgrows memory),
    * and each group's rows are filtered one at a time, so only the two
    * seen-sets of the current domain are held. W4DedupModelSpec
    * property-checks this against a direct model. */
  def inBatchDedup(cands: DataFrame): DataFrame = {
    val normUrl = {
      val noFrag = regexp_replace(col("url"), "#.*$", "")
      val noUtm = regexp_replace(noFrag,
        "[?&](utm_source|utm_medium|utm_campaign|utm_content|utm_term)=[^&]*", "")
      regexp_replace(regexp_replace(noUtm, "\\?&", "?"), "/+$", "")
    }
    val normTitle = lower(trim(col("title")))
    val spark = cands.sparkSession
    import spark.implicits._
    val prepared = cands.withColumn("norm_url", normUrl).withColumn("norm_title", normTitle)
    val urlIdx = prepared.columns.indexOf("norm_url")
    val titleIdx = prepared.columns.indexOf("norm_title")
    implicit val enc = org.apache.spark.sql.Encoders.row(prepared.schema)
    prepared.groupBy(col("domain")).as[String, org.apache.spark.sql.Row]
      .flatMapSortedGroups(col("ord")) { (_, rows) =>
        val seenUrls = scala.collection.mutable.Set[String]()
        val seenTitles = scala.collection.mutable.Set[String]()
        rows.filter { r =>
          val u = r.getString(urlIdx)
          val t = r.getString(titleIdx)
          val keep = !seenUrls.contains(u) && !seenTitles.contains(t)
          if (keep) { seenUrls += u; seenTitles += t }
          keep
        }
      }
  }

  def qW3Dedup(spark: SparkSession, dir: String): DataFrame =
    windowDedup(dedupCandidatesDf(spark))
      .select(col("mid"), col("source_id"), col("dedup_key"),
        col("rnk").cast("long").as("rnk"))

  // ------------------------------------------------------- W3 at sf volume

  /** Orders-derived mention candidates for the W3 dedup at VOLUME (VERDICT
    * r9 item 2): 4 replicas per order (~60k rows at sf0.01) sharing ~4000
    * (source, dedupe-key) groups of ~15 members each. The dedupe key on the
    * ENGINE side comes from the real codegen'd `dedupe_key` kernel over a
    * constructed URL whose '-v{r}' suffix exercises the version-strip branch
    * (dedup.py:15-16 RE_PATH_SUFFIXES); the oracle regenerates the SAME key
    * by arithmetic, exact by construction for this URL shape. `created_at`
    * spreads over 30 days behind [[VolumeFixtures.asOfVol]] so the 21-day
    * recency window (config.json:75 window_days) prunes a deterministic
    * ~27% before the ranked dedup. */
  def mentionsW3VolDf(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.{functions => F}
    val g = col("k") % 4000
    // same single-row-group fan-out as the skew variant: ~1 MB of bare keys
    // shuffles so the explode + URL + dedupe-key regex chain runs at session
    // width instead of one scan task (opt guide §2.5)
    graft.Tables.fanOut(
        graft.Tables.orders(spark, dir).select(col("o_orderkey").as("k")), col("k"))
      .withColumn("r", explode(sequence(lit(0L), lit(3L))))
      .select(
        (col("k") * 10 + col("r")).as("mid"),
        concat(lit("src_"), (g % 7).cast("string")).as("source_id"),
        concat(lit("https://site"), (g % 7).cast("string"),
          lit(".example/guide/place-"), g.cast("string"),
          lit("-v"), col("r").cast("string")).as("url"),
        (((col("k") + col("r") * 3) % 97).cast("double") / 100.0)
          .as("authority_weight_snapshot"),
        (((col("k") * 7 + col("r")) % 89).cast("double") / 100.0).as("w_time"),
        date_sub(lit("1998-08-02").cast("date"),
          ((col("k") * 4 + col("r")) % 30).cast("int")).cast("timestamp")
          .as("created_at"),
        (col("k") * 10 + col("r")).as("ord"))
      .withColumn("dedup_key", F.dedupe_key(col("url")))
  }

  /** W3 at volume: 21-day window filter → ranked dedup per (source_id,
    * dedupe_key), keep ≤2. The rank window is partitioned on the group key —
    * never a global window — which ContractSpec's plan pin asserts. */
  def qW3DedupVol(spark: SparkSession, dir: String): DataFrame = {
    val recent = mentionsW3VolDf(spark, dir)
      .filter(col("created_at") >=
        to_timestamp(lit(VolumeFixtures.asOfVol)) - expr("INTERVAL 21 DAYS"))
    windowDedup(recent)
      .select(col("mid"), col("source_id"), col("dedup_key"),
        col("rnk").cast("long").as("rnk"))
  }

  // ------------------------------------------------- W3 under planted skew

  /** Skewed mention candidates (VERDICT r10 item 4 / r11 item 3): ~40% of the
    * ~60k rows land on ONE viral (source_id, dedupe_key) — the reference's
    * one-domain-goes-viral reality (dedup.py:47-96) — with the rest spread
    * over ~4000 keys as in [[mentionsW3VolDf]]. The skew is arithmetic
    * (`o_orderkey % 10 < 4` → key 0) so the DuckDB oracle replays it exactly. */
  def mentionsW3SkewDf(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.{functions => F}
    val k = col("k")
    // fan the single-row-group orders scan out BEFORE the ×4 explode + URL
    // construction + dedupe-key regex: the shuffle moves 150k bare keys
    // (~1 MB) so the expensive per-row chain runs at session width instead
    // of inside one scan task (opt guide §2.5)
    graft.Tables.fanOut(
        graft.Tables.orders(spark, dir).select(col("o_orderkey").as("k")), col("k"))
      .withColumn("r", explode(sequence(lit(0L), lit(3L))))
      .withColumn("g", when(k % 10 < 4, lit(0L)).otherwise(k % 4000))
      .select(
        (k * 10 + col("r")).as("mid"),
        concat(lit("src_"), (col("g") % 7).cast("string")).as("source_id"),
        concat(lit("https://site"), (col("g") % 7).cast("string"),
          lit(".example/guide/place-"), col("g").cast("string"),
          lit("-v"), col("r").cast("string")).as("url"),
        (((k + col("r") * 3) % 97).cast("double") / 100.0)
          .as("authority_weight_snapshot"),
        (((k * 7 + col("r")) % 89).cast("double") / 100.0).as("w_time"),
        (k * 10 + col("r")).as("ord"))
      .withColumn("dedup_key", F.dedupe_key(col("url")))
  }

  /** Skew-safe W3: the plain [[windowDedup]] puts EVERY row of a key through
    * one window task — AQE cannot split a window partition, so a viral key
    * means one straggler task holding 40% of the corpus. Instead rank in two
    * stages: a salted local top-k (the viral key's rows spread over `salts`
    * tasks, each ranking its own slice) and a global re-rank over the ≤
    * `maxPerWindow × salts` local survivors per key. Ranking is by a total
    * order (score desc, unique `ord` asc), so every global top-k row is
    * necessarily its salt's local top-k — the two-stage result is IDENTICAL
    * to the one-window result (SkewDedupSpec pins both the equivalence and
    * the plan shape). At 100 TB this is the only shape that survives a viral
    * key: per-task input is bounded by rows/salts, and the second window sees
    * KB-sized groups no matter how hot the key. */
  def windowDedupSkewSafe(mentions: DataFrame, maxPerWindow: Int = 2,
      salts: Int = 32): DataFrame = {
    val score = col("authority_weight_snapshot") * col("w_time")
    val wLocal = Window.partitionBy(col("source_id"), col("dedup_key"), col("salt"))
      .orderBy(score.desc, col("ord").asc)
    val local = mentions
      .withColumn("salt", pmod(hash(col("mid")), lit(salts)))
      .withColumn("rnk_local", row_number().over(wLocal))
      .filter(col("rnk_local") <= maxPerWindow)
    val wGlobal = Window.partitionBy(col("source_id"), col("dedup_key"))
      .orderBy(score.desc, col("ord").asc)
    local.withColumn("rnk", row_number().over(wGlobal))
      .filter(col("rnk") <= maxPerWindow)
      .drop("salt", "rnk_local")
  }

  /** W3 over the planted-skew corpus via the salted two-stage ranking. */
  def qW3DedupSkew(spark: SparkSession, dir: String): DataFrame =
    windowDedupSkewSafe(mentionsW3SkewDf(spark, dir))
      .select(col("mid"), col("source_id"), col("dedup_key"),
        col("rnk").cast("long").as("rnk"))

  def qW4InBatch(spark: SparkSession, dir: String): DataFrame =
    inBatchDedup(dedupCandidatesDf(spark))
      .select(col("mid"), col("domain"), col("norm_url"), col("norm_title"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w3_mention_dedup" -> (qW3Dedup _),
    "w3_mention_dedup_vol" -> (qW3DedupVol _),
    "w3_mention_dedup_skew" -> (qW3DedupSkew _),
    "w4_inbatch_dedup" -> (qW4InBatch _))

  val oracles: Map[String, String] = Map(
    "w3_mention_dedup" ->
      s"""SELECT mid, source_id, dedup_key, rnk FROM (
         |  SELECT mid, source_id, dedup_key, row_number() OVER (
         |    PARTITION BY source_id, dedup_key
         |    ORDER BY authority_weight_snapshot * w_time DESC, ord ASC) AS rnk
         |  FROM $dedupCandidateValues) WHERE rnk <= 2""".stripMargin,
    // the dedupe key is regenerated ARITHMETICALLY (the engine derives it
    // from the URL through the real kernel; for this URL shape the two are
    // equal by construction — netloc + path minus the '-v{r}' suffix)
    "w3_mention_dedup_vol" ->
      """WITH m AS (
        |  SELECT o_orderkey * 10 + r AS mid,
        |    'src_' || CAST((o_orderkey % 4000) % 7 AS VARCHAR) AS source_id,
        |    'site' || CAST((o_orderkey % 4000) % 7 AS VARCHAR)
        |      || '.example/guide/place-' || CAST(o_orderkey % 4000 AS VARCHAR) AS dedup_key,
        |    CAST((o_orderkey + r * 3) % 97 AS DOUBLE) / 100.0 AS aw,
        |    CAST((o_orderkey * 7 + r) % 89 AS DOUBLE) / 100.0 AS wt,
        |    CAST(DATE '1998-08-02' - CAST((o_orderkey * 4 + r) % 30 AS INTEGER) AS TIMESTAMP) AS created_at,
        |    o_orderkey * 10 + r AS ord
        |  FROM orders CROSS JOIN (SELECT unnest(range(4)) AS r) reps)
        |SELECT mid, source_id, dedup_key, rnk FROM (
        |  SELECT mid, source_id, dedup_key, row_number() OVER (
        |    PARTITION BY source_id, dedup_key
        |    ORDER BY aw * wt DESC, ord ASC) AS rnk
        |  FROM m
        |  WHERE created_at >= TIMESTAMP '1998-08-02 00:00:00' - INTERVAL 21 DAY)
        |WHERE rnk <= 2""".stripMargin,
    // the oracle ranks with ONE plain window — proving the salted two-stage
    // engine path is semantically identical to the direct ranking
    "w3_mention_dedup_skew" ->
      """WITH m AS (
        |  SELECT o_orderkey * 10 + r AS mid,
        |    'src_' || CAST(g % 7 AS VARCHAR) AS source_id,
        |    'site' || CAST(g % 7 AS VARCHAR)
        |      || '.example/guide/place-' || CAST(g AS VARCHAR) AS dedup_key,
        |    CAST((o_orderkey + r * 3) % 97 AS DOUBLE) / 100.0 AS aw,
        |    CAST((o_orderkey * 7 + r) % 89 AS DOUBLE) / 100.0 AS wt,
        |    o_orderkey * 10 + r AS ord
        |  FROM (SELECT o_orderkey,
        |          CASE WHEN o_orderkey % 10 < 4 THEN 0
        |               ELSE o_orderkey % 4000 END AS g
        |        FROM orders)
        |  CROSS JOIN (SELECT unnest(range(4)) AS r) reps)
        |SELECT mid, source_id, dedup_key, rnk FROM (
        |  SELECT mid, source_id, dedup_key, row_number() OVER (
        |    PARTITION BY source_id, dedup_key
        |    ORDER BY aw * wt DESC, ord ASC) AS rnk
        |  FROM m) WHERE rnk <= 2""".stripMargin,
    "w4_inbatch_dedup" ->
      s"""WITH n AS (
         |  SELECT mid, domain, ord,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(url,
         |      '#.*$$', ''), '[?&](utm_source|utm_medium|utm_campaign|utm_content|utm_term)=[^&]*', '', 'g'),
         |      '\\?&', '?'), '/+$$', '') AS norm_url,
         |    lower(trim(title)) AS norm_title
         |  FROM $dedupCandidateValues)
         |SELECT mid, domain, norm_url, norm_title FROM (
         |  SELECT *, row_number() OVER (PARTITION BY domain, norm_url ORDER BY ord) AS ru,
         |            row_number() OVER (PARTITION BY domain, norm_title ORDER BY ord) AS rt
         |  FROM n) WHERE ru = 1 AND rt = 1""".stripMargin)
}
