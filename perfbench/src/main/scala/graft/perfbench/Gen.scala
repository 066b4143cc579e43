package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{Fixtures, Spatial}

/** Seed-driven input generators. Every value is a function of the seed and
  * the row id (xxhash64 → uniform), so the same seed writes the same
  * inputs and the program under test receives only the generated files. */
object Gen {

  /** The deterministic "now" of the generated city data. */
  val AsOf: String = Fixtures.asOf
  val AsOfEpoch: Long = 1748736000L // 2025-06-01 00:00:00 UTC

  /** Uniform [0, 1) from (seed, id, salt). */
  def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(1000003L)).cast("double") / 1000003.0

  /** A uniform pick from `items`. */
  def pick(x: Column, items: Seq[String]): Column =
    element_at(array(items.map(lit): _*), (floor(x * items.size) + 1).cast("int"))

  /** A Zipf(s) pick: `items` in rank order, the first the most frequent. */
  def zipf(x: Column, items: Seq[String], s: Double): Column = {
    val w = items.indices.map(i => 1.0 / math.pow(i + 1, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    items.zip(cdf).init.foldRight(lit(items.last)) { case ((it, c), acc) =>
      when(x < c, lit(it)).otherwise(acc)
    }
  }

  def ts(secondsBeforeAsOf: Column): Column =
    timestamp_seconds(lit(AsOfEpoch) - secondsBeforeAsOf.cast("long"))

  // ------------------------------------------------------------- cities

  /** A city: an nx × ny lattice of level-10 cells of dLat × dLng degrees,
    * grouped 2 × 2 into level-9 districts. */
  final case class City(key: Int, slug: String, lat0: Double, lng0: Double,
      nx: Int, ny: Int, dLat: Double, dLng: Double) {
    def spanLat: Double = ny * dLat
    def spanLng: Double = nx * dLng
  }

  def metroCity: City = City(0, "paris", 48.80, 2.22, 10, 8, 0.015, 0.02)

  /** Lattice vertices (lng, lat); interior vertices are jittered so cells
    * are general quadrilaterals, boundary vertices stay on the city box. */
  def lattice(seed: Long, c: City): Array[Array[(Double, Double)]] = {
    val r = new Random(seed * 7919L + c.key)
    Array.tabulate(c.nx + 1, c.ny + 1) { (i, j) =>
      val jx = if (i == 0 || i == c.nx) 0.0 else (r.nextDouble() - 0.5) * 0.5
      val jy = if (j == 0 || j == c.ny) 0.0 else (r.nextDouble() - 0.5) * 0.5
      (c.lng0 + (i + jx) * c.dLng, c.lat0 + (j + jy) * c.dLat)
    }
  }

  /** (area_id, area_name, admin_level, ring as [lng, lat] pairs). */
  def areaRings(seed: Long, c: City): Seq[(String, String, Int, Seq[Seq[Double]])] = {
    val v = lattice(seed, c)
    def ring(pts: Seq[(Int, Int)]): Seq[Seq[Double]] =
      (pts :+ pts.head).map { case (i, j) => Seq(v(i)(j)._1, v(i)(j)._2) }
    val hoods = for (i <- 0 until c.nx; j <- 0 until c.ny) yield
      (s"${c.slug}-n$i-$j", s"Quartier $i-$j ${c.slug}", 10,
        ring(Seq((i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1))))
    val districts = for (i <- 0 until c.nx / 2; j <- 0 until c.ny / 2) yield {
      val (x, y) = (2 * i, 2 * j)
      (s"${c.slug}-d$i-$j", s"District $i-$j ${c.slug}", 9,
        ring(Seq((x, y), (x + 1, y), (x + 2, y), (x + 2, y + 1), (x + 2, y + 2),
          (x + 1, y + 2), (x, y + 2), (x, y + 1))))
    }
    districts ++ hoods
  }

  /** The areas relation [[graft.domain.Spatial.assignViaCells]] takes, with
    * a `city` column. */
  def areas(spark: SparkSession, seed: Long, cities: Seq[City]): DataFrame = {
    import spark.implicits._
    cities.flatMap { c =>
      areaRings(seed, c).map { case (id, name, lvl, ring) =>
        (c.key, id, name, lvl, ring, Spatial.ringArea(ring.map(_.toArray).toArray))
      }
    }.toDF("city", "area_id", "area_name", "admin_level", "ring", "area")
  }

  private def cityTable(spark: SparkSession, cities: Seq[City]): DataFrame = {
    import spark.implicits._
    cities.map(c => (c.key, c.slug, c.lat0, c.lng0, c.spanLat, c.spanLng))
      .toDF("city", "city_slug", "lat0", "lng0", "span_lat", "span_lng")
  }

  /** `perCity` rows per city: ids are global, cities own contiguous id
    * ranges. */
  private def rows(spark: SparkSession, cities: Seq[City], perCity: Int): DataFrame =
    spark.range(cities.size.toLong * perCity)
      .withColumn("city", (col("id") / perCity).cast("int"))
      .join(broadcast(cityTable(spark, cities)), "city")

  /** Row id of a place of the same city, uniform. */
  private def placeOf(seed: Long, salt: Int, places: Int): Column =
    col("city") * places + floor(u(seed, salt) * places)

  private val typeCombos = Seq(Seq("restaurant", "food"), Seq("bar", "night_club"),
    Seq("cafe"), Seq("bakery"), Seq("restaurant", "french_restaurant"),
    Seq("bar", "wine_bar"), Seq("coffee_shop"), Seq("restaurant", "italian_restaurant"),
    Seq("store", "souvenir_shop"), Seq("lodging"))
  private val nameA = Seq("Chez", "Le", "La", "Cafe", "Bistro", "Maison", "Bar", "Atelier")
  private val nameB = Seq("Louise", "Central", "Mimosa", "Rigmarole", "Oberkampf", "Marais",
    "Soleil", "Jardin", "Comptoir", "Pompon")

  /** Search results in the shape of [[graft.domain.Ingest.toPoiRows]]'s
    * input, plus the attributes the classifier reads per POI. About 4% of
    * rows miss an id, name or coordinates, 10% have disallowed types and
    * 10% an address whose last field is too short to be a country. */
  def places(spark: SparkSession, seed: Long, cities: Seq[City], perCity: Int): DataFrame = {
    def x(s: Int) = u(seed, s)
    val combo = element_at(array(typeCombos.map(t => array(t.map(lit): _*)): _*),
      (floor(x(6) * typeCombos.size) + 1).cast("int"))
    val cityName = initcap(regexp_replace(col("city_slug"), "_", " "))
    rows(spark, cities, perCity).select(
      col("city"),
      concat(lit("r"), col("id")).as("result_id"),
      when(x(2) < 0.02, lit(null).cast("string")).otherwise(concat(lit("pl"), col("id"))).as("place_id"),
      when(x(3) < 0.01, lit(null).cast("string"))
        .when(x(3) < 0.02, concat(lit("Long "), repeat(lit("x"), 220), col("id")))
        .otherwise(concat_ws(" ", pick(x(4), nameA), pick(x(5), nameB), col("id").cast("string")))
        .as("name"),
      combo.as("types"),
      concat((floor(x(7) * 200) + 1).cast("string"), lit(" Rue "), pick(x(8), nameB),
        lit(", 750"), lpad((floor(x(9) * 20) + 1).cast("string"), 2, "0"), lit(" "), cityName,
        when(x(10) < 0.1, lit(", FR")).otherwise(lit(", France"))).as("formatted_address"),
      when(x(11) < 0.01, lit(null).cast("double"))
        .otherwise(col("lat0") + (x(12) * 1.1 - 0.05) * col("span_lat")).as("lat"),
      (col("lng0") + (x(13) * 1.1 - 0.05) * col("span_lng")).as("lng"),
      when(x(14) < 0.05, lit(null).cast("double")).otherwise(round(lit(3.0) + x(15) * 2.0, 1)).as("rating"),
      floor(x(16) * x(16) * 2000).cast("int").as("user_ratings_total"),
      when(x(17) < 0.3, lit(null).cast("int")).otherwise((floor(x(18) * 4) + 1).cast("int")).as("price_level"),
      col("city_slug"),
      when(x(19) < 0.03, lit(null).cast("timestamp"))
        .otherwise(ts(floor(x(20) * 600) * 86400)).as("first_seen_at"),
      pick(x(21), Seq("hold", "eligible", "approved")).as("eligibility_status"))
  }

  /** Mention domains in Zipf rank order: catalog sources, excluded social
    * sites and unknown blogs interleave down the ranks. */
  val mentionDomains: Seq[String] = Seq("lefooding.com", "instagram.com", "timeout.fr",
    "unknown-blog.net", "guide.michelin.com", "sortiraparis.com", "tripadvisor.com",
    "parisbouge.com", "random-site.org", "deadblog.fr", "yelp.com") ++
    (1 to 19).map(i => s"blog$i.example.org")

  /** Mention candidates for dedup and scoring: Zipf(1.1) domain mix, and a
    * fifth of rows reusing a URL path or a title from a small hot pool, so
    * the in-batch dedup has duplicates to drop. */
  def mentions(spark: SparkSession, seed: Long, cities: Seq[City], perCity: Int,
      placesPerCity: Int): DataFrame = {
    def x(s: Int) = u(seed, s)
    val dupShare = 0.2
    val hotPool = math.max(perCity / 20, 10)
    val dom = zipf(x(30), mentionDomains, 1.1)
    val pathId = when(x(31) < dupShare, floor(x(32) * hotPool)).otherwise(col("id") + perCity)
    rows(spark, cities, perCity).withColumn("domain", dom).select(
      col("city"),
      concat(lit("c"), col("id")).as("cand_id"),
      concat(lit("pl"), placeOf(seed, 33, placesPerCity)).as("poi_id"),
      (col("lat0") + x(34) * col("span_lat")).as("poi_lat"),
      (col("lng0") + x(35) * col("span_lng")).as("poi_lng"),
      when(x(36) < dupShare / 2, concat(lit("Best spots "), floor(x(37) * hotPool).cast("string")))
        .otherwise(concat_ws(" ", pick(x(38), Seq("review", "guide", "news", "opening")),
          pick(x(39), nameB), col("id").cast("string"),
          when(x(40) < 0.15, lit("paris")).otherwise(lit("")))).as("title"),
      pick(x(41), Seq("the best spot in france 75001", "a long story about germany",
        "nothing special here", "new opening in paris 11e", "weekend in lyon")).as("snippet"),
      col("domain"),
      concat(lit("https://"), col("domain"),
        when(x(42) < 0.3, lit("/paris/")).otherwise(lit("/x/")), pathId.cast("string"),
        when(x(43) < 0.2, lit("?utm_source=nl")).otherwise(lit("")),
        when(x(44) < 0.1, lit("#top")).otherwise(lit(""))).as("url"),
      round(x(45), 4).as("name_match"),
      col("id").as("ord"),
      when(x(46) < 0.3, lit(null).cast("double")).otherwise(round(x(47), 3)).as("w_time"),
      when(x(48) < 0.05, lit(null).cast("timestamp"))
        .otherwise(ts(floor(x(49) * 200 * 86400))).as("created_at"))
  }

  /** Rating snapshots, inside a 30-day window so the 14-day features see
    * some. */
  def snapshots(spark: SparkSession, seed: Long, cities: Seq[City], perCity: Int,
      placesPerCity: Int): DataFrame = {
    def x(s: Int) = u(seed, s)
    rows(spark, cities, perCity).select(
      col("city"),
      concat(lit("pl"), placeOf(seed, 50, placesPerCity)).as("poi_id"),
      lit("google").as("source_id"),
      round(lit(3.0) + x(51) * 2.0, 1).as("rating_value"),
      floor(x(52) * 1000).cast("long").as("reviews_count"),
      ts(floor(x(53) * 30 * 86400)).as("captured_at"))
  }

  val tags: Seq[String] = Seq("romantic", "wine", "terrace", "brunch", "noisy", "family",
    "view", "cocktails", "vegan", "late", "cheap", "michelin")

  /** Tagged POIs: each tag present with probability 0.3 at a uniform
    * confidence. */
  def taggedPois(spark: SparkSession, seed: Long, cities: Seq[City], perCity: Int): DataFrame = {
    val structs = tags.zipWithIndex.map { case (t, i) =>
      when(u(seed, 60 + i) < 0.3,
        struct(lit(t).as("tag"), round(u(seed, 80 + i), 3).as("confidence")))
    }
    rows(spark, cities, perCity).select(
      col("city"),
      concat(lit("pl"), col("id")).as("poi_id"),
      filter(array(structs: _*), s => s.isNotNull).as("tags"))
  }

  /** 24 collection templates: 1–3 required tags, 0–1 excluded, a minimum
    * confidence of 0.3–0.6. */
  def templates(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val r = new Random(seed * 31L + 5)
    (0 until 24).map { i =>
      val sh = r.shuffle(tags)
      val nReq = 1 + r.nextInt(3)
      (s"coll_$i", sh.take(nReq), sh.slice(nReq, nReq + r.nextInt(2)), 0.3 + 0.1 * r.nextInt(4))
    }.toDF("collection_id", "required_tags", "excluded_tags", "min_confidence")
  }

  /** Search results for trend discovery: a third carry a quoted
    * restaurant name, a fifth a quoted bistrot. */
  def trendCands(spark: SparkSession, seed: Long, cities: Seq[City], perCity: Int): DataFrame = {
    def x(s: Int) = u(seed, s)
    val n = floor(x(101) * 5000).cast("string")
    rows(spark, cities, perCity).select(
      col("city"),
      concat(lit("t"), col("id")).as("cand_id"),
      concat(lit("trend q"), floor(x(100) * 20).cast("string")).as("query_text"),
      when(x(102) < 0.34, concat(lit("on adore le \"restaurant "), n, lit("\" ici")))
        .when(x(102) < 0.67, lit("nothing quoted here"))
        .otherwise(concat(lit("le \"bar "), floor(x(103) * 1000).cast("string"), lit("\" est top")))
        .as("title"),
      when(x(104) < 0.2, concat(lit("aussi le \"bistrot "), floor(x(105) * 97).cast("string"), lit("\"")))
        .otherwise(lit("rien de plus")).as("snippet"))
  }

  // ------------------------------------------------------------- corpus

  private val vocab: IndexedSeq[String] = ("the a data spark table join filter merge sort hash " +
    "window batch stream query column row vector key value group order line part scan agg " +
    "fast slow big small customer metric index shard token model train eval split dedup " +
    "cluster graph node edge cache plan stage task shuffle spill").split(" ").toIndexedSeq
  private val langs = Seq("en" -> 0.4, "fr" -> 0.15, "de" -> 0.15, "es" -> 0.15, "zh" -> 0.15)

  /** (doc_id, text, lang, source, n_chars). Documents come in groups of
    * ten; in each, three are near-duplicates made by copying an earlier
    * member (its language and site too) and substituting about one word in
    * ten: 7 copies 0, 8 copies 1 and 9 copies 8. The duplicate share (30%) and the cluster shapes are
    * the same for every seed; the seed picks the words. */
  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val r = new Random(seed * 1000003L + 17)
    val docs = new Array[(Array[String], String, String)](n)
    val copyOf = Map(7 -> 0, 8 -> 1, 9 -> 8)
    (0 until n).map { i =>
      // a copy keeps its original's language and site: dedup compares
      // documents within one (lang, source) block
      docs(i) = copyOf.get(i % 10).map(j => docs(i - i % 10 + j)) match {
        case Some((src, lang, source)) =>
          (src.map(w => if (r.nextDouble() < 0.1) vocab(r.nextInt(vocab.size)) else w), lang, source)
        case None =>
          val x = r.nextDouble()
          val lang = langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
            .tail.find(_._2 > x).map(_._1).getOrElse("en")
          (Array.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))), lang, s"src${r.nextInt(20)}")
      }
      val (words, lang, source) = docs(i)
      val text = words.mkString(" ")
      (i.toLong, text, lang, source, text.length.toLong)
    }
  }


}
