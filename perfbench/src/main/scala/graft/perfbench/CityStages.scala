package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{Classify, Collections, Fixtures, Ingest, MentionDedup, MentionScoring, Spatial, Trending}

/** The six stages of one city, in pipeline order, each stage's output
  * written once (the reference persists every stage):
  * INGEST → SPATIAL → MENTIONS (dedup, scoring) → CLASSIFY → COLLECTIONS →
  * TRENDING. Inputs are read from `<in>/<table>/city=<k>`, outputs go to
  * `<out>/<stage>/k<k>`. */
object CityStages {
  val Layers: Seq[String] = Seq("Ingest", "Spatial", "MentionDedup", "MentionScoring",
    "Classify", "Collections", "Trending")
  val Outputs: Seq[String] = Seq("poi_rows", "spatial", "mentions_dedup", "mention_decisions",
    "classify", "collections", "trending")

  /** Generated input sizes per city. */
  final case class Sizes(places: Int, mentions: Int, snapshots: Int, tagged: Int, trend: Int)

  /** Write every input table for `cities`, partitioned by city. */
  def generate(spark: SparkSession, seed: Long, cities: Seq[Gen.City], sz: Sizes, in: String): Unit = {
    def put(df: DataFrame, name: String): Unit = df.write.partitionBy("city").parquet(s"$in/$name")
    put(Gen.places(spark, seed, cities, sz.places), "places")
    put(Gen.areas(spark, seed, cities), "areas")
    put(Gen.mentions(spark, seed, cities, sz.mentions, sz.places), "mentions")
    put(Gen.snapshots(spark, seed, cities, sz.snapshots, sz.places), "snapshots")
    put(Gen.taggedPois(spark, seed, cities, sz.tagged), "tagged")
    put(Gen.trendCands(spark, seed, cities, sz.trend), "trend")
    Gen.templates(spark, seed).write.parquet(s"$in/templates")
  }

  private val sourceType: Column =
    Fixtures.catalog.foldRight(lit("blog")) { case ((sid, _, t, _, _), acc) =>
      when(col("resolved_source_id") === sid, lit(t)).otherwise(acc)
    }

  /** Run city `k` through the six stages. */
  def run(c: Ctx, in: String, out: String, k: Int): Unit = {
    val spark = c.spark
    def src(t: String) = spark.read.parquet(s"$in/$t/city=$k")
    def res(t: String) = spark.read.parquet(s"$out/$t/k$k")
    def write(df: DataFrame, t: String): Unit = df.write.mode("overwrite").parquet(s"$out/$t/k$k")

    c.op("Ingest", "stage") { write(Ingest.toPoiRows(src("places")), "poi_rows") }
    c.op("Spatial", "stage") {
      val pois = res("poi_rows").select(col("google_place_id").as("poi_id"), col("lat"), col("lng"))
      write(Spatial.assignViaCells(pois, src("areas"), spark), "spatial")
    }
    c.op("MentionDedup", "stage") { write(MentionDedup.inBatchDedup(src("mentions")), "mentions_dedup") }
    c.op("MentionScoring", "stage") {
      write(MentionScoring.scoreAndDecide(res("mentions_dedup"), spark), "mention_decisions")
    }
    c.op("Classify", "stage") {
      val poi = res("poi_rows")
        .select(col("google_place_id").as("id"), col("name"), col("category"), col("city"), col("result_id"))
        .join(src("places").select(col("result_id"), col("rating"),
          col("user_ratings_total").as("reviews_count"), col("first_seen_at"),
          col("eligibility_status")), "result_id")
        .drop("result_id")
      val mentions = res("mention_decisions").filter(col("decision") =!= "REJECT")
        .join(src("mentions").select("cand_id", "w_time", "created_at"), "cand_id")
        .select(col("poi_id"), sourceType.as("source_type"), col("authority").as("authority_weight"),
          col("final_score").as("match_score"), col("w_time"), col("created_at"))
      write(Classify.scores(poi, mentions, src("snapshots"), Gen.AsOf), "classify")
    }
    c.op("Collections", "stage") {
      write(Collections.generate(src("tagged"), spark.read.parquet(s"$in/templates")), "collections")
    }
    c.op("Trending", "stage") {
      write(Trending.discoveryLog(Trending.extractPoiNames(src("trend"))), "trending")
    }
  }

  /** Digest of each stage output over every city written under `out`. */
  def digest(c: Ctx, out: String): Unit =
    Outputs.foreach(t => c.digests(t) =
      Digest.of(c.spark.read.option("recursiveFileLookup", "true").parquet(s"$out/$t")))

  /** Even-odd ray cast, independent of the engine's kernel. */
  def inRing(lng: Double, lat: Double, ring: Seq[Seq[Double]]): Boolean = {
    var inside = false
    var i = 0
    var j = ring.size - 2
    while (i < ring.size - 1) {
      val (xi, yi, xj, yj) = (ring(i)(0), ring(i)(1), ring(j)(0), ring(j)(1))
      if ((yi > lat) != (yj > lat) && lng < (xj - xi) * (lat - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Invariants of city `k`'s outputs. Spatial assignments of a sample of
    * POIs are recomputed with [[inRing]] over the generated polygons. */
  def check(c: Ctx, in: String, out: String, city: Gen.City): Unit = {
    val spark = c.spark
    val k = city.key
    def src(t: String) = spark.read.parquet(s"$in/$t/city=$k")
    def res(t: String) = spark.read.parquet(s"$out/$t/k$k")
    def bad(df: DataFrame, what: String, cond: Column): Unit = {
      val r = df.agg(count(lit(1)), sum(when(cond, 1L).otherwise(0L))).first()
      c.check(!r.isNullAt(1) && r.getLong(1) == 0 || r.getLong(0) == 0, s"city $k: ${r.get(1)} rows $what")
    }
    def none(df: DataFrame, what: String): Unit = {
      val n = df.count()
      c.check(n == 0, s"city $k: $n rows $what")
    }
    val nPoi = res("poi_rows").count()
    c.check(nPoi > 0, s"city $k: ingest kept no rows")
    bad(res("poi_rows"), "with no id or a bad category",
      col("google_place_id").isNull || !col("category").isin("restaurant", "bar", "cafe", "bakery"))
    val rings = Gen.areaRings(c.seed, city).map { case (_, name, lvl, ring) =>
      (name, lvl, ring, Spatial.ringArea(ring.map(_.toArray).toArray))
    }
    def expect(lng: Double, lat: Double, lvl: Int): String = {
      val hits = rings.filter(r => r._2 == lvl && inRing(lng, lat, r._3))
      if (hits.isEmpty) null else hits.minBy(h => (h._4, h._1))._1
    }
    // one row per POI, and the sampled assignments recomputed
    val sp = res("spatial").withColumn("n", count(lit(1)).over())
      .filter(pmod(xxhash64(col("poi_id")), lit(10)) === 0).collect()
    c.check(sp.nonEmpty && sp.head.getAs[Long]("n") == nPoi, s"city $k: spatial rows differ from POIs")
    sp.foreach { r =>
      val (lat, lng) = (r.getAs[Double]("lat"), r.getAs[Double]("lng"))
      val (d, n) = (r.getAs[String]("district_name"), r.getAs[String]("neighbourhood_name"))
      c.check(d == expect(lng, lat, 9) && n == expect(lng, lat, 10),
        s"city $k: poi ${r.getAs[String]("poi_id")} assigned ($d, $n)")
    }
    val kept = res("mentions_dedup")
    none(kept.groupBy("domain", "norm_url").count().filter(col("count") > 1)
      .union(kept.groupBy("domain", "norm_title").count().filter(col("count") > 1)),
      "sharing a url or title after dedup")
    val scorable = kept.filter(!lower(col("domain")).isin(Fixtures.excludedDomains: _*)).count()
    val dec = res("mention_decisions")
    bad(dec, "with a bad decision or score",
      !col("decision").isin("ACCEPT", "REVIEW", "REJECT") || col("final_score") < 0 || col("final_score") > 1)
    c.check(dec.count() == scorable, s"city $k: scoring lost or added candidates")
    val cls = res("classify").agg(count(lit(1)), countDistinct(col("id")),
      sum(when(col("gatto_score") < 0 || col("gatto_score") > 100, 1L).otherwise(0L))).first()
    c.check(cls.getLong(0) == nPoi && cls.getLong(1) == nPoi && cls.getLong(2) == 0,
      s"city $k: classify is not one in-range row per POI")
    none(res("collections").groupBy("collection_id").count().filter(col("count") > 8 || col("count") < 2),
      "in a collection with a bad size")
    bad(res("trending"), "with an empty trend log", col("results_count") < 1)
  }

  /** Ratio counters for the traced run, from the outputs of city `k`. */
  def countRatios(c: Ctx, in: String, out: String, k: Int): Unit = {
    val spark = c.spark
    def src(t: String) = spark.read.parquet(s"$in/$t/city=$k")
    def res(t: String) = spark.read.parquet(s"$out/$t/k$k")
    c.tr.add("Ingest.out", res("poi_rows").count().toDouble)
    c.tr.add("Ingest.in", src("places").count().toDouble)
    val pois = res("poi_rows").select(col("google_place_id").as("poi_id"), col("lat"), col("lng"))
    val areas = src("areas")
    val cand = Spatial.cellCandidates(pois, areas, Spatial.adaptiveCoverRes(areas))
    c.tr.add("Spatial.candidates", cand.count().toDouble)
    c.tr.add("Spatial.hits", cand.filter(col("cell_interior") ||
      graft.expr.functions.point_in_ring(col("lng"), col("lat"), col("ring"))).count().toDouble)
    c.tr.add("MentionDedup.out", res("mentions_dedup").count().toDouble)
    c.tr.add("MentionDedup.in", src("mentions").count().toDouble)
    val dec = res("mention_decisions")
    c.tr.add("MentionScoring.accepted", dec.filter(col("decision") === "ACCEPT").count().toDouble)
    c.tr.add("MentionScoring.scored", dec.count().toDouble)
  }

  def ratios(c: Ctx): Map[String, Double] = {
    def r(a: String, b: String) = { val d = c.tr.counter(b); if (d == 0) 0.0 else c.tr.counter(a) / d }
    Map("Ingest.pass_ratio" -> r("Ingest.out", "Ingest.in"),
      "Spatial.hit_ratio" -> r("Spatial.hits", "Spatial.candidates"),
      "MentionDedup.keep_ratio" -> r("MentionDedup.out", "MentionDedup.in"),
      "MentionScoring.accept_ratio" -> r("MentionScoring.accepted", "MentionScoring.scored"))
  }
}

/** One large city through the six stages per round. The warm-up is one
  * untimed pass over the same inputs. */
final class Metro extends Workload {
  val sizes = CityStages.Sizes(places = 15000, mentions = 30000, snapshots = 30000,
    tagged = 15000, trend = 15000)
  val minRounds = 2
  val opKind = "stage"
  private val city = Gen.metroCity

  def generate(c: Ctx, rep: Int): String = {
    val in = c.path(s"in$rep")
    CityStages.generate(c.spark, c.seed, Seq(city), sizes, in)
    in
  }
  def warmUp(c: Ctx, in: String): Unit = run(c, in, c.path("warm_out"))
  def round(c: Ctx, in: String, i: Int): Unit = run(c, in, c.path("out"))
  private def run(c: Ctx, in: String, out: String): Unit = CityStages.run(c, in, out, city.key)
  def afterRound(c: Ctx, in: String, i: Int): Unit = if (i == 0) {
    CityStages.check(c, in, c.path("out"), city)
    CityStages.digest(c, c.path("out"))
    if (c.tr.enabled) CityStages.countRatios(c, in, c.path("out"), city.key)
  }
  def named(c: Ctx, roundS: Seq[Double]) = Seq(("wall_s", Stats.median(roundS), "s"))
  override def ratios(c: Ctx) = CityStages.ratios(c)
}
