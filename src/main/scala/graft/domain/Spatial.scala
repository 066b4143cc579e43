package graft.domain

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.expr.VecAlgo

/** Spatial association J1 (SURVEY §2.3; reference: server-side RPC
  * `update_poi_urban_areas` invoked at db.py:247-278 / associate_pois.py:16-44,
  * semantics documented neighbourhoods/README.md:58-65):
  * point-in-polygon, smallest-area tie-break, admin-level priority —
  * admin_level 9 polygons assign `district_name`, admin_level 10 assign
  * `neighbourhood_name`.
  *
  * Implementation: [[assign]] broadcasts the polygons (98 for Paris) as ring
  * arrays, runs the ray-cast expression over the broadcast side, then picks
  * the smallest containing area per (poi, admin_level). At 100 TB callers use
  * the H3-prefilter path [[assignViaCells]]: each polygon is covered with
  * CellGrid cells once into a broadcast cell index, and each point runs the
  * exact test only against the polygons of its own cell — same results, no
  * nested loop and no shuffle (SURVEY §4 custom-work item 2).
  */
object Spatial {

  /** (area_id, name, admin_level, min_lng, min_lat, max_lng, max_lat).
    * Rectangles so the DuckDB oracle can express containment as BETWEEN while
    * the engine runs its general ray-cast path. Includes: a big arrondissement
    * containing two nested quartiers (smallest-area tie-break), an overlapping
    * quartier pair, and a point outside everything. */
  val urbanRects: Seq[(String, String, Int, Double, Double, Double, Double)] = Seq(
    ("a1", "1er Arrondissement", 9, 2.300, 48.850, 2.360, 48.880),
    ("a2", "2e Arrondissement", 9, 2.320, 48.860, 2.350, 48.875),
    ("q1", "Quartier Vivienne", 10, 2.330, 48.865, 2.345, 48.872),
    ("q2", "Quartier Mail", 10, 2.335, 48.867, 2.342, 48.870),
    ("q3", "Quartier Halles", 10, 2.340, 48.858, 2.352, 48.866))

  /** (poi_id, lat, lng): sp1 in nested quartiers (q2 smallest wins; a2 smaller
    * than a1 wins district), sp2 only in a1, sp3 in a1+q3, sp4 outside all. */
  val spatialPois: Seq[(String, Double, Double)] = Seq(
    ("sp1", 48.8685, 2.3380),
    ("sp2", 48.8550, 2.3050),
    ("sp3", 48.8610, 2.3450),
    ("sp4", 48.9000, 2.2000))

  private def rectRing(minLng: Double, minLat: Double, maxLng: Double, maxLat: Double): Array[Array[Double]] =
    Array(Array(minLng, minLat), Array(maxLng, minLat), Array(maxLng, maxLat),
      Array(minLng, maxLat), Array(minLng, minLat))

  /** Shoelace area in degree² (tie-break metric, stands in for ST_Area). */
  def ringArea(ring: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < ring.length - 1) {
      s += ring(i)(0) * ring(i + 1)(1) - ring(i + 1)(0) * ring(i)(1)
      i += 1
    }
    math.abs(s) / 2.0
  }

  def areasDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    urbanRects.map { case (id, name, lvl, x0, y0, x1, y1) =>
      val ring = rectRing(x0, y0, x1, y1)
      (id, name, lvl, ring.map(_.toSeq).toSeq, ringArea(ring))
    }.toDF("area_id", "area_name", "admin_level", "ring", "area")
  }

  def spatialPoisDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spatialPois.toDF("poi_id", "lat", "lng")
  }

  /** General polygon containment: broadcast areas with ring arrays, codegen'd
    * ray-cast filter, smallest-area-first window per admin level. */
  def assign(pois: DataFrame, areas: DataFrame, spark: SparkSession): DataFrame = {
    val contained = pois.join(broadcast(areas),
      graft.expr.functions.point_in_ring(col("lng"), col("lat"), col("ring")))
    bestPerLevel(pois, contained)
  }

  /** Smallest-area winner per (poi, admin_level), both level columns in ONE
    * aggregation: `min(struct(area, area_id, area_name))` orders structs
    * field-by-field — smallest area first, area_id tie-break — which is
    * exactly the previous window's `ORDER BY area ASC, area_id ASC` rn=1,
    * but as a hash aggregate with MAP-SIDE partial min instead of a full
    * sort-window over the candidate relation (and one consumption of the
    * containment join instead of two — the original per-level-branch form
    * executed it twice). Tie-break coupling with the oracle: the struct
    * orders (area, area_id, area_name) while [[parisAssignCtes]] orders
    * (area, area_name) — equivalent because loadUrbanAreasJsonl sets
    * area_id = name; keep both in sync if area_id ever diverges. */
  private def bestPerLevel(pois: DataFrame, contained: DataFrame): DataFrame = {
    def winner(level: Int): Column =
      min(when(col("admin_level") === level,
        struct(col("area"), col("area_id"), col("area_name"))))
        .getField("area_name")
    val best = contained.groupBy(col("poi_id"))
      .agg(winner(9).as("district_name"), winner(10).as("neighbourhood_name"))
    pois.join(best, Seq("poi_id"), "left")
      .select(col("poi_id"), col("lat"), col("lng"),
        col("district_name"), col("neighbourhood_name"))
  }

  /** ETL of the reference's shipped city geometry (S5/S6 one-time job;
    * neighbourhoods/neighbourhoods_paris.jsonl — 98 single-ring polygons:
    * 20 arrondissements at admin_level 9, 78 quartiers at 10; ingest chain
    * semantics per ingest_geometries.py:87-96 minus PostGIS). Produces the
    * same shape as [[areasDf]], so both assignment paths work unchanged on
    * the real city. */
  def loadUrbanAreasJsonl(spark: SparkSession, path: String): DataFrame = {
    // explicit schema: spark.read.json otherwise runs a full inference pass
    // over the file (an extra job + scan) before the real read — pure
    // latency on a path three declared queries sit on (guide §1.2 step 2)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "name STRING, " +
        "properties STRUCT<admin_level: STRING>, " + // quoted in the JSONL
        "geometry STRUCT<coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>")
    val raw = spark.read.schema(schema).json(path)
    raw.select(
      col("name").as("area_id"),
      col("name").as("area_name"),
      col("properties.admin_level").cast("int").as("admin_level"),
      col("geometry.coordinates").getItem(0).as("ring"))
      .withColumn("area", udf((ring: Seq[Seq[Double]]) =>
        ringArea(ring.map(_.toArray).toArray)).apply(col("ring")))
  }

  /** S5 — OSM relation → ring assembly as a distributed ETL step
    * (extract_neighbourhoods.py:163-296 via [[RingAssembly]]): input is one
    * row per relation MEMBER (relation id/name/admin_level, member sequence,
    * role, way geometry); members group-shuffle on relation_id (each relation
    * is small — the parallelism unit is the relation, so 10⁶ relations scale
    * linearly), assembly runs per group, unassemblable relations drop out
    * (reference returns None). Output schema matches [[loadUrbanAreasJsonl]]
    * so both spatial-join paths run unchanged on assembled geometry. */
  def assembleRelations(members: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val assemble = udf { (roles: Seq[String], geoms: Seq[Seq[Seq[Double]]]) =>
      val ms = roles.zip(geoms).map { case (role, g) =>
        RingAssembly.Member(role, g.map(_.toArray).toArray)
      }
      RingAssembly.relationToRing(ms).map(_.map(_.toSeq).toSeq)
    }
    members
      .groupBy(col("area_id"), col("area_name"), col("admin_level"))
      .agg(sort_array(collect_list(struct(col("seq"), col("role"), col("geometry"))))
        .as("ms"))
      .withColumn("ring", assemble(col("ms.role"), col("ms.geometry")))
      .filter(col("ring").isNotNull)
      .select(col("area_id"), col("area_name"), col("admin_level"), col("ring"))
      .withColumn("area", udf((ring: Seq[Seq[Double]]) =>
        ringArea(ring.map(_.toArray).toArray)).apply(col("ring")))
  }

  /** The pre-ray-cast candidate set of the cell path, as a relation:
    * poi.cell = cover.cell equi-join rows carrying the ring and the
    * per-cell interior flag. [[assignViaCells]] runs the same test inside
    * its kernel; this form lets SpatialParitySpec assert the prefilter
    * PRUNES (candidates ≪ |pois|×|areas|) and the benchmark count
    * candidates and hits. */
  private[graft] def cellCandidates(pois: DataFrame, areas: DataFrame,
      res: Int): DataFrame = {
    val coverUdf = udf { (ring: Seq[Seq[Double]]) =>
      // true polygon cover (center-contained cells + boundary band): a tight
      // superset of the cells intersecting the polygon, so boundary-crossing
      // points still meet their polygon but far fewer off-polygon candidate
      // pairs survive to the exact ray-cast than with a bbox cover. Each
      // cell carries the INTERIOR flag (provably entirely inside — see
      // CellGrid.polygonCoverFlagged), which lets the containment filter
      // skip the O(ring-vertices) ray-cast for the bulk of each polygon.
      graft.expr.CellGrid.polygonCoverFlagged(ring.map(_.toArray).toArray, res)
    }
    // The cover carries ONLY (cell, interior, area key) — guide §2.3 "shuffle
    // keys and metadata instead of payloads": exploding the ring column per
    // cover cell replicated every polygon's full vertex array once per cell
    // through the broadcast/exchange (at res 12 over the Paris rings that is
    // 181k copies ≈ 1.6 GB serialized — past spark.driver.maxResultSize).
    // The ring and the tie-break payload re-attach AFTER the cell join from
    // the polygon relation itself (tiny by contract: city geometry), so the
    // heavy vertices cross the wire once per polygon, not once per cell.
    val cover = areas
      .withColumn("cov", explode(coverUdf(col("ring"))))
      .select(col("area_id"), col("admin_level"),
        col("cov._1").as("cell"), col("cov._2").as("cell_interior"))
    val keyed = pois.withColumn("cell",
      graft.expr.functions.cell_of(col("lat"), col("lng"), lit(res)))
    keyed.join(cover, Seq("cell")) // EQUI join on cell id
      .join(areas, Seq("area_id", "admin_level")) // re-attach ring + names
  }

  /** Adaptive cover resolution: the FINEST lattice level whose per-polygon
    * cover stays within a cell budget for the MEDIAN polygon. Finer cells
    * thin the boundary band relative to polygon area, so more candidates
    * carry the interior flag and skip the O(ring-vertices) exact ray-cast,
    * and the tighter cover admits fewer off-polygon candidate pairs in the
    * first place — measured on the 98 Paris rings / 60k-point vol fixture
    * (Probe `spatial_skip`): res 11 → 133k candidates, 42% skip; res 12 →
    * 106k candidates, 72% skip; res 13 → 97k candidates, 88% skip.
    *
    * The budget is the SCALE KNOB (`spark.graft.spatial.coverCellBudget`):
    * finer res trades a bigger cover index — a fixed polygon-side build
    * and broadcast cost per query — against per-candidate ray-cast savings
    * that scale with the POINT side. At bench scale (60k points) the trade
    * measured upside-down: res 12's 181k-cell cover build+broadcast costs
    * ~1.4 s/run while the saved ray-casts are worth ~0.1 s, so the local
    * default (512 cells/median polygon → res 11 over Paris, 137 cells/
    * median polygon) keeps the bench shape. In production raise the budget
    * with point density — ≥2048 puts Paris-scale zones at res 12 — once
    * points/polygon make the per-candidate term dominate.
    *
    * ONE resolution serves the whole join, chosen from the polygon-side
    * statistic: per-polygon resolutions would force the point side — the
    * 100 TB side — to compute one cell id per resolution in use,
    * multiplying the big side's work to optimize the tiny side. The rings
    * are collected in one action over the polygon relation (bounded: city
    * geometry) and the statistic is computed on the driver by
    * [[coverResOf]], the helper [[assignViaCells]] uses on its own
    * collect. The statistic is measured in meters (projected shoelace) —
    * the `area` column stays the oracle-shared degree² tie-break and is
    * NOT reused here. */
  private[graft] def adaptiveCoverRes(areas: DataFrame): Int =
    if (!areas.columns.contains("ring")) CoverResMin
    else coverResOf(areas.select(col("ring")).collect().toSeq.map(ringOf),
      coverCellBudget(areas.sparkSession))

  private val CoverResMin = 11
  private val CoverResMax = 13

  private def coverCellBudget(spark: SparkSession): Double =
    spark.conf.get("spark.graft.spatial.coverCellBudget", "512").toDouble

  /** The `array<array<double>>` ring in the first field of a collected row
    * as [lng, lat] vertex arrays; null for a null ring. */
  private def ringOf(r: Row): Array[Array[Double]] =
    if (r.isNullAt(0)) null
    else r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](0).map(_.toArray).toArray

  /** Shoelace area in m² of the ring projected onto the grid's plane. */
  private def ringAreaM2(ring: Array[Array[Double]]): Double = {
    val p = ring.map(v => graft.expr.CellGrid.project(v(1), v(0)))
    var s = 0.0
    var i = 0
    while (i < p.length - 1) {
      s += p(i)._1 * p(i + 1)._2 - p(i + 1)._1 * p(i)._2
      i += 1
    }
    math.abs(s) / 2.0
  }

  /** Median m² area of the non-null rings, interpolated exactly as Spark's
    * `percentile(x, 0.5)`: at position pos = (n−1)/2 over the sorted
    * values, (hi−pos)·v_lo + (pos−lo)·v_hi; None when there is no ring. */
  private[graft] def medianAreaM2(rings: Seq[Array[Array[Double]]]): Option[Double] = {
    val m2 = rings.filter(_ != null).map(ringAreaM2).toArray
    if (m2.isEmpty) None
    else {
      java.util.Arrays.sort(m2)
      val pos = (m2.length - 1) * 0.5
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      Some(if (lo == hi) m2(lo) else (hi - pos) * m2(lo) + (pos - lo) * m2(hi))
    }
  }

  /** The cover resolution for these rings under a cell budget (see
    * [[adaptiveCoverRes]]). */
  private def coverResOf(rings: Seq[Array[Array[Double]]], budget: Double): Int =
    medianAreaM2(rings) match {
      case None => CoverResMin
      case Some(med) =>
        var res = CoverResMin
        while (res < CoverResMax &&
          med / graft.expr.CellGrid.hexAreaM2(res + 1) <= budget) res += 1
        res
    }

  /** The broadcast side of [[assignViaCells]]: the admin-level 9/10
    * polygons by ordinal (ring, level and the (area, area_id, area_name)
    * tie-break keys) and the cover index from a cell id to the
    * `ordinal << 1 | interior` of every polygon whose cover holds the cell. */
  private final class CoverIndex(
      res: Int,
      cells: java.util.HashMap[String, Array[Int]],
      rings: Array[ArrayData],
      levels: Array[Int],
      areas: Array[java.lang.Double],
      ids: Array[UTF8String],
      names: Array[UTF8String]) extends Serializable {

    /** (district_name, neighbourhood_name) of the point at (lat, lng): the
      * smallest containing polygon per level, ties broken by
      * `min(struct(area, area_id, area_name))`'s ordering. */
    def assign(lat: Double, lng: Double): (String, String) = {
      val hits = cells.get(graft.expr.CellGrid.latLngToCell(lat, lng, res))
      var district = -1
      var hood = -1
      if (hits != null) {
        var h = 0
        while (h < hits.length) {
          val o = hits(h) >>> 1
          if ((hits(h) & 1) == 1 || VecAlgo.pointInRing(lng, lat, rings(o))) {
            if (levels(o) == 9) { if (district < 0 || precedes(o, district)) district = o }
            else if (hood < 0 || precedes(o, hood)) hood = o
          }
          h += 1
        }
      }
      (nameOf(district), nameOf(hood))
    }

    private def nameOf(o: Int): String =
      if (o < 0 || names(o) == null) null else names(o).toString

    /** Spark's ascending struct ordering: nulls first, doubles by
      * [[SQLOrderingUtil.compareDoubles]], strings by UTF-8 bytes. */
    private def precedes(a: Int, b: Int): Boolean = {
      def nullsFirst(x: AnyRef, y: AnyRef): Int =
        if (x == null) { if (y == null) 0 else -1 } else if (y == null) 1 else 2
      var c = nullsFirst(areas(a), areas(b))
      if (c == 2) c = SQLOrderingUtil.compareDoubles(areas(a), areas(b))
      if (c == 0) c = ids(a).compareTo(ids(b))
      if (c == 0) {
        c = nullsFirst(names(a), names(b))
        if (c == 2) c = names(a).compareTo(names(b))
      }
      c < 0
    }
  }

  /** The [[CoverIndex]] of the collected polygons (`ring`, `area_id`,
    * `area_name`, `admin_level`, `area`) at `res`. Polygons outside admin
    * levels 9 and 10, or with a null ring or area_id, can never name a POI
    * and are left out. */
  private def coverIndex(polys: Array[Row], res: Int): CoverIndex = {
    val kept = polys.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(3) &&
      (r.getInt(3) == 9 || r.getInt(3) == 10))
    val rings = kept.map(ringOf)
    val cells = new java.util.HashMap[String, Array[Int]]()
    rings.zipWithIndex.foreach { case (ring, o) =>
      graft.expr.CellGrid.polygonCoverFlagged(ring, res).foreach { case (cell, interior) =>
        val hit = o << 1 | (if (interior) 1 else 0)
        cells.merge(cell, Array(hit), (a, b) => a ++ b)
      }
    }
    new CoverIndex(res, cells,
      rings.map(r => new GenericArrayData(r.map(v => ArrayData.toArrayData(v)))),
      kept.map(_.getInt(3)),
      kept.map(r => if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4))),
      kept.map(r => UTF8String.fromString(r.getString(1))),
      kept.map(r => UTF8String.fromString(r.getString(2))))
  }

  /** Cell-path spatial assignment (SURVEY §4 custom-work item 2, §7.5):
    * identical results to [[assign]] for unique `poi_id`s
    * (SpatialParitySpec asserts it), without a polygon × point loop.
    *
    * One action collects the polygon relation (tiny by contract: city
    * geometry); the driver picks the cover resolution from it (unless
    * `res` > 0 fixes one, see [[adaptiveCoverRes]]), covers each polygon
    * once with [[graft.expr.CellGrid.polygonCoverFlagged]] and broadcasts
    * one [[CoverIndex]]. Each POI row is then assigned by one per-row
    * kernel: its cell at `res` looks up the covering polygons, an interior
    * cell admits a polygon outright, a boundary cell runs the exact
    * ray-cast, and the smallest containing polygon per level wins. The
    * plan is a projection of `pois` — no join, exchange or explode — so a
    * query pays the polygon collect plus its own action.
    *
    * Contract: the answer is per ROW. [[assign]] joins its per-`poi_id`
    * winners back, so the two agree when `poi_id` is unique (every caller
    * passes unique ids); a `poi_id` repeated with different coordinates
    * gets each row's own answer here. A null `poi_id`, null coordinates or
    * no containing polygon give null names, as the key join did. Each
    * (area_id, admin_level) names one polygon, as it did when the cell
    * join re-attached rings by that key. */
  def assignViaCells(pois: DataFrame, areas: DataFrame, spark: SparkSession,
      res: Int = 0): DataFrame = {
    val polys = areas.select(col("ring"), col("area_id"), col("area_name"),
      col("admin_level"), col("area")).collect()
    val r = if (res > 0) res else coverResOf(polys.toSeq.map(ringOf), coverCellBudget(spark))
    val index = spark.sparkContext.broadcast(coverIndex(polys, r))
    val kernel = udf { (lat: java.lang.Double, lng: java.lang.Double) =>
      if (lat == null || lng == null) null else index.value.assign(lat, lng)
    }
    val names = when(col("poi_id").isNotNull, kernel(col("lat"), col("lng")))
    pois.select(col("poi_id"), col("lat"), col("lng"), names.as("names"))
      .select(col("poi_id"), col("lat"), col("lng"),
        col("names._1").as("district_name"), col("names._2").as("neighbourhood_name"))
  }

  def qSpatialAssign(spark: SparkSession, dir: String): DataFrame =
    assign(spatialPoisDf(spark), areasDf(spark), spark)

  /** J7 — radius join (`get_pois_within_radius` RPC, utils/database.py:224-237):
    * POIs within r meters of a point, ordered by distance, limit n. The
    * haversine is identical column math on both engines. */
  def qRadiusJoin(spark: SparkSession, dir: String): DataFrame = {
    val (centerLat, centerLng) = (48.8600, 2.3400)
    val dist = graft.expr.functions.haversine_meters(
      col("lat"), col("lng"), lit(centerLat), lit(centerLng))
    spatialPoisDf(spark)
      .withColumn("distance_m", round(dist, 4))
      .filter(col("distance_m") <= 5000.0)
      .orderBy(col("distance_m").asc, col("poi_id").asc)
      .limit(3)
  }

  /** The reference snapshot's Paris geometry (98 single-ring zones, one
    * JSON object per line), declared once: the Spark readers and the DuckDB
    * oracles' `read_json_auto` both read this path. */
  val ParisGeometryJsonl: String =
    "/root/reference/neighbourhoods/neighbourhoods_paris.jsonl"

  /** J1 over the REAL Paris geometry (98 zones) — polygons aren't expressible
    * in the DuckDB oracle, so this is a rows-only driver check; exact answers
    * are pinned by ParisGeometrySpec landmarks. */
  def qParisAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val landmarks = Seq(
      ("louvre", 48.8606, 2.3376), ("eiffel", 48.8584, 2.2945),
      ("sacre_coeur", 48.8867, 2.3431), ("notre_dame", 48.8530, 2.3499),
      ("pere_lachaise", 48.8610, 2.3933), ("la_defense", 48.8920, 2.2358))
      .toDF("poi_id", "lat", "lng")
    val areas = loadUrbanAreasJsonl(spark, ParisGeometryJsonl)
    assignViaCells(landmarks, areas, spark)
  }

  /** Deterministic synthetic point cloud over the Paris bbox (lng 2.25–2.42,
    * lat 48.815–48.902): a 32-bit LCG-style hash of the row id drives each
    * coordinate, with IDENTICAL int64 → double arithmetic on both engines so
    * every coordinate — and therefore every ray-cast outcome — agrees
    * bit-for-bit with the DuckDB replay. ~77% of points land inside the 98
    * real rings. */
  def volPoints(spark: SparkSession, n: Int): DataFrame =
    spark.range(n).select(
      col("id").as("poi_id"),
      (lit(48.815) + ((col("id") * 1500450271L + 123456789L) % 4294967296L)
        .cast("double") / 4294967296.0 * 0.087).as("lat"),
      (lit(2.25) + ((col("id") * 2654435761L + 987654321L) % 4294967296L)
        .cast("double") / 4294967296.0 * 0.17).as("lng"))

  val ParisVolN = 60000

  /** J1 at VOLUME (VERDICT r8 item 2): 60k deterministic points against the
    * 98 real Paris rings through the cell-prefilter + exact ray-cast path —
    * the 100 TB plan, exercised at 4 orders of magnitude above the landmark
    * fixture and hash-checked end to end. The DuckDB oracle replays the same
    * ray-cast as an exploded-edge equi-join (vectorizes where per-edge list
    * lambdas took ~100 s) with the smallest-area tie-break window. */
  def qParisAssignVol(spark: SparkSession, dir: String): DataFrame = {
    val areas = loadUrbanAreasJsonl(spark, ParisGeometryJsonl)
    assignViaCells(volPoints(spark, ParisVolN), areas, spark)
  }

  /** J7 at VOLUME: nearest 1000 of 60k deterministic points within 3 km of
    * the center — same haversine column math as [[qRadiusJoin]] (hash-proven
    * there), with the ordered-limit planning as a distributed top-k
    * (TakeOrderedAndProject), which is the RPC's `ORDER BY distance LIMIT n`
    * at any scale. */
  def qRadiusJoinVol(spark: SparkSession, dir: String): DataFrame = {
    val dist = graft.expr.functions.haversine_meters(
      col("lat"), col("lng"), lit(48.8600), lit(2.3400))
    volPoints(spark, ParisVolN)
      .withColumn("distance_m", round(dist, 4))
      .filter(col("distance_m") <= 3000.0)
      .orderBy(col("distance_m").asc, col("poi_id").asc)
      .limit(1000)
  }

  /** The AUTO path of j1_paris_vol: the NATURAL broadcast predicate join —
    * which [[graft.plans.CellJoinRewrite]] rewrites into the cell-cover
    * equi-join — under the driver's hash gate, so the optimizer rule itself
    * is correctness-gated per round, not only spec-tested. Same oracle as
    * the manual variant (identical semantics by construction). */
  def qParisAssignVolAuto(spark: SparkSession, dir: String): DataFrame = {
    val areas = loadUrbanAreasJsonl(spark, ParisGeometryJsonl)
    assign(volPoints(spark, ParisVolN), areas, spark)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j1_spatial_assign" -> (qSpatialAssign _),
    "j1_paris_real" -> (qParisAssign _),
    "j1_paris_vol" -> (qParisAssignVol _),
    "j1_paris_vol_auto" -> (qParisAssignVolAuto _),
    "j7_radius_join" -> (qRadiusJoin _),
    "j7_radius_vol" -> (qRadiusJoinVol _))

  private def rectValues: String = urbanRects.map { case (id, n, l, x0, y0, x1, y1) =>
    s"('$id', '${n.replace("'", "''")}', $l, CAST($x0 AS DOUBLE), CAST($y0 AS DOUBLE), CAST($x1 AS DOUBLE), CAST($y1 AS DOUBLE))"
  }.mkString("(VALUES ", ", ", ")") +
    " AS a(area_id, area_name, admin_level, min_lng, min_lat, max_lng, max_lat)"

  private def poiValues: String = spatialPois.map { case (id, lat, lng) =>
    s"('$id', CAST($lat AS DOUBLE), CAST($lng AS DOUBLE))"
  }.mkString("(VALUES ", ", ", ")") + " AS p(poi_id, lat, lng)"

  /** The Paris-assignment replay as a parameterized CTE list over an
    * arbitrary point relation (`ptsSelect` must yield poi_id, lat, lng):
    * point generation → the SAME pinned ray-cast formula as j1_paris_real,
    * but with the ring exploded into an edges relation and the parity test
    * expressed as an equi-join + count(*) % 2 GROUP BY, which DuckDB
    * vectorizes (~1.3 s at 60k points vs ~97 s for the per-pair list-lambda
    * form). The bbox prefilter is INCLUSIVE (>=/<=) so it is a true superset
    * of containment even for points exactly on a bbox edge. The
    * smallest-area window replays assignViaCells' tie-break — NOTE the
    * coupling: its kernel, like bestPerLevel, breaks area ties by
    * (area, area_id, area_name) while this window orders by (area, area_name); they agree
    * because [[loadUrbanAreasJsonl]] sets area_id = name. If area_id ever
    * becomes a distinct OSM id, add it to this ORDER BY. Shared by
    * j1_paris_vol and the composed e2e pipeline oracle. */
  private[domain] def parisAssignCtes(ptsSelect: String): String =
    s"""areas0 AS (
       |  SELECT name AS area_name,
       |    CAST(properties.admin_level AS INTEGER) AS admin_level,
       |    geometry.coordinates[1] AS ring
       |  FROM read_json_auto('$ParisGeometryJsonl',
       |                      format='newline_delimited')),
       |areas AS (
       |  SELECT area_name, admin_level, ring,
       |    list_aggregate(list_transform(ring, p -> p[1]), 'min') AS min_lng,
       |    list_aggregate(list_transform(ring, p -> p[1]), 'max') AS max_lng,
       |    list_aggregate(list_transform(ring, p -> p[2]), 'min') AS min_lat,
       |    list_aggregate(list_transform(ring, p -> p[2]), 'max') AS max_lat,
       |    abs(list_sum(list_transform(range(len(ring) - 1),
       |      i -> ring[i+1][1] * ring[i+2][2] - ring[i+2][1] * ring[i+1][2]))) / 2.0 AS area
       |  FROM areas0),
       |edges AS (
       |  SELECT area_name, admin_level,
       |    ring[i+1][1] AS x1, ring[i+1][2] AS y1,
       |    ring[i+2][1] AS x2, ring[i+2][2] AS y2
       |  FROM areas, UNNEST(range(len(ring) - 1)) AS u(i)),
       |pts AS (
       |  $ptsSelect),
       |cand AS (
       |  SELECT p.poi_id, p.lat, p.lng, a.area_name, a.admin_level, a.area
       |  FROM pts p JOIN areas a
       |    ON p.lng >= a.min_lng AND p.lng <= a.max_lng
       |   AND p.lat >= a.min_lat AND p.lat <= a.max_lat),
       |contained AS (
       |  SELECT c.poi_id, c.area_name, c.admin_level, c.area
       |  FROM cand c JOIN edges e
       |    ON c.area_name = e.area_name AND c.admin_level = e.admin_level
       |  WHERE ((e.y1 > c.lat) != (e.y2 > c.lat))
       |    AND c.lng < (e.x1 - e.x2) * (c.lat - e.y2) / (e.y1 - e.y2) + e.x2
       |  GROUP BY c.poi_id, c.area_name, c.admin_level, c.area
       |  HAVING count(*) % 2 = 1),
       |best AS (
       |  SELECT *, row_number() OVER (PARTITION BY poi_id, admin_level
       |            ORDER BY area ASC, area_name ASC) AS rn
       |  FROM contained),
       |d AS (SELECT poi_id, area_name AS district_name FROM best
       |      WHERE admin_level = 9 AND rn = 1),
       |q AS (SELECT poi_id, area_name AS neighbourhood_name FROM best
       |      WHERE admin_level = 10 AND rn = 1)""".stripMargin

  /** One oracle text for both j1_paris_vol variants (manual assignViaCells
    * and the CellJoinRewrite auto path) — identical semantics. */
  private lazy val parisVolOracle: String =
    s"""WITH ${parisAssignCtes(s"""SELECT i AS poi_id,
       |    48.815 + (((i * 1500450271 + 123456789) % 4294967296) / 4294967296.0) * 0.087 AS lat,
       |    2.25 + (((i * 2654435761 + 987654321) % 4294967296) / 4294967296.0) * 0.17 AS lng
       |  FROM range($ParisVolN) t(i)""".stripMargin)}
       |SELECT p.poi_id, p.lat, p.lng, d.district_name, q.neighbourhood_name
       |FROM pts p LEFT JOIN d USING (poi_id) LEFT JOIN q USING (poi_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "j1_paris_real" ->
      // the same ray-cast over the same 98 real rings, as DuckDB list
      // lambdas (edge pairs (i+1, i+2) = the Scala loop's (current, prev);
      // the closed ring's wrap edge is degenerate and contributes nothing)
      s"""WITH areas AS (
        |  SELECT name AS area_name,
        |    CAST(properties.admin_level AS INTEGER) AS admin_level,
        |    geometry.coordinates[1] AS ring
        |  FROM read_json_auto('$ParisGeometryJsonl',
        |                      format='newline_delimited')),
        |lm(poi_id, lat, lng) AS (VALUES
        |  ('louvre', CAST(48.8606 AS DOUBLE), CAST(2.3376 AS DOUBLE)),
        |  ('eiffel', CAST(48.8584 AS DOUBLE), CAST(2.2945 AS DOUBLE)),
        |  ('sacre_coeur', CAST(48.8867 AS DOUBLE), CAST(2.3431 AS DOUBLE)),
        |  ('notre_dame', CAST(48.8530 AS DOUBLE), CAST(2.3499 AS DOUBLE)),
        |  ('pere_lachaise', CAST(48.8610 AS DOUBLE), CAST(2.3933 AS DOUBLE)),
        |  ('la_defense', CAST(48.8920 AS DOUBLE), CAST(2.2358 AS DOUBLE))),
        |contained AS (
        |  SELECT lm.poi_id, a.area_name, a.admin_level
        |  FROM lm, areas a
        |  WHERE len(list_filter(range(len(a.ring) - 1), i ->
        |      ((a.ring[i+2][2] > lm.lat) != (a.ring[i+1][2] > lm.lat))
        |      AND lm.lng < (a.ring[i+1][1] - a.ring[i+2][1]) * (lm.lat - a.ring[i+2][2])
        |                   / (a.ring[i+1][2] - a.ring[i+2][2]) + a.ring[i+2][1])) % 2 = 1),
        |d AS (SELECT poi_id, min(area_name) AS district_name
        |      FROM contained WHERE admin_level = 9 GROUP BY poi_id),
        |q AS (SELECT poi_id, min(area_name) AS neighbourhood_name
        |      FROM contained WHERE admin_level = 10 GROUP BY poi_id)
        |SELECT lm.poi_id, lm.lat, lm.lng, d.district_name, q.neighbourhood_name
        |FROM lm LEFT JOIN d USING (poi_id) LEFT JOIN q USING (poi_id)""".stripMargin,
    "j1_paris_vol_auto" -> parisVolOracle,
    "j1_paris_vol" -> parisVolOracle,
    "j7_radius_vol" ->
      // identical point generation and haversine replay as j7_radius_join,
      // at 60k points with the deterministic (distance, poi_id) top-1000
      s"""WITH pts AS (
         |  SELECT i AS poi_id,
         |    48.815 + (((i * 1500450271 + 123456789) % 4294967296) / 4294967296.0) * 0.087 AS lat,
         |    2.25 + (((i * 2654435761 + 987654321) % 4294967296) / 4294967296.0) * 0.17 AS lng
         |  FROM range($ParisVolN) t(i))
         |SELECT poi_id, lat, lng, distance_m FROM (
         |  SELECT poi_id, lat, lng,
         |    CAST(round(6371000.0 * 2.0 * atan2(
         |      sqrt(pow(sin(radians(48.86 - lat) / 2), 2)
         |        + cos(radians(lat)) * cos(radians(48.86))
         |        * pow(sin(radians(2.34 - lng) / 2), 2)),
         |      sqrt(1.0 - (pow(sin(radians(48.86 - lat) / 2), 2)
         |        + cos(radians(lat)) * cos(radians(48.86))
         |        * pow(sin(radians(2.34 - lng) / 2), 2)))), 4) AS DOUBLE) AS distance_m
         |  FROM pts)
         |WHERE distance_m <= 3000.0
         |ORDER BY distance_m ASC, poi_id ASC LIMIT 1000""".stripMargin,
    "j7_radius_join" ->
      s"""SELECT poi_id, lat, lng, distance_m FROM (
         |  SELECT poi_id, lat, lng,
         |    CAST(round(6371000.0 * 2.0 * atan2(
         |      sqrt(pow(sin(radians(48.86 - lat) / 2), 2)
         |        + cos(radians(lat)) * cos(radians(48.86))
         |        * pow(sin(radians(2.34 - lng) / 2), 2)),
         |      sqrt(1.0 - (pow(sin(radians(48.86 - lat) / 2), 2)
         |        + cos(radians(lat)) * cos(radians(48.86))
         |        * pow(sin(radians(2.34 - lng) / 2), 2)))), 4) AS DOUBLE) AS distance_m
         |  FROM $poiValues)
         |WHERE distance_m <= 5000.0
         |ORDER BY distance_m ASC, poi_id ASC LIMIT 3""".stripMargin,
    "j1_spatial_assign" ->
      s"""WITH contained AS (
         |  SELECT p.poi_id, p.lat, p.lng, a.area_name, a.admin_level,
         |    (a.max_lng - a.min_lng) * (a.max_lat - a.min_lat) AS area,
         |    a.area_id
         |  FROM $poiValues
         |  JOIN $rectValues
         |    ON p.lng > a.min_lng AND p.lng < a.max_lng
         |   AND p.lat > a.min_lat AND p.lat < a.max_lat),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY poi_id, admin_level
         |            ORDER BY area ASC, area_id ASC) AS rn
         |  FROM contained)
         |SELECT p.poi_id, p.lat, p.lng,
         |  (SELECT area_name FROM best b WHERE b.poi_id = p.poi_id
         |   AND b.admin_level = 9 AND b.rn = 1) AS district_name,
         |  (SELECT area_name FROM best b WHERE b.poi_id = p.poi_id
         |   AND b.admin_level = 10 AND b.rn = 1) AS neighbourhood_name
         |FROM $poiValues""".stripMargin)
}
