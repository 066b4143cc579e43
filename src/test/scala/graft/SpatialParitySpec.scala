package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import graft.domain.Spatial

/** The cell-prefilter spatial join must produce byte-identical assignments to
  * the broadcast ray-cast path — it's the same operator behind a different
  * physical strategy (SURVEY §4 item 2). */
class SpatialParitySpec extends AnyFunSuite {

  lazy val spark = Sessions.local(4)

  private def collectAssign(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0),
      Option(r.getString(3)), Option(r.getString(4)))).toSet

  test("assignViaCells == assign on the fixture") {
    val pois = Spatial.spatialPoisDf(spark)
    val areas = Spatial.areasDf(spark)
    val direct = collectAssign(Spatial.assign(pois, areas, spark))
    for (res <- 9 to 11) {
      val viaCells = collectAssign(Spatial.assignViaCells(pois, areas, spark, res))
      assert(viaCells == direct, s"divergence at res $res")
    }
  }

  test("assignViaCells == assign on a denser random grid of points") {
    import spark.implicits._
    // deterministic lattice of points across and around the fixture rects
    val pts = for {
      i <- 0 until 40
      j <- 0 until 20
    } yield (s"g$i-$j", 48.845 + i * 0.002, 2.295 + j * 0.004)
    val pois = pts.toDF("poi_id", "lat", "lng")
    val areas = Spatial.areasDf(spark)
    val direct = collectAssign(Spatial.assign(pois, areas, spark))
    val viaCells = collectAssign(Spatial.assignViaCells(pois, areas, spark))
    assert(viaCells == direct)
  }

  private lazy val parisAreas =
    Spatial.loadUrbanAreasJsonl(spark, Spatial.ParisGeometryJsonl)

  test("cell prefilter PRUNES at volume: candidates << points x areas") {
    // the 100 TB claim of the cell path (SURVEY §4 item 2): the equi-join on
    // cell id must reduce exact ray-cast work to a few candidates per point,
    // not the |points|x98 cross product the broadcast path evaluates
    val pois = Spatial.volPoints(spark, Spatial.ParisVolN)
    val candidates = Spatial.cellCandidates(pois, parisAreas, 11).count()
    val crossProduct = Spatial.ParisVolN.toLong * parisAreas.count()
    assert(candidates < crossProduct / 20,
      s"prefilter barely prunes: $candidates candidates vs $crossProduct cross product")
    // and it must not DROP anybody: every point that the exact test accepts
    // appears among the candidates (soundness comes from parity below)
    assert(candidates >= Spatial.ParisVolN * 3 / 4,
      s"suspiciously few candidates ($candidates) — cover may be missing cells")
  }

  test("assignViaCells == assign on a volume sample over the real 98 rings") {
    // 2k-point subsample through BOTH physical paths over the real geometry:
    // the cell cover (center + boundary band) must not lose boundary points
    val pois = Spatial.volPoints(spark, 2000)
    val direct = collectAssign2(Spatial.assign(pois, parisAreas, spark))
    val viaCells = collectAssign2(Spatial.assignViaCells(pois, parisAreas, spark))
    assert(viaCells == direct)
  }

  private def collectAssign2(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0),
      Option(r.getString(3)), Option(r.getString(4)))).toSet

  // ------------------------------------------ generated polygons, no Paris

  private type Ring = Seq[Seq[Double]]

  private def rect(x0: Double, y0: Double, x1: Double, y1: Double): Ring =
    Seq(Seq(x0, y0), Seq(x1, y0), Seq(x1, y1), Seq(x0, y1), Seq(x0, y0))

  /** The areas relation of (area_id, area_name, admin_level, ring), with
    * the degree² tie-break area of [[Spatial.ringArea]]. */
  private def areasOf(polys: Seq[(String, String, Int, Ring)]): DataFrame = {
    import spark.implicits._
    polys.map { case (id, name, lvl, ring) =>
      (id, name, lvl, ring, Spatial.ringArea(ring.map(_.toArray).toArray))
    }.toDF("area_id", "area_name", "admin_level", "ring", "area")
  }

  private def poisOf(pts: Seq[(String, Option[Double], Option[Double])]): DataFrame = {
    import spark.implicits._
    pts.toDF("poi_id", "lat", "lng")
  }

  /** Rows as (poi_id, lat, lng, district, neighbourhood), sorted. */
  private def rowsOf(df: DataFrame): Seq[(String, Option[Double], Option[Double], Option[String], Option[String])] =
    df.collect().toSeq.map { r =>
      def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (r.getString(0), d(1), d(2), Option(r.getString(3)), Option(r.getString(4)))
    }.sortBy(r => (r._1, r._2.toString, r._3.toString))

  /** A jittered 6 × 4 lattice of quadrilateral quartiers (level 10) under
    * 2 × 2-quartier districts (level 9) near the grid origin, about 400 m
    * a quartier: neighbours share their edges vertex for vertex. */
  private val lattice: Array[Array[(Double, Double)]] = {
    val r = new scala.util.Random(42)
    Array.tabulate(7, 5) { (i, j) =>
      val jit = if (i == 0 || i == 6 || j == 0 || j == 4) 0.0 else 1.0
      (2.33 + 0.005 * i + jit * (r.nextDouble() - 0.5) * 0.002,
        48.85 + 0.004 * j + jit * (r.nextDouble() - 0.5) * 0.0015)
    }
  }

  private val latticePolys: Seq[(String, String, Int, Ring)] = {
    def ring(pts: Seq[(Int, Int)]): Ring =
      (pts :+ pts.head).map { case (i, j) => Seq(lattice(i)(j)._1, lattice(i)(j)._2) }
    val hoods = for (i <- 0 until 6; j <- 0 until 4) yield
      (s"n$i-$j", s"Quartier $i-$j", 10, ring(Seq((i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1))))
    val districts = for (i <- 0 until 3; j <- 0 until 2) yield {
      val (x, y) = (2 * i, 2 * j)
      (s"d$i-$j", s"District $i-$j", 9, ring(Seq((x, y), (x + 1, y), (x + 2, y),
        (x + 2, y + 1), (x + 2, y + 2), (x + 1, y + 2), (x, y + 2), (x, y + 1))))
    }
    districts ++ hoods
  }

  /** Random points over and around the lattice, and every lattice vertex
    * (a corner shared by up to four quartiers). */
  private val latticePts: Seq[(String, Option[Double], Option[Double])] = {
    val r = new scala.util.Random(7)
    val random = (0 until 600).map(k => (s"p$k", Some(48.846 + r.nextDouble() * 0.024),
      Some(2.326 + r.nextDouble() * 0.038)))
    val vertices = for (i <- 0 to 6; j <- 0 to 4) yield
      (s"v$i-$j", Some(lattice(i)(j)._2), Some(lattice(i)(j)._1))
    random ++ vertices
  }

  private def assertParity(pois: DataFrame, areas: DataFrame, res: Int = 0): Unit = {
    val direct = rowsOf(Spatial.assign(pois, areas, spark))
    val viaCells = rowsOf(Spatial.assignViaCells(pois, areas, spark, res))
    assert(viaCells == direct, s"divergence at res $res: ${viaCells.diff(direct).take(5)}")
  }

  test("assignViaCells == assign on a generated lattice with shared edges, res 11, 12 and 13") {
    val areas = areasOf(latticePolys)
    val pois = poisOf(latticePts)
    // the lattice is a real test only if both levels name points
    val named = rowsOf(Spatial.assign(pois, areas, spark))
    assert(named.count(_._4.isDefined) > 300 && named.count(_._5.isDefined) > 300)
    assertParity(pois, areas)
    for (res <- 11 to 13) assertParity(pois, areas, res)
  }

  test("assignViaCells == assign on points exactly on a shared edge and outside every polygon") {
    // two axis-aligned quartiers share the edge lng = 2.335 under one
    // district; points sit on that edge, on its end corners, on the outer
    // edges and outside all three polygons
    val areas = areasOf(Seq(
      ("w", "West", 10, rect(2.330, 48.850, 2.335, 48.854)),
      ("e", "East", 10, rect(2.335, 48.850, 2.340, 48.854)),
      ("d", "District", 9, rect(2.330, 48.850, 2.340, 48.854))))
    val onEdge = (0 to 40).map(k => (s"edge$k", Some(48.850 + k * 0.0001), Some(2.335)))
    val border = Seq(("sw", 48.850, 2.330), ("ne", 48.854, 2.340), ("top", 48.854, 2.3372),
      ("bottom", 48.850, 2.3321), ("left", 48.852, 2.330), ("right", 48.852, 2.340))
      .map { case (id, la, lo) => (id, Some(la), Some(lo)) }
    val outside = Seq(("north", 48.860, 2.335), ("far", 40.0, -3.0), ("west", 48.852, 2.3299))
      .map { case (id, la, lo) => (id, Some(la), Some(lo)) }
    val pois = poisOf(onEdge ++ border ++ outside)
    for (res <- Seq(0, 11, 12, 13)) assertParity(pois, areas, res)
    val got = rowsOf(Spatial.assignViaCells(pois, areas, spark)).map(r => r._1 -> (r._4, r._5)).toMap
    Seq("north", "far", "west").foreach(id => assert(got(id) == ((None, None)), id))
  }

  test("assignViaCells == assign with null coordinates: null names, row kept") {
    val areas = areasOf(latticePolys)
    val pois = poisOf(Seq(("nlat", None, Some(2.34)), ("nlng", Some(48.855), None),
      ("both", None, None), ("in", Some(48.855), Some(2.34))))
    assertParity(pois, areas)
    val got = rowsOf(Spatial.assignViaCells(pois, areas, spark))
    assert(got.map(_._1) == Seq("both", "in", "nlat", "nlng"))
    assert(got.filter(_._1 != "in").forall(r => r._4.isEmpty && r._5.isEmpty), got)
    assert(got.find(_._1 == "in").exists(r => r._4.isDefined && r._5.isDefined), got)
  }

  test("equal-area overlaps: area_id decides in UTF-8 byte order, as min(struct) does") {
    // U+FFFD sorts after a surrogate pair in UTF-16 (String.compareTo) but
    // before it in UTF-8 bytes; Spark orders strings by their bytes
    val (bmp, astral) = ("\uFFFD", "\uD83D\uDE00")
    assert(bmp.compareTo(astral) > 0)
    val sq = rect(2.330, 48.850, 2.335, 48.854)
    val areas = areasOf(Seq(
      (astral, "Astral", 10, sq), (bmp, "Replacement", 10, sq),
      ("b", "B", 9, sq), ("a", "A", 9, sq),
      // a shifted copy of equal size overlaps both on its west half
      ("c", "Shifted", 10, rect(2.3325, 48.850, 2.3375, 48.854))))
    val pois = poisOf(Seq(("west", Some(48.852), Some(2.331)), ("mid", Some(48.852), Some(2.334)),
      ("east", Some(48.852), Some(2.336))))
    for (res <- Seq(0, 11, 13)) assertParity(pois, areas, res)
    val got = rowsOf(Spatial.assignViaCells(pois, areas, spark)).map(r => r._1 -> (r._4, r._5)).toMap
    assert(got("west") == ((Some("A"), Some("Replacement"))))
    assert(got("east") == ((None, Some("Shifted"))))
  }

  test("coverCellBudget on both sides of a resolution step: same answers, other resolution") {
    val areas = areasOf(latticePolys)
    val pois = poisOf(latticePts)
    val rings = latticePolys.map(_._4.map(_.toArray).toArray)
    val step = Spatial.medianAreaM2(rings).get / graft.expr.CellGrid.hexAreaM2(12)
    val key = "spark.graft.spatial.coverCellBudget"
    try {
      for ((budget, res) <- Seq((step * 0.99, 11), (step * 1.01, 12))) {
        spark.conf.set(key, budget.toString)
        assert(Spatial.adaptiveCoverRes(areas) == res, s"budget $budget")
        assertParity(pois, areas)
      }
    } finally spark.conf.unset(key)
  }

  test("the cover-resolution median interpolates exactly as Spark's percentile") {
    import spark.implicits._
    for (n <- Seq(1, 2, 5, 30)) {
      val rings = latticePolys.take(n).map(_._4.map(_.toArray).toArray)
      val m2 = rings.map(r => Spatial.medianAreaM2(Seq(r)).get)
      val spk = m2.toDF("m2").agg(expr("percentile(m2, 0.5)")).first().getDouble(0)
      assert(Spatial.medianAreaM2(rings).get == spk, s"n = $n")
    }
    assert(Spatial.medianAreaM2(Seq.empty).isEmpty)
  }

  test("a poi_id repeated at different coordinates: assignViaCells answers per row, assign per id") {
    val areas = areasOf(latticePolys)
    val at = Seq((48.8515, 2.3315), (48.8645, 2.3585))
    val repeated = poisOf(at.map { case (la, lo) => ("same", Some(la), Some(lo)) })
    val distinct = poisOf(at.zipWithIndex.map { case ((la, lo), i) => (s"own$i", Some(la), Some(lo)) })
    val perRow = rowsOf(Spatial.assign(distinct, areas, spark)).map(r => (r._4, r._5))
    assert(perRow.distinct.size == 2 && perRow.forall(r => r._1.isDefined && r._2.isDefined))
    val viaCells = rowsOf(Spatial.assignViaCells(repeated, areas, spark))
    assert(viaCells.map(r => (r._4, r._5)) == perRow)
    // the key join of assign gives both rows the smallest area over both
    val perId = rowsOf(Spatial.assign(repeated, areas, spark)).map(r => (r._4, r._5))
    assert(perId.distinct.size == 1 && perId.size == 2, perId)
  }
}
