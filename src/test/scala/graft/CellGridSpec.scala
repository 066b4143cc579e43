package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.expr.{CellGrid, TextAlgo}

/** Hexagonal-grid invariants (aperture-7, h3_scheduler.py contract). */
class CellGridSpec extends AnyFunSuite {

  private val parisLat = 48.8566
  private val parisLng = 2.3522

  test("radii follow the reference contract 420/220/110 and cover the hex") {
    assert(CellGrid.radiusMeters(9) == 420.0)
    assert(CellGrid.radiusMeters(10) == 220.0)
    assert(CellGrid.radiusMeters(11) == 110.0)
    // a scan at the contract radius always covers its whole cell
    for (res <- 9 to 11)
      assert(CellGrid.circumradiusMeters(res) <= CellGrid.radiusMeters(res))
  }

  test("roundtrip: cell center is within circumradius of original point") {
    for (res <- 9 to 11) {
      val cell = CellGrid.latLngToCell(parisLat, parisLng, res)
      val (clat, clng) = CellGrid.cellToLatLng(cell)
      val d = TextAlgo.haversineMeters(parisLat, parisLng, clat, clng)
      assert(d <= CellGrid.circumradiusMeters(res) + 1)
      assert(CellGrid.cellRes(cell) == res)
      // the center maps back to its own cell
      assert(CellGrid.latLngToCell(clat, clng, res) == cell)
    }
  }

  test("children: exactly 7 (aperture 7), distinct, exact parent roundtrip") {
    for (res <- 9 to 10; dLat <- Seq(0.0, 0.02, -0.03); dLng <- Seq(0.0, 0.04)) {
      val cell = CellGrid.latLngToCell(parisLat + dLat, parisLng + dLng, res)
      val kids = CellGrid.cellToChildren(cell)
      assert(kids.length == 7)
      assert(kids.distinct.length == 7)
      kids.foreach { k =>
        assert(CellGrid.cellRes(k) == res + 1)
        assert(CellGrid.cellToParent(k) == cell)
      }
      // center child sits at the parent's center
      val (plat, plng) = CellGrid.cellToLatLng(cell)
      assert(CellGrid.latLngToCell(plat, plng, res + 1) == kids.head)
      // children centers lie within the parent's circumradius + child's
      kids.foreach { k =>
        val (klat, klng) = CellGrid.cellToLatLng(k)
        val d = TextAlgo.haversineMeters(plat, plng, klat, klng)
        assert(d <= CellGrid.circumradiusMeters(res) + CellGrid.circumradiusMeters(res + 1))
      }
    }
  }

  test("neighbors: 6 distinct cells at same res, all adjacent (~edge*sqrt(3))") {
    val cell = CellGrid.latLngToCell(parisLat, parisLng, 9)
    val ns = CellGrid.neighbors(cell)
    assert(ns.length == 6 && ns.distinct.length == 6 && !ns.contains(cell))
    val (clat, clng) = CellGrid.cellToLatLng(cell)
    // hex center spacing = circumradius * sqrt(3)
    val spacing = CellGrid.circumradiusMeters(9) * math.sqrt(3.0)
    ns.foreach { n =>
      assert(CellGrid.cellRes(n) == 9)
      val (nlat, nlng) = CellGrid.cellToLatLng(n)
      val d = TextAlgo.haversineMeters(clat, clng, nlat, nlng)
      assert(math.abs(d - spacing) < spacing * 0.02, s"$n at $d vs $spacing")
    }
  }

  test("hex partition: nearby points map to exactly one cell; no gaps") {
    // sample a dense lattice of points; each maps to a cell whose center is
    // within the circumradius (containment), proving gap-free tiling
    for (res <- 9 to 11; i <- -10 to 10; j <- -10 to 10) {
      val lat = parisLat + i * 0.0013
      val lng = parisLng + j * 0.0019
      val cell = CellGrid.latLngToCell(lat, lng, res)
      val (clat, clng) = CellGrid.cellToLatLng(cell)
      val d = TextAlgo.haversineMeters(lat, lng, clat, clng)
      assert(d <= CellGrid.circumradiusMeters(res) + 1, s"res=$res ($lat,$lng) d=$d")
    }
  }

  test("determinism: same input → same cell id") {
    assert(CellGrid.latLngToCell(parisLat, parisLng, 9)
      == CellGrid.latLngToCell(parisLat, parisLng, 9))
  }

  test("polygonToCells covers a city-bbox-sized polygon with hexes") {
    // ~Paris bbox as a ring of (lng, lat): ~18 km x ~9.7 km ≈ 175 km²
    val ring = Array(
      Array(2.224, 48.815), Array(2.470, 48.815),
      Array(2.470, 48.902), Array(2.224, 48.902), Array(2.224, 48.815))
    val cells = CellGrid.polygonToCells(ring, 9)
    // hex area at res 9 = 3√3/2 · 420² ≈ 0.458 km² → ~382 interior cells
    assert(cells.nonEmpty && cells.length > 250 && cells.length < 520,
      s"got ${cells.length}")
    assert(cells.distinct.length == cells.length)
    // every returned cell center is inside the ring
    cells.foreach { c =>
      val (lat, lng) = CellGrid.cellToLatLng(c)
      assert(TextAlgo.pointInRing(lng, lat, ring))
    }
    // aperture 7 refines: ~7x the cells
    val cells10 = CellGrid.polygonToCells(ring, 10)
    assert(cells10.length > 6 * cells.length && cells10.length < 8 * cells.length,
      s"res10=${cells10.length} vs res9=${cells.length}")
  }

  test("polygonCover: superset of interior-point cells, tighter than bbox") {
    // a long DIAGONAL sliver — the worst case for a bbox prefilter
    val ring = Array(
      Array(2.250, 48.820), Array(2.262, 48.824),
      Array(2.450, 48.894), Array(2.438, 48.890), Array(2.250, 48.820))
    for (res <- 9 to 11) {
      val cover = CellGrid.polygonCover(ring, res).toSet
      // every interior sample point's cell is in the cover
      for (t <- 0 to 60; s <- 1 to 3) {
        val f = t / 60.0
        val base = (2.250 + (2.450 - 2.250) * f, 48.820 + (48.894 - 48.820) * f)
        val off = ((2.262 - 2.250) * s / 4.0, (48.824 - 48.820) * s / 4.0)
        val (lng, lat) = (base._1 + off._1, base._2 + off._2)
        if (TextAlgo.pointInRing(lng, lat, ring))
          assert(cover.contains(CellGrid.latLngToCell(lat, lng, res)),
            s"res=$res point ($lat,$lng) not covered")
      }
      val lngs = ring.map(_(0)); val lats = ring.map(_(1))
      val bbox = CellGrid.bboxCover(lats.min, lats.max, lngs.min, lngs.max, res)
      assert(cover.size < bbox.length / 2,
        s"res=$res polygon cover ${cover.size} not tighter than bbox ${bbox.length}")
    }
  }

  test("CellInterop: H3-keyed rows re-key to engine cells and equi-join") {
    val spark = Sessions.local(2)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // external table keyed by (opaque) H3 ids, carrying the cell/entity point
    // — the shape an `ingestion_cell_h3` export with h3.cell_to_latlng gives
    val external = Seq(
      ("8b1fb46622dcfff", 48.8606, 2.3376, 11, 42),
      ("8b1fb46622d8fff", 48.8607, 2.3377, 11, 7),   // same neighborhood point
      ("8b1fb4662a31fff", 48.8867, 2.3431, 11, 99))
      .toDF("h3", "lat", "lng", "res", "payload")
    val rekeyed = graft.ops.CellInterop.rekeyFromPoint(
      external, col("lat"), col("lng"), col("res"))
    val keys = rekeyed.select("h3", "cell").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // engine key is re-derived index math: same as cell_of on the raw point
    keys.foreach { case (_, cell) => assert(cell.startsWith("h11:")) }
    assert(keys("8b1fb46622dcfff") ==
      CellGrid.latLngToCell(48.8606, 2.3376, 11))
    // re-keyed external data equi-joins engine-keyed data on the cell id
    val engineSide = Seq(("louvre", 48.8606, 2.3376)).toDF("poi_id", "lat", "lng")
      .withColumn("cell", graft.expr.functions.cell_of(col("lat"), col("lng"), lit(11)))
    val joined = rekeyed.join(engineSide, Seq("cell")).select("poi_id", "payload").collect()
    // both external rows 10 m apart share the louvre's 110 m res-11 cell;
    // the distant sacre-coeur row must not join
    assert(joined.map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("louvre", 42), ("louvre", 7)))
    // coarser target res groups nearby points into one bucket
    val coarse = graft.ops.CellInterop.rekeyToRes(external, col("lat"), col("lng"), 9)
      .select("cell").collect().map(_.getString(0))
    assert(coarse.forall(_.startsWith("h9:")))
    assert(coarse(0) == coarse(1), "near-identical points share the res-9 bucket")
  }

  test("bboxCover is a superset of the cells of points inside the bbox") {
    val (latMin, latMax, lngMin, lngMax) = (48.84, 48.87, 2.33, 2.37)
    for (res <- 9 to 11) {
      val cover = CellGrid.bboxCover(latMin, latMax, lngMin, lngMax, res).toSet
      for (i <- 0 to 12; j <- 0 to 12) {
        val lat = latMin + (latMax - latMin) * i / 12.0
        val lng = lngMin + (lngMax - lngMin) * j / 12.0
        assert(cover.contains(CellGrid.latLngToCell(lat, lng, res)))
      }
    }
  }

  test("scanline fill equals per-center geographic containment (Paris rings)") {
    // the scanline computes crossing parity along projected lattice columns;
    // this sweeps every cover cell of every real Paris ring at two
    // resolutions and asserts the emitted set is EXACTLY the cells whose
    // center passes the geographic ray-cast — the reference semantics the
    // old per-cell implementation evaluated directly
    val spark = graft.Sessions.local(4)
    val rings = graft.domain.Spatial.loadUrbanAreasJsonl(spark,
      graft.domain.Spatial.ParisGeometryJsonl)
      .select("ring").collect()
      .map(_.getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray)
    assert(rings.length == 98)
    var diverged = 0
    for (res <- 11 to 12; ring <- rings) {
      val flagged = CellGrid.polygonCoverFlagged(ring, res)
      val scan = CellGrid.polygonToCells(ring, res).toSet
      val band = flagged.filter(!_._2).map(_._1).toSet // non-interior cover
      val expected = flagged.map(_._1).filter { c =>
        val (lat, lng) = CellGrid.cellToLatLng(c)
        TextAlgo.pointInRing(lng, lat, ring)
      }.toSet
      // parity may disagree with the geographic ray-cast ONLY within float
      // epsilon of the boundary — such centers sit in boundary-crossed
      // cells, which the band keeps in the cover with interior=false, so
      // results are unaffected. Anywhere else the two must agree exactly.
      val diff = (scan -- expected) ++ (expected -- scan)
      diverged += diff.size
      assert(diff.forall(band.contains),
        s"res=$res non-band divergence: ${(diff -- band).take(3)}")
      assert(diff.size <= 2, s"res=$res ${diff.size} divergent cells: ${diff.take(5)}")
    }
    info(s"boundary-epsilon divergences across 98 rings x 2 res: $diverged")
  }
}
