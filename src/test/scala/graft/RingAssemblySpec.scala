package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.domain.{RingAssembly, Spatial}
import RingAssembly.Member

/** OSM ring assembly (extract_neighbourhoods.py:163-296) — unit + property
  * tests, plus the distributed ETL path reassembling the REAL 98 Paris rings
  * from shuffled/reversed segments. */
class RingAssemblySpec extends AnyFunSuite {

  private val square: Array[Array[Double]] = Array(
    Array(0.0, 0.0), Array(1.0, 0.0), Array(1.0, 1.0), Array(0.0, 1.0), Array(0.0, 0.0))

  /** Cut a closed ring into n contiguous segments (adjacent segments share
    * their junction point, like OSM ways sharing nodes). */
  private def segment(ring: Array[Array[Double]], cuts: Seq[Int]): Seq[Array[Array[Double]]] = {
    val bounds = (0 +: cuts :+ (ring.length - 1)).distinct.sorted
    bounds.sliding(2).map { case Seq(a, b) => ring.slice(a, b + 1) }.toSeq
  }

  test("single already-closed way passes through unchanged") {
    val out = RingAssembly.relationToRing(Seq(Member("outer", square)))
    assert(out.exists(_.sameElements(square)))
  }

  test("two segments connect; reversed segment attaches reversed") {
    val s1 = square.slice(0, 3) // (0,0)->(1,0)->(1,1)
    val s2 = square.slice(2, 5) // (1,1)->(0,1)->(0,0)
    assert(RingAssembly.assembleSingleRing(Seq(s1, s2)).exists(r =>
      r.length == 5 && RingAssembly.pointsEqual(r.head, r.last)))
    // same but the second segment stored in reverse orientation
    assert(RingAssembly.assembleSingleRing(Seq(s1, s2.reverse)).exists(r =>
      r.length == 5 && RingAssembly.pointsEqual(r.head, r.last)))
  }

  test("unconnectable / incomplete segment sets return None") {
    val s1 = square.slice(0, 3)
    val far = Array(Array(9.0, 9.0), Array(9.0, 8.0))
    assert(RingAssembly.assembleSingleRing(Seq(s1, far)).isEmpty)
    // degenerate: 2-point 'ring' closes to 3 points < 4 → invalid
    assert(RingAssembly.assembleSingleRing(
      Seq(Array(Array(0.0, 0.0), Array(1.0, 0.0)))).isEmpty)
    // no outer members
    assert(RingAssembly.relationToRing(Seq(Member("inner", square))).isEmpty)
  }

  test("property: segmented + reversed rings reassemble to the same polygon") {
    val rnd = new scala.util.Random(42)
    // a 12-gon around a center
    val n = 12
    val ring = (0 to n).map { i =>
      val a = 2 * math.Pi * (i % n) / n
      Array(2.0 + math.cos(a), 3.0 + math.sin(a))
    }.toArray
    for (trial <- 1 to 50) {
      val nCuts = 1 + rnd.nextInt(5)
      val cuts = Seq.fill(nCuts)(1 + rnd.nextInt(ring.length - 2)).distinct
      val segs0 = segment(ring, cuts)
      // keep the first segment first (the reference's greedy start) but
      // shuffle the rest and randomly reverse any segment
      val segs = segs0.head +: rnd.shuffle(segs0.tail.toList)
        .map(s => if (rnd.nextBoolean()) s.reverse else s)
      val out = RingAssembly.assembleSingleRing(segs)
      assert(out.isDefined, s"trial $trial failed to assemble")
      val r = out.get
      assert(RingAssembly.pointsEqual(r.head, r.last))
      // same vertex SET and same absolute area as the original
      assert(r.map(_.toSeq).toSet == ring.map(_.toSeq).toSet)
      assert(math.abs(math.abs(RingAssembly.signedArea(r))
        - math.abs(RingAssembly.signedArea(ring))) < 1e-9, s"trial $trial area")
    }
  }

  test("ETL path: real Paris rings reassemble from shuffled member segments") {
    val spark = Sessions.local(4)
    import spark.implicits._
    val jsonl = Spatial.ParisGeometryJsonl
    val areas = Spatial.loadUrbanAreasJsonl(spark, jsonl)
    val rows = areas.select("area_id", "area_name", "admin_level", "ring").collect()
    val rnd = new scala.util.Random(7)
    // decompose every ring into 1-4 member ways, reversing some — the shape
    // of raw Overpass relation members — then reassemble distributed
    val members = rows.flatMap { row =>
      val ring = row.getAs[collection.Seq[collection.Seq[Double]]]("ring")
        .map(_.toArray).toArray
      val nCuts = rnd.nextInt(4)
      val cuts = Seq.fill(nCuts)(1 + rnd.nextInt(math.max(1, ring.length - 2))).distinct
      val segs = segment(ring, cuts)
      segs.zipWithIndex.map { case (s, i) =>
        val g = if (i > 0 && rnd.nextBoolean()) s.reverse else s
        (row.getString(0), row.getString(1), row.getInt(2), i,
          "outer", g.map(_.toSeq).toSeq)
      }
    }.toSeq
    val membersDf = members.toDF("area_id", "area_name", "admin_level", "seq", "role", "geometry")
    val assembled = Spatial.assembleRelations(membersDf, spark)
    assert(assembled.count() == 98, "all 98 relations must reassemble")
    // assembled geometry must behave identically: landmark containment
    val pois = Seq(
      ("louvre", 48.8606, 2.3376),
      ("eiffel", 48.8584, 2.2945)).toDF("poi_id", "lat", "lng")
    val out = Spatial.assign(pois, assembled, spark).collect()
      .map(r => r.getString(0) -> Option(r.getString(3))).toMap
    assert(out("louvre").contains("Paris 1er Arrondissement"))
    assert(out("eiffel").contains("Paris 7e Arrondissement"))
  }
}
