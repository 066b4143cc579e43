package graft

import org.scalatest.funsuite.AnyFunSuite
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
}
