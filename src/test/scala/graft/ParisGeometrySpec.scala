package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.domain.Spatial

/** J1 against the REAL Paris geometry shipped with the reference (98 zones,
  * neighbourhoods_paris.jsonl): landmark containment, full-city coverage, and
  * broadcast-vs-cell-prefilter parity at production polygon counts. */
class ParisGeometrySpec extends AnyFunSuite {

  lazy val spark = Sessions.local(4)
  private val jsonl = Spatial.ParisGeometryJsonl

  private lazy val areas = Spatial.loadUrbanAreasJsonl(spark, jsonl)

  test("ETL: 98 zones, 20 arrondissements + 78 quartiers, valid rings") {
    val rows = areas.collect()
    assert(rows.length == 98)
    assert(rows.count(_.getAs[Int]("admin_level") == 9) == 20)
    assert(rows.count(_.getAs[Int]("admin_level") == 10) == 78)
    assert(rows.forall(_.getAs[Seq[Seq[Double]]]("ring").length >= 4))
    assert(rows.forall(_.getAs[Double]("area") > 0.0))
  }

  test("landmark containment: Louvre, Eiffel, Sacré-Cœur districts") {
    import spark.implicits._
    val pois = Seq(
      ("louvre", 48.8606, 2.3376),
      ("eiffel", 48.8584, 2.2945),
      ("sacre_coeur", 48.8867, 2.3431),
      ("versailles", 48.8049, 2.1204)) // outside Paris
      .toDF("poi_id", "lat", "lng")
    val out = Spatial.assign(pois, areas, spark).collect()
      .map(r => r.getString(0) -> (Option(r.getString(3)), Option(r.getString(4)))).toMap
    assert(out("louvre")._1.contains("Paris 1er Arrondissement"))
    assert(out("eiffel")._1.contains("Paris 7e Arrondissement"))
    assert(out("sacre_coeur")._1.contains("Paris 18e Arrondissement"))
    assert(out("louvre")._2.isDefined && out("eiffel")._2.isDefined,
      "central landmarks must also get a quartier")
    assert(out("versailles") == ((None, None)))
  }

  test("broadcast and cell-prefilter paths agree on a Paris-wide lattice") {
    import spark.implicits._
    val pts = for {
      i <- 0 until 30
      j <- 0 until 15
    } yield (s"g$i-$j", 48.815 + i * 0.003, 2.23 + j * 0.016)
    val pois = pts.toDF("poi_id", "lat", "lng")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), Option(r.getString(3)), Option(r.getString(4)))).toSet
    val direct = canon(Spatial.assign(pois, areas, spark))
    val viaCells = canon(Spatial.assignViaCells(pois, areas, spark))
    assert(direct == viaCells)
    // sanity: a good share of the lattice lands inside the city
    assert(direct.count(_._2.isDefined) > 100)
  }
}
