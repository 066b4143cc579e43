package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Explode, Inline}
import graft.domain.Spatial
import graft.expr.Expressions.{PointInRing, PolygonCoverFlagged}
import graft.plans.CellJoinRewrite

/** The automatic spatial plan rewrite (SURVEY §4 item 2 / VERDICT r9 item 4):
  * callers writing the NATURAL predicate join — `assign`, or plain SQL
  * `ON point_in_ring(lng, lat, ring)` — must get the cell-prefilter
  * equi-join shape when the point side is non-tiny, with results identical
  * to both the nested loop and the manual assignViaCells path. */
class CellJoinRewriteSpec extends AnyFunSuite {

  lazy val spark = Sessions.local(4)

  private lazy val parisAreas =
    Spatial.loadUrbanAreasJsonl(spark, Spatial.ParisGeometryJsonl)

  private def planOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan

  test("interior-flagged candidate cells imply exact containment (ray-cast skip sound)") {
    // r21 optimization: the cell-join paths test `interior OR point_in_ring`
    // — sound only if EVERY interior-flagged (point, area) candidate is
    // genuinely contained. Sweep all 60k vol points against the 98 real
    // Paris rings: zero interior candidates may fail the exact ray-cast,
    // and the skip must be material (interior candidates dominate, or the
    // optimization is dead weight).
    val cands = Spatial.cellCandidates(
      Spatial.volPoints(spark, Spatial.ParisVolN), parisAreas, 11)
    val agg = cands.agg(
      sum(when(col("cell_interior") && !graft.expr.functions.point_in_ring(
        col("lng"), col("lat"), col("ring")), 1L).otherwise(0L)).as("bad"),
      sum(when(col("cell_interior"), 1L).otherwise(0L)).as("interior"),
      count(lit(1)).as("total")).head()
    assert(agg.getLong(0) == 0L,
      s"${agg.getLong(0)} interior-flagged candidates fail the exact ray-cast")
    // measured 42% at res 11 over the Paris rings (the band is ~1 cell wide,
    // so the fraction grows with polygon area relative to cell size)
    assert(agg.getLong(1) * 3 > agg.getLong(2),
      s"interior skip not material: ${agg.getLong(1)} of ${agg.getLong(2)}")
  }

  test("non-tiny point_in_ring join rewrites to the cell-cover equi-join shape") {
    val pts = Spatial.volPoints(spark, Spatial.ParisVolN)
    val plan = planOf(Spatial.assign(pts, parisAreas, spark))
    // the manual assignViaCells shape: a cover explode on the areas side...
    val gens = plan.collect {
      case g @ Generate(Inline(_: PolygonCoverFlagged), _, _, _, _, _) => g
    }
    assert(gens.nonEmpty, s"no polygon-cover Generate in the rewritten plan:\n$plan")
    // ...and every point_in_ring join now carries a cell equi-condition, so
    // the planner sees a hash-joinable key instead of a pure theta join
    val joins = plan.collect { case jn: Join => jn }
    assert(joins.nonEmpty)
    joins.foreach { jn =>
      val cond = jn.condition.get
      val hasPir = cond.exists(_.isInstanceOf[PointInRing])
      val hasEq = cond.exists(_.isInstanceOf[EqualTo])
      assert(!hasPir || hasEq,
        s"point_in_ring join left as a pure nested loop:\n$plan")
    }
  }

  test("tiny point side keeps the broadcast nested loop (no cover overhead)") {
    val plan = planOf(Spatial.assign(Spatial.spatialPoisDf(spark),
      Spatial.areasDf(spark), spark))
    assert(plan.collect { case g: Generate => g }.isEmpty,
      s"4-row fixture should not pay the cover machinery:\n$plan")
  }

  test("pure-SQL point_in_ring join is rewritten too (the SQL-surface path)") {
    // the rule's stated beneficiary: spark.sql users writing the natural
    // predicate, with the function coming from the GraftExtensions
    // injection — no Scala API, no manual assignViaCells
    Spatial.volPoints(spark, Spatial.ParisVolN).createOrReplaceTempView("pts_sql")
    parisAreas.createOrReplaceTempView("areas_sql")
    try {
      val df = spark.sql(
        """SELECT p.poi_id, a.area_name
          |FROM pts_sql p JOIN areas_sql a
          |  ON point_in_ring(p.lng, p.lat, a.ring)""".stripMargin)
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect {
        case g @ Generate(Inline(_: PolygonCoverFlagged), _, _, _, _, _) => g
      }.nonEmpty, s"SQL-surface join not rewritten:\n$plan")
    } finally {
      spark.catalog.dropTempView("pts_sql")
      spark.catalog.dropTempView("areas_sql")
    }
  }

  test("point_in_ring as one conjunct of a larger ON clause still rewrites, same results") {
    val pts = Spatial.volPoints(spark, 4000)
    def joined = pts.join(parisAreas,
      graft.expr.functions.point_in_ring(col("lng"), col("lat"), col("ring")) &&
        col("admin_level") === 9)
      .select(col("poi_id"), col("area_name"))
    // forced on (sub-threshold sample): the conjunction must rewrite...
    spark.conf.set(CellJoinRewrite.MinBytesKey, "1")
    val (rewrittenPlan, rewrittenRows) =
      try (planOf(joined), joined.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
      finally spark.conf.unset(CellJoinRewrite.MinBytesKey)
    assert(rewrittenPlan.collect {
      case g @ Generate(Inline(_: PolygonCoverFlagged), _, _, _, _, _) => g
    }.nonEmpty, s"conjunctive ON clause not rewritten:\n$rewrittenPlan")
    // ...and agree with the un-rewritten nested loop
    spark.conf.set(CellJoinRewrite.MinBytesKey, Long.MaxValue.toString)
    val nested = try joined.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    finally spark.conf.unset(CellJoinRewrite.MinBytesKey)
    assert(rewrittenRows == nested && rewrittenRows.nonEmpty)
  }

  test("mirrored orientation (areas on the left) is rewritten symmetrically") {
    val pts = Spatial.volPoints(spark, Spatial.ParisVolN)
    val plan = planOf(parisAreas.join(pts,
      graft.expr.functions.point_in_ring(col("lng"), col("lat"), col("ring"))))
    assert(plan.collect {
      case g @ Generate(Inline(_: PolygonCoverFlagged), _, _, _, _, _) => g
    }.nonEmpty, s"mirrored join not rewritten:\n$plan")
  }

  test("non-deterministic point args keep the nested loop (no double evaluation)") {
    // the rewrite would evaluate lat/lng once in the injected cell Project
    // and again in the retained join condition — divergent draws for a
    // non-deterministic arg, silently dropping/duplicating rows
    // the analyzer rejects non-deterministic join conditions outright
    // (INVALID_NON_DETERMINISTIC_EXPRESSIONS), so the guard is unreachable
    // through the DataFrame/SQL surface — exercise the rule directly on a
    // hand-built Join node (the shape a custom plan builder could feed it)
    import org.apache.spark.sql.catalyst.expressions.{Add, Multiply, Rand, Literal}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
    val ptsPlan = Spatial.volPoints(spark, Spatial.ParisVolN).queryExecution.analyzed
    val areasPlan = parisAreas.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    val cond = graft.expr.Expressions.PointInRing(
      Add(a(ptsPlan, "lng"), Multiply(Rand(Literal(7L)), Literal(1e-9))),
      a(ptsPlan, "lat"), a(areasPlan, "ring"))
    val join = LJoin(ptsPlan, areasPlan, Inner, Some(cond), JoinHint.NONE)
    val out = CellJoinRewrite(join)
    assert(out.collect {
      case g @ Generate(Inline(_: PolygonCoverFlagged), _, _, _, _, _) => g
    }.isEmpty, s"non-deterministic join was rewritten:\n$out")
  }

  test("malformed threshold conf degrades to the default instead of failing the optimizer") {
    spark.conf.set(CellJoinRewrite.MinBytesKey, "not-a-number")
    try {
      // any plan through the optimizer would throw if the conf parse did
      val n = Spatial.assign(Spatial.spatialPoisDf(spark),
        Spatial.areasDf(spark), spark).count()
      assert(n == 4)
    } finally spark.conf.unset(CellJoinRewrite.MinBytesKey)
  }

  test("already-equi-keyed joins never gain a second cover (assignViaCells untouched)") {
    // regression: assignViaCells plans as `cell = cell AND point_in_ring`
    // after filter pushdown — the conjunction matcher must NOT stack another
    // cover explode on it (stacked covers square the candidate space; this
    // OOMed the 60k-point query when the rule briefly matched it)
    val pts = Spatial.volPoints(spark, Spatial.ParisVolN)
    val manual = planOf(Spatial.assignViaCells(pts, parisAreas, spark))
    val manualCovers = manual.collect { case g: Generate => g }
    assert(manualCovers.size <= 1, s"stacked covers in assignViaCells:\n$manual")
    // and the auto-rewritten natural join gets exactly ONE cover
    val auto = planOf(Spatial.assign(pts, parisAreas, spark))
    val autoCovers = auto.collect {
      case g @ Generate(Inline(_: PolygonCoverFlagged), _, _, _, _, _) => g
    }
    assert(autoCovers.size == 1, s"expected exactly one cover, got ${autoCovers.size}")
  }

  test("rewritten assign == manual assignViaCells == un-rewritten nested loop") {
    val n = 4000
    val pts = Spatial.volPoints(spark, n)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        Option(r.getString(3)), Option(r.getString(4)))).toSet

    // force the rewrite on this sub-threshold sample, then compare all three
    spark.conf.set(CellJoinRewrite.MinBytesKey, "1")
    val rewritten = try collect(Spatial.assign(pts, parisAreas, spark))
    finally spark.conf.unset(CellJoinRewrite.MinBytesKey)

    val manual = collect(Spatial.assignViaCells(pts, parisAreas, spark))

    // disable the rewrite entirely: the true O(n·areas) nested loop
    spark.conf.set(CellJoinRewrite.MinBytesKey, Long.MaxValue.toString)
    val nestedLoop = try collect(Spatial.assign(pts, parisAreas, spark))
    finally spark.conf.unset(CellJoinRewrite.MinBytesKey)

    assert(rewritten == manual, "rewrite diverges from assignViaCells")
    assert(rewritten == nestedLoop, "rewrite diverges from the nested loop")
    assert(rewritten.exists(_._2.isDefined), "sample hit no district at all")
  }
}
