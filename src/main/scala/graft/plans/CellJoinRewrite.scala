package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, StringType}
import graft.expr.Expressions.{CellOf, PointInRing, PolygonCoverFlagged}

/** Makes the scale-safe spatial plan AUTOMATIC (SURVEY §4 custom-work item 2;
  * VERDICT r9 item 4): a join whose condition is the natural predicate
  *
  * {{{ points JOIN areas ON point_in_ring(lng, lat, ring) }}}
  *
  * (bare, or as one conjunct of a larger ON clause) plans as an
  * O(|points|·|areas|) nested loop — every point ray-casts every
  * polygon. [[graft.domain.Spatial.assignViaCells]] is the manual escape
  * hatch (a broadcast cell-index kernel); this rule rewrites the plan so
  * SQL-surface users (and any caller of `Spatial.assign`) get a cell-keyed
  * plan without asking:
  *
  *  - the areas side gains `explode(polygon_cover_cells(ring, res))` — each
  *    polygon covered once by the cells it touches;
  *  - the points side gains `cell_of(lat, lng, res)` — pure index math;
  *  - the join becomes `points.cell = cover.cell AND point_in_ring(...)` —
  *    an EQUI-join the planner can hash/broadcast, with the exact ray-cast
  *    running only on bbox-colocated pairs.
  *
  * Correctness: the cover is a superset of every cell intersecting the
  * polygon (CellGrid.polygonCover) and its cells are DISTINCT, so the
  * equi-join admits each containing pair exactly once and the conjoined
  * exact test restores precise semantics — same multiset as the nested
  * loop (CellJoinRewriteSpec asserts result parity both ways).
  *
  * The rewrite only fires when the POINT side isn't tiny
  * (`spark.graft.spatial.cellRewriteMinBytes`, default 256 KiB): for a
  * handful of landmarks the nested loop is already optimal and the cover
  * machinery is overhead. Injected via [[graft.GraftExtensions]] into the
  * operator-optimization batch; the rewritten condition no longer matches
  * the pattern, so the rule is fixed-point safe.
  */
object CellJoinRewrite extends Rule[LogicalPlan] {

  /** Grid resolution of the injected cover — matches assignViaCells'
    * default (res 11 ≈ street-block cells over city polygons). */
  val Res = 11

  val MinBytesKey = "spark.graft.spatial.cellRewriteMinBytes"
  val MinBytesDefault: Long = 256L * 1024

  private def minBytes: BigInt = {
    // a malformed conf value must degrade to the default, not throw inside
    // the optimizer (which would fail every query in the session)
    val raw = SQLConf.get.getConfString(MinBytesKey, MinBytesDefault.toString)
    BigInt(try raw.toLong catch { case _: NumberFormatException => MinBytesDefault })
  }

  /** Skip the rewrite only when the point side is KNOWN to be tiny.
    * `stats.sizeInBytes == spark.sql.defaultSizeInBytes` is the stat-less
    * sentinel (Long.MaxValue unless overridden), and an unknown size MUST
    * take the rewrite branch: the asymmetry is a handful of wasted polygon
    * covers on a tiny stat-less input versus an O(|points|·|areas|) nested
    * loop on a 100 TB stat-less scan. Deliberate, not an oversight. */
  private def knownTiny(points: LogicalPlan): Boolean = {
    val sz = points.stats.sizeInBytes
    sz != BigInt(SQLConf.get.defaultSizeInBytes) && sz < minBytes
  }

  private def onlyFrom(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  private val PCell = "__graft_pcell"
  private val CoverCell = "__graft_cover_cell"
  private val CoverInterior = "__graft_cover_interior"

  /** The first point_in_ring conjunct whose point/ring sides line up —
    * a bare predicate or one conjunct among several (e.g. `AND
    * a.admin_level = 9`). */
  private def pirConjunct(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(PointInRing, Boolean)] =
    splitConjunctivePredicates(cond).collectFirst {
      // the rewrite re-evaluates lat/lng (in the injected cell Project) and
      // ring (in the cover Generate) while the originals stay in the join
      // condition — sound only for deterministic children, so a
      // non-deterministic arg keeps the nested loop
      case pir @ PointInRing(lngE, latE, ringE)
          if pir.deterministic &&
            onlyFrom(ringE, right) && onlyFrom(lngE, left) && onlyFrom(latE, left) =>
        (pir, true)
      case pir @ PointInRing(lngE, latE, ringE)
          if pir.deterministic &&
            onlyFrom(ringE, left) && onlyFrom(lngE, right) && onlyFrom(latE, right) =>
        (pir, false)
    }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjunctivePredicates(a) ++ splitConjunctivePredicates(b)
    case other => Seq(other)
  }

  /** Does any conjunct already give the join an equi-key (references from
    * both sides on opposite ends of an equality)? Such a join is already
    * hash-joinable — including `Spatial.cellCandidates`' own `cell = cell`
    * join and our own rewrite output — and must NOT gain a second cover
    * (stacked explodes blow up the candidate space). The rewrite targets
    * pure theta joins only. */
  private def hasEquiKey(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        (onlyFrom(a, left) && onlyFrom(b, right)) ||
          (onlyFrom(a, right) && onlyFrom(b, left))
      case EqualNullSafe(a, b) =>
        (onlyFrom(a, left) && onlyFrom(b, right)) ||
          (onlyFrom(a, right) && onlyFrom(b, left))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        // fixed-point guard: a join we already rewrote carries the helper
        // cell columns in its children
        if !j.children.exists(_.output.exists(a =>
          a.name == PCell || a.name == CoverCell || a.name == CoverInterior)) &&
          !hasEquiKey(cond, left, right) =>
      pirConjunct(cond, left, right) match {
        case Some((pir @ PointInRing(lngE, latE, ringE), pointsOnLeft))
            if !knownTiny(if (pointsOnLeft) left else right) =>
          rewrite(j, points = if (pointsOnLeft) left else right,
            areas = if (pointsOnLeft) right else left,
            lngE, latE, ringE, pir, cond, pointsOnLeft, hint)
        case _ => j
      }
  }

  private def rewrite(j: Join, points: LogicalPlan, areas: LogicalPlan,
      lngE: Expression, latE: Expression, ringE: Expression, pir: PointInRing,
      origCond: Expression, pointsOnLeft: Boolean, hint: JoinHint): LogicalPlan = {
    val res = Literal(Res)
    val pCell = Alias(CellOf(latE, lngE, res), PCell)()
    val newPoints = Project(points.output :+ pCell, points)
    val coverCell = AttributeReference(CoverCell, StringType, nullable = false)()
    val coverInterior = AttributeReference(CoverInterior, BooleanType, nullable = false)()
    val cover = Generate(Inline(PolygonCoverFlagged(ringE, res)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(coverCell, coverInterior), child = areas)
    // the cell equality is ADDED; the point_in_ring conjunct is weakened to
    // `interior OR point_in_ring` — an interior cell's points are contained
    // by construction (CellGrid.polygonCoverFlagged), so the exact ray-cast
    // runs only for boundary-band candidates. Every OTHER conjunct of the
    // original condition is kept verbatim.
    val others = splitConjunctivePredicates(origCond).filterNot(_ eq pir)
    val cond = (EqualTo(pCell.toAttribute, coverCell) +:
      Or(coverInterior, pir) +: others).reduce(And)
    val joined =
      if (pointsOnLeft) Join(newPoints, cover, Inner, Some(cond), hint)
      else Join(cover, newPoints, Inner, Some(cond), hint)
    // restore the original output (hide the helper cell columns)
    Project(j.output, joined)
  }
}
