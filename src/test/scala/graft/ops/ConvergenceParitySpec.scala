package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.Sessions

/** [[TextDedup.minLabelConverge]]'s labels against a driver-side union-find
  * on small graphs, and its star-forest stop: an input that already is a
  * star forest runs no round, and one that breaks either star condition
  * (a dst with two srcs, a node that is both src and dst) runs at least
  * one. */
class ConvergenceParitySpec extends AnyFunSuite {

  lazy val spark = Sessions.local(4)

  /** (id, min id of its component, component size) per node of the
    * non-self-loop pairs, by union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = parent.keys.toSeq.map(v => v -> find(v))
    val sizes = comp.groupBy(_._2).map { case (c, vs) => c -> vs.size.toLong }
    comp.map { case (v, c) => (v, c, sizes(c)) }.toSet
  }

  /** The loop's labels and round count on `pairs`, after checking the
    * labels equal [[unionFind]]'s. */
  private def converge(pairs: Seq[(Long, Long)]): Int = {
    import spark.implicits._
    val (labels, rounds) = TextDedup.minLabelConverge(pairs.toDF("id_a", "id_b"))
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == unionFind(pairs), s"labels differ on $pairs")
    rounds
  }

  test("an empty edge set: no labels, no round") {
    assert(converge(Seq.empty) == 0)
  }

  test("one edge is a star: no round") {
    assert(converge(Seq((9L, 4L))) == 0)
  }

  test("a star forest (reversed and duplicate pairs included) runs no round") {
    val stars = Seq((1L, 2L), (3L, 1L), (1L, 4L), (1L, 4L), (10L, 11L), (12L, 10L))
    assert(converge(stars) == 0)
  }

  test("a dst with two srcs is not a star: at least one round") {
    assert(converge(Seq((1L, 5L), (2L, 5L))) >= 1)
  }

  test("a node that is both src and dst is not a star: at least one round") {
    assert(converge(Seq((1L, 2L), (2L, 3L))) >= 1)
  }

  test("a 33-node path with scrambled ids") {
    // path position p holds id (13p + 5) mod 33: the minimum sits mid-path
    val ids = (0 until 33).map(p => ((13 * p + 5) % 33).toLong)
    assert(ids.distinct.size == 33)
    val rounds = converge(ids.sliding(2).map(w => (w(0), w(1))).toSeq)
    assert(rounds >= 1, s"rounds=$rounds")
  }

  test("a 6-clique") {
    val clique = for (a <- 0L until 6L; b <- 0L until 6L if a < b) yield (a + 20, b + 20)
    assert(converge(clique) >= 1)
  }

  test("two disjoint components") {
    val chain = Seq((100L, 101L), (101L, 102L), (102L, 103L))
    val cycle = Seq((7L, 8L), (8L, 9L), (9L, 7L))
    assert(converge(chain ++ cycle) >= 1)
  }

  test("duplicate, reversed and self-loop pairs") {
    val pairs = Seq((5L, 6L), (6L, 5L), (5L, 6L), (6L, 7L), (7L, 7L), (7L, 8L), (8L, 7L),
      (30L, 30L), (40L, 41L), (41L, 40L))
    converge(pairs)
  }
}
