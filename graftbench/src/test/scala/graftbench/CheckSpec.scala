package graftbench

import graftbench.Inputs.Edge
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's correctness gate: a result that differs from the
  * independent computation by a single row must count as failed. */
class CheckSpec extends AnyFunSuite {
  private val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L), (6L, 6L))

  test("a result with one row removed is counted as failed") {
    val expected = Reference.components(pairs).toSeq.map { case (v, c) => Vector(v, c) }
    assert(Check.sameRows(expected, expected).ok)
    for (i <- expected.indices) {
      val v = Check.sameRows(expected, expected.patch(i, Nil, 1))
      assert(!v.ok)
      assert(v.hit == expected.size - 1)
    }
  }

  test("a duplicated or changed row is counted as failed") {
    val expected = Seq(Vector(1L, 2L), Vector(1L, 2L), Vector(3L, 4L))
    assert(!Check.sameRows(expected, expected :+ Vector(3L, 4L)).ok)
    assert(!Check.sameRows(expected, expected.updated(2, Vector(3L, 5L))).ok)
    assert(Check.sameRows(expected, expected.reverse).ok)
  }

  test("an edge multiset missing one row changes its fingerprint") {
    val rows = Inputs.tpc(7, Inputs.TpcSize(50, 200, 40, 8, 3)).rows.toSeq
    assert(Reference.fingerprint(rows) == Reference.fingerprint(rows.reverse))
    assert(Reference.fingerprint(rows) != Reference.fingerprint(rows.tail))
    val flipped = rows.head.copy(dir = !rows.head.dir) +: rows.tail
    assert(Reference.fingerprint(rows) != Reference.fingerprint(flipped))
    assert(!Check.same(Reference.fingerprint(rows), Reference.fingerprint(rows.tail)).ok)
  }

  test("independent fixpoints on a small digraph") {
    assert(Reference.bfs(Reference.forwardAdj(pairs), Seq(1L)) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    assert(Reference.components(pairs) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 6L))
    // 3 has neighbours {1, 2, 4}, all with their own label: the smallest wins
    assert(Reference.labelPropagation(pairs, 1)(3L) == 1L)
    assert(!Reference.labelPropagation(pairs, 1).contains(6L))
  }

  test("an approximate tier below its recall floor or past its threshold fails") {
    val exact = Map((1L, 2L) -> 0.95, (3L, 4L) -> 0.92)
    val score = (a: Long, b: Long) => exact.getOrElse((a, b), 0.5)
    val all = Vector(Vector[Any](1L, 2L, 0.95), Vector[Any](3L, 4L, 0.92))
    assert(Check.approxPairs(exact, score, 0.9, all, floor = 1.0).ok)
    assert(!Check.approxPairs(exact, score, 0.9, all.take(1), floor = 0.9).ok)
    assert(!Check.approxPairs(exact, score, 0.9, all :+ Vector[Any](5L, 6L, 0.91), floor = 0.9).ok)
  }

  test("a top-k tier is scored against the other vectors, never the query itself") {
    val vecs = Array.tabulate(6)(i => i.toLong -> Array(1f, i.toFloat / 10))
    val ranked = Map(0L -> Reference.ranked(vecs.filter(_._1 != 0L), vecs(0)._2))
    def row(n: Long, rank: Int) = Vector[Any](0L, n, Reference.cosine(vecs(0)._2, vecs(n.toInt)._2), rank)
    val exact = Vector(row(1L, 1), row(2L, 2))
    val v = Check.approxTopK(ranked, 2, exact, floor = 1.0)
    assert(v.ok && v.hit == 2 && v.ref == 2)
    assert(!Check.approxTopK(ranked, 2, Vector(row(0L, 1), row(1L, 2)), floor = 0.5).ok)
    assert(!Check.approxTopK(ranked, 2, exact.take(1), floor = 1.0).ok)
  }

  test("the DML replay and the engine's edge layout agree on a tiny graph") {
    val t = Inputs.tpc(3, Inputs.TpcSize(20, 60, 15, 4, 2))
    val e = t.rows
    assert(e.count(_.dir) == t.forwardEdges)
    assert(e.count(r => !r.dir) == t.placed.length + t.contains.length + t.supplied.length)
    assert(e.forall(r => r.attrMask == (1L << r.label)))
    assert(e.contains(Edge(t.placed.head._2, t.placed.head._1, Inputs.Placed, 1L << Inputs.Placed, dir = false)))
  }
}
