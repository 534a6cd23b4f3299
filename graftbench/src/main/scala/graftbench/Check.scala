package graftbench

import graftbench.Inputs.Edge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Outcome of checking one operation: `ref` rows in the independent
  * answer, `hit` of them present in the engine's result. */
final case class Verdict(ok: Boolean, ref: Long, hit: Long, note: String = "")

/** Draining engine results into plain values, and comparing them with
  * the independent answers of [[Reference]]. */
object Check {
  type Row = Reference.Row

  private def cell(x: Any): Long = x match {
    case l: Long => l
    case i: Int => i.toLong
    case b: Boolean => if (b) 1L else 0L
    case null => Long.MinValue
    case other => throw new IllegalArgumentException(s"not an id cell: $other")
  }

  def longRows(df: DataFrame): Vector[Row] = df.collect().iterator.map(_.toSeq.map(cell).toVector).toVector
  def anyRows(df: DataFrame): Vector[Vector[Any]] = df.collect().iterator.map(_.toSeq.toVector).toVector
  def rows(got: AnyRef): Vector[Row] = got.asInstanceOf[Vector[Vector[Any]]].map(_.map(cell))

  /** Path rows in `n0, e1_label, n1, …` column order, whatever order the
    * strategy produced them in. */
  def pathRows(df: DataFrame): Vector[Row] = {
    def key(c: String) = if (c.startsWith("e")) 2 * c.drop(1).takeWhile(_.isDigit).toInt - 1 else 2 * c.drop(1).toInt
    longRows(df.select(df.columns.sortBy(key).map(col).toSeq: _*))
  }

  /** `temp` layer rows: prefix ids, -1, then the children list. */
  def nestedRows(df: DataFrame): Vector[Row] = df.collect().iterator.map { r =>
    val prefix = (0 until r.length - 1).map(i => r.getLong(i)).toVector
    (prefix :+ -1L) ++ r.getSeq[Long](r.length - 1)
  }.toVector

  def edgeRows(df: DataFrame): Vector[Row] = longRows(df.select("src", "dst", "label", "attrMask", "dir"))
  def edgeRow(e: Edge): Row = Vector(e.src, e.dst, e.label.toLong, e.attrMask, if (e.dir) 1L else 0L)

  /** Engine side of [[Reference.fingerprint]], drained as one aggregate. */
  def fingerprint(edges: DataFrame): Vector[Long] = {
    val h = xxhash64(col("src"), col("dst"), col("label"), col("attrMask"), col("dir"))
    val r = edges.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0x7fffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 31).bitwiseAND(0x7fffffffL)), lit(0L))).head()
    Vector(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def same(expected: Vector[Long], got: AnyRef): Verdict =
    if (expected == got) Verdict(ok = true, 1, 1) else Verdict(ok = false, 1, 0, s"expected $expected, got $got")

  /** Multiset equality; `hit` counts the rows both sides share. */
  def sameRows(expected: Seq[Row], got: Seq[Row]): Verdict = {
    val want = expected.groupBy(identity).map { case (k, v) => k -> v.size }
    val have = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val hit = want.map { case (k, n) => math.min(n, have.getOrElse(k, 0)) }.sum
    val ok = want == have
    Verdict(ok, expected.size, hit,
      if (ok) "" else s"${expected.size} rows expected, ${got.size} returned, $hit shared")
  }

  def sameLayers(expected: Vector[Vector[Row]], got: Vector[Vector[Row]]): Verdict = {
    val vs = expected.zipAll(got, Vector.empty, Vector.empty).map { case (e, g) => sameRows(e, g) }
    Verdict(vs.forall(_.ok), vs.map(_.ref).sum, vs.map(_.hit).sum, vs.map(_.note).filter(_.nonEmpty).mkString("; "))
  }

  /** An approximate pair tier: every emitted pair (a < b, once) meets the
    * threshold with the score the independent `score` gives it, and the
    * pairs found cover at least `floor` of the exact answer. */
  def approxPairs(exact: Map[(Long, Long), Double], score: (Long, Long) => Double, t: Double,
      got: Vector[Vector[Any]], floor: Double): Verdict = {
    val pairs = got.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Double]))
    val bad = pairs.filterNot { case (a, b, s) =>
      a < b && s >= t && math.abs(s - exact.getOrElse((a, b), score(a, b))) <= 1e-4
    }
    val dups = pairs.size - pairs.map(p => (p._1, p._2)).distinct.size
    val hit = pairs.count(p => exact.contains((p._1, p._2)))
    val recall = if (exact.isEmpty) 1.0 else hit.toDouble / exact.size
    val ok = bad.isEmpty && dups == 0 && recall >= floor
    Verdict(ok, exact.size, hit,
      if (ok) "" else s"${bad.size} invalid pairs (first ${bad.headOption}), $dups duplicates, recall $recall")
  }

  /** An approximate top-k tier: per query at most k rows ranked 1..n by
    * non-increasing true cosine, every neighbour a candidate of `ranked`
    * (which leaves the query itself out); a row is a hit when its
    * neighbour is at least as close as the exact k-th neighbour; hits
    * cover `floor` of k per query. */
  def approxTopK(ranked: Map[Long, Vector[(Long, Double)]], k: Int, got: Vector[Vector[Any]],
      floor: Double): Verdict = {
    val byQuery = got.groupBy(_(0).asInstanceOf[Long])
    var hit, bad = 0L
    for ((q, rs) <- byQuery) {
      val truth = ranked.getOrElse(q, Vector.empty).toMap
      val kth = ranked.get(q).fold(Double.PositiveInfinity)(r => r(math.min(k, r.size) - 1)._2)
      val sorted = rs.sortBy(_(3).asInstanceOf[Int])
      // NaN for a neighbour that is no candidate (the query itself, an unknown id)
      val cos = sorted.map(r => truth.getOrElse(r(1).asInstanceOf[Long], Double.NaN))
      if (rs.size > k || sorted.map(_(3).asInstanceOf[Int]) != (1 to rs.size) || cos.exists(_.isNaN) ||
          sorted.zip(cos).exists { case (r, c) => math.abs(r(2).asInstanceOf[Double] - c) > 1e-4 } ||
          cos.zip(cos.drop(1)).exists { case (a, b) => b > a + 1e-4 }) bad += 1
      hit += cos.count(_ >= kth - 1e-9)
    }
    val ref = ranked.size.toLong * k
    val ok = bad == 0 && byQuery.keySet.subsetOf(ranked.keySet) && hit >= floor * ref
    Verdict(ok, ref, hit, if (ok) "" else s"$bad malformed queries, recall ${hit.toDouble / ref}")
  }
}
