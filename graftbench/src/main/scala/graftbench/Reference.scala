package graftbench

import graftbench.Inputs.Edge
import scala.collection.mutable

/** Independent computations the benchmark checks the engine against:
  * plain Scala over the generated edge rows and corpora, sharing no code
  * with the engine. Each function states the engine contract it mirrors.
  */
object Reference {

  type Row = Vector[Long]

  // ---- pattern queries over a hash-map adjacency -----------------------

  /** One pattern step: allowed labels (empty = any), stored direction
    * (None = either), a per-row predicate and a target-node restriction. */
  final case class Step(labels: Set[Int] = Set.empty, dir: Option[Boolean] = Some(true),
      where: Edge => Boolean = _ => true, target: Long => Boolean = _ => true)

  final class Adjacency(rows: Array[Edge]) {
    val bySrc: Map[Long, Array[Edge]] = rows.groupBy(_.src)
    def out(n: Long, s: Step): Iterator[Edge] =
      bySrc.getOrElse(n, Array.empty[Edge]).iterator.filter(e =>
        (s.labels.isEmpty || s.labels.contains(e.label)) && s.dir.forall(_ == e.dir) && s.where(e))
  }

  /** Flat path rows `n0, e1_label, n1, …` of a chain of single-hop steps:
    * one row per matching edge-row combination. Any empty step empties
    * the whole result, as the engine's left-to-right walk does. */
  def paths(adj: Adjacency, starts: Seq[Long], steps: Seq[Step]): Vector[Row] = {
    var cur: Vector[Row] = starts.map(Vector(_)).toVector
    for (s <- steps) cur = cur.flatMap { p =>
      adj.out(p.last, s).filter(e => s.target(e.dst)).map(e => p :+ e.label.toLong :+ e.dst)
    }
    cur
  }

  /** Nodes reachable in exactly `k` hops per start (distinct (n0, nk)),
    * with the engine's whole-frontier stop rule: when the k-th frontier is
    * empty for every start the (k-1)-th frontier is the answer. */
  def exactHops(adj: Adjacency, starts: Seq[Long], k: Int, s: Step, target: Long => Boolean): Vector[Row] = {
    def expand(f: Set[(Long, Long)]) = f.flatMap { case (o, n) => adj.out(n, s).map(e => (o, e.dst)) }
    val frontiers = (1 to k).scanLeft(starts.map(x => (x, x)).toSet)((f, _) => expand(f))
    val pick = if (frontiers(k).nonEmpty) frontiers(k) else frontiers(k - 1)
    pick.filter(p => target(p._2)).toVector.map { case (a, b) => Vector(a, b) }
  }

  /** Nested `temp` view of a chain walked left to right: for each step k,
    * every distinct path prefix after step k-1 with the sorted distinct
    * list of its step-k children (empty when the branch dried up). Rows
    * are the prefix ids followed by -1 and the children. */
  def temp(adj: Adjacency, starts: Seq[Long], steps: Seq[Step]): Vector[Vector[Row]] = {
    val layers = steps.indices.scanLeft(starts.distinct.map(Vector(_)).toVector) { (cur, i) =>
      val s = steps(i)
      cur.flatMap(p => adj.out(p.last, s).filter(e => s.target(e.dst)).map(e => p :+ e.dst))
    }
    steps.indices.toVector.map { k =>
      val children = layers(k + 1).distinct.groupBy(_.init).map { case (p, rs) => p -> rs.map(_.last).sorted }
      layers(k).distinct.map(p => (p :+ -1L) ++ children.getOrElse(p, Vector.empty))
    }
  }

  // ---- traversals and fixpoints ----------------------------------------

  def forwardAdj(pairs: Iterable[(Long, Long)]): Map[Long, Array[Long]] =
    pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray }

  /** Breadth-first hop distances from `sources` (distance 0 at sources). */
  def bfs(adj: Map[Long, Array[Long]], sources: Seq[Long]): Map[Long, Long] = {
    val dist = mutable.HashMap[Long, Long]()
    val q = mutable.Queue[Long]()
    sources.foreach { s => if (!dist.contains(s)) { dist(s) = 0L; q.enqueue(s) } }
    while (q.nonEmpty) {
      val v = q.dequeue()
      val d = dist(v)
      adj.getOrElse(v, Array.empty[Long]).foreach { w =>
        if (!dist.contains(w)) { dist(w) = d + 1; q.enqueue(w) }
      }
    }
    dist.toMap
  }

  /** Undirected connected components, labelled by their smallest id. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Synchronous label propagation over the undirected, loop-free,
    * distinct neighbour relation: each round every node takes the label
    * most frequent among its neighbours, ties to the smallest label. */
  def labelPropagation(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = pairs.flatMap(p => Seq(p, p.swap)).filter(p => p._1 != p._2).distinct
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2) }
    var lbl: Map[Long, Long] = nbrs.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lbl = lbl.map { case (v, old) =>
        val counts = nbrs(v).groupBy(lbl).map { case (l, ws) => l -> ws.size }
        v -> (if (counts.isEmpty) old else counts.minBy { case (l, c) => (-c, l) }._1)
      }
    }
    lbl
  }

  /** (seed, ecc, n_reached) of bounded BFS on the undirected loop-free
    * edge set from the `nSeeds` vertices with the smallest md5 of their
    * decimal id. */
  def eccentricity(pairs: Seq[(Long, Long)], nSeeds: Int, maxDepth: Int): Vector[Row] = {
    val und = pairs.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).distinct
    val adj = forwardAdj(und)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(v: Long) = md5.digest(v.toString.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val seeds = adj.keys.toVector.sortBy(v => (hex(v), v)).take(nSeeds)
    seeds.map { s =>
      val d = bfs(adj, Seq(s)).values.filter(_ <= maxDepth)
      Vector(s, d.max, d.count(_ > 0).toLong)
    }
  }

  // ---- edge multisets --------------------------------------------------

  /** Order-independent fingerprint of an edge multiset: (rows, sum of the
    * low 31 bits of each row's xxhash64, sum of the next 31 bits). The
    * engine side computes the same sums with Spark's `xxhash64`. */
  def fingerprint(rows: Iterable[Edge]): Vector[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var n, lo, hi = 0L
    rows.foreach { e =>
      var h = XXH64.hashLong(e.src, 42L)
      h = XXH64.hashLong(e.dst, h)
      h = XXH64.hashInt(e.label, h)
      h = XXH64.hashLong(e.attrMask, h)
      h = XXH64.hashInt(if (e.dir) 1 else 0, h)
      n += 1; lo += h & 0x7fffffffL; hi += (h >>> 31) & 0x7fffffffL
    }
    Vector(n, lo, hi)
  }

  // ---- similarity --------------------------------------------------------

  /** Distinct lowercased character k-shingles (a text shorter than k is
    * one clipped shingle). */
  def shingles(text: String, k: Int): Set[String] = {
    val t = text.toLowerCase
    (0 to math.max(t.length - k, 0)).map(i => t.substring(i, math.min(i + k, t.length))).toSet
  }

  /** Every pair (a < b) with shingle Jaccard ≥ t, and its Jaccard. All
    * pairs are covered: a pair at Jaccard ≥ t must share a shingle among
    * the first |A| − ⌈t·|A|⌉ + 1 of each set in one global order (the
    * prefix-filter lemma), and every such candidate is verified exactly. */
  def jaccardPairs(docs: Seq[(Long, String)], k: Int, t: Double): Map[(Long, Long), Double] = {
    val sets = docs.map { case (id, s) => id -> shingles(s, k) }
    val freq = sets.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.size }
    val order = freq.keys.toVector.sortBy(s => (freq(s), s)).zipWithIndex.toMap
    val index = mutable.HashMap[Int, mutable.ArrayBuffer[Int]]()
    val ranked = sets.map { case (_, s) => s.toArray.map(order).sorted }
    val out = mutable.HashMap[(Long, Long), Double]()
    for (i <- sets.indices) {
      val r = ranked(i)
      val prefix = r.length - math.ceil(t * r.length - 1e-9).toInt + 1
      val cands = mutable.HashSet[Int]()
      r.take(prefix).foreach(tok => index.get(tok).foreach(cands ++= _))
      for (j <- cands) {
        val (a, b) = (sets(i), sets(j))
        val inter = a._2.count(b._2.contains)
        val jac = inter.toDouble / (a._2.size + b._2.size - inter)
        if (jac >= t) out((math.min(a._1, b._1), math.max(a._1, b._1))) = jac
      }
      r.take(prefix).foreach(tok => index.getOrElseUpdate(tok, mutable.ArrayBuffer()) += i)
    }
    out.toMap
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Every pair (a < b) with cosine ≥ t, by an exhaustive double loop. */
  def cosinePairs(vecs: Array[(Long, Array[Float])], t: Double): Map[(Long, Long), Double] = {
    val out = mutable.HashMap[(Long, Long), Double]()
    for (i <- vecs.indices; j <- i + 1 until vecs.length) {
      val c = cosine(vecs(i)._2, vecs(j)._2)
      if (c >= t) out((math.min(vecs(i)._1, vecs(j)._1), math.max(vecs(i)._1, vecs(j)._1))) = c
    }
    out.toMap
  }

  /** Cosine of every corpus vector to `q`, best first. */
  def ranked(vecs: Array[(Long, Array[Float])], q: Array[Float]): Vector[(Long, Double)] =
    vecs.iterator.map { case (id, v) => (id, cosine(q, v)) }.toVector.sortBy(x => (-x._2, x._1))
}
