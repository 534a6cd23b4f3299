package graftbench

import graft.analytics.GraphAnalytics
import graft.cypher.Dsl._
import graft.cypher.Query
import graft.functions.{Dedup, Similarity}
import graft.model.PropertyGraph
import graft.operators.GraphOps
import graft.sources.Loaders
import graftbench.Check._
import graftbench.Inputs._
import graftbench.Trace.span
import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a workload: `run` calls the engine and drains the
  * result (timed); `check` compares the drained result with an
  * independent computation (untimed). `check` also sees the drained
  * results of the same round, by operation name. `approx` marks an
  * approximate tier, whose verdicts make up the reported recall. */
final case class Op(name: String, run: () => AnyRef, check: (AnyRef, Map[String, AnyRef]) => Verdict,
    approx: Boolean = false)

/** A workload: `setup` generates its inputs from the seed into `dir` and
  * builds and caches what the operations read; `ops` is the fixed list
  * one round issues, in order. `scale` divides every input size (1 for
  * measured runs; the class-loading tour of the build uses small inputs). */
abstract class Workload(val seed: Long, val scale: Int) {
  def setup(spark: SparkSession, dir: File): Unit
  def ops: Vector[Op]
  /** Sizes of the generated inputs, for the run's report. */
  def makeup: Seq[(String, Long)] = Nil
  protected def sized(n: Int): Int = math.max(16, n / scale)
  protected def rnd(salt: Long) = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + salt)
  protected def pick[T](r: SplittableRandom, xs: IndexedSeq[T], n: Int): Vector[T] =
    Iterator.continually(xs(r.nextInt(xs.length))).distinct.take(n).toVector
}

object Workload {
  def apply(name: String, seed: Long, scale: Int = 1): Workload = name match {
    case "fixpoint_small" => new FixpointSmall(seed, scale)
    case "update_large" => new UpdateLarge(seed, scale)
    case "dedup_similarity" => new DedupSimilarity(seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("fixpoint_small", "update_large", "dedup_similarity")

  private[graftbench] def csvPairs(spark: SparkSession, f: File, pairs: Array[(Long, Long)]): DataFrame = {
    writePairs(f, pairs, ',')
    spark.read.schema("src LONG, dst LONG").csv(f.getPath)
  }

  /** Load the order graph through the engine's loader and cache it. */
  private[graftbench] def orderGraph(spark: SparkSession, dir: File, t: Tpc): PropertyGraph = {
    def rel(name: String, ps: Array[(Long, Long)], label: Int, mirror: Boolean) =
      Loaders.fromEdgeDF(csvPairs(spark, new File(dir, s"$name.csv"), ps), label, mirror, tpcRanges)
    val g = Seq(rel("placed", t.placed, Placed, true), rel("contains", t.contains, Contains, true),
      rel("supplied", t.supplied, SuppliedBy, true), rel("next_order", t.nextOrder, NextOrder, false))
      .reduce((a, b) => a.copy(edges = a.edges.unionByName(b.edges))).cached()
    g.edges.count()
    g
  }

  private[graftbench] def mailGraph(spark: SparkSession, f: File, pairs: Array[(Long, Long)]): PropertyGraph = {
    writePairs(f, pairs, ' ')
    val g = Loaders.fromEdgeTextFile(spark, f.getPath, Mailed, mirror = false, mailRanges).cached()
    g.edges.count()
    g
  }

  def mailRows(pairs: Array[(Long, Long)]): Array[Edge] =
    pairs.map { case (a, b) => Edge(a, b, Mailed, 1L << Mailed, dir = true) }

  def windowOf(pairs: Array[(Long, Long)], lo: Long, width: Long): Array[(Long, Long)] =
    pairs.filter { case (a, b) => a >= lo && a < lo + width && b >= lo && b < lo + width }

  def cut(g: PropertyGraph, lo: Long, width: Long): PropertyGraph =
    g.copy(edges = g.edges.filter(col("src") >= lo && col("src") < lo + width &&
      col("dst") >= lo && col("dst") < lo + width))

  def isOrder(n: Long): Boolean = n >= OrderBase && n < PartBase
  def isPart(n: Long): Boolean = n >= PartBase && n < SuppBase
}

import Workload._

/** Iterative operations on graphs below the Pregel/frontier crossover. */
final class FixpointSmall(seed: Long, scale: Int) extends Workload(seed, scale) {
  var mail: Array[(Long, Long)] = _
  var m: PropertyGraph = _

  def setup(spark: SparkSession, dir: File): Unit = {
    mail = Inputs.mail(seed, sized(367662))
    m = mailGraph(spark, new File(dir, "mail.txt"), mail)
  }

  def ops: Vector[Op] = {
    val r = rnd(23)
    def win(width: Int) = { val lo = r.nextInt(10000 - width).toLong; (lo, width.toLong) }
    val (aLo, aW) = win(2000); val (cLo, cW) = win(3000); val (dLo, dW) = win(1000)
    val cutA = windowOf(mail, aLo, aW); val cutC = windowOf(mail, cLo, cW); val cutD = windowOf(mail, dLo, dW)
    // walks start at the window's highest out-degree node, inside its giant component
    val start = cutA.groupBy(_._1).maxBy { case (v, es) => (es.length, -v) }._1
    val sources = pick(r, mail.map(_._1).toIndexedSeq, 3)
    def fwd(gr: PropertyGraph) = gr.edges.filter(col("dir")).select(col("src"), col("dst"))
    def an(f: => DataFrame): AnyRef = span("analytics")(f)(longRows)
    lazy val reachA = Reference.bfs(Reference.forwardAdj(cutA), Seq(start))
    Vector(
      Op("star_reach_cut", () => span("cypher")(Query.paths(cut(m, aLo, aW),
          nodes32(start) --| edge(attr(Mailed), several(1, Int.MaxValue)) |--> anyNode))(
          df => longRows(df.select(col("n1")))),
        (got, _) => sameRows((reachA.keySet - start).toSeq.map(Vector(_)), rows(got))),
      Op("reachable_full", () => an(GraphAnalytics.reachableFrom(m, sources, Some(Mailed))),
        (got, _) => sameRows((Reference.bfs(Reference.forwardAdj(mail), sources).keySet -- sources)
          .toSeq.map(Vector(_)), rows(got))),
      Op("shortest_paths_cut", () => an(GraphAnalytics.shortestPaths(cut(m, aLo, aW), start)),
        (got, _) => sameRows(reachA.toSeq.map { case (v, d) => Vector(v, d) }, rows(got))),
      Op("connected_components_cut", () => an(GraphAnalytics.connectedComponents(cut(m, cLo, cW))),
        (got, _) => sameRows(Reference.components(cutC.toSeq).toSeq.map { case (v, c) => Vector(v, c) }, rows(got))),
      Op("label_propagation_cut", () => an(GraphAnalytics.labelPropagation(cut(m, dLo, dW), 2)),
        (got, _) => sameRows(Reference.labelPropagation(cutD.toSeq, 2).toSeq
          .map { case (v, l) => Vector(v, l) }, rows(got))),
      Op("eccentricity_cut", () => an(GraphAnalytics.eccentricitySampled(
          fwd(cut(m, dLo, dW)).toDF("u", "v"), nSeeds = 2, maxDepth = 3)
          .select(col("seed"), col("ecc"), col("n_reached"))),
        (got, _) => sameRows(Reference.eccentricity(cutD.toSeq, 2, 3), rows(got))))
  }
}

/** Ingest, DML and pattern reads on the large order graph (above the crossover). */
final class UpdateLarge(seed: Long, scale: Int) extends Workload(seed, scale) {
  // half the gate suite's sf0.1 graph, so that a full comparison of the
  // benchmark fits its time budget; ≈ 7.3·10⁵ forward edges, still ≈ 1.47
  // times the 5·10⁵-edge frontier crossover at every seed
  val size = TpcSize.at(sf = 0.05, scale)
  val chunks = 2
  var tpc: Tpc = _
  var mail: Array[(Long, Long)] = _
  var mailPath: String = _
  var g: PropertyGraph = _
  var spark: SparkSession = _

  def setup(spark: SparkSession, dir: File): Unit = {
    this.spark = spark
    tpc = Inputs.tpc(seed, size)
    mail = Inputs.mail(seed, sized(367662))
    val f = new File(dir, "mail.txt")
    writePairs(f, mail, ' ')
    mailPath = f.getPath
    g = orderGraph(spark, dir, tpc)
  }

  override def makeup: Seq[(String, Long)] = Seq("placed" -> tpc.placed.length, "contains" -> tpc.contains.length,
    "supplied_by" -> tpc.supplied.length, "next_order" -> tpc.nextOrder.length,
    "forward_edges" -> tpc.forwardEdges, "active_customers" -> tpc.activeCustomers.length)

  def ops: Vector[Op] = {
    val session = spark
    import session.implicits._
    val r = rnd(37)
    val cust = tpc.activeCustomers.toIndexedSeq
    val dropped = pick(r, cust, 3)
    val keep = cust.filterNot(dropped.contains)
    val readers = pick(r, keep, 6)
    // every customer's forward walk is three hops deep (orders, parts, suppliers)
    val walker = keep(r.nextInt(keep.length))
    val cutPairs = pick(r, tpc.contains.toIndexedSeq, 20)
    val orders = tpc.placed.map(_._2)
    val fresh = Vector.fill(15)((cust(r.nextInt(cust.length)), orders(r.nextInt(orders.length))))
      .map { case (c, o) => Edge(c, o, Placed, 1L << Placed, dir = true) }
    val rewritten = pick(r, tpc.placed.toIndexedSeq, 15)
      .map { case (c, o) => Edge(c, o, Placed, (1L << Placed) | (1L << 7), dir = true) }
    val inserted = (fresh ++ rewritten).distinct
    val overlaid = pick(r, tpc.placed.toIndexedSeq, 20)
    val overlayMask = 1L << 6
    val cutDF = cutPairs.toDF("src", "dst")
    val insertDF = inserted.toDF()
    val overlayDF = overlaid.toDF("src", "dst")

    // the DML sequence replayed on an edge multiset
    lazy val after: Vector[Edge] = {
      val gone = dropped.toSet
      val cutSet = cutPairs.toSet
      val keys = inserted.map(e => (e.src, e.dst, e.label, e.dir)).toSet
      val ov = overlaid.toSet
      // deleteNodes, deleteEdges (both directions), insertEdges(overwrite), overlayLabels
      (tpc.rows.iterator.filterNot(e => gone(e.src) || gone(e.dst) || cutSet((e.src, e.dst)) ||
          cutSet((e.dst, e.src)) || keys((e.src, e.dst, e.label, e.dir))) ++ inserted)
        .map(e => if (ov((e.src, e.dst))) e.copy(attrMask = e.attrMask | overlayMask) else e).toVector
    }
    lazy val mailFp = Reference.fingerprint(mailRows(mail))
    lazy val adj = new Reference.Adjacency(after.toArray)
    val nextS = Reference.Step(Set(NextOrder), target = isOrder)
    val c8 = pick(r, keep, 8)
    val o20 = pick(r, orders.toIndexedSeq, 20)
    val midOrder = OrderBase + size.orders / 2
    val placedS = Reference.Step(Set(Placed), target = isOrder)
    val containsS = Reference.Step(Set(Contains), target = isPart)
    // the round's updated order graph
    var cur: PropertyGraph = null
    Vector(
      Op("miw_ingest", () => span("sources")(
          Loaders.fromEdgeTextFile(spark, mailPath, Mailed, mirror = false, mailRanges))(x => fingerprint(x.edges)),
        (got, _) => same(mailFp, got)),
      Op("siw_ingest", () => {
        val parsed = spark.read.text(mailPath)
          .select(split(col("value"), " ").as("f"))
          .select(col("f").getItem(0).cast("long").as("src"), col("f").getItem(1).cast("long").as("dst"))
          .withColumn("chunk", pmod(xxhash64(col("src"), col("dst")), lit(chunks.toLong)))
        var acc = PropertyGraph.empty(spark, mailRanges)
        for (i <- 0 until chunks) {
          val part = span("sources")(Loaders.fromEdgeDF(parsed.filter(col("chunk") === i).select("src", "dst"),
            Mailed, mirror = false, mailRanges))(identity)
          acc = span("operators")(GraphOps.insertEdges(acc, part.edges))(identity)
        }
        span("operators")(acc)(x => fingerprint(x.edges))
      }, (got, done) => {
        // SIW ≡ MIW as multisets, and both equal the generated edge list
        val v = same(mailFp, got)
        if (done.get("miw_ingest").contains(got)) v else v.copy(ok = false, note = "SIW differs from MIW")
      }),
      // the four DML kinds in sequence; the result is cached, as a reader of
      // the updated graph would, and every round rebuilds that cache
      Op("dml_batch", () => {
        if (cur != null) cur.edges.unpersist(blocking = true)
        val g1 = span("operators")(GraphOps.deleteNodes(g, dropped))(identity)
        val g2 = span("operators")(GraphOps.deleteEdges(g1, cutDF))(identity)
        val g3 = span("operators")(GraphOps.insertEdges(g2, insertDF, overwrite = true))(identity)
        span("operators")(GraphOps.overlayLabels(g3, overlayDF, overlayMask))(x => {
          cur = x.cached(); fingerprint(cur.edges) })
      }, (got, _) => same(Reference.fingerprint(after), got)),
      // a 2-hop read of the updated graph, in the nested `temp` result mode
      Op("temp_two_hop", () => span("cypher")(Query.temp(cur, nodes32(readers: _*) --| edge(attr(Placed)) |-->
          labels(Order) --| edge(attr(Contains)) |--> labels(Part)))(_.map(nestedRows)),
        (got, _) => sameLayers(Reference.temp(adj, readers, Seq(placedS, containsS)),
          got.asInstanceOf[Vector[Vector[Row]]])),
      Op("create_mem_where", () => span("cypher")(Query.createMem(cur, nodes32(c8: _*) --|
          edge(attr(Placed), whereEdge(v => v.dst < lit(midOrder))) |-->
          labels(Order).appl(df => df.withColumn("n1", lit(OrderBase) + (col("n1") - lit(OrderBase)) % 1000))))(
          d => edgeRows(d.newEdges).map(0L +: _) ++ edgeRows(d.deletedEdges).map(1L +: _)),
        (got, _) => {
          def out(n: Long) = adj.bySrc.getOrElse(n, Array.empty[Edge])
          val trav = Reference.paths(adj, c8, Seq(placedS.copy(where = e => e.dst < midOrder)))
            .map(p => Edge(p(0), OrderBase + (p(2) - OrderBase) % 1000, Placed, 0L, dir = true)).distinct
          val added = trav.filterNot(e => out(e.src).exists(x => x.dst == e.dst && x.label == e.label))
          val slots = added.map(e => (e.src, e.label, e.dir)).toSet
          val deleted = slots.toVector.flatMap { case (s, l, d) => out(s).filter(x => x.label == l && x.dir == d) }
          sameRows(added.map(e => 0L +: edgeRow(e)) ++ deleted.map(e => 1L +: edgeRow(e)), rows(got))
        }),
      Op("next_order_2_2", () => span("cypher")(Query.paths(cur,
          nodes32(o20: _*) --| edge(attr(NextOrder), several(2, 2)) |--> labels(Order)))(pathRows),
        (got, _) => sameRows(Reference.exactHops(adj, o20, 2, nextS, isOrder), rows(got))),
      Op("shortest_paths", () => span("analytics")(GraphAnalytics.shortestPaths(cur, walker))(longRows),
        (got, _) => sameRows(Reference.bfs(adj.bySrc.map { case (n, es) => n -> es.filter(_.dir).map(_.dst) },
          Seq(walker)).toSeq.map { case (v, d) => Vector(v, d) }, rows(got))))
  }
}

/** Near-duplicate detection and vector search over a seeded corpus. */
final class DedupSimilarity(seed: Long, scale: Int) extends Workload(seed, scale) {
  val nDocs = sized(1500)
  val nVecs = sized(1000)
  val dim = 64
  val jaccardT = 0.8
  val cosineT = 0.9
  var docs: Array[(Long, String)] = _
  var vecs: Array[(Long, Array[Float])] = _
  var docDF: DataFrame = _
  var vecDF: DataFrame = _
  var spark: SparkSession = _

  def setup(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    this.spark = spark
    docs = Inputs.documents(seed, nDocs)
    vecs = Inputs.embeddings(seed, nVecs, dim)
    docs.toSeq.toDF("doc_id", "text").write.parquet(new File(dir, "documents.parquet").getPath)
    vecs.toSeq.toDF("vec_id", "embedding").write.parquet(new File(dir, "embeddings.parquet").getPath)
    docDF = spark.read.parquet(new File(dir, "documents.parquet").getPath).cache()
    vecDF = spark.read.parquet(new File(dir, "embeddings.parquet").getPath).cache()
    docDF.count(); vecDF.count()
  }

  def ops: Vector[Op] = {
    val session = spark
    import session.implicits._
    val r = rnd(41)
    var pairs = Vector.empty[(Long, Long)]
    val queryIds = pick(r, vecs.indices, 50).map(_.toLong).sorted
    val queries = vecDF.filter(col("vec_id").isin(queryIds: _*))
    lazy val exactJ = Reference.jaccardPairs(docs.toSeq, 5, jaccardT)
    lazy val exactC = Reference.cosinePairs(vecs, cosineT)
    lazy val byId = vecs.toMap
    lazy val shingled = docs.map { case (id, t) => id -> Reference.shingles(t, 5) }.toMap
    def jaccard(a: Long, b: Long) = {
      val (x, y) = (shingled(a), shingled(b))
      val i = x.count(y.contains)
      i.toDouble / (x.size + y.size - i)
    }
    def cos(a: Long, b: Long) = Reference.cosine(byId(a), byId(b))
    def fn(f: => DataFrame)(cols: String*): AnyRef = span("functions")(f)(df => anyRows(df.select(cols.map(col): _*)))
    def topK(got: AnyRef, floor: Double) = {
      val rs = got.asInstanceOf[Vector[Vector[Any]]]
      // the engine never returns a query as its own neighbour
      approxTopK(queryIds.map(q => q -> Reference.ranked(vecs.filter(_._1 != q), byId(q))).toMap, 10, rs, floor)
    }
    Vector(
      Op("minhash_duplicates", () => {
        val got = fn(Dedup.minHashDuplicates(docDF, jaccardT))("doc_a", "doc_b", "jaccard")
        pairs = got.asInstanceOf[Vector[Vector[Any]]].map(p => (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long]))
        got
      }, (got, _) => approxPairs(exactJ, jaccard, jaccardT, got.asInstanceOf[Vector[Vector[Any]]], floor = 0.9),
        approx = true),
      // clusters of this round's MinHash pairs, handed over as a frame
      Op("duplicate_clusters", () => fn(Dedup.duplicateClusters(pairs.toDF("doc_a", "doc_b")))(
          "doc_id", "cluster_id", "keep"),
        (got, done) => {
          val handed = done("minhash_duplicates").asInstanceOf[Vector[Vector[Any]]]
            .map(p => (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long]))
          sameRows(Reference.components(handed).toSeq.map { case (v, c) => Vector(v, c, if (v == c) 1L else 0L) },
            rows(got))
        }),
      Op("cosine_duplicates", () => fn(Similarity.cosineDuplicates(vecDF, cosineT, dim))("doc_a", "doc_b", "cosine"),
        (got, _) => approxPairs(exactC, cos, cosineT, got.asInstanceOf[Vector[Vector[Any]]], floor = 0.9),
        approx = true),
      Op("semantic_dedup", () => fn(Similarity.semanticDedup(vecDF, cosineT, nClusters = -1, nAssign = -1))(
          "doc_a", "doc_b", "cosine"),
        (got, _) => approxPairs(exactC, cos, cosineT, got.asInstanceOf[Vector[Vector[Any]]], floor = 0.9),
        approx = true),
      Op("lsh_topk", () => fn(Similarity.lshTopK(queries, vecDF, k = 10, dim = dim, bits = 8, tables = 8,
          probes = 8, probes2 = 28))("query_id", "neighbor_id", "cosine", "rank"),
        (got, _) => topK(got, 0.8), approx = true),
      Op("ivf_topk", () => fn(Similarity.ivfTopK(queries, vecDF, k = 10, nCentroids = 16, nProbe = 8,
          lloydIters = 3, nAssign = 2))("query_id", "neighbor_id", "cosine", "rank"),
        (got, _) => topK(got, 0.8), approx = true))
  }
}
