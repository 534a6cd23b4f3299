package graftbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

/** Seeded input generators. Everything a workload reads is made here, in
  * plain Scala, from the run's seed: the same seed gives byte-identical
  * files. The arrays stay in driver memory so [[Reference]] can compute
  * the expected answers without going through the engine.
  */
object Inputs {

  /** One stored edge row, the engine's edge schema. */
  final case class Edge(src: Long, dst: Long, label: Int, attrMask: Long, dir: Boolean)

  // ---- TPC-shaped order graph -------------------------------------------

  /** Node-id layout of the order graph: one id range per node class, the
    * same layout the engine's TPC gate graph uses. */
  val OrderBase = 10000000L
  val PartBase = 20000000L
  val SuppBase = 30000000L
  val Customer = 0; val Order = 1; val Part = 2; val Supplier = 3
  val Placed = 1; val Contains = 2; val SuppliedBy = 3; val NextOrder = 4
  val tpcRanges: Seq[graft.model.RangeDef] = Seq(
    graft.model.RangeDef(0L, OrderBase, Customer, Seq(Placed)),
    graft.model.RangeDef(OrderBase, PartBase - OrderBase, Order, Seq(Contains, NextOrder)),
    graft.model.RangeDef(PartBase, SuppBase - PartBase, Part, Seq(SuppliedBy)),
    graft.model.RangeDef(SuppBase, 10000000L, Supplier, Seq()))

  final case class TpcSize(customers: Int, orders: Int, parts: Int, suppliers: Int, maxLines: Int)

  object TpcSize {
    /** TPC-H cardinalities at scale factor `sf` (specification 3.0.1,
      * §4.2.5: SF × 150,000 customers, 1,500,000 orders, 200,000 parts,
      * 10,000 suppliers; §4.2.3: 1–7 line items per order), each divided
      * by `scale`. */
    def at(sf: Double, scale: Int = 1): TpcSize = {
      def n(perSf: Int) = math.max(16, math.round(sf * perSf / scale).toInt)
      TpcSize(customers = n(150000), orders = n(1500000), parts = n(200000), suppliers = n(10000), maxLines = 7)
    }
  }

  /** Forward (src, dst) pairs of the four relations. placed/contains/
    * supplied are loaded mirrored, nextOrder one-sided. */
  final case class Tpc(size: TpcSize, placed: Array[(Long, Long)], contains: Array[(Long, Long)],
      supplied: Array[(Long, Long)], nextOrder: Array[(Long, Long)]) {
    /** Every stored row after loading, as the engine's loader lays them out. */
    lazy val rows: Array[Edge] = {
      def fwd(ps: Array[(Long, Long)], l: Int) = ps.map { case (s, d) => Edge(s, d, l, 1L << l, dir = true) }
      def back(ps: Array[(Long, Long)], l: Int) = ps.map { case (s, d) => Edge(d, s, l, 1L << l, dir = false) }
      fwd(placed, Placed) ++ back(placed, Placed) ++ fwd(contains, Contains) ++ back(contains, Contains) ++
        fwd(supplied, SuppliedBy) ++ back(supplied, SuppliedBy) ++ fwd(nextOrder, NextOrder)
    }
    def forwardEdges: Int = placed.length + contains.length + supplied.length + nextOrder.length
    /** Customers that placed at least one order, ascending. */
    lazy val activeCustomers: Array[Long] = placed.map(_._1).distinct.sorted
  }

  /** The order graph of the tables the gate suite reads (`sf0.1`: every
    * order's customer and every line's part and supplier drawn uniformly,
    * so nearly every customer places orders, ≈ 10 each, and nearly every
    * line item adds its own part–supplier pair), at the given size. */
  def tpc(seed: Long, size: TpcSize): Tpc = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val cust = Array.fill(size.orders)(1L + rnd.nextInt(size.customers))
    val date = Array.fill(size.orders)(rnd.nextInt(2400))
    val placed = Array.tabulate(size.orders)(o => (cust(o), OrderBase + o + 1))
    val contains = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
    val supplied = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
    var o = 0
    while (o < size.orders) {
      val lines = 1 + rnd.nextInt(size.maxLines)
      var l = 0
      while (l < lines) {
        val part = 1 + rnd.nextInt(size.parts)
        val supp = 1 + rnd.nextInt(size.suppliers)
        contains += ((OrderBase + o + 1, PartBase + part))
        supplied += ((PartBase + part, SuppBase + supp))
        l += 1
      }
      o += 1
    }
    // each customer's orders chained by (date, orderkey)
    val nextOrder = (0 until size.orders).groupBy(cust(_)).values.flatMap { os =>
      val sorted = os.sortBy(i => (date(i), i))
      sorted.zip(sorted.tail).map { case (a, b) => (OrderBase + a + 1, OrderBase + b + 1) }
    }.toArray.sorted
    Tpc(size, placed, contains.toArray, supplied.toArray, nextOrder)
  }

  // ---- mail graph ----------------------------------------------------------

  val Mailed = 1
  val mailRanges: Seq[graft.model.RangeDef] = Seq(graft.model.RangeDef(0, 10000, 0, Seq(Mailed)))

  /** The reference's MIW/CW mail graph shape: `edges` uniform (a, b) pairs
    * over `nodes` ids, one-sided, single MAILED label. */
  def mail(seed: Long, edges: Int = 367662, nodes: Int = 10000): Array[(Long, Long)] = {
    val rnd = new SplittableRandom(seed * 0xC2B2AE3D27D4EB4FL + 2)
    Array.fill(edges)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
  }

  // ---- dedup corpus ---------------------------------------------------------

  /** Documents: random sentences over a fixed vocabulary; `dupShare` of
    * them are edited copies (a few words swapped) of an earlier document,
    * so near-duplicate families exist at every seed. */
  def documents(seed: Long, n: Int, dupShare: Double = 0.2): Array[(Long, String)] = {
    val rnd = new SplittableRandom(seed * 0x165667B19E3779F9L + 3)
    val vocab = Array.tabulate(2000) { i =>
      val r = new SplittableRandom(i * 31L + 7)
      Array.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString
    }
    val docs = new Array[(Long, String)](n)
    var i = 0
    while (i < n) {
      val text =
        if (i > 10 && rnd.nextDouble() < dupShare) {
          val words = docs(rnd.nextInt(i))._2.split(' ')
          val edits = 1 + rnd.nextInt(2)
          for (_ <- 0 until edits) words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.length))
          words.mkString(" ")
        } else Array.fill(40 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      docs(i) = (i.toLong, text)
      i += 1
    }
    docs
  }

  /** Embeddings: `clusters` random centres with spread-out members, plus
    * `dupShare` near-copies of earlier vectors (cosine ≈ 0.95). */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int = 40,
      dupShare: Double = 0.15): Array[(Long, Array[Float])] = {
    val rnd = new SplittableRandom(seed * 0x27D4EB2F165667C5L + 4)
    val centres = Array.fill(clusters)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val out = new Array[(Long, Array[Float])](n)
    var i = 0
    while (i < n) {
      val v =
        if (i > 10 && rnd.nextDouble() < dupShare) {
          val b = out(rnd.nextInt(i))._2
          Array.tabulate(dim)(d => (b(d) + 0.12 * (rnd.nextDouble() * 2 - 1)).toFloat)
        } else {
          val c = centres(rnd.nextInt(clusters))
          Array.tabulate(dim)(d => (c(d) + 0.9 * (rnd.nextDouble() * 2 - 1)).toFloat)
        }
      out(i) = (i.toLong, v)
      i += 1
    }
    out
  }

  // ---- files ---------------------------------------------------------------

  /** Write `(a, b)` pairs as lines `a<sep>b`. */
  def writePairs(f: File, pairs: Array[(Long, Long)], sep: Char): Unit = {
    val out = new BufferedWriter(new FileWriter(f), 1 << 20)
    try {
      var i = 0
      val sb = new java.lang.StringBuilder(32)
      while (i < pairs.length) {
        sb.setLength(0)
        sb.append(pairs(i)._1).append(sep).append(pairs(i)._2).append('\n')
        out.write(sb.toString)
        i += 1
      }
    } finally out.close()
  }
}
