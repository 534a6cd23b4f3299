package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans around the benchmark's calls into the engine's modules, and the
  * Spark listener data attributed to them.
  *
  * A span covers one call into one layer (`call`) and the materialisation
  * of its result (`drain`). With tracing on, the span sets a Spark job
  * group that names it, so every job the call or the drain starts, on any
  * thread, is attributed to it by group; Catalyst phase times arrive
  * through a query-execution listener and are attributed to the span
  * whose interval holds the phase start (the client is single-threaded,
  * so spans never overlap). With tracing off a span only runs its two
  * halves: no listener is registered and no job group is set.
  */
object Trace {
  val layers: Seq[String] = Seq("sources", "operators", "cypher", "analytics", "functions")

  final case class Span(id: Int, op: String, layer: String, start: Long, callEnd: Long, end: Long)
  private final case class Job(id: Int, group: String, start: Long, var end: Long)

  @volatile private var recorder: Recorder = _
  private var nextSpan = 0
  /** Name of the operation the next spans belong to (for the per-op report). */
  var op: String = ""

  /** Run `call` (inside the layer) then `drain` (materialise its result). */
  def span[A, B](layer: String)(call: => A)(drain: A => B): B = {
    val r = recorder
    if (r == null) drain(call)
    else {
      nextSpan += 1
      val id = nextSpan
      val sc = r.sc
      sc.setJobGroup(s"graftbench:$id", layer, interruptOnCancel = false)
      try {
        val t0 = System.nanoTime()
        val a = call
        val t1 = System.nanoTime()
        val b = drain(a)
        val t2 = System.nanoTime()
        r.spans += Span(id, op, layer, t0, t1, t2)
        b
      } finally sc.clearJobGroup()
    }
  }

  /** Start recording; the timed phase begins now. */
  def start(spark: SparkSession): Unit = {
    val r = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r.qe)
    recorder = r
  }

  /** Stop recording; returns per-round layer metrics and engine totals,
    * and per operation its Spark jobs per round. */
  def stop(spark: SparkSession, rounds: Int): (Map[String, (Double, String)], Map[String, Double]) = {
    val r = recorder
    recorder = null
    val end = System.nanoTime()
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(r)
    spark.listenerManager.unregister(r.qe)
    (r.metrics(end, rounds.toDouble), r.jobsPerOp(rounds.toDouble))
  }

  private final class Recorder(val sc: SparkContext) extends SparkListener {
    val t0: Long = System.nanoTime()
    // listener events carry epoch millis; spans use the monotonic clock
    private val epochAtT0 = System.currentTimeMillis()
    private def toNanos(epochMs: Long): Long = t0 + (epochMs - epochAtT0) * 1000000L

    val spans = mutable.ArrayBuffer[Span]()
    private val jobs = mutable.HashMap[Int, Job]()
    private val stageGroup = mutable.HashMap[Int, String]()
    private val stageIds = mutable.HashSet[Int]()
    // per job group: (cpu ns, shuffle bytes); engine totals below
    private val groupCpu = mutable.HashMap[String, Long]().withDefaultValue(0L)
    private val groupShuffle = mutable.HashMap[String, Long]().withDefaultValue(0L)
    private var tasks, runMs, gcMs, spill = 0L
    private val catalyst = mutable.ArrayBuffer[(Long, Long)]() // (phase start ns, duration ns)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, g, toNanos(e.time), -1L)
      e.stageIds.foreach { s => stageIds += s; if (!stageGroup.contains(s)) stageGroup(s) = g }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = toNanos(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        tasks += 1
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val g = stageGroup.getOrElse(e.stageId, "")
        groupCpu(g) += m.executorCpuTime
        groupShuffle(g) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }

    val qe: QueryExecutionListener = new QueryExecutionListener {
      private def record(q: QueryExecution): Unit = Recorder.this.synchronized {
        q.tracker.phases.values.foreach(p =>
          catalyst += ((toNanos(p.startTimeMs), (p.endTimeMs - p.startTimeMs) * 1000000L)))
      }
      override def onSuccess(funcName: String, q: QueryExecution, durationNs: Long): Unit = record(q)
      override def onFailure(funcName: String, q: QueryExecution, exception: Exception): Unit = record(q)
    }

    /** Length of the part of [a, b] covered by the union of `iv`. */
    private def covered(a: Long, b: Long, iv: Seq[(Long, Long)]): Long = {
      var total = 0L
      var reach = a
      iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter(x => x._2 > x._1)
        .sortBy(_._1).foreach { case (s, e) =>
          if (e > reach) { total += e - math.max(s, reach); reach = e }
        }
      total
    }

    def jobsPerOp(rounds: Double): Map[String, Double] = synchronized {
      val count = jobs.values.groupBy(_.group).map { case (g, js) => g -> js.size }
      spans.groupBy(_.op).map { case (o, ss) => o -> ss.map(s => count.getOrElse(s"graftbench:${s.id}", 0)).sum / rounds }
    }

    def metrics(end: Long, rounds: Double): Map[String, (Double, String)] = synchronized {
      val sec = 1e9
      val mib = 1024.0 * 1024.0
      def interval(j: Job) = (j.start, if (j.end < 0) end else j.end)
      val byGroup = jobs.values.groupBy(_.group)
      val perLayer = layers.flatMap { l =>
        val ss = spans.filter(_.layer == l)
        val groups = ss.map(s => s"graftbench:${s.id}")
        val js = groups.flatMap(g => byGroup.getOrElse(g, Nil))
        val idle = ss.map { s =>
          (s.end - s.start) - covered(s.start, s.end, byGroup.getOrElse(s"graftbench:${s.id}", Nil).map(interval).toSeq)
        }.sum
        val cat = catalyst.filter(c => ss.exists(s => c._1 >= s.start && c._1 <= s.end)).map(_._2).sum
        Seq(
          s"$l.call_s" -> (ss.map(s => s.callEnd - s.start).sum / sec, "s"),
          s"$l.drain_s" -> (ss.map(s => s.end - s.callEnd).sum / sec, "s"),
          s"$l.jobs" -> (js.size.toDouble, "count"),
          s"$l.idle_s" -> (idle / sec, "s"),
          s"$l.catalyst_s" -> (cat / sec, "s"),
          s"$l.cpu_s" -> (groups.map(groupCpu).sum / sec, "s"),
          s"$l.shuffle_mib" -> (groups.map(groupShuffle).sum / mib, "MiB"))
      }
      val engine = Seq(
        "spark.jobs" -> (jobs.size.toDouble, "count"),
        "spark.stages" -> (stageIds.size.toDouble, "count"),
        "spark.tasks" -> (tasks.toDouble, "count"),
        "spark.driver_idle_s" -> (((end - t0) - covered(t0, end, jobs.values.map(interval).toSeq)) / sec, "s"),
        "spark.executor_run_s" -> (runMs / 1e3, "s"),
        "spark.gc_s" -> (gcMs / 1e3, "s"),
        "spark.spill_mib" -> (spill / mib, "MiB"))
      (perLayer ++ engine).map { case (k, (v, u)) => k -> (v / rounds, u) }.toMap
    }
  }
}
