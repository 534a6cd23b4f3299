package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run of one workload.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --cpus C --work DIR --report FILE --start EPOCH_MS
  *   graftbench.Main --tour 1 --cpus C --work DIR
  *
  * Phases: set-up (JVM and Spark session start, input generation, load,
  * graph build and cache); the timed phase (whole rounds of the workload's
  * operation list, one client, closed loop, until `seconds` have passed;
  * the first round runs in a fresh JVM, so it carries JIT compilation and
  * the engine's first-touch memos, as a batch job starting the engine
  * does); the checks (every drained result against its independent
  * computation, untimed). The result JSON goes to
  * `report` and, as the last line, to standard output.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = args("cpus").toInt
    val work = new File(args("work"))

    def session(name: String): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cpus]").appName(s"graftbench-$name")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    if (args.get("tour").contains("1")) tour(session("tour"), work)
    else run(args, session(args("workload")), work)
  }

  /** Load the classes every workload uses, on small inputs: the build runs
    * this once to record the JVM's class-data archive. */
  private def tour(spark: SparkSession, work: File): Unit = {
    for (name <- Workload.names) {
      val w = Workload(name, seed = 0, scale = 20)
      val dir = new File(work, s"tour-$name")
      dir.mkdirs()
      w.setup(spark, dir)
      w.ops.foreach { o =>
        try o.run() catch { case e: Exception => System.err.println(s"graftbench: tour ${o.name}: $e") }
      }
    }
    spark.stop()
  }

  private def run(args: Map[String, String], spark: SparkSession, work: File): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val t0s = args("start").toLong

    // ---- set-up: JVM and session start, inputs, load, build and cache
    val w = Workload(workload, seed)
    val dir = new File(work, "inputs")
    dir.mkdirs()
    w.setup(spark, dir)
    val ops = w.ops
    val setupS = (System.currentTimeMillis() - t0s) / 1e3
    System.gc() // the timed round starts without the set-up's garbage

    // ---- timed phase -----------------------------------------------------
    if (trace) Trace.start(spark)
    val results = mutable.ArrayBuffer[Map[String, AnyRef]]()
    val latency = mutable.ArrayBuffer[Double]()
    val perOp = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var failed = 0
    val errors = mutable.ArrayBuffer[String]()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val round = mutable.LinkedHashMap[String, AnyRef]()
      for (o <- ops) {
        Trace.op = o.name
        val s = System.nanoTime()
        try round(o.name) = o.run()
        catch { case e: Exception => failed += 1; errors += s"${o.name}: $e" }
        val l = (System.nanoTime() - s) / 1e9
        latency += l
        perOp.getOrElseUpdate(o.name, mutable.ArrayBuffer()) += l
      }
      results += round.toMap
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    // read before the checks, whose reference structures share this heap
    val peakRss = peakRssMib()
    val traced = if (trace) Some(Trace.stop(spark, results.size)) else None

    // ---- checks ------------------------------------------------------------
    val c0 = System.nanoTime()
    var ref, hit = 0L
    for (round <- results; o <- ops; got <- round.get(o.name)) {
      val v = try o.check(got, round) catch { case e: Exception => Verdict(ok = false, 1, 0, e.toString) }
      if (o.approx) { ref += v.ref; hit += v.hit }
      if (!v.ok) { failed += 1; errors += s"${o.name}: ${v.note}" }
    }
    errors.distinct.foreach(e => System.err.println(s"graftbench: FAILED $e"))
    val checkS = (System.nanoTime() - c0) / 1e9
    spark.stop()

    // ---- report ------------------------------------------------------------
    val attempted = latency.size
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> ((attempted - failed).max(0) / elapsed, "ops/s"),
      "op_p50_s" -> (median(latency.toSeq), "s"),
      "peak_rss_mib" -> (peakRss, "MiB"),
      "recall" -> (if (ref == 0) 1.0 else hit.toDouble / ref, "ratio"))
    val metrics = traced.map(_._1.toSeq.sortBy(_._1)).getOrElse(endToEnd)
    val result = s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${json(metrics)}}"""
    val detail = Seq(
      s""""workload": "$workload", "seed": $seed, "rounds": ${results.size}, "ops_per_round": ${ops.size}""",
      s""""java_vm_info": "${System.getProperty("java.vm.info")}"""",
      s""""elapsed_s": $elapsed, "check_s": $checkS""",
      s""""inputs": {${w.makeup.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}""",
      s""""end_to_end": ${json(endToEnd)}""",
      s""""op_p50_s": {${perOp.map { case (k, v) => s""""$k": ${median(v.toSeq)}""" }.mkString(", ")}}""") ++
      traced.map { case (_, jobs) =>
        s""""jobs_per_op": {${jobs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}""" }
    val out = new java.io.PrintWriter(args("report"))
    try out.println(s"""{"result": $result, ${detail.mkString(", ")}}""") finally out.close()
    println(result)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def json(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString("{", ", ", "}")

  /** Peak resident set of this process (the driver; executors run inside it). */
  private def peakRssMib(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
