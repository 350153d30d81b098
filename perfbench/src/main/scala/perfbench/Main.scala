package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The graft benchmark harness: one workload per JVM, `local[4]`, one
  * client thread, inputs generated from `--seed`. See README.md for the
  * workloads, the metrics and how to run it; `run.py` builds and launches
  * this class.
  *
  * Usage: `Main --workload ingest|serve|curate --seed N --seconds S
  *   --trace 0|1 --work DIR`
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = Paths.get(args.work).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bench = new Bench(spark, args, work)
    val result =
      try args.workload match {
        case "ingest" => new Ingest(bench).run()
        case "serve"  => new Serve(bench).run()
        case "curate" => new Curate(bench).run()
        case other    => sys.error(s"unknown workload '$other'")
      } finally spark.stop()
    println(result)
  }
}

/** Shared run state: timing of operations and layer calls, the traced
  * run's Spark accounting, set-up bookkeeping and the result line. */
final class Bench(val spark: SparkSession, val args: Main.Args, val work: String) {

  val trace: Option[Trace] = Option.when(args.trace) {
    val t = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Seconds from JVM start to a ready session: paid once per run. */
  val sessionReadyS: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  // ------------------------------------------------------------ operations

  final class Op(val kind: String, val wallS: Double, val ok: Boolean)
  val ops = mutable.ArrayBuffer.empty[Op]
  private var unexpectedFailures = 0
  var checksFailed = 0

  /** Spark accounting per op kind, traced run only. */
  final class KindAcc {
    var n = 0; var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var driverOnlyS = 0.0; var execRunS = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
    var compiles = 0L; var compileMs = 0.0; var settleMs = 0.0
  }
  val kinds = mutable.LinkedHashMap.empty[String, KindAcc]
  private var opSeq = 0

  /** Run one timed operation under its own job group. A throw is a failed
    * operation (the exception is returned, not rethrown). */
  def op[T](kind: String)(body: => T): Either[Throwable, T] = {
    opSeq += 1
    val group = s"$kind-$opSeq"
    val sc = spark.sparkContext
    val cg0 = if (trace.isDefined) Trace.codegen() else (0L, 0.0)
    if (trace.isDefined) sc.setJobGroup(group, group)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    ops += new Op(kind, wall, res.isRight)
    trace.foreach { tr =>
      sc.clearJobGroup()
      val cg1 = Trace.codegen()
      val s0 = System.nanoTime()
      val g = tr.settle(group)
      val a = kinds.getOrElseUpdate(kind, new KindAcc)
      a.n += 1; a.jobs += g.jobsStarted; a.stages += g.stages; a.tasks += g.tasksStarted
      a.failedTasks += g.failedTasks
      a.driverOnlyS += math.max(0.0, wall - Trace.unionMs(g.stageSpans.toSeq, t0ms, t1ms) / 1000.0)
      a.execRunS += g.executorRunMs / 1000.0
      a.shuffleRead += g.shuffleRead; a.shuffleWrite += g.shuffleWrite
      a.spill += g.spill; a.input += g.input
      a.compiles += cg1._1 - cg0._1; a.compileMs += cg1._2 - cg0._2
      a.settleMs += (System.nanoTime() - s0) / 1e6
    }
    res
  }

  /** Time one call into a library module; accumulated per layer metric. */
  val layer = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  def timeLayer[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally layer(name) += (System.nanoTime() - t0) / 1e9
  }

  /** Run `body` (one round of operations) at least `minRounds` times and
    * until `args.seconds` have elapsed; returns the elapsed s. A fixed
    * minimum keeps fast and slow hosts measuring the same mix of cold and
    * warm operations. */
  def window(minRounds: Int)(body: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minRounds || (System.nanoTime() - t0) / 1e9 < args.seconds) { body(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------------- set-up

  /** Set-up time: JVM start to a ready session, plus every set-up step the
    * workload runs through `onceTimed` (inputs, metastore, index, warm-up). */
  private var onceS = 0.0
  def onceTimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally onceS += (System.nanoTime() - t0) / 1e9
  }
  def setupS: Double = sessionReadyS + onceS

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM not available"))

  // ---------------------------------------------------------------- output

  /** Human-readable metric line, by name with its unit. */
  def report(name: String, value: Double, unit: String, note: String = ""): Unit =
    println(f"metric $name%-28s $value%.6f $unit%s" + (if (note.nonEmpty) s"  ($note)" else ""))

  /** The tail latency line: its percentile and n, or why there is none. */
  def reportTail(name: String, xs: Seq[Double]): Unit = Stats.tail(xs) match {
    case (Some(p), v) => report(name, v, "s", s"p$p, n=${xs.size}")
    case _ => println(f"metric $name%-28s n/a s  (needs 20 samples for a percentile " +
      s"above the median with 10 beyond it, n=${xs.size})")
  }

  /** An operation threw where no failure was expected. */
  def failed(what: String, e: Throwable): Unit = {
    unexpectedFailures += 1
    println(s"FAILED $what: ${Bench.firstLine(e)}")
  }

  def defect(tag: String, reproduced: Boolean, detail: String): Unit =
    println(s"known-defect ($tag): " +
      (if (reproduced) "reproduced" else "NOT reproduced (fixed?)") + s" — $detail")

  /** Successful operations of the given kinds, in run order. */
  def walls(kinds: String*): Seq[Double] =
    ops.filter(o => kinds.contains(o.kind) && o.ok).map(_.wallS).toSeq

  /** The closing JSON line. `p50` is the workload's headline latency, over
    * the `head` samples; `perSec` its operations (queries for serve) per
    * second of the measured window. The traced run's pooled `spark.*`
    * metrics cover the operation kinds in `pooled`. */
  def result(head: Seq[Double], p50: Double, perSec: Double,
             perLayer: Map[String, Double], pooled: Set[String]): String = {
    val attempted = ops.size
    val failed = ops.count(!_.ok) + checksFailed
    println(f"setup: session ${sessionReadyS}%.3f s, workload ${onceS}%.3f s")
    report("setup_s", setupS, "s")
    report("peak_rss_mb", peakRssMb, "MB")
    report("failed_share", failed.toDouble / attempted, "1", s"$failed of $attempted")
    report("p50_s", p50, "s", s"n=${head.size}")
    reportTail("tail_s", head)
    report("ops_per_s", perSec, "1/s")
    val correct = unexpectedFailures == 0 && checksFailed == 0
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"), ("peak_rss_mb", peakRssMb, "MB"),
        ("p50_s", p50, "s"), ("ops_per_s", perSec, "1/s"))
      else {
        val traced = traceMetrics(p50, pooled) ++ perLayer
        PerLayer.names.map { case (n, u) => (n, traced.getOrElse(n, 0.0), u) }
      }
    Json.result(correct, attempted, failed, metrics)
  }

  private def traceMetrics(p50: Double, pooled: Set[String]): Map[String, Double] = {
    val m = mutable.HashMap.empty[String, Double]
    val all = new KindAcc
    kinds.foreach { case (k, a) =>
      m(s"spark.jobs.$k") = a.jobs.toDouble / a.n
      m(s"spark.stages.$k") = a.stages.toDouble / a.n
      m(s"spark.tasks.$k") = a.tasks.toDouble / a.n
      m(s"spark.driver_only_s.$k") = a.driverOnlyS / a.n
    }
    kinds.filter { case (k, _) => pooled(k) }.foreach { case (_, a) =>
      all.n += a.n; all.jobs += a.jobs; all.stages += a.stages; all.tasks += a.tasks
      all.driverOnlyS += a.driverOnlyS; all.execRunS += a.execRunS
      all.shuffleRead += a.shuffleRead; all.shuffleWrite += a.shuffleWrite
      all.spill += a.spill; all.input += a.input; all.failedTasks += a.failedTasks
      all.compiles += a.compiles; all.compileMs += a.compileMs; all.settleMs += a.settleMs
    }
    val n = math.max(all.n, 1).toDouble
    val mb = 1024.0 * 1024.0
    m("spark.jobs") = all.jobs / n
    m("spark.stages") = all.stages / n
    m("spark.tasks") = all.tasks / n
    m("spark.driver_only_s") = all.driverOnlyS / n
    m("spark.executor_run_s") = all.execRunS / n
    m("spark.shuffle_read_mb") = all.shuffleRead / mb / n
    m("spark.shuffle_write_mb") = all.shuffleWrite / mb / n
    m("spark.spill_mb") = all.spill / mb / n
    m("spark.input_mb") = all.input / mb / n
    m("spark.codegen_compiles") = all.compiles / n
    m("spark.codegen_compile_ms") = all.compileMs / n
    m("spark.failed_tasks") = all.failedTasks.toDouble
    m("trace.p50_s") = p50
    m("trace.settle_ms") = all.settleMs / n
    m.toMap
  }
}

object Bench {
  def firstLine(e: Throwable): String =
    String.valueOf(e.getMessage).linesIterator.take(1).mkString
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile; NaN on no samples. */
  def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** The highest whole percentile with at least ten samples beyond it, and
    * its value; None while that percentile would not exceed the median
    * (under 20 samples). */
  def tail(xs: Seq[Double]): (Option[Int], Double) =
    if (xs.size < 20) (None, Double.NaN)
    else {
      val p = math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt
      (Some(p), percentile(xs, p))
    }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ") + "}}"
}
