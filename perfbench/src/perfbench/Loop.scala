package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** Named wall-time spans inside one request (construction, action, best,
  * materialize, ...), in seconds and as epoch-millisecond intervals. */
final class Phases {
  val seconds = mutable.LinkedHashMap[String, Double]()
  val intervals = mutable.ArrayBuffer[(String, Long, Long)]()
  def apply[T](name: String)(body: => T): T = {
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body
    finally {
      seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      intervals += ((name, ms0, System.currentTimeMillis()))
    }
  }
}

/** Fit-kernel inputs of one request: its fitting sample per column and the
  * families it fitted, re-run on the driver by the traced run. */
final case class KernelCase(key: String, sample: Array[Double], families: Seq[String])

/** What a request leaves once its timed part has returned.
  *
  * @param check     output checks; each returned string is one failure
  * @param cleanup   releases what the request made (never timed)
  * @param kernels   fit-kernel re-run inputs (traced runs only)
  * @param ppfGrid   exact quantile functions the request tabulated
  * @param sampleOnly re-runs the request's generation without its sink
  * @param fitOk     (successful rows, rows) of the request's fit results
  */
final class Done(
    val check: () => Seq[String],
    val cleanup: () => Unit = () => (),
    val kernels: Seq[KernelCase] = Nil,
    val ppfGrid: Seq[Double => Double] = Nil,
    val sampleOnly: Option[() => Unit] = None,
    val fitOk: () => (Long, Long) = () => (0L, 0L))

final class Request(val name: String, val body: Phases => Done)

/** A set-up workload: the requests of one pass in their seeded order. */
trait Workload {
  def name: String
  def requests: IndexedSeq[Request]
  /** Set-up phase wall times, seconds (reported, and summed into setup_s). */
  def setupTimes: Seq[(String, Double)]
  /** The untimed warm pass: requests that together take every code path
    * of the timed ones through the JIT and code generation once. */
  def warmup: Seq[Request] = requests
  /** Called after the untimed warm pass, before timing starts. */
  def afterWarm(): Unit = ()
  def extraRecord: Seq[(String, Any)] = Nil
}

final case class Rec(name: String, ms0: Long, ms1: Long, msEnd: Long, latency: Double,
                     failures: Seq[String], phases: Phases, compiles: Long,
                     compileS: Double, leak: Option[(Long, Seq[Int])], fitOk: (Long, Long))

/** The closed loop: one client thread sends the next request only after
  * the previous one returned. Runs an untimed warm pass, then whole passes
  * over the request list until `seconds` have elapsed, and at least two,
  * so every request appears equally often and its median is over more
  * than one timing. A `fit` pass takes about 11 s on 4 cores, so a third
  * one would not fit the benchmark's time budget for all its runs. */
final class Loop(spark: SparkSession, wl: Workload, seconds: Double, tracer: Option[Tracer]) {
  private val kernelsByName = mutable.LinkedHashMap[String, Seq[KernelCase]]()
  private val ppfByName = mutable.LinkedHashMap[String, Seq[Double => Double]]()
  private val sampleByName = mutable.LinkedHashMap[String, () => Unit]()

  private def exec(r: Request, keep: Boolean): Rec = {
    val held = tracer.map(_.heldRdds())
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ct0 = CodeGenerator.compileTime
    val ph = new Phases
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val done = try Right(r.body(ph)) catch { case e: Throwable => Left(e) }
    val latency = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    val compileS = (CodeGenerator.compileTime - ct0) / 1e9
    val failures = done match {
      case Left(e) => Seq(s"${r.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(d) =>
        try d.check().map(m => s"${r.name}: $m")
        catch { case e: Throwable => Seq(s"${r.name}: check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val fitOk = done match {
      case Right(d) if tracer.isDefined => try d.fitOk() catch { case _: Throwable => (0L, 0L) }
      case _ => (0L, 0L)
    }
    done.foreach { d =>
      try d.cleanup() catch { case _: Throwable => }
      if (keep && tracer.isDefined) {
        if (d.kernels.nonEmpty) kernelsByName(r.name) = d.kernels
        if (d.ppfGrid.nonEmpty) ppfByName(r.name) = d.ppfGrid
        d.sampleOnly.foreach(s => sampleByName(r.name) = s)
      }
    }
    val leak = for (t <- tracer; h <- held) yield t.leakedSince(h)
    Rec(r.name, ms0, ms1, System.currentTimeMillis(), latency, failures, ph, compiles,
      compileS, leak, fitOk)
  }

  def run(sessionS: Double): Seq[(String, Any)] = {
    val tw = System.nanoTime()
    val warm = wl.warmup.map(r => exec(r, keep = false))
    wl.afterWarm()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + wl.setupTimes.map(_._2).sum + warmS

    val recs = mutable.ArrayBuffer[Rec]()
    val loopMs0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var passes = 0
    do {
      wl.requests.foreach(r => recs += exec(r, keep = true))
      passes += 1
    } while (passes < 2 || (System.nanoTime() - t0) / 1e9 < seconds)
    val loopS = (System.nanoTime() - t0) / 1e9
    val loopMs1 = System.currentTimeMillis()

    val lat = recs.map(_.latency).sorted
    val n = lat.length
    val tailQ = math.max(0.5, 1.0 - 10.0 / n)
    val byName = recs.groupBy(_.name)
    val medianByName = wl.requests.map(_.name).distinct.map(nm =>
      nm -> Stats.median(byName(nm).map(_.latency).toSeq))
    val e2e = Seq(
      "setup_s" -> setupS,
      "request_p50_s" -> Stats.median(lat.toSeq),
      "request_tail_s" -> math.max(Stats.median(lat.toSeq), Stats.nearestRank(lat.toSeq, tailQ)),
      "pass_s" -> medianByName.map(_._2).sum,
      "driver_retained_mb" -> Stats.retainedMb())

    val all = warm ++ recs
    val failures = all.flatMap(_.failures)
    val layer = tracer.map(_.summarize(recs.toSeq, loopMs0, loopMs1, kernelsByName.toMap,
      ppfByName.toMap, sampleByName.toMap, medianByName.toMap))
    Seq(
      "workload" -> wl.name,
      "attempted" -> all.length,
      "failed" -> all.count(_.failures.nonEmpty),
      "failures" -> failures.take(50),
      "passes" -> passes,
      "loop_s" -> loopS,
      "requests" -> n,
      "tail_quantile" -> tailQ,
      "end_to_end" -> e2e,
      "setup" -> (wl.setupTimes ++ Seq("session_s" -> sessionS, "warm_pass_s" -> warmS)),
      "warm_requests" -> warm.map(r => r.name -> r.latency),
      "per_request" -> medianByName.map { case (nm, med) =>
        nm -> Seq("n" -> byName(nm).length, "p50_s" -> med,
          "max_s" -> byName(nm).map(_.latency).max,
          "latencies_s" -> byName(nm).map(_.latency),
          "failed" -> byName(nm).count(_.failures.nonEmpty))
      }) ++ wl.extraRecord ++ layer.getOrElse(Nil)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank quantile of a sorted-or-not sample. */
  def nearestRank(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def retainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
