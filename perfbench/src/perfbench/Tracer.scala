package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.dists.{DistRegistry, FrozenModel}
import graft.functions.Metrics

/** The traced run's instruments, all outside the engine: a SparkListener
  * for jobs, stages and tasks, a QueryExecutionListener for Catalyst phase
  * times, the BlockManager's cached-RDD storage for the leak probe, and
  * driver-side re-runs of each request's fit and ppf kernels. Jobs are
  * attributed to the request whose wall-time interval contains their
  * submission (one client, so intervals never overlap); jobs inside the
  * timed loop that no request claims are counted as untagged. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var shufW = 0L; var shufR = 0L; var spill = 0L; var outBytes = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }
  final case class Job(id: Int, start: Long, callSite: String, stageIds: Seq[Int],
                       execId: Option[Long]) {
    var end: Long = start
  }
  final case class Plan(execId: Long, func: String, start: Long, analysisMs: Long,
                        optimizationMs: Long, planningMs: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, StageAcc]()
  private val completedStages = mutable.HashSet[Int]()
  private val plans = mutable.ArrayBuffer[Plan]()

  sc.addSparkListener(new SparkListener {
    // a job's result stage (its last-created one) is named after the
    // job's short call site, e.g. "collect at Fitter.scala:412"
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val cs = if (e.stageInfos.isEmpty) "unknown" else e.stageInfos.maxBy(_.stageId).name
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs(e.jobId) = Job(e.jobId, e.time, cs, e.stageIds, exec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      completedStages += e.stageInfo.stageId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1
      a.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      Tracer.this.synchronized {
        plans += Plan(qe.id, funcName, start, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Ids of the RDDs persisted right now. */
  def heldRdds(): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Cached bytes of RDDs persisted since `before`, with their ids. */
  def leakedSince(before: Set[Int]): (Long, Seq[Int]) = {
    val now = sc.getPersistentRDDs.keySet.toSet -- before
    if (now.isEmpty) (0L, Nil)
    else {
      val bytes = sc.getRDDStorageInfo.filter(i => now(i.id)).map(i => i.memSize + i.diskSize).sum
      (bytes, now.toSeq.sorted)
    }
  }

  private def jobSeconds(j: Job) = (j.end - j.start) / 1000.0

  /** Adaptive execution submits each query stage from a pool thread, so
    * those jobs' own call site names Spark's thread pool. They take the call
    * site of the job of the same SQL execution that ran on the caller's
    * thread, or else the action's name ("head (query stages)"). */
  private def resolveCallSites(js: Seq[Job], plans: Seq[Plan]): Seq[Job] = {
    def pooled(j: Job) = j.callSite.contains("CompletableFuture")
    val byExec = js.filterNot(pooled).flatMap(j => j.execId.map(_ -> j.callSite)).toMap
    val funcs = plans.map(p => p.execId -> p.func).toMap
    js.map { j =>
      if (!pooled(j)) j
      else {
        val cs = j.execId.flatMap(x => byExec.get(x)
          .orElse(funcs.get(x).map(f => s"$f (query stages)"))).getOrElse(j.callSite)
        val r = j.copy(callSite = cs); r.end = j.end; r
      }
    }
  }
  private def acc(j: Job): Seq[StageAcc] = j.stageIds.flatMap(stages.get)

  /** Kinds of the jobs a request ran inside its `fit` phase (the
    * `Fitter.fit*` call): the fan-out is the results `count`, the sample
    * pass is a `collect` that writes no shuffle, and the rest are the
    * stats and histogram passes with their adaptive query stages. */
  private def fitterKinds(js: Seq[Job], phases: Phases): Seq[(String, Job)] =
    phases.intervals.toSeq.filter(_._1 == "fit").flatMap { case (_, s, e) =>
      js.filter(j => j.start >= s && j.start <= e).map { j =>
        val kind =
          if (j.callSite.startsWith("count at Fitter.scala")) "fanout"
          else if (j.callSite.startsWith("collect at Fitter.scala") && acc(j).forall(_.shufW == 0))
            "sample"
          else "scan"
        kind -> j
      }
    }

  private def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def summarize(recs: Seq[Rec], loopMs0: Long, loopMs1: Long,
                kernels: Map[String, Seq[KernelCase]],
                ppfs: Map[String, Seq[Double => Double]],
                sampleOnly: Map[String, () => Unit],
                medianByName: Map[String, Double]): Seq[(String, Any)] = {
    org.apache.spark.PerfbenchAccess.drain(sc)
    val n = math.max(1, recs.length).toDouble
    val cores = sc.defaultParallelism

    // driver-side kernel re-runs, one per distinct request, single thread
    val kernelCost: Map[String, Kernels.Cost] = kernels.map { case (nm, cs) =>
      nm -> Kernels.measure(cs) }
    val ppfS: Map[String, Double] = ppfs.map { case (nm, fs) => nm -> Kernels.ppfGrid(fs) }
    val sampleS: Map[String, Double] = sampleOnly.map { case (nm, f) =>
      f(); nm -> Workloads.timed(f())._2 }

    val (rawJobs, planList) = synchronized((jobs.values.toSeq, plans.toSeq))
    val jobList = resolveCallSites(rawJobs, planList)
    val inLoop = jobList.filter(j => j.start >= loopMs0 && j.start <= loopMs1)
    def claimedBy(r: Rec) = inLoop.filter(j => j.start >= r.ms0 && j.start <= r.ms1)
    val claimed = recs.map(r => r -> claimedBy(r))
    // jobs of the untimed output checks and clean-up after each request
    val checkJobs = inLoop.filter(j => recs.exists(r => j.start > r.ms1 && j.start <= r.msEnd))
    val ids = (claimed.flatMap(_._2) ++ checkJobs).map(_.id).toSet
    val untagged = inLoop.filterNot(j => ids(j.id))

    val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = sums(k) += v
    val sites = mutable.LinkedHashMap[(String, String), Array[Double]]()
    var skewSum = 0.0; var skewN = 0
    val leaks = mutable.ArrayBuffer[(String, Long)]()

    claimed.foreach { case (r, js) =>
      val accs = js.flatMap(acc)
      add("spark.jobs", js.length)
      add("spark.stages", js.flatMap(_.stageIds).count(completedStages))
      add("spark.tasks", accs.map(_.tasks).sum)
      add("spark.task_run_s", accs.map(_.runMs).sum / 1000.0)
      add("spark.task_cpu_s", accs.map(_.cpuNs).sum / 1e9)
      add("spark.gc_s", accs.map(_.gcMs).sum / 1000.0)
      add("spark.input_bytes", accs.map(_.inBytes).sum)
      add("spark.shuffle_write_bytes", accs.map(_.shufW).sum)
      add("spark.shuffle_read_bytes", accs.map(_.shufR).sum)
      add("spark.spill_bytes", accs.map(_.spill).sum)
      add("spark.output_bytes", accs.map(_.outBytes).sum)
      add("busy_ms", accs.map(_.runMs).sum)
      add("wall_s", r.latency)
      val covered = union(js.map(j => (math.max(j.start, r.ms0), math.min(j.end, r.ms1))))
      add("driver.nonjob_s", math.max(0.0, r.latency - covered / 1000.0))
      fitterKinds(js, r.phases).foreach { case (kind, j) =>
        add(s"fitter.${kind}_job_s", jobSeconds(j))
        if (kind == "fanout") {
          val d = acc(j).flatMap(_.durations).sorted
          if (d.nonEmpty) {
            skewSum += d.last.toDouble / math.max(1L, d(d.length / 2)); skewN += 1
          }
        }
      }
      r.phases.intervals.filter(_._1 == "construct").foreach { case (_, s, e) =>
        add("entry.eager_jobs", js.count(j => j.start >= s && j.start <= e))
      }
      r.phases.seconds.foreach {
        case ("construct", v) => add("entry.construct_s", v)
        case ("action", v) => add("entry.action_s", v)
        case ("best", v) => add("fitresults.best_s", v)
        case _ =>
      }
      planList.filter(p => p.start >= r.ms0 && p.start <= r.ms1).foreach { p =>
        add("catalyst.analysis_s", p.analysisMs / 1000.0)
        add("catalyst.optimization_s", p.optimizationMs / 1000.0)
        add("catalyst.planning_s", p.planningMs / 1000.0)
      }
      add("codegen.compiles", r.compiles)
      add("codegen.compile_s", r.compileS)
      add("fit_ok", r.fitOk._1); add("fit_rows", r.fitOk._2)
      r.leak.foreach { case (bytes, ids) =>
        add("storage.leaked_bytes", bytes)
        if (ids.nonEmpty) leaks += ((r.name, bytes))
      }
      kernelCost.get(r.name).foreach { c =>
        add("dists.fit_s", c.fit); add("dists.fit_max_s", c.fitMax)
        add("dists.slow_share", c.slowShare)
        add("functions.sse_s", c.sse); add("functions.ic_s", c.ic)
        add("functions.ks_s", c.ks); add("functions.ad_s", c.ad)
      }
      ppfS.get(r.name).foreach(v => add("dists.ppf_s", v))
      sampleS.get(r.name).foreach { v =>
        add("generation.sample_s", v)
        add("generation.write_s", math.max(0.0, medianByName(r.name) - v))
      }
      js.foreach { j =>
        val a = sites.getOrElseUpdate((r.name, j.callSite), new Array[Double](4))
        a(0) += 1; a(1) += j.stageIds.count(completedStages)
        a(2) += acc(j).map(_.tasks).sum; a(3) += jobSeconds(j)
      }
    }
    for ((label, js) <- Seq("checks" -> checkJobs, "untagged" -> untagged); j <- js) {
      val a = sites.getOrElseUpdate((label, j.callSite), new Array[Double](4))
      a(0) += 1; a(1) += j.stageIds.count(completedStages)
      a(2) += acc(j).map(_.tasks).sum; a(3) += jobSeconds(j)
    }

    def mean(k: String) = sums(k) / n
    val scaleRatio = (medianByName.get("scan_multi"), medianByName.get("scan_small")) match {
      case (Some(big), Some(small)) if small > 0 => big / small
      case _ => 0.0
    }
    val perLayer: Seq[(String, Double)] = Seq(
      "dists.fit_s" -> mean("dists.fit_s"),
      "dists.fit_max_s" -> mean("dists.fit_max_s"),
      "dists.slow_share" -> mean("dists.slow_share"),
      "dists.ppf_s" -> mean("dists.ppf_s"),
      "functions.sse_s" -> mean("functions.sse_s"),
      "functions.ic_s" -> mean("functions.ic_s"),
      "functions.ks_s" -> mean("functions.ks_s"),
      "functions.ad_s" -> mean("functions.ad_s"),
      "fitter.scan_job_s" -> mean("fitter.scan_job_s"),
      "fitter.sample_job_s" -> mean("fitter.sample_job_s"),
      "fitter.fanout_job_s" -> mean("fitter.fanout_job_s"),
      "fitter.fanout_skew" -> (if (skewN > 0) skewSum / skewN else 0.0),
      "fitter.fit_ok_ratio" -> (if (sums("fit_rows") > 0) sums("fit_ok") / sums("fit_rows") else 0.0),
      "fitter.scale_ratio" -> scaleRatio,
      "fitresults.best_s" -> mean("fitresults.best_s"),
      "generation.sample_s" -> mean("generation.sample_s"),
      "generation.write_s" -> mean("generation.write_s"),
      "entry.construct_s" -> mean("entry.construct_s"),
      "entry.eager_jobs" -> mean("entry.eager_jobs"),
      "entry.action_s" -> mean("entry.action_s"),
      "catalyst.analysis_s" -> mean("catalyst.analysis_s"),
      "catalyst.optimization_s" -> mean("catalyst.optimization_s"),
      "catalyst.planning_s" -> mean("catalyst.planning_s"),
      "codegen.compiles" -> mean("codegen.compiles"),
      "codegen.compile_s" -> mean("codegen.compile_s"),
      "driver.nonjob_s" -> mean("driver.nonjob_s"),
      "spark.jobs" -> mean("spark.jobs"),
      "spark.stages" -> mean("spark.stages"),
      "spark.tasks" -> mean("spark.tasks"),
      "spark.task_run_s" -> mean("spark.task_run_s"),
      "spark.task_cpu_s" -> mean("spark.task_cpu_s"),
      "spark.gc_s" -> mean("spark.gc_s"),
      "spark.core_busy_frac" ->
        (if (sums("wall_s") > 0) sums("busy_ms") / 1000.0 / (sums("wall_s") * cores) else 0.0),
      "spark.input_bytes" -> mean("spark.input_bytes"),
      "spark.shuffle_write_bytes" -> mean("spark.shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> mean("spark.shuffle_read_bytes"),
      "spark.spill_bytes" -> mean("spark.spill_bytes"),
      "spark.output_bytes" -> mean("spark.output_bytes"),
      "spark.untagged_jobs" -> untagged.length.toDouble,
      "storage.leaked_bytes" -> mean("storage.leaked_bytes"),
      "trace.request_p50_s" -> Stats.median(recs.map(_.latency)))
    Seq(
      "per_layer" -> perLayer,
      "leaks" -> leaks.groupBy(_._1).map { case (nm, xs) =>
        nm -> Seq("requests" -> xs.length, "bytes" -> xs.map(_._2).sum) },
      "call_sites" -> sites.toSeq.map { case ((req, cs), a) =>
        Seq("request" -> req, "call_site" -> cs, "jobs" -> a(0).toLong, "stages" -> a(1).toLong,
          "tasks" -> a(2).toLong, "seconds" -> a(3))
      },
      "kernels" -> kernelCost.toSeq.sortBy(_._1).map { case (nm, c) =>
        nm -> Seq("fit_s" -> c.fit, "fit_max_s" -> c.fitMax, "slowest" -> c.slowest,
          "sse_s" -> c.sse, "ic_s" -> c.ic, "ks_s" -> c.ks, "ad_s" -> c.ad, "failed_fits" -> c.failed)
      })
  }
}

/** Single-thread, driver-side re-runs of the fit and quantile kernels on a
  * request's own inputs: `DistRegistry.get(n).fit` and the `Metrics`
  * functions the fan-out calls per (column, family). */
object Kernels {
  final case class Cost(fit: Double, fitMax: Double, slowShare: Double, slowest: String,
                        sse: Double, ic: Double, ks: Double, ad: Double, failed: Int)

  def measure(cases: Seq[KernelCase]): Cost = {
    val fitTimes = mutable.ArrayBuffer[(String, Double)]()
    var (sse, ic, ks, ad, failed) = (0.0, 0.0, 0.0, 0.0, 0)
    def t[T](body: => T): (T, Double) = Workloads.timed(body)
    cases.foreach { c =>
      val xs = c.sample
      val (lo, hi) = (xs.min, xs.max + 1e-10 * math.max(1.0, math.abs(xs.max)))
      val bins = 50
      val width = (hi - lo) / bins
      val counts = new Array[Double](bins)
      xs.foreach(x => counts(math.min(bins - 1, ((x - lo) / width).toInt)) += 1)
      val density = counts.map(_ / (xs.length * width))
      val edges = Array.tabulate(bins + 1)(i => lo + i * width)
      c.families.foreach { name =>
        DistRegistry.get(name).foreach { d =>
          val (params, ft) = t(try d.fit(xs) catch { case _: Throwable => Array(Double.NaN) })
          fitTimes += ((name, ft))
          if (params.exists(p => !java.lang.Double.isFinite(p))) failed += 1
          else {
            val m = FrozenModel(d, params, None, None)
            sse += t(Metrics.sseContinuous(m, density, edges))._2
            ic += t(Metrics.informationCriteria(m, params.length, xs))._2
            ks += t(Metrics.ksStatistic(m, xs))._2
            ad += t { Metrics.adStatistic(m, xs); Metrics.adPValue(d, xs) }._2
          }
        }
      }
    }
    val total = fitTimes.map(_._2).sum
    val sorted = fitTimes.sortBy(-_._2)
    val slowN = math.max(1, math.ceil(sorted.length / 10.0).toInt)
    Cost(total, if (sorted.isEmpty) 0.0 else sorted.head._2,
      if (total > 0) sorted.take(slowN).map(_._2).sum / total else 0.0,
      sorted.headOption.map(_._1).getOrElse(""), sse, ic, ks, ad, failed)
  }

  /** Exact quantile evaluations over the 4097-point grid the engine's
    * tabulated ppf is built from, one thread. */
  def ppfGrid(fs: Seq[Double => Double]): Double = Workloads.timed {
    fs.foreach { f =>
      var i = 0
      while (i <= 4096) { f(1e-7 + (1 - 2e-7) * i / 4096); i += 1 }
    }
  }._2
}
