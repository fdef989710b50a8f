package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: build the session, set the workload
  * up, run whole passes of its requests in a closed loop with one client
  * until the time budget is spent, then write the run record as JSON.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <file> [--tables <dir>] [--launched-ms <ms>]
  *
  * `perfbench/run.py` builds the classes, makes the inputs, launches this
  * main and turns the record into the one-line result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new java.io.File(opts("work"))
    val launchedMs = opts.get("launched-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1000.0
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val out = try {
      val wl = Workloads(name, spark, seed, work, opts.get("tables"))
      val loop = new Loop(spark, wl, seconds, tracer)
      loop.run(sessionS)
    } finally spark.stop()
    val f = new java.io.File(opts("out"))
    java.nio.file.Files.write(f.toPath, Json.write(out).getBytes("UTF-8"))
  }

  /** `local[4]` with the session settings `graft.Bench` times under; all
    * scratch (shuffle, spill, warehouse) stays inside `work`. */
  def session(work: java.io.File): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "32768")
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
