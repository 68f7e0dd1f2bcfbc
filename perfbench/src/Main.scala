package perfbench

import java.nio.file.{Files, Paths}

/** JVM side of the benchmark; `perfbench/run.py` launches it.
  *
  * Usage: perfbench.Main --workload availability|pipeline --seed N --seconds S
  *          --trace 0|1 --work DIR --out FILE [--corpus DIR]
  *          [--spans FILE]
  *
  * Sets up the workload (timed as set-up), runs its closed loop for S
  * seconds, checks outputs and writes one JSON object to FILE: `correct`,
  * `attempted`, `failed`, `failures`, `setup_end_ms` (epoch) and `metrics`
  * — the end-to-end metrics untraced, the per-layer ones traced.
  */
object Main {
  /** Every per-layer metric; a workload that leaves a layer untouched reports 0. */
  val PerLayer: Seq[String] = Seq(
    "store.open_ms", "store.open_listing_jobs", "store.open_leaf_files", "api.plan_ms") ++
    ServeSession.Ops.map(op => s"api.exec_ms.$op") ++ Seq(
    "spark.files_scanned_per_query", "spark.tasks_per_query", "spark.scheduler_delay_ms_per_query",
    "store.upsert_ms", "store.upsert_bytes_written", "store.upsert_files_written",
    "rankings.refresh_ms", "rankings.bytes_written", "validation.ms", "spark.jobs_per_tick",
    "dedup.minhash_s", "dedup.chooser_s",
    "spark.jobs", "spark.tasks", "spark.unlabelled_job_share", "spark.driver_gap_s",
    "spark.task_cpu_util", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.gc_s", "trace.overhead_frac", "trace.coverage_frac")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val work = Paths.get(need("work")).toAbsolutePath
    val traced = need("trace") == "1"

    val t00 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t00) / 1e9}%.2f s")
    val spark = graft.Sessions.local("perfbench")
    phase("session started")
    try {
      val outcome = new Outcome
      val tracer = new Tracer(spark.sparkContext, traced)
      val ctx = Ctx(spark, tracer, need("seed").toLong, work, outcome)
      val w: Workload = workload match {
        case "availability" => new Availability(ctx)
        case "pipeline" => new Pipeline(ctx, need("corpus"))
        case other => sys.error(s"unknown workload $other")
      }
      w.setup()
      phase("set-up done")
      val setupEnd = System.currentTimeMillis()
      tracer.markMeasured()
      val t0 = System.nanoTime()
      val passes = w.measure(need("seconds").toDouble)
      val wallS = (System.nanoTime() - t0) / 1e9
      val overheadS = tracer.measuredOverheadSeconds
      phase("measured region done")
      w.finalChecks()
      phase("final checks done")

      val metrics =
        if (!traced) w.endToEnd
        else {
          val got = (w.perLayer ++ passLayer(tracer, passes, ctx.cores) ++ Seq(
            "trace.overhead_frac" -> overheadS / (wallS - overheadS))).toMap
          PerLayer.map(k => k -> got.get(k).filterNot(_.isNaN).getOrElse(0.0))
        }
      opt.get("spans").foreach(p => tracer.writeJsonl(Paths.get(p)))

      val json = Seq(
        "correct" -> (outcome.failed == 0).toString,
        "attempted" -> outcome.attempted.toString,
        "failed" -> outcome.failed.toString,
        "failures" -> outcome.failures.take(20).map(Json.str).mkString("[", ",", "]"),
        "setup_end_ms" -> setupEnd.toString,
        "metrics" -> metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
          .mkString("{", ",", "}"))
        .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      Files.write(Paths.get(need("out")), json.getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Scheduler counters per pass of the measured loop (an availability day,
    * a pipeline query list), and how much of the measured top-level spans
    * their direct children cover. */
  private def passLayer(t: Tracer, passes: Int, cores: Int): Seq[(String, Double)] = {
    import Counters._
    val top = t.measured("").filter(_.parent == -1)
    def total(i: Int) = top.map(_.count(i).toDouble).sum
    def perPass(i: Int) = total(i) / passes
    val netMs = top.map(_.netMs).sum
    val topIds = top.map(_.id).toSet
    val childMs = t.measured("").filter(s => topIds(s.parent)).map(_.ms).sum
    Seq(
      "spark.jobs" -> perPass(Jobs),
      "spark.tasks" -> perPass(Tasks),
      "spark.unlabelled_job_share" -> total(UnlabelledJobs) / total(Jobs),
      "spark.driver_gap_s" -> (netMs - top.map(_.jobCoveredMs.toDouble).sum) / 1000 / passes,
      "spark.task_cpu_util" -> total(TaskCpuNs) / 1e9 / (netMs / 1000 * cores),
      "spark.shuffle_write_mb" -> perPass(ShuffleWriteBytes) / 1e6,
      "spark.shuffle_read_mb" -> perPass(ShuffleReadBytes) / 1e6,
      "spark.spill_mb" -> perPass(SpillBytes) / 1e6,
      "spark.gc_s" -> perPass(GcMs) / 1000,
      "trace.coverage_frac" -> childMs / netMs)
  }
}
