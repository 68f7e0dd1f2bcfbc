package perfbench

import org.apache.spark.sql.DataFrame

/** `pipeline`: passes of two registry queries over a generated `documents`
  * corpus, each materialized through the `noop` sink as `graft.Bench` does.
  * Never opens the fact table. The corpus is written by the benchmark's
  * launcher from the seed; after the measured region the last pass's
  * results are written out for the DuckDB oracle check. */
final class Pipeline(ctx: Ctx, corpusDir: String) extends Workload {
  import Pipeline._
  private var last: Seq[(String, DataFrame)] = Nil

  private def pass(): Unit = ctx.tracer.span("pass") {
    last = Queries.map { q =>
      val df = ctx.tracer.span(s"query.$q") {
        try {
          val df = graft.SparkEntry.queries(q)(ctx.spark, corpusDir)
          df.write.format("noop").mode("overwrite").save()
          df
        } finally ctx.spark.catalog.clearCache()
      }
      q -> df
    }
  }

  /** Warm-up passes (JIT and codegen). A pass is mostly the driver's
    * per-job work, which keeps getting faster for many passes; the first
    * measured passes must not sit on the steep start of that curve. */
  def setup(): Unit = ctx.tracer.span("setup.warmup")((1 to WarmupPasses).foreach(_ => pass()))

  def measure(seconds: Double): Int = Workload.loop(seconds) {
    ctx.outcome.attempted += Queries.size
    try pass()
    catch {
      case e: Exception => ctx.outcome.failures += s"pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  /** Results of the last pass as parquet, with their oracle SQL, for the
    * launcher's DuckDB comparison (outside the measured region). */
  override def finalChecks(): Unit = {
    val out = ctx.work.resolve("results")
    java.nio.file.Files.createDirectories(out)
    val oracle = last.map { case (q, df) =>
      df.write.mode("overwrite").parquet(out.resolve(q).toString)
      s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}"
    }
    java.nio.file.Files.write(out.resolve("oracle_sql.json"),
      oracle.mkString("{", ",", "}").getBytes("UTF-8"))
  }

  private def measured(prefix: String) = ctx.tracer.measured(prefix)

  def endToEnd: Seq[(String, Double)] =
    Stats.queryMetrics(measured("query.").map(s => s.name -> s.ms)) ++ Seq(
    "pass_s" -> Stats.median(measured("pass").map(_.ms / 1000)),
    "store_mb" -> Disk.bytes(corpusDir) / 1e6)

  def perLayer: Seq[(String, Double)] = Seq(
    "dedup.minhash_s" -> Stats.median(measured("query.q_d10_minhash_est").map(_.ms / 1000)),
    "dedup.chooser_s" -> Stats.median(measured("query.q_d17_lsh_tuning").map(_.ms / 1000)))
}

object Pipeline {
  val Queries: Seq[String] = Seq("q_d10_minhash_est", "q_d17_lsh_tuning")
  val WarmupPasses = 2
}
