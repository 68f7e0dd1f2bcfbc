package graft

import org.apache.spark.sql.SparkSession

/** Shared local-session builder for the driver-contract mains.
  *
  * Config notes (100 TB view):
  *  - shuffle.partitions = core count for local runs; a cluster deploy
  *    sizes this to executors × cores (AQE re-splits at runtime).
  *  - adaptive.coalescePartitions.minPartitionSize is lowered from 1 MB
  *    to 64 KB: AQE coalesces by BYTES, which serializes compute-bound
  *    stages whose rows are cheap to store but expensive to process
  *    (md5 minhash, shingle explosion, vector dot products) onto one
  *    core. 64 KB keeps those stages at full parallelism while still
  *    coalescing genuinely tiny exchanges.
  *  - [[DriverListing]]: partition discovery never launches Spark's
  *    distributed "Listing leaf files" job. Above 32 directories (the
  *    default threshold) every `spark.read.parquet` of a date-partitioned
  *    table ran one task per directory; under `local[N]` those tasks run
  *    in the driver JVM anyway, so the job adds only scheduling. Measured
  *    on a 4-vCPU VM, local[4] (bench/ab_daily_tick.json): a 106-date
  *    table opened in 868 ms with the job and 144 ms listed on the
  *    driver; a 2,000-date table in 7.7–9.9 s and 0.57–0.78 s. A cluster
  *    deploy whose executors sit closer to the object store than the
  *    driver should drop this entry.
  */
object Sessions {
  /** List partition directories on the driver at any partition count. */
  val DriverListing: (String, String) =
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString

  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config(DriverListing._1, DriverListing._2)
      // NOTE: spark.speculation is deliberately NOT set — the scheduler
      // only starts the speculation thread on a real cluster
      // (TaskSchedulerImpl guards it with !isLocal), so under local[N]
      // it would be a dead setting giving false confidence. Stall
      // mitigation here is Bench's min-of-N sampling; on a cluster
      // deployment, enable speculation in the submit conf.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
