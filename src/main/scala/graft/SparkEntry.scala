package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full volume-rankings window pipeline — the reference's parity
    * centerpiece (SURVEY §3.3).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_rankings_pipeline")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.specs.map(q => q.name -> q.run).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = Queries.specs.map(q => q.name -> q.oracle).toMap
}
