package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three data-quality validators (SURVEY.md §2.3 J5/J6,
  * §2.4 A3) as DataFrame transforms.
  */
object Validation {

  /** Continuity: expected calendar date series minus observed dates (J5+C2).
    * Reference: validation/continuity.py:74-87 —
    * `unnest(generate_series(start, end, INTERVAL 1 day)) ... NOT IN observed`.
    *
    * One shuffle: the expected dates (tag 0, a `sequence` + `explode` of
    * one row) are unioned with the observed dates (tag 1) and grouped by
    * date; a date is a gap when its max tag is 0. The observed scan stays
    * parallel and pre-aggregates map-side, and the grouped output is
    * bounded by the number of dates, so it finishes and sorts on one
    * partition with no further exchange.
    */
  def continuityGaps(spark: SparkSession, observed: DataFrame, dateCol: String,
                     start: String, end: String): DataFrame = {
    val expected = spark.range(1).select(
      explode(sequence(
        to_date(lit(start)), to_date(lit(end)), expr("interval 1 day")
      )).as(dateCol), lit(0).as("__seen"))
    expected
      .unionByName(observed.select(col(dateCol), lit(1).as("__seen")))
      .groupBy(dateCol).agg(max("__seen").as("__seen"))
      .filter(col("__seen") === 0)
      .select(dateCol)
      .coalesce(1)
      .orderBy(dateCol)
  }

  /** Completeness: group + HAVING count below expectation (A3).
    * Reference: validation/completeness.py:79-89.
    *
    * For low-cardinality keys (dates): the filtered groups are sorted
    * after `coalesce(1)`, above the aggregate's exchange, so the sort
    * needs no second one.
    */
  def incompleteKeys(df: DataFrame, keyCol: String, minCount: Long): DataFrame =
    df.groupBy(keyCol).agg(count(lit(1)).as("n"))
      .filter(col("n") < minCount)
      .coalesce(1)
      .orderBy(keyCol)

  /** Cross-check: set difference / intersection of two key sets (J6).
    * Reference: validation/cross_check.py:129-137 (Python set ops).
    * One full outer join of the two distinct key sets, so each input is
    * shuffled once, by its distinct; the side is the join side whose
    * flag is missing. The flags, not the keys, tell the sides apart: a
    * NULL key matches nothing and stays on its own side. The result is
    * one row per key, sorted on one partition.
    */
  def keySetDiff(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.select(col(key)).distinct().withColumn("in_a", lit(true))
      .join(b.select(col(key)).distinct().withColumn("in_b", lit(true)), Seq(key), "full_outer")
      .select(col(key), when(col("in_b").isNull, "only_a")
        .when(col("in_a").isNull, "only_b").otherwise("both").as("side"))
      .coalesce(1).orderBy("side", key)

  /** Consistency diff (J8): full outer join of two per-key measure frames,
    * keeping keys whose measures differ (or exist on one side only).
    * Reference: scripts/verify-database-consistency.py:287-334.
    */
  def consistencyDiff(a: DataFrame, b: DataFrame, key: String, measure: String): DataFrame = {
    val l = a.select(col(key), col(measure).as("a_val"))
    val r = b.select(col(key), col(measure).as("b_val"))
    l.join(r, Seq(key), "full_outer")
      .filter(!(col("a_val") <=> col("b_val")))
      .orderBy(key)
  }
}
