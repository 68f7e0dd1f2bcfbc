package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Partitioning, TextOps}

/** Built-ins-only reference formulations of the dedup family's custom
  * operators — the naive shapes the DedupSpec equivalence tests pin the
  * production paths against.
  */
object DedupReference {

  /** Windowed-LEAD shingling: the reference for the `ShingleGenerator`
    * behind [[Dedup.shingleSet]].
    */
  def shingleSetWindowed(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val toks = Partitioning.spread(df)
      .select(col(idCol).as("id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "t")))
    val withLeads = (1 until n).foldLeft(toks) { (acc, k) =>
      acc.withColumn(s"t$k", lead(col("t"), k).over(w))
    }
    // n == 1 adds no lead columns; "t0" is the token itself.
    val lastCol = if (n == 1) col("t") else col(s"t${n - 1}")
    withLeads
      .filter(lastCol.isNotNull)
      .select(col("id"),
        concat_ws(" ", (col("t") +: (1 until n).map(k => col(s"t$k"))): _*).as("sh"))
      .distinct()
  }

  /** Explode×groupBy minhash signatures (id, j, m): the reference for
    * the one-pass aggregator behind [[Dedup.minhash]].
    */
  def minhashExploded(shingles: DataFrame, k: Int): DataFrame = {
    val h30 = TextOps.hash60(col("sh")).bitwiseAND(lit(Dedup.MinhashMask)).as("h")
    val perms = (0 until k).map { j =>
      struct(lit(j).as("j"),
        ((col("h") * Dedup.minhashA(j) + Dedup.minhashB(j)) %
          lit(Dedup.MinhashMask + 1)).as("hv"))
    }
    shingles.select(col("id"), h30)
      .select(col("id"), explode(array(perms: _*)).as("p"))
      .groupBy(col("id"), col("p.j").as("j"))
      .agg(min(col("p.hv")).as("m"))
  }
}
