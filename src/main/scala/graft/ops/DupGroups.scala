package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The EXACT-DUPLICATE COLLAPSE/EXPAND kernel (the r11 scale fix) every
  * near-dup pair family runs: MinHash LSH ([[Dedup.lshCandidatesFromSigs]],
  * [[Dedup.nearDupPairs]]), SimHash ([[Dedup.simhashPairs]]), the
  * perceptual hashes ([[Multimodal.bandedHammingPairs]]), embedding
  * cosine ([[Vectors.cosineDupPairs]]), exact pairs
  * ([[Dedup.exactPairs]]) and the keep-best stores' groups.
  *
  * Identical values — a duplicated page's signature or shingle set, a
  * re-encoded image's hash, a re-embedded document's vector — land in
  * the SAME bucket of EVERY band, so in-bucket pair work is quadratic
  * in bucket OCCUPANCY, amplified ×nBands and again by the pair
  * `distinct`. A boilerplate page repeated 100 k× in a crawl builds
  * 100 k-element bucket arrays and enumerates 10¹⁰ pairs per band; the
  * sf1.0 decade run showed the same shape OOM-ing the media path. A
  * family therefore [[collapse]]s identical values to one
  * REPRESENTATIVE (min id), enumerates and verifies candidates between
  * representatives only — O(Σ distinct²) instead of
  * O(nBands · Σ occupancy²) — and [[expand]]s the verified rep pairs
  * back to member pairs.
  *
  * The output relation equals naive enumeration. Every member pair maps
  * to exactly one (group, group) pair; a cross-group member pair
  * inherits its reps' verdict (the verdict is a function of the grouped
  * value); a within-group pair is a pair of identical values, whose
  * verdict the family states (Hamming 0, Jaccard 1.0, cos(e, e)).
  * Output IS still quadratic in group size — that is the pair contract;
  * run [[Dedup.exactGroups]] upstream when pairs among exact copies are
  * not wanted.
  *
  * Every enumeration here (and every in-bucket enumeration —
  * `Dedup.pairsWithinBuckets`, [[BandChooser.bucketPairs]]) is two
  * CHAINED generators plus an order filter, never a nested-transform
  * flatten: Spark's generators STREAM their output, so a big group
  * never materializes its m²/2 pair array inside one row.
  */
object DupGroups {

  /** One row per distinct `key` value: (key…, members — the sorted ids
    * sharing it, rep — the min id).
    */
  def collapse(df: DataFrame, key: Seq[String], id: String): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(sort_array(collect_list(col(id))).as("members"))
      .withColumn("rep", element_at(col("members"), 1))

  /** The [[collapse]] of the deterministic hash-gated sample
    * (`hash60(id) mod mod == 0`), DERIVED from the full corpus's groups:
    * the key is a pure function of the value, untouched by which ids
    * survive the gate, so restriction only shrinks each sorted member
    * list. Filter the members, drop emptied groups, re-take rep (and a
    * carried member count `m`); every other column carries over. Distinct
    * values never merge or split — zero corpus passes.
    */
  def sampleOf(groups: DataFrame, mod: Long): DataFrame = {
    val s = groups
      .withColumn("members", filter(col("members"), SampleGate.admits(_, mod)))
      .where(size(col("members")) > 0)
      .withColumn("rep", element_at(col("members"), 1))
    if (groups.columns.contains("m")) s.withColumn("m", size(col("members")).cast(LongType))
    else s
  }

  /** Within-group member pairs (ia < ib) of every multi-member group
    * where `keep` holds, each carrying `cols` — evaluated once per group
    * over its columns; `keep` may read them by name. `members` is sorted
    * and duplicate-free, so the order filter keeps each pair once.
    */
  def within(groups: DataFrame, cols: Seq[Column] = Nil,
             keep: Column = lit(true)): DataFrame = {
    val g = groups.where(size(col("members")) > 1)
      .select(col("members") +: cols: _*)
      .where(keep)
    val extra = g.columns.toSeq.tail.map(col)
    g.select(explode(col("members")).as("ia") +: col("members").as("mb") +: extra: _*)
      .select(col("ia") +: explode(col("mb")).as("ib") +: extra: _*)
      .where(col("ia") < col("ib"))
  }

  /** The member-pair relation (ia < ib, extra…) of verified rep pairs
    * `repPairs` (ra, rb, extra…) over `groups`: the [[within]] pairs
    * (carrying `withinCols`, gated by `withinKeep`) plus every member
    * pair of each rep pair's two groups, with the rep pair's extra
    * columns. Reps don't bound members, so cross-group pairs re-order
    * with least/greatest.
    */
  def expand(groups: DataFrame, repPairs: DataFrame, withinCols: Seq[Column] = Nil,
             withinKeep: Column = lit(true)): DataFrame = {
    val extra = repPairs.columns.toSeq.filterNot(Set("ra", "rb")).map(col)
    val ga = groups.select(col("rep").as("ra"), col("members").as("ma"))
    val gb = groups.select(col("rep").as("rb"), col("members").as("mb"))
    val cross = repPairs
      .join(ga, "ra").join(gb, "rb")
      .select(explode(col("ma")).as("a") +: col("mb") +: extra: _*)
      .select(col("a") +: explode(col("mb")).as("b") +: extra: _*)
      .select(least(col("a"), col("b")).as("ia") +:
        greatest(col("a"), col("b")).as("ib") +: extra: _*)
    within(groups, withinCols, withinKeep).unionByName(cross)
  }
}
