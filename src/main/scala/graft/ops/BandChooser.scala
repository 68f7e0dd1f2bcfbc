package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The sample a chooser certifies on: the deterministic, rand()-free
  * `hash60(id) mod m == 0` gate of the sampling family, either at a
  * FIXED mod or at a mod the engine derives from a stated rep budget.
  * One value, one meaning — a budget never silently coexists with a
  * mod it would override.
  */
sealed trait SampleGate {
  /** The (sampleMod, rep cap) this gate runs at over a corpus of
    * `count` ids. The count is by-name: only a budget pays it.
    */
  def resolve(count: => Long): (Long, Option[Long])
}

object SampleGate {
  /** A fixed mod, uncapped (a family with its own quadratic cap —
    * cosine's `truthRepCap` — still applies that cap).
    */
  final case class Mod(m: Long) extends SampleGate {
    require(m >= 1, s"sampleMod must be >= 1, got $m")
    def resolve(count: => Long): (Long, Option[Long]) = (m, None)
  }

  /** A rep budget: the cheapest mod whose expected sample fits it
    * ([[Dedup.chooseSampleMod]], 3σ slack), with the budget armed as
    * the chooser's rep cap so hash-skew overshoot REFUSES instead of
    * silently paying an unbudgeted truth pass.
    */
  final case class Budget(reps: Long) extends SampleGate {
    require(reps >= 1, s"budget must be >= 1, got $reps")
    def resolve(count: => Long): (Long, Option[Long]) =
      (Dedup.chooseSampleMod(count, reps), Some(reps))
  }

  /** The gate predicate on an id column. */
  def admits(id: Column, mod: Long): Column =
    pmod(TextOps.hash60(id.cast("string")), lit(mod)) === 0
}

/** ONE banded-candidate certification chooser for the four near-dup
  * families (MinHash LSH, SimHash, perceptual Hamming, cosine
  * hyperplanes). Every family prices its config grid the same way:
  * on the value-collapsed groups of the hash-gated sample, per config
  * count the candidate pairs, the verified pairs (candidates that are
  * truly similar) and the true pairs, weight rep pairs by ma·mb so
  * rep-level counting equals member enumeration, add the within-group
  * (identical-value) pairs — candidates in every config, verified iff
  * true — and pick the cheapest config whose precision AND recall
  * clear the floors. A family supplies only its groups, its weighted
  * candidate relation `(cfg, w, verified)`, its truth count and its
  * output columns ([[Family]]); the persist/count/rep-cap refusal, the
  * two overlapped waves of measurement jobs, their labels, the
  * arithmetic ([[certify]]) and the result frame live here, once.
  */
object BandChooser {

  /** What a family measures over its persisted sample groups. Wave 1
    * runs `prepare` (relations the measures read, materialized
    * concurrently); wave 2 runs `within` (identical-value pair weight:
    * candidates, true), `candidates` (the weighted `(cfg, w, verified)`
    * rep-pair relation, aggregated here per config) and `truth` (Σ w
    * over true cross-group rep pairs) concurrently.
    */
  final case class Measures(prepare: Seq[() => Unit],
                            within: () => (Long, Long),
                            candidates: () => DataFrame,
                            truth: () => Long)

  /** One banded family. `columns` are the result's config columns (the
    * first is the config itself, the rest derived from it);
    * `preferLarger` is the tie direction among equally cheap feasible
    * configs; `capName` names the rep cap in refusals; `measure` builds
    * the [[Measures]] from the persisted groups, the config grid and a
    * pin function (frames it pins are released on every exit).
    */
  final case class Family(name: String, columns: Seq[(String, Int => Int)],
                          preferLarger: Boolean, capName: String,
                          measure: (DataFrame, Seq[Int], DataFrame => DataFrame) => Measures)

  /** One config's certified evidence. */
  final case class Cert(cfg: Int, nCand: Long, nVer: Long, nTrue: Long,
                        prec: Option[Long], rec: Option[Long],
                        feasible: Boolean, chosen: Boolean)

  /** The certification arithmetic. Per config: candidates = within +
    * cross candidate weight, verified = within-true + cross verified
    * weight, true = within-true + cross truth; precision and recall in
    * ppm (integer division). A config with zero candidates has
    * UNDEFINED precision and is never feasible, and a zero-truth sample
    * leaves every config infeasible — no evidence is not passing
    * evidence. The chosen config is the feasible one with the fewest
    * candidates (the verify work a corpus pass pays), ties broken by
    * the family's direction.
    */
  def certify(configs: Seq[Int], withinCand: Long, withinTrue: Long,
              byCfg: Map[Int, (Long, Long)], truthCross: Long,
              precisionFloorPpm: Long, recallFloorPpm: Long,
              preferLarger: Boolean): Seq[Cert] = {
    val nTrue = withinTrue + truthCross
    val certs = configs.map { c =>
      val (cand, ver) = byCfg.getOrElse(c, (0L, 0L))
      val nCand = withinCand + cand
      val nVer = withinTrue + ver
      val prec = if (nCand == 0) None else Some(nVer * 1000000L / nCand)
      val rec = if (nTrue == 0) None else Some(nVer * 1000000L / nTrue)
      Cert(c, nCand, nVer, nTrue, prec, rec,
        prec.exists(_ >= precisionFloorPpm) && rec.exists(_ >= recallFloorPpm),
        chosen = false)
    }
    val pick = certs.filter(_.feasible)
      .sortBy(c => (c.nCand, if (preferLarger) -c.cfg else c.cfg))
      .headOption.map(_.cfg)
    certs.map(c => c.copy(chosen = pick.contains(c.cfg)))
  }

  /** Run `body` with a pin function (persist MEMORY_AND_DISK); every
    * frame it pinned is released on EVERY exit path, failures included.
    */
  def withPins[A](body: (DataFrame => DataFrame) => A): A = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = held.synchronized {
      held += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }
    try body(pin) finally held.foreach(_.unpersist())
  }

  /** Certify `family`'s config grid on its value-collapsed sample
    * groups. `repCap` REFUSES a sample holding more distinct values than
    * the caller's budget — the check reads the count the persist pays
    * anyway. Every job runs under a `chooser:<family>:<step>` label.
    * Returns one row per config: the family's config columns, then
    * (n_candidates, n_verified, n_true, precision_ppm, recall_ppm,
    * feasible, chosen).
    */
  def choose(family: Family, sampleGroups: DataFrame, configs: Seq[Int],
             precisionFloorPpm: Long, recallFloorPpm: Long,
             repCap: Option[Long]): DataFrame = {
    require(repCap.forall(_ >= 1), s"${family.capName} must be >= 1, got $repCap")
    val spark = sampleGroups.sparkSession
    def step[A](s: String)(body: => A): A =
      Concurrent.labeled(spark, s"chooser:${family.name}:$s")(body)
    val certs = withPins { pin =>
      val groups = pin(sampleGroups)
      val nReps = step("groups")(groups.count())
      repCap.foreach { cap =>
        require(nReps <= cap, s"${family.name} chooser: the sample holds $nReps " +
          s"distinct values, above the stated budget ${family.capName}=$cap — " +
          "raise sampleMod (or derive it from the budget with " +
          "Dedup.chooseSampleMod) instead of paying an unbudgeted truth pass")
      }
      val m = step("prepare")(family.measure(groups, configs, pin))
      step("wave1")(Concurrent.runAll(m.prepare))
      var within = (0L, 0L)
      var byCfg = Map.empty[Int, (Long, Long)]
      var truth = 0L
      step("wave2")(Concurrent.runAll(Seq(
        () => within = m.within(),
        () => byCfg = m.candidates().groupBy(col("cfg"))
          .agg(coalesce(sum(col("w")), lit(0L)),
            coalesce(sum(when(col("verified"), col("w")).otherwise(0L)), lit(0L)))
          .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
        () => truth = m.truth())))
      certify(configs, within._1, within._2, byCfg, truth,
        precisionFloorPpm, recallFloorPpm, family.preferLarger)
    }
    val schema = StructType(
      family.columns.map(c => StructField(c._1, IntegerType, nullable = false)) ++
        Seq("n_candidates", "n_verified", "n_true")
          .map(StructField(_, LongType, nullable = false)) ++
        Seq("precision_ppm", "recall_ppm").map(StructField(_, LongType)) ++
        Seq("feasible", "chosen").map(StructField(_, BooleanType, nullable = false)))
    val rows = certs.map(c => Row.fromSeq(family.columns.map(_._2(c.cfg)) ++
      Seq(c.nCand, c.nVer, c.nTrue, c.prec.getOrElse(null), c.rec.getOrElse(null),
        c.feasible, c.chosen)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The chosen config of a chooser table (its first column), if any
    * config certified.
    */
  def chosen(table: DataFrame): Option[Int] =
    table.filter(col("chosen")).select(col(table.columns.head)).collect()
      .headOption.map(_.getInt(0))

  /** [[chosen]], or REFUSE with `why`: a silent default would run at an
    * operating point the floors just rejected.
    */
  def chosenOrRefuse(table: DataFrame, why: => String): Int =
    chosen(table).getOrElse(
      throw new IllegalArgumentException(s"requirement failed: $why"))

  /** The auto path every family shares: resolve `gate` against the
    * corpus `count`, certify on the gated sample (`table(mod, cap)`),
    * take the chosen config or refuse, and run the corpus `pass` at it.
    * The chosen config rides out as a provenance column named like the
    * table's config column, and a budget-derived mod as `sample_mod`.
    */
  def auto(who: String, noun: String, gate: SampleGate, count: => Long)(
      table: (Long, Option[Long]) => DataFrame)(pass: Int => DataFrame): DataFrame = {
    val (mod, cap) = gate.resolve(count)
    val t = table(mod, cap)
    val cfg = chosenOrRefuse(t, s"$who: no $noun meets the precision/recall " +
      "floors on the sample — loosen a floor or extend the config grid (a " +
      "silent default would run the corpus at an operating point the floors " +
      "just rejected)")
    val out = pass(cfg).withColumn(t.columns.head, lit(cfg))
    gate match {
      case _: SampleGate.Budget => out.withColumn("sample_mod", lit(mod))
      case _ => out
    }
  }

  /** C(m, 2) for a bigint SQL expression `m` — a group's within-group
    * pair weight.
    */
  def pairWeight(m: String): Column = expr(s"$m * ($m - 1) div 2")

  /** Distinct weighted rep pairs sharing at least one of `nb` band
    * chunks: (ia, ib, w = ma·mb, hamming) over groups carrying (rep, m,
    * sigCols). The one in-bucket enumeration of the Hamming-banded
    * families — their choosers and their corpus passes
    * (`Dedup.simhashPairs`, `Multimodal.bandedHammingPairs`), over
    * [[DupGroups.inBucketPairs]]. The exact Hamming distance rides out
    * of the bucket — the signatures are in the bucket rows, so nothing
    * re-joins the corpus to verify.
    */
  def bucketPairs(groups: DataFrame, nb: Int, chunkOf: Int => Column,
                  sigCols: Seq[String]): DataFrame =
    DupGroups.inBucketPairs(
        groups.withColumn("b", explode(sequence(lit(0), lit(nb - 1))))
          .withColumn("chunk", chunkOf(nb)),
        Seq("b", "chunk"), struct((Seq("rep", "m") ++ sigCols).map(col): _*), "rep")
      .select(col("ia.rep").as("ia"), col("ib.rep").as("ib"),
        (col("ia.m") * col("ib.m")).as("w"),
        sigCols.map(c => expr(s"bit_count(ia.$c ^ ib.$c)")).reduce(_ + _)
          .cast(IntegerType).as("hamming"))
      .distinct()

  /** A Hamming-banded family (SimHash, the perceptual hashes) over
    * exact-value groups (rep, m, sigCols) of a `bits`-bit signature:
    * candidates at `nb` bands are [[bucketPairs]], verified iff Hamming
    * ≤ `maxDist`. TRUTH IS EXACT AND NEVER ALL-PAIRS: a pair at Hamming
    * ≤ d shares an untouched chunk in any banding with more than d
    * bands (pigeonhole), so truth is the same enumeration at
    * `truthBands` filtered by exact Hamming. Ties go to FEWER bands
    * (each band is one replication of the signature through the bucket
    * exchange).
    */
  def hammingBanded(name: String, bits: Int, sigCols: Seq[String],
                    chunkOf: Int => Column, truthBands: Int,
                    maxDist: Int): Family =
    Family(name, Seq("n_bands" -> identity, "chunk_bits" -> (bits / _)),
      preferLarger = false, "sampleRepCap", (groups, configs, _) => Measures(
        prepare = Nil,
        within = () => {
          val n = groups.agg(coalesce(sum(pairWeight("m")), lit(0L)))
            .first().getLong(0)
          (n, n) // identical signatures sit at Hamming 0
        },
        candidates = () => configs
          .map(nb => bucketPairs(groups, nb, chunkOf, sigCols)
            .select(lit(nb).as("cfg"), col("w"),
              (col("hamming") <= maxDist).as("verified")))
          .reduce(_ unionByName _),
        truth = () => bucketPairs(groups, truthBands, chunkOf, sigCols)
          .filter(col("hamming") <= maxDist)
          .agg(coalesce(sum(col("w")), lit(0L))).first().getLong(0)))
}
