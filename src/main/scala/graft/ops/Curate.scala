package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The COMPOSED end-to-end curation pipeline — every stage the engine
  * already gates individually (blocklist t32, Gopher t12, learned NB
  * quality t19/t20, near-dup purge d9, decontamination d6, mixture p2)
  * chained into ONE operator that also emits the per-stage drop
  * manifest. The manifest is produced by the run that did the dropping
  * — the dataset-card provenance row is a by-product of curation, not
  * a separately-computed report that can drift from it.
  *
  * Two materialization strategies share the same stage algebra:
  *
  *  - [[pipeline]] cuts each inter-stage frame with an eager
  *    `localCheckpoint` — fastest wall-clock, but local checkpoints pin
  *    non-replicated blocks to executors, so losing ONE executor
  *    mid-run kills the whole job. Right for short interactive runs.
  *  - [[pipelineStaged]] WRITES each inter-stage frame under a run
  *    directory and resumes past completed stages — the production
  *    shape for a multi-hour 100 TB run, where executor loss is
  *    routine and restart-from-stage-N is the difference between a
  *    finished pipeline and one that can never finish (the reference
  *    runs each workflow step to its own output file for the same
  *    reason, update-database.yml:282-397).
  */
object Curate {

  /** One manifest row per stage: 1-based stage number, stage name,
    * rows entering, rows dropped, rows surviving.
    */
  val ManifestColumns: Seq[String] =
    Seq("stage", "name", "rows_in", "rows_dropped", "rows_out")

  /** The six stage transforms, each mapping the surviving frame to the
    * next — the EXACT algebra of each stage's standalone gate:
    *   1. blocklist     — drop docs tripping any lexicon category at
    *                      `blockThreshold` hits ([[TextOps.blocklistGate]]);
    *   2. gopher        — keep docs passing the word-level quality gate
    *                      ([[TextOps.gopherWordGate]]);
    *   3. quality       — train the NB classifier ON THE SURVIVORS
    *                      (`nbLabel` as the positive class), keep
    *                      score > 0 and ATTACH the score as `nb_score`
    *                      (the next stage's keep criterion); a doc
    *                      with no hashable token has no score and is
    *                      dropped (stated contract);
    *   4. neardup       — keep each near-dup cluster's BEST-scoring
    *                      member by the stage-3 `nb_score`, ties to
    *                      the smaller id (the d20 keep-best algebra,
    *                      [[Dedup.keepBestLosers]]); keep-min threw
    *                      away the highest-quality copy of every page
    *                      whose best version was not its first-crawled
    *                      one, two lines after the quality stage had
    *                      scored exactly that. `nb_score` is consumed
    *                      here and dropped — later stages and the
    *                      survivor schema are unchanged;
    *   5. decontaminate — drop docs sharing ANY 3-shingle with
    *                      `evalSet` ([[Dedup.decontaminate]]);
    *   6. mixture       — per-source deterministic hash-gate keep rates
    *                      ([[Sampling.mixtureSample]]).
    *
    * Every transform is DETERMINISTIC given its input frame (seeded
    * hashes, no rand()), which is what makes [[pipelineStaged]]'s
    * resume exact: recomputing stage k from the stored stage k-1
    * reproduces the identical output.
    */
  private def stages(evalSet: DataFrame,
                     lexicon: Map[String, Seq[String]], blockThreshold: Int,
                     nbLabel: Column, nbFeatures: Int,
                     mixRates: Map[String, Double], mixDefault: Double,
                     stops: Seq[String]): Seq[(String, DataFrame => DataFrame)] = Seq(
    "blocklist" -> { s0 =>
      val blocked = TextOps.blocklistGate(s0, "id", "text", lexicon, blockThreshold)
        .filter(col("cat_blocked")).select(col("id")).distinct()
      s0.join(blocked, Seq("id"), "left_anti")
    },
    "gopher" -> { s1 =>
      val passing = TextOps.gopherWordGate(s1, "id", "text", stops)
        .filter(col("pass")).select(col("id"))
      s1.join(passing, Seq("id"), "left_semi")
    },
    "quality" -> { s2 =>
      val model = Classify.nbTrain(s2, "text", nbLabel, nbFeatures)
      val good = Classify.nbScore(s2, "id", "text", model, nbFeatures)
        .filter(col("score") > 0).select(col("id"), col("score").as("nb_score"))
      s2.join(good, Seq("id"))
    },
    "neardup" -> { s3 =>
      val losers = Dedup.keepBestLosers(s3, "id", "text", col("nb_score"))
      s3.join(losers, Seq("id"), "left_anti").drop("nb_score")
    },
    "decontaminate" -> { s4 =>
      val contaminated = Dedup.decontaminate(s4, evalSet, "id", "text")
        .filter(col("n_overlap") > 0).select(col("id"))
      s4.join(contaminated, Seq("id"), "left_anti")
    },
    "mixture" -> { s5 =>
      Sampling.mixtureSample(s5, col("source"), col("id"), mixRates, mixDefault)
    })

  private def toManifest(spark: org.apache.spark.sql.SparkSession,
                         names: Seq[String], counts: Seq[Long]): DataFrame = {
    import spark.implicits._
    names.zipWithIndex.map { case (nm, i) =>
      ((i + 1).toLong, nm, counts(i), counts(i) - counts(i + 1), counts(i + 1))
    }.toDF(ManifestColumns: _*)
  }

  /** Run the six-stage pipeline over `docs` (`id`, `text`, `source`,
    * plus whatever `nbLabel` references). Returns (survivors,
    * manifest).
    *
    * Scale shape: every stage is the already-audited operator — nothing
    * corpus² anywhere; the inter-stage frames are materialized with an
    * eager lineage cut, so no stage recomputes its predecessors and the
    * six manifest counts are one cheap action each over a cached frame.
    * Driver traffic is the six Long counts. NOT fault-tolerant across
    * executor loss (see the object doc) — production runs use
    * [[pipelineStaged]].
    */
  def pipeline(docs: DataFrame, evalSet: DataFrame,
               lexicon: Map[String, Seq[String]], blockThreshold: Int,
               nbLabel: Column, nbFeatures: Int,
               mixRates: Map[String, Double], mixDefault: Double,
               stops: Seq[String] = TextOps.gopherStops)
      : (DataFrame, DataFrame) = {
    def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val fns = stages(evalSet, lexicon, blockThreshold, nbLabel, nbFeatures,
      mixRates, mixDefault, stops)
    val frames = fns.scanLeft(cut(docs)) { case (prev, (_, fn)) => cut(fn(prev)) }
    val counts = frames.map(_.count())
    (frames.last, toManifest(docs.sparkSession, fns.map(_._1), counts))
  }

  /** STORE-BACKED, RESUMABLE pipeline run: stage k's output is written
    * to `runDir/stage0k_<name>` before stage k+1 starts, and a re-run
    * with the same `runDir` SKIPS every stage whose directory carries
    * the committer's `_SUCCESS` marker — so a run killed anywhere
    * (executor loss, driver OOM, preemption) resumes from the last
    * completed stage instead of restarting a multi-hour job from zero.
    *
    * Crash window analysis (composing with the [[Store]] machinery):
    *  - killed MID-WRITE of stage k → the dir exists without
    *    `_SUCCESS` (the committer publishes it only at job commit);
    *    resume deletes the partial dir — `_temporary` staging included,
    *    the same sweep [[Store.recover]] performs — and recomputes
    *    stage k from the stored stage k-1;
    *  - killed BETWEEN stages → stages ≤ k are complete and immutable;
    *    resume reads them back (their counts come from parquet footer
    *    metadata, not a rescan) and continues at k+1.
    *
    * Stage 0 materializes the INPUT frame, so resume determinism never
    * depends on re-deriving `docs` (whose upstream may have moved);
    * every later stage is a deterministic function of its stored
    * predecessor (see [[stages]]). Wall-clock cost vs [[pipeline]] is
    * one parquet write+read per stage instead of a block-manager
    * checkpoint — measured ~1.3× at sf0.1 (PLANS.md round 10), the
    * price of surviving executor loss; at production scale stage
    * writes overlap compute and the delta shrinks below restart cost.
    *
    * The caller owns `runDir` lifecycle: pass a fresh dir for a fresh
    * run, the same dir to resume, and delete it (or keep it as the
    * run's provenance record) after consuming the survivors.
    *
    * CONFIGURATION FINGERPRINT: the run dir records a hash of the stage
    * parameters ([[StoreRoot.pinParams]], written before stage 0); resuming
    * with a DIFFERENT configuration fails fast instead of silently
    * reusing stages computed under the old one — `_SUCCESS` alone
    * proves a stage completed, not that it completed for *these*
    * parameters. The INPUT frame is deliberately outside the
    * fingerprint: stage 0 pins it on first run, and resume reading the
    * pinned copy (rather than re-deriving `docs`, whose upstream may
    * have moved) is the stated determinism contract above.
    */
  def pipelineStaged(docs: DataFrame, evalSet: DataFrame,
                     lexicon: Map[String, Seq[String]], blockThreshold: Int,
                     nbLabel: Column, nbFeatures: Int,
                     mixRates: Map[String, Double], mixDefault: Double,
                     runDir: String,
                     stops: Seq[String] = TextOps.gopherStops)
      : (DataFrame, DataFrame) = {
    import org.apache.hadoop.fs.Path
    val spark = docs.sparkSession
    val fs = StoreRoot.fsOf(spark, new Path(runDir))
    val fp = {
      // nbLabel enters as its canonical SQL rendering, NOT Column
      // .toString: a RESOLVED column (df("lang")) embeds per-session
      // expression ids in toString, which would spuriously fail a
      // legitimate cross-session resume under the identical
      // configuration (expr.sql strips them; unresolved col("lang")
      // renders the same either way).
      // The leading element versions the STAGE ALGEBRA, not a
      // parameter: when a stage's semantics change (keep-best-v2
      // replaced the keep-min neardup rule this fingerprint family
      // was born under), every dir written by older code holds stage
      // outputs the new code would never produce, and its `_SUCCESS`
      // markers must be refused exactly like a parameter drift. (An
      // earlier legacy-fingerprint acceptance existed for the
      // rendering-only nbLabel change above; it is gone because the
      // algebra bump makes EVERY pre-change fingerprint stale — and a
      // separator defect meant it had never matched a real legacy dir
      // anyway, so nothing that ever worked was removed.)
      val repr = Seq("stagealg=2:neardup-keep-best-nb",
        lexicon.toSeq.sortBy(_._1)
          .map { case (k, v) => k + ":" + v.mkString("|") }.mkString(";"),
        blockThreshold.toString, graft.functions.Cols.expression(nbLabel).sql,
        nbFeatures.toString,
        mixRates.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";"),
        mixDefault.toString, stops.mkString("|")).mkString("\u0000")
      StoreRoot.sha256Hex(repr)
    }
    StoreRoot.pinParams(fs, new Path(runDir), fp,
      s"pipelineStaged: run dir $runDir holds stages computed under a DIFFERENT " +
        "configuration (params fingerprint mismatch) — resuming would silently mix " +
        "configurations; pass a fresh runDir (or delete this one) to run with the " +
        "new parameters")
    val fns = stages(evalSet, lexicon, blockThreshold, nbLabel, nbFeatures,
      mixRates, mixDefault, stops)
    val all: Seq[(String, DataFrame => DataFrame)] =
      ("input", identity[DataFrame](_)) +: fns
    var prev: DataFrame = docs
    val frames = all.zipWithIndex.map { case ((name, fn), i) =>
      val dir = new Path(runDir, f"stage$i%02d_$name")
      val complete = fs.exists(dir) && fs.exists(new Path(dir, "_SUCCESS"))
      if (!complete) {
        // partial dir from a mid-write kill (no _SUCCESS): drop it,
        // stray _temporary staging and all, then recompute the stage
        // from its stored predecessor.
        if (fs.exists(dir)) fs.delete(dir, true)
        fn(prev).write.mode(SaveMode.ErrorIfExists).parquet(dir.toString)
      }
      val f = spark.read.parquet(dir.toString)
      prev = f
      f
    }
    // counts over stored parquet resolve from footer row counts — no
    // data rescan on resume.
    val counts = frames.map(_.count())
    (frames.last, toManifest(spark, fns.map(_._1), counts))
  }
}
