package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, KeepBestIndexStore, TempFiles}

/** The StoreSpec-style durability suite for [[graft.ops
  * .KeepBestIndexStore]]: kill-at-each-boundary resume, mid-batch
  * partial sweep, logical re-delivery replacement over append-only
  * storage, delta-bounded per-batch writes (no full-state rewrite),
  * compaction equivalence, and the params-fingerprint refusal.
  */
class KeepBestStoreSpec extends SparkSpec {

  // the KeepBestIndex demotion fixture: one duplicated content T with a
  // mid-feed best copy, one tie-broken content U
  private val T = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val U = "one two three four five six seven eight nine ten"
  private val rows = Map(
    1L -> (T, 10L), 2L -> (T, 30L), 3L -> (T, 20L),
    4L -> (U, 5L), 5L -> (U, 5L))
  private def batch(ids: Long*) = {
    import spark.implicits._
    ids.map(i => (i, rows(i)._1, rows(i)._2)).toDF("id", "text", "sc")
  }
  private val feed: Seq[Seq[Long]] =
    Seq(Seq(1L, 4L), Seq(2L), Seq(3L, 5L), Seq(1L))
  // batch 4 re-delivers id 1 (at-least-once): final state must be as if
  // each id arrived once — survivors {2 -> 30 (T best), 4 -> 5 (U tie)}
  private val expected = Map(2L -> 30L, 4L -> 5L)

  private def surv(idx: KeepBestIndexStore): Map[Long, Long] =
    idx.survivors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kill-at-each-boundary: resuming from the committed store after a kill " +
    "(plus a poisoned uncommitted mid-batch partial) reproduces the " +
    "straight-through survivors at every boundary") {
    TempFiles.withTempDir("kbstore-boundary") { root =>
      // straight-through reference
      val refDir = new java.io.File(root, "ref").getAbsolutePath
      val ref = KeepBestIndexStore.open(spark, refDir)
      feed.foreach(ids => ref.ingest(batch(ids: _*), "id", "text", col("sc")))
      surv(ref) shouldBe expected
      (1 until feed.size).foreach { cut =>
        val dir = new java.io.File(root, s"cut$cut").getAbsolutePath
        val a = KeepBestIndexStore.open(spark, dir)
        feed.take(cut).foreach(ids => a.ingest(batch(ids: _*), "id", "text", col("sc")))
        // the kill: instance a is dropped. Plant a mid-batch crash
        // artifact — a partial next-batch dir with poisoned scores and
        // no _COMMIT. open() must NOT touch it (a pure reader opening
        // mid-ingest must never destroy a writer's in-flight batch);
        // it stays invisible until the resumed writer's ingest claims
        // the number and reclaims it.
        val partial = new java.io.File(dir, s"b=$cut")
        batch(feed(cut): _*)
          .select(col("id").cast("long").as("id"), lit(999999L).as("score"),
            lit(cut).as("b"))
          .write.parquet(new java.io.File(partial, "scored").getAbsolutePath)
        val b = KeepBestIndexStore.open(spark, dir)
        assert(partial.exists(), "open() must not mutate the root")
        surv(b).values should not contain 999999L
        feed.drop(cut).foreach(ids => b.ingest(batch(ids: _*), "id", "text", col("sc")))
        assert(new java.io.File(partial, "_COMMIT").exists(),
          "the resumed ingest claims the partial's number and commits over it")
        surv(b) shouldBe expected
      }
    }
  }

  test("effectiveSampleGroups gates BEFORE the grouping shuffles, exactly " +
    "equal to filtering the full groups' members (the sampleGroupsOf " +
    "equivalence on stored state)") {
    import spark.implicits._
    TempFiles.withTempDir("kbstore-samplegroups") { root =>
      val idx = KeepBestIndexStore.open(spark,
        new java.io.File(root, "s").getAbsolutePath)
      idx.ingest(batch(1L, 2L, 3L, 4L, 5L), "id", "text", col("sc"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("rep"), col("members"))
          .as[(Long, Seq[Long])].collect().toSet
      for (m <- Seq(1L, 2L, 3L)) {
        rows(idx.effectiveSampleGroups(m)) shouldBe
          rows(graft.ops.DupGroups.sampleOf(idx.effectiveGroups, m))
      }
    }
  }

  test("effectiveSampleGroups' hash gate sits BELOW every shuffle in the " +
    "physical plan — only the sample's rows ever cross an exchange") {
    TempFiles.withTempDir("kbstore-sampleplan") { root =>
      val idx = KeepBestIndexStore.open(spark,
        new java.io.File(root, "s").getAbsolutePath)
      idx.ingest(batch(1L, 2L, 3L, 4L, 5L), "id", "text", col("sc"))
      // AQE off for the assertion only: the adaptive wrapper hides the
      // exchange tree from traversal (sparkPlan predates
      // EnsureRequirements; executedPlan is an opaque adaptive root)
      val p = {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try idx.effectiveSampleGroups(2L).queryExecution.executedPlan
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      exchanges should not be empty
      // every exchange's SUBTREE carries the pmod gate: the full state
      // is scanned map-side only — a regression that lifts the gate
      // above a shuffle re-groups the whole corpus per maintenance tick
      exchanges.foreach { e =>
        withClue(s"an exchange without the sample gate below it:\n$e") {
          assert(e.toString.toLowerCase.contains("pmod"))
        }
      }
    }
  }

  test("maintainedIngest checkEvery amortizes the re-certification: a " +
    "cadence-skipped tick pays no chooser pass and can never fire; the " +
    "firing tick rebands as q_st29") {
    TempFiles.withTempDir("kbstore-cadence") { root =>
      val vroot = new java.io.File(root, "live").getAbsolutePath
      val tune = graft.ops.KeepBestIndex.AutoTune(Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 0L, recallFloorPpm = 600000L, truthDfCap = None)
      KeepBestIndexStore.createLive(spark, vroot, tune)
      import spark.implicits._
      val birth = Seq((11L, T), (12L, T)).toDF("id", "text")
      // the q_st26 drift in miniature: 20 moderate pairs (last 2 of 10
      // tokens mutated -> 3-shingle jaccard 0.6) the birth 8-banding
      // hits w.p. ~3% each — recall collapses far under the 60% floor
      val grown = (0 until 20).flatMap { i =>
        val toks = (0 until 10).map(j => s"g${i}t$j")
        val mut = toks.take(8) ++ Seq(s"m${i}a", s"m${i}b")
        Seq((100L + i, toks.mkString(" ")), (200L + i, mut.mkString(" ")))
      }.toDF("id", "text")
      // tick 1 (batch 0): birth certifies 8; cadence 2 skips the check
      val (v1, r1) = KeepBestIndexStore.maintainedIngest(spark, vroot, tune,
        birth, "id", "text", lit(1L), checkEvery = 2)
      (v1, r1) shouldBe ((0, 8))
      // tick 2 (batch 1): the cadence fires; the grown state
      // de-certifies 8 and the reband rebuild flips to v=1
      val (v2, r2) = KeepBestIndexStore.maintainedIngest(spark, vroot, tune,
        grown, "id", "text", lit(1L), checkEvery = 2)
      (v2, r2) shouldBe ((1, 2))
      KeepBestIndexStore.liveVersion(spark, vroot) shouldBe Some(1)
    }
  }

  test("openAuto refuses a persisted banding outside the tuning grid — the " +
    "torn-write tripwire: a numeric prefix that parses must not run the " +
    "store at an uncertified operating point") {
    import spark.implicits._
    TempFiles.withTempDir("kbstore-tornrpb") { root =>
      val dir = new java.io.File(root, "s").getAbsolutePath
      val tune = graft.ops.KeepBestIndex.AutoTune(Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 0L, recallFloorPpm = 0L, truthDfCap = None)
      val st = KeepBestIndexStore.openAuto(spark, dir, tune)
      st.ingest(Seq((11L, T), (12L, T)).toDF("id", "text"), "id", "text",
        lit(1L))
      // tear the birth choice down to '1' — parses fine, certified never
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_tuned_rpb"), true)
      out.write("1".getBytes("UTF-8")); out.close()
      val e = intercept[IllegalArgumentException] {
        KeepBestIndexStore.openAuto(spark, dir, tune)
      }
      assert(e.getMessage.contains("not in the tuning grid"))
    }
  }

  test("vacuum honors the reband manifest: a referenced version survives a " +
    "keep-0 sweep (it is the live index's data), becomes reclaimable once " +
    "the live version compacts, and survivors are unchanged throughout") {
    import spark.implicits._
    TempFiles.withTempDir("kbstore-vacuum") { root =>
      val vroot = new java.io.File(root, "live").getAbsolutePath
      val tune = graft.ops.KeepBestIndex.AutoTune(Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 0L, recallFloorPpm = 600000L, truthDfCap = None)
      KeepBestIndexStore.createLive(spark, vroot, tune)
      val birth = Seq((11L, T), (12L, T)).toDF("id", "text")
      val grown = (0 until 20).flatMap { i =>
        val toks = (0 until 10).map(j => s"g${i}t$j")
        val mut = toks.take(8) ++ Seq(s"m${i}a", s"m${i}b")
        Seq((100L + i, toks.mkString(" ")), (200L + i, mut.mkString(" ")))
      }.toDF("id", "text")
      // tick 1: birth at 8, quiet — retention never runs without a flip
      val (v1, _) = KeepBestIndexStore.maintainedIngest(spark, vroot, tune,
        birth, "id", "text", lit(1L), retainSuperseded = Some(0))
      v1 shouldBe 0
      assert(new java.io.File(vroot, "v=0").exists())
      // tick 2: the grown state de-certifies 8 and rebands into v=1.
      // v=1 is published BY REFERENCE (its per-id frames are v=0's
      // committed batches), so the flip's keep-0 retention sweep must
      // NOT reclaim v=0 — deleting it would gut the live index.
      val (v2, r2) = KeepBestIndexStore.maintainedIngest(spark, vroot, tune,
        grown, "id", "text", lit(1L), retainSuperseded = Some(0))
      (v2, r2) shouldBe ((1, 2))
      assert(new java.io.File(vroot, "v=0").exists(),
        "the sweep deleted a version the live manifest references")
      assert(new java.io.File(vroot, "v=1/_refs").exists())
      val live = KeepBestIndexStore.openLive(spark, vroot, tune)
      val sBefore = surv(live)
      sBefore.keySet should contain(11L)
      // an explicit keep-0 vacuum is likewise a no-op while referenced
      KeepBestIndexStore.vacuum(spark, vroot, keepSuperseded = 0) shouldBe Seq.empty
      // compacting the live version folds the referenced rows into its
      // own batch and retires the manifest — NOW v=0 is reclaimable
      live.compact()
      assert(!new java.io.File(vroot, "v=1/_refs").exists())
      surv(live) shouldBe sBefore
      KeepBestIndexStore.vacuum(spark, vroot, keepSuperseded = 0) shouldBe Seq(0)
      assert(!new java.io.File(vroot, "v=0").exists())
      surv(KeepBestIndexStore.openLive(spark, vroot, tune)) shouldBe sBefore
      // a second sweep is a no-op
      KeepBestIndexStore.vacuum(spark, vroot, keepSuperseded = 0) shouldBe Seq.empty
    }
  }

  test("the reband rebuild publishes BY REFERENCE: v=N+1 writes only the " +
    "re-banded pairs artifact (per-id frames empty + manifest), reads the " +
    "prior version's frames through it, and keeps ingesting/compacting") {
    import graft.ops.KeepBestIndex
    import spark.implicits._
    TempFiles.withTempDir("kbstore-refreband") { root =>
      val vroot = new java.io.File(root, "live").getAbsolutePath
      val birth = Seq((1L, T, 10L), (2L, T, 30L)).toDF("id", "text", "sc")
      def toks(i: Int, mutate: Boolean) = (0 until 10).map { j =>
        if (mutate && j >= 8) s"mut${i}x$j" else s"tok${i}w$j"
      }.mkString(" ")
      val grown = (1 to 8).flatMap(i => Seq(
        (100L + i, toks(i, mutate = false), 100L + i),
        (200L + i, toks(i, mutate = true), 200L + i)))
        .toDF("id", "text", "sc")
      val tune = KeepBestIndex.AutoTune(Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 0L, recallFloorPpm = 600000L, truthDfCap = None)
      val st0 = KeepBestIndexStore.createLive(spark, vroot, tune)
      st0.ingest(birth, "id", "text", col("sc"))
      st0.ingest(grown, "id", "text", col("sc"))
      val st1 = KeepBestIndexStore.rebandIfStale(spark, vroot, tune).get
      // the manifest names v=0's committed batches; the reband batch
      // continues v=0's numbering (b=2) and its per-id frames are EMPTY
      // — the corpus-scale copy is gone
      val refs = {
        val src = scala.io.Source.fromFile(new java.io.File(vroot, "v=1/_refs"))
        try src.getLines().toList finally src.close()
      }
      refs should contain theSameElementsAs Seq("v=0/b=0", "v=0/b=1")
      val b2 = new java.io.File(vroot, "v=1/b=2")
      assert(b2.exists() && new java.io.File(b2, "_COMMIT").exists())
      Seq("sh", "sigs", "sizes", "scored", "ids").foreach { fr =>
        spark.read.parquet(new java.io.File(b2, fr).getAbsolutePath)
          .count() shouldBe 0L
      }
      spark.read.parquet(new java.io.File(b2, "pairs").getAbsolutePath)
        .count() should be > 0L
      // a fresh reader over the referenced view serves identically to a
      // from-text rebuild at the new banding
      val fresh = KeepBestIndexStore.open(spark,
        new java.io.File(root, "fresh").getAbsolutePath,
        rowsPerBand = st1.chosenRowsPerBand.get)
      fresh.ingest(birth.unionByName(grown), "id", "text", col("sc"))
      surv(st1) shouldBe surv(fresh)
      // ingest into the referencing version: the delta probes against
      // the referenced state (a better copy demotes the old survivor)
      val better = Seq((900L, toks(1, mutate = false), 999L))
        .toDF("id", "text", "sc")
      st1.ingest(better, "id", "text", col("sc"))
      fresh.ingest(better, "id", "text", col("sc"))
      surv(st1) shouldBe surv(fresh)
      // double reband: push the corpus so the chooser moves again and
      // the NEW manifest flattens transitively (v=0 dirs + v=1's own)
      st1.compact()
      surv(st1) shouldBe surv(fresh)
    }
  }

  test("a pure reader pays exactly ONE LIST at open across N reads — the " +
    "pinned snapshot — and refresh() re-pins to observe the writer's later " +
    "commits") {
    TempFiles.withTempDir("kbstore-readerpin") { root =>
      val dir = new java.io.File(root, "s").getAbsolutePath
      val w = KeepBestIndexStore.open(spark, dir)
      w.ingest(batch(1L, 4L), "id", "text", col("sc"))
      val r = KeepBestIndexStore.open(spark, dir)
      r.listCalls shouldBe 1L // the at-open pin, nothing else
      surv(r) shouldBe Map(1L -> 10L, 4L -> 5L)
      r.survivors.count()
      r.listCalls shouldBe 1L // N reads, zero new LISTs
      // snapshot semantics: the single writer's later commit is
      // invisible until the reader explicitly re-pins
      w.ingest(batch(2L), "id", "text", col("sc"))
      surv(r) shouldBe Map(1L -> 10L, 4L -> 5L)
      r.refresh()
      r.listCalls shouldBe 2L
      surv(r) shouldBe Map(2L -> 30L, 4L -> 5L)
    }
  }

  test("re-delivery REPLACES logically over append-only storage: a re-delivered " +
    "id never ranks against its stale copy, and a content update moves the id " +
    "to its new cluster (the KeepBestIndex contract, store-backed)") {
    import spark.implicits._
    TempFiles.withTempDir("kbstore-redeliver") { root =>
      def b(rows: (Long, String, Long)*) = rows.toDF("id", "text", "sc")
      val idx = KeepBestIndexStore.open(spark, new java.io.File(root, "s").getAbsolutePath)
      idx.ingest(b((1L, T, 10L)), "id", "text", col("sc"))
      idx.ingest(b((1L, T, 10L)), "id", "text", col("sc")) // exact re-delivery
      surv(idx) shouldBe Map(1L -> 10L)
      idx.ingest(b((2L, T, 5L)), "id", "text", col("sc"))
      surv(idx) shouldBe Map(1L -> 10L) // cluster {1,2}, best = 1
      // content update: id 1 becomes U — its stale T pairing must be
      // shadowed, so both survive
      idx.ingest(b((1L, U, 2L)), "id", "text", col("sc"))
      surv(idx) shouldBe Map(1L -> 2L, 2L -> 5L)
      // and the updated id duplicates in its NEW cluster
      idx.ingest(b((3L, U, 9L)), "id", "text", col("sc"))
      surv(idx) shouldBe Map(3L -> 9L, 2L -> 5L)
    }
  }

  test("per-batch writes are DELTA-bounded: each committed batch stores its own " +
    "shingle rows only, never a rewrite of the accumulated state") {
    TempFiles.withTempDir("kbstore-growth") { root =>
      val dir = new java.io.File(root, "s").getAbsolutePath
      val idx = KeepBestIndexStore.open(spark, dir)
      feed.zipWithIndex.foreach { case (ids, n) =>
        idx.ingest(batch(ids: _*), "id", "text", col("sc"))
        val deltaSh = Dedup.shingleHashSet(batch(ids: _*), "id", "text", 3).count()
        val storedSh = spark.read.parquet(s"$dir/b=$n/sh").count()
        storedSh shouldBe deltaSh // O(delta), not O(state)
      }
    }
  }

  test("within-batch duplicate ids REFUSE before anything is written") {
    import spark.implicits._
    TempFiles.withTempDir("kbstore-dup") { root =>
      val dir = new java.io.File(root, "s").getAbsolutePath
      val idx = KeepBestIndexStore.open(spark, dir)
      val bad = Seq((1L, T, 10L), (1L, T, 20L)).toDF("id", "text", "sc")
      val boom = intercept[IllegalArgumentException](
        idx.ingest(bad, "id", "text", col("sc")))
      boom.getMessage should include("WITHIN the batch")
      surv(idx) shouldBe Map.empty // nothing committed
      idx.ingest(batch(1L, 4L), "id", "text", col("sc")) // still usable
      surv(idx).keySet shouldBe Set(1L, 4L)
    }
  }

  test("compact() folds the view into one batch without changing it, " +
    "reclaims the shadowed history, and later batches keep folding in") {
    TempFiles.withTempDir("kbstore-compact") { root =>
      val dir = new java.io.File(root, "s").getAbsolutePath
      val idx = KeepBestIndexStore.open(spark, dir)
      feed.take(3).foreach(ids => idx.ingest(batch(ids: _*), "id", "text", col("sc")))
      val before = surv(idx)
      idx.compact()
      surv(idx) shouldBe before
      // exactly one committed batch dir remains
      new java.io.File(dir).listFiles().map(_.getName)
        .count(_.startsWith("b=")) shouldBe 1
      // a reopened instance reads the compacted state and keeps folding
      val again = KeepBestIndexStore.open(spark, dir)
      feed.drop(3).foreach(ids => again.ingest(batch(ids: _*), "id", "text", col("sc")))
      surv(again) shouldBe expected
    }
  }

  test("every job of an ingest and a compact carries a kbs: label") {
    TempFiles.withTempDir("kbstore-labels") { root =>
      val dir = new java.io.File(root, "s").getAbsolutePath
      val idx = KeepBestIndexStore.open(spark, dir)
      idx.ingest(batch(feed.head: _*), "id", "text", col("sc"))
      val jobs = jobDescriptions {
        idx.ingest(batch(feed(1): _*), "id", "text", col("sc"))
        idx.compact()
      }
      jobs should not be empty
      jobs.filterNot(_.startsWith("kbs:")) shouldBe empty
    }
  }

  test("compactEvery auto-folds on cadence: the shadowed history stays " +
    "bounded, the view never changes, and the cadence is maintenance — " +
    "not fingerprinted state") {
    TempFiles.withTempDir("kbstore-autocompact") { root =>
      val dir = new java.io.File(root, "s").getAbsolutePath
      val idx = KeepBestIndexStore.open(spark, dir, compactEvery = Some(2))
      feed.foreach(ids => idx.ingest(batch(ids: _*), "id", "text", col("sc")))
      surv(idx) shouldBe expected
      new java.io.File(dir).listFiles().map(_.getName)
        .count(_.startsWith("b=")) should be <= 2
      // a cadence-less instance opens the same store (no fingerprint drift)
      surv(KeepBestIndexStore.open(spark, dir)) shouldBe expected
      intercept[IllegalArgumentException](
        KeepBestIndexStore.open(spark, dir, compactEvery = Some(1)))
    }
  }

  test("params fingerprint: reopening under a different configuration refuses") {
    TempFiles.withTempDir("kbstore-fp") { root =>
      val dir = new java.io.File(root, "s").getAbsolutePath
      KeepBestIndexStore.open(spark, dir, rowsPerBand = 4)
      val boom = intercept[IllegalArgumentException](
        KeepBestIndexStore.open(spark, dir, rowsPerBand = 2))
      boom.getMessage should include("fingerprint")
    }
  }

  test("openAuto: birth refusal writes NOTHING; the birth choice persists " +
    "and a resume reads it instead of re-choosing; a fixed-banding store " +
    "refuses openAuto; open() with the tuned banding interoperates") {
    import graft.ops.KeepBestIndex
    TempFiles.withTempDir("kbstore-auto") { root =>
      // floors nothing can meet: the first ingest must refuse with the
      // directory still empty (no _tuned_rpb, no fingerprint, no batch)
      val dirR = new java.io.File(root, "refuse").getAbsolutePath
      val impossible = KeepBestIndex.AutoTune(Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 1000001L, recallFloorPpm = 1000001L,
        truthDfCap = None)
      val r = KeepBestIndexStore.openAuto(spark, dirR, impossible)
      val boom = intercept[IllegalArgumentException](
        r.ingest(batch(1L, 2L, 3L), "id", "text", col("sc")))
      boom.getMessage should include("floors")
      new java.io.File(dirR).listFiles().map(_.getName).toSet shouldBe Set.empty
      // a feasible tune: birth on the first batch, choice persisted
      val tune = KeepBestIndex.AutoTune(Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 0L, recallFloorPpm = 0L, truthDfCap = None)
      val dir = new java.io.File(root, "s").getAbsolutePath
      val a = KeepBestIndexStore.openAuto(spark, dir, tune)
      a.chosenRowsPerBand shouldBe None // provenance: untuned before birth
      // the BIRTH batch carries a true pair (1 and 2 share content T) —
      // a zero-truth sample never certifies, by design
      val autoFeed = Seq(Seq(1L, 2L), Seq(4L), Seq(3L, 5L), Seq(1L))
      autoFeed.take(2).foreach(ids => a.ingest(batch(ids: _*), "id", "text", col("sc")))
      val born = a.chosenRowsPerBand.get
      // the kill: a resume reads the BIRTH choice, never re-chooses
      val b = KeepBestIndexStore.openAuto(spark, dir, tune)
      b.chosenRowsPerBand shouldBe Some(born)
      autoFeed.drop(2).foreach(ids => b.ingest(batch(ids: _*), "id", "text", col("sc")))
      surv(b) shouldBe expected
      // interop: open() with the tuned banding resumes the same store;
      // a different banding refuses on the fingerprint
      surv(KeepBestIndexStore.open(spark, dir, rowsPerBand = born)) shouldBe expected
      intercept[IllegalArgumentException](
        KeepBestIndexStore.open(spark, dir, rowsPerBand = born + 1))
      // a FIXED-banding store refuses openAuto (rpb unrecoverable)
      val dirF = new java.io.File(root, "fixed").getAbsolutePath
      KeepBestIndexStore.open(spark, dirF)
      val boom2 = intercept[IllegalArgumentException](
        KeepBestIndexStore.openAuto(spark, dirF, tune))
      boom2.getMessage should include("FIXED-banding")
    }
  }

  test("openAuto birth tuning ROUTES truthDfCap into the chooser (the q_d23 " +
    "informative-universe algebra at birth): a pure-boilerplate duplicate " +
    "family is 0/0 under a binding cap, so capped birth refuses where " +
    "uncapped certifies; with informative truth present the born choice " +
    "equals the capped chooser's") {
    import graft.ops.KeepBestIndex
    import spark.implicits._
    TempFiles.withTempDir("kbstore-cap") { root =>
      val boiler = "zq0nav zq1chrome zq2footer zq3bar zq4side zq5head"
      // every doc carries the boilerplate; the ONLY duplicate family is
      // pure boilerplate (ids 7, 8) — its informative shingle set is
      // empty, so capped truth is EMPTY (no evidence never certifies)
      // while uncapped truth holds exactly that pair
      val b1 = Seq(
        1L -> s"$T $boiler", 2L -> s"$U $boiler",
        3L -> s"moon river wider than a mile crossing in style $boiler",
        7L -> boiler, 8L -> boiler)
        .map { case (i, t) => (i, t, i * 10L) }.toDF("id", "text", "sc")
      val cap = 3 // boilerplate df = 5 > cap; informative shingles df <= 2
      def tuneOf(capOpt: Option[Int]) = KeepBestIndex.AutoTune(Seq(2, 4, 8),
        gate = graft.ops.SampleGate.Mod(1), precisionFloorPpm = 0L, recallFloorPpm = 0L,
        truthDfCap = capOpt)
      // uncapped: the boiler-only pair IS truth — birth certifies
      val dirU = new java.io.File(root, "uncapped").getAbsolutePath
      val u = KeepBestIndexStore.openAuto(spark, dirU, tuneOf(None))
      u.ingest(b1, "id", "text", col("sc"))
      u.chosenRowsPerBand.isDefined shouldBe true
      // capped, same batch, same floors: zero informative truth — the
      // birth REFUSES (the cap reached the chooser, nothing written)
      val dirC = new java.io.File(root, "capped").getAbsolutePath
      val c = KeepBestIndexStore.openAuto(spark, dirC, tuneOf(Some(cap)))
      val boom = intercept[IllegalArgumentException](
        c.ingest(b1, "id", "text", col("sc")))
      boom.getMessage should include("floors")
      new java.io.File(dirC).listFiles().map(_.getName).toSet shouldBe Set.empty
      // with an informative duplicate family added, capped birth
      // certifies and the persisted choice equals the capped chooser's
      val b2 = b1.unionByName(Seq(
          (11L, s"$T tail one $boiler", 110L),
          (12L, s"$T tail one $boiler", 120L))
        .toDF("id", "text", "sc"))
      val c2 = KeepBestIndexStore.openAuto(spark,
        new java.io.File(root, "capped2").getAbsolutePath, tuneOf(Some(cap)))
      c2.ingest(b2, "id", "text", col("sc"))
      val expectedRpb = Dedup.chooseLshConfig(b2, "id", "text", 3, 16,
          Seq(2, 4, 8), 0.5, sampleMod = 1, 0L, 0L, truthDfCap = Some(cap))
        .filter(col("chosen")).select("rows_per_band").as[Int].collect()
      c2.chosenRowsPerBand shouldBe expectedRpb.headOption
      // a budget gate SELF-SIZES the birth gate: a budget whose
      // slacked target covers the batch derives mod 1, so the born
      // choice equals the explicit mod-1 run above — and the budget
      // rides as the armed rep cap (the Dedup.chooseSampleMod contract
      // at birth)
      Dedup.chooseSampleMod(b2.count(), 200L) shouldBe 1
      val c3 = KeepBestIndexStore.openAuto(spark,
        new java.io.File(root, "capped3").getAbsolutePath,
        KeepBestIndex.AutoTune(Seq(2, 4, 8), gate = graft.ops.SampleGate.Budget(200L),
          precisionFloorPpm = 0L, recallFloorPpm = 0L,
          truthDfCap = Some(cap)))
      c3.ingest(b2, "id", "text", col("sc"))
      c3.chosenRowsPerBand shouldBe expectedRpb.headOption
    }
  }

  test("reband lifecycle: the birth banding goes stale as the corpus grows; " +
    "rebandIfStale re-certifies from STORED hashes, rebuilds into v=N+1, " +
    "flips the pointer, matches a from-text rebuild, and no-ops once stable") {
    import graft.ops.KeepBestIndex
    import spark.implicits._
    TempFiles.withTempDir("kbstore-reband") { root =>
      val vroot = new java.io.File(root, "live").getAbsolutePath
      // birth batch: one exact pair — every config certifies (recall 1e6
      // on the single true pair), the tie rule picks the cheapest
      val birth = Seq((1L, T, 10L), (2L, T, 30L)).toDF("id", "text", "sc")
      // growth: 8 moderate-similarity true pairs (last 2 of 10 tokens
      // replaced -> 3-shingle Jaccard 0.6): wide-band configs miss them
      // (0.6^8 per band), so the 600k recall floor de-certifies the
      // birth choice on the grown state
      def toks(i: Int, mutate: Boolean) = (0 until 10).map { j =>
        if (mutate && j >= 8) s"mut${i}x$j" else s"tok${i}w$j"
      }.mkString(" ")
      val grown = (1 to 8).flatMap(i => Seq(
        (100L + i, toks(i, mutate = false), 100L + i),
        (200L + i, toks(i, mutate = true), 200L + i)))
        .toDF("id", "text", "sc")
      val tune = KeepBestIndex.AutoTune(Seq(2, 4, 8), gate = graft.ops.SampleGate.Mod(1),
        precisionFloorPpm = 0L, recallFloorPpm = 600000L, truthDfCap = None)
      val st0 = KeepBestIndexStore.createLive(spark, vroot, tune)
      st0.ingest(birth, "id", "text", col("sc"))
      val born = st0.chosenRowsPerBand.get
      st0.ingest(grown, "id", "text", col("sc"))
      KeepBestIndexStore.liveVersion(spark, vroot) shouldBe Some(0)
      // the CURRENT state certifies a different config than birth did
      val recert = st0.rebandChoice(tune)
      recert.isDefined shouldBe true
      recert should not be Some(born)
      // rebuild + flip
      val st1 = KeepBestIndexStore.rebandIfStale(spark, vroot, tune).get
      KeepBestIndexStore.liveVersion(spark, vroot) shouldBe Some(1)
      st1.chosenRowsPerBand shouldBe recert
      // the rebuilt state equals a FRESH from-text store at the new
      // banding ingesting everything in one batch
      val fresh = KeepBestIndexStore.open(spark,
        new java.io.File(root, "fresh").getAbsolutePath,
        rowsPerBand = recert.get)
      fresh.ingest(birth.unionByName(grown), "id", "text", col("sc"))
      surv(st1) shouldBe surv(fresh)
      // old version untouched and readable (openAuto resumes its birth
      // choice); a second reband is a no-op — the live banding is now
      // the certified one
      KeepBestIndexStore.openAuto(spark,
        new java.io.File(vroot, "v=0").getAbsolutePath, tune)
        .chosenRowsPerBand shouldBe Some(born)
      KeepBestIndexStore.rebandIfStale(spark, vroot, tune) shouldBe None
      // the rebanded store keeps ingesting (delta probes against the
      // adopted state): a better copy of content tok1* demotes the old
      val better = Seq((900L, toks(1, mutate = false), 999L))
        .toDF("id", "text", "sc")
      st1.ingest(better, "id", "text", col("sc"))
      val s = surv(st1)
      s.keySet should contain(900L)
      s.keySet should not contain (101L)
    }
  }
}
