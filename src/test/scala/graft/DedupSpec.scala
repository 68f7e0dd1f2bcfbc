package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, SampleGate, TextOps}

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank " +
      "while morning light spreads across quiet fields and birds begin their " +
      "long slow journey south before winter arrives with heavy snow again"
    Seq(
      (1L, base),
      (2L, base),                                    // exact dup of 1
      (3L, base.split(" ", 2)(1)),                   // near dup (first token dropped)
      (4L, "completely different content about spark catalyst optimizer rules and codegen stages here"),
      (5L, "short text"))
      .toDF("id", "text")
  }

  test("exactGroups finds only the exact duplicate pair, keeps min id") {
    val g = Dedup.exactGroups(docs, "id", "text").collect()
    g.length shouldBe 1
    g.head.getAs[Long]("keep_id") shouldBe 1L
    g.head.getAs[String]("ids") shouldBe "1,2"
    g.head.getAs[Long]("n_copies") shouldBe 2L
  }

  test("minhash-LSH near-dup pipeline finds exact and near pairs, not unrelated docs") {
    val pairs = Dedup.nearDupPairs(docs, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    keys should contain((1L, 2L)) // exact → jaccard 1.0
    keys should contain((1L, 3L)) // near
    keys should contain((2L, 3L))
    pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 shouldBe 1.0
    keys.flatMap(p => Set(p._1, p._2)) should not contain 4L
    keys.flatMap(p => Set(p._1, p._2)) should not contain 5L
  }

  test("lshCandidatesFromSigs (packed, map-side banding) equals lshCandidates (exploded)") {
    val sh = Dedup.shingleHashSet(docs, "id", "text", 3)
    val packed = Dedup.lshCandidatesFromSigs(Dedup.minhashSigs(sh, 16), rowsPerBand = 4, k = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exploded = Dedup.lshCandidates(Dedup.minhashFromHashes(sh, 16), rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    packed shouldBe exploded
    packed.foreach { case (ia, ib) => ia should be < ib }
  }

  // The scale shape that motivates the r11 collapse fixes: every text
  // heavily exact-duplicated, so naive banding's buckets hold whole
  // copy families and naive verification drags each family's m²/2
  // pairs through the shingle join.
  private lazy val dupHeavy = {
    import spark.implicits._
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi",
      "beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron",
      "totally unrelated words about catalyst tungsten codegen shuffle exchange plans",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu pi")
    (for {
      (t, ti) <- texts.zipWithIndex
      copy <- 0 until 25
    } yield (ti * 1000L + copy, t)).toDF("id", "text")
  }

  test("sigFromHashSet (map-side, off the collected set) is bit-equal to minhashSigs") {
    val sh = Dedup.shingleHashSet(docs.union(dupHeavy), "id", "text", 3)
    val agg = Dedup.minhashSigs(sh, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val mapSide = sh.groupBy(col("id"))
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .select(col("id"), Dedup.sigFromHashSet(col("hs")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    mapSide shouldBe agg
  }

  test("exact-dup collapse preserves the candidate relation on a dup-heavy corpus") {
    val sh = Dedup.shingleHashSet(dupHeavy, "id", "text", 3)
    val packed = Dedup.lshCandidatesFromSigs(Dedup.minhashSigs(sh, 16), rowsPerBand = 4, k = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exploded = Dedup.lshCandidates(Dedup.minhashFromHashes(sh, 16), rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    packed shouldBe exploded
    // every copy family's all-pairs must be present (25 choose 2 per
    // text, 4 texts)
    val withinFamily = packed.count { case (a, b) => a / 1000L == b / 1000L }
    withinFamily shouldBe 4 * (25 * 24 / 2)
    packed.foreach { case (ia, ib) => ia should be < ib }
  }

  test("lshTuning rep-level counts equal member-level enumeration on a dup-heavy corpus") {
    val t = Dedup.lshTuning(dupHeavy, "id", "text", 3, 16, Seq(2, 4, 8), 0.5)
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val sh = Dedup.shingleHashSet(dupHeavy, "id", "text", 3)
    Seq(2, 4, 8).foreach { r =>
      val cand = Dedup.lshCandidates(Dedup.minhashFromHashes(sh, 16), r)
      val nCand = cand.count()
      val nVer = Dedup.jaccardVerify(cand, sh, setCol = "h")
        .filter(col("jac") >= 0.5).count()
      t(r) shouldBe ((nCand, nVer))
    }
  }

  test("purgeKeepBest keeps the highest-scoring cluster member, ties break " +
    "to the min id, unclustered docs always survive") {
    import spark.implicits._
    // docs: {1, 2} exact dups, 3 a near-dup of both (one cluster);
    // 4 unrelated; 5 too short to shingle. Scores make the best member
    // NOT the min id (keep-min would keep 1) and tie 2 with 3.
    val score = when($"id" === 1L, 10L).when($"id" === 2L, 30L)
      .when($"id" === 3L, 30L).otherwise(5L)
    val kept = Dedup.purgeKeepBest(docs, "id", "text", score)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cluster {1,2,3}: best score 30 is shared by 2 and 3 → min id 2
    kept.keySet shouldBe Set(2L, 4L, 5L)
    kept(2L) shouldBe 30L
  }

  test("per-batch contamination increments over an id-disjoint split sum to " +
    "the batch report (the q_st16 invariance)") {
    import spark.implicits._
    val all = docs.union(dupHeavy)
    val corpusDocs = all.filter($"id" % 3 =!= 0)
    val bench = all.filter($"id" % 3 === 0)
    val report = Dedup.contaminationReport(corpusDocs, Seq("b" -> bench), "id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).headOption.getOrElse((0L, 0L))
    report._2 should be > 0L
    val ev = Dedup.shingleHashSet(bench, "id", "text", 3).select(col("h")).distinct()
    // Ids are disjoint across batches, shingle sets per-doc distinct —
    // so the per-batch (distinct docs, hits) increments must be
    // additive for ANY id-disjoint split.
    var nd = 0L; var nh = 0L
    Seq(0L, 1L).foreach { m =>
      val part = Dedup.shingleHashSet(
          corpusDocs.filter($"id" % 2 === m), "id", "text", 3)
        .join(ev, "h")
      nd += part.select("id").distinct().count()
      nh += part.count()
    }
    (nd, nh) shouldBe report
  }

  test("lshRecall weighted rep-level counts equal member-level enumeration " +
    "on the hash-gated sample") {
    import spark.implicits._
    val t = Dedup.lshRecall(dupHeavy, "id", "text", 3, 16, Seq(2, 4, 8),
        threshold = 0.5, sampleMod = 2)
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // Naive member-level replay: gate the sample identically, take ALL
    // pairs of sampled ids as ground-truth candidates (exact Jaccard —
    // no banding, no collapse), then per config intersect with the
    // exploded-banding candidate relation.
    val sample = dupHeavy.filter(
      pmod(TextOps.hash60($"id".cast("string")), lit(2L)) === 0)
    val ids = sample.select("id").as[Long].collect().sorted
    ids.length should be > 10 // the gate must keep a real sample
    val allPairs = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
    } yield (ids(i), ids(j))).toDF("ia", "ib")
    val sh = Dedup.shingleHashSet(sample, "id", "text", 3)
    val truthSet = Dedup.jaccardVerify(allPairs, sh, setCol = "h")
      .filter(col("jac") >= 0.5)
      .select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    truthSet should not be empty
    Seq(2, 4, 8).foreach { r =>
      val cand = Dedup.lshCandidates(Dedup.minhashFromHashes(sh, 16), r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      t(r) shouldBe ((truthSet.size.toLong, (cand & truthSet).size.toLong))
    }
  }

  test("KeepBestIndex: a later better-scoring duplicate DEMOTES the standing " +
    "survivor, a worse one does not, ties keep the smaller id, and the final " +
    "state is invariant under batch structure") {
    import spark.implicits._
    import graft.ops.KeepBestIndex
    // one duplicated content T (ids 1, 2, 3 — identical text, so the
    // pair is unconditional content-group machinery, no banding
    // involved) and one unrelated content U (ids 4, 5)
    val T = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val U = "one two three four five six seven eight nine ten"
    val rows = Map(
      1L -> (T, 10L), 2L -> (T, 30L), 3L -> (T, 20L),
      4L -> (U, 5L), 5L -> (U, 5L))
    def batch(ids: Long*) =
      ids.map(i => (i, rows(i)._1, rows(i)._2)).toDF("id", "text", "sc")
    def surv(idx: KeepBestIndex) =
      idx.survivors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val idx = new KeepBestIndex(spark)
    idx.ingest(batch(1L, 4L), "id", "text", col("sc"))
    surv(idx).keySet shouldBe Set(1L, 4L) // id 1 is T's standing survivor
    idx.ingest(batch(2L), "id", "text", col("sc"))
    surv(idx).keySet shouldBe Set(2L, 4L) // 30 > 10: id 1 DEMOTED
    idx.ingest(batch(3L, 5L), "id", "text", col("sc"))
    // 20 < 30: no demotion; U's tie (5 = 5) keeps the smaller id 4
    val fin = surv(idx)
    fin shouldBe Map(2L -> 30L, 4L -> 5L)
    // batch-structure invariance: the same five docs as one batch, and
    // in reversed arrival order, resolve to the identical final state
    val oneShot = new KeepBestIndex(spark)
    oneShot.ingest(batch(1L, 2L, 3L, 4L, 5L), "id", "text", col("sc"))
    surv(oneShot) shouldBe fin
    val reversed = new KeepBestIndex(spark)
    Seq(Seq(5L, 3L), Seq(2L), Seq(4L, 1L)).foreach(ids =>
      reversed.ingest(batch(ids: _*), "id", "text", col("sc")))
    surv(reversed) shouldBe fin
  }

  test("KeepBestIndex re-ingestion REPLACES stored state: a re-delivered id " +
    "never ranks against its own stale copy, and a content update moves the " +
    "id to its new cluster") {
    import spark.implicits._
    import graft.ops.KeepBestIndex
    val T = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val U = "one two three four five six seven eight nine ten"
    def batch(rows: (Long, String, Long)*) = rows.toDF("id", "text", "sc")
    def surv(idx: KeepBestIndex) =
      idx.survivors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact re-delivery (at-least-once source): state must be as if the
    // batch arrived once — a blended union would rank id 1 against its
    // own duplicate scored row, put the rk=2 copy in the losers, and
    // anti-join the document out of the survivors entirely
    val idx = new KeepBestIndex(spark)
    idx.ingest(batch((1L, T, 10L)), "id", "text", col("sc"))
    idx.ingest(batch((1L, T, 10L)), "id", "text", col("sc"))
    surv(idx) shouldBe Map(1L -> 10L)
    // id 2 arrives as a T duplicate: cluster {1, 2}, best = 1 (10 > 5)
    idx.ingest(batch((2L, T, 5L)), "id", "text", col("sc"))
    surv(idx) shouldBe Map(1L -> 10L)
    // content update: id 1 re-arrives as U content — its old T-cluster
    // pairing against id 2 must be FORGOTTEN, so both now survive (the
    // stale pair would have kept purging id 2 under id 1's old crown)
    idx.ingest(batch((1L, U, 2L)), "id", "text", col("sc"))
    surv(idx) shouldBe Map(1L -> 2L, 2L -> 5L)
    // and the updated id 1 duplicates in its NEW cluster: a better U
    // copy demotes it there
    idx.ingest(batch((3L, U, 9L)), "id", "text", col("sc"))
    surv(idx) shouldBe Map(3L -> 9L, 2L -> 5L)
  }

  test("chooseLshConfig: metrics agree with lshTuning/lshRecall on the same " +
    "sample, the choice is the cheapest feasible config, and floors are " +
    "monotone (raising them only shrinks the feasible set)") {
    import spark.implicits._
    def table(pf: Long, rf: Long)
        : Seq[(Int, Int, Long, Long, Long, Option[Long], Option[Long], Boolean, Boolean)] =
      Dedup.chooseLshConfig(dupHeavy, "id", "text", 3, 16, Seq(2, 4, 8),
          threshold = 0.5, sampleMod = 2,
          precisionFloorPpm = pf, recallFloorPpm = rf)
        .orderBy("rows_per_band")
        .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          if (r.isNullAt(6)) None else Some(r.getLong(6)),
          r.getBoolean(7), r.getBoolean(8)))
    val open = table(0L, 0L)
    // ---- consistency: the one-pass chooser must reproduce BOTH source
    // tables exactly — precision axis = lshTuning on the gated sample,
    // recall axis = lshRecall with the same arguments.
    val sample = dupHeavy.filter(
      pmod(TextOps.hash60($"id".cast("string")), lit(2L)) === 0)
    val tun = Dedup.lshTuning(sample, "id", "text", 3, 16, Seq(2, 4, 8), 0.5)
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val rec = Dedup.lshRecall(dupHeavy, "id", "text", 3, 16, Seq(2, 4, 8),
        threshold = 0.5, sampleMod = 2)
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    open.foreach { case (rpb, _, nCand, nVer, nTrue, _, _, feasible, _) =>
      (nCand, nVer) shouldBe tun(rpb)     // d17 axis
      (nTrue, nVer) shouldBe rec(rpb)     // d19 axis (n_hit = n_verified)
      feasible shouldBe true              // floors at zero reject nothing
    }
    // with all configs feasible, chosen = fewest candidates (ties to
    // larger rpb — deterministic)
    val cheapest = open.minBy(t => (t._3, -t._1))._1
    open.filter(_._9).map(_._1) shouldBe Seq(cheapest)
    // ---- monotonicity: for ANY floor pair, the feasible set is a
    // subset of a looser pair's, and at most one config is chosen
    val precs = open.flatMap(_._6).distinct
    val recs = open.flatMap(_._7).distinct
    val floorGrid = (0L +: precs.map(_ + 1)).distinct.flatMap(pf =>
      (0L +: recs.map(_ + 1)).distinct.map(rf => (pf, rf)))
    floorGrid.foreach { case (pf, rf) =>
      val t = table(pf, rf)
      val feas = t.filter(_._8).map(_._1).toSet
      feas shouldBe open.filter(r =>
        r._6.exists(_ >= pf) && r._7.exists(_ >= rf)).map(_._1).toSet
      val chosen = t.filter(_._9).map(_._1)
      chosen.size should be <= 1
      if (feas.isEmpty) chosen shouldBe empty
      else chosen shouldBe Seq(
        t.filter(_._8).minBy(x => (x._3, -x._1))._1)
    }
    // the strictest grid point rejects everything: no vacuous choice
    table(precs.max + 1, recs.max + 1).exists(_._9) shouldBe false
  }

  test("nearDupPairsAuto runs the full corpus at exactly the chosen config, " +
    "and throws instead of silently defaulting when no config is feasible") {
    import spark.implicits._
    val auto = Dedup.nearDupPairsAuto(dupHeavy, "id", "text",
      truthDfCap = None, gate = SampleGate.Mod(2),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    val rpbs = auto.select("rows_per_band").distinct().as[Int].collect()
    rpbs.length shouldBe 1 // one choice drove the whole relation
    val chosen = Dedup.chooseLshConfig(dupHeavy, "id", "text", 3, 16,
        Seq(2, 4, 8), 0.5, sampleMod = 2, 0L, 0L)
      .filter(col("chosen")).select("rows_per_band").as[Int].collect()
    rpbs.head shouldBe chosen.head
    val manual = Dedup.nearDupPairs(dupHeavy, "id", "text",
      rowsPerBand = rpbs.head)
    auto.select("ia", "ib").as[(Long, Long)].collect().toSet shouldBe
      manual.select("ia", "ib").as[(Long, Long)].collect().toSet
    // floors nothing can clear: refuse, never fall back to a default
    val boom = intercept[IllegalArgumentException](
      Dedup.nearDupPairsAuto(dupHeavy, "id", "text", truthDfCap = None,
        gate = SampleGate.Mod(2),
        precisionFloorPpm = 1000001L, recallFloorPpm = 1000001L))
    boom.getMessage should include("no banding configuration")
  }

  test("sampleGroupsOf derived off the full corpus's contentGroups equals " +
    "contentGroups of the hash-gated sample, for every sampleMod") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("hs").cast("string"), col("members").cast("string"),
        col("rep").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    val full = Dedup.contentGroups(dupHeavy, "id", "text", 3)
    for (m <- Seq(1, 2, 3, 5)) {
      val direct = Dedup.contentGroups(
        dupHeavy.filter(pmod(TextOps.hash60(col("id").cast("string")),
          lit(m.toLong)) === 0), "id", "text", 3)
      key(graft.ops.DupGroups.sampleOf(full, m)) shouldBe key(direct)
    }
  }

  test("nearDupPairsFromGroups over a cached contentGroups frame equals the " +
    "from-text nearDupPairs, so the auto path's compute-once sharing is exact") {
    import spark.implicits._
    val grouped = Dedup.contentGroups(dupHeavy, "id", "text", 3).cache()
    grouped.count()
    val fromGroups = Dedup.nearDupPairsFromGroups(grouped, 16, 4, 0.5)
      .select("ia", "ib", "jac").as[(Long, Long, Double)].collect().toSet
    grouped.unpersist()
    val fromText = Dedup.nearDupPairs(dupHeavy, "id", "text", 3, 16, 4, 0.5)
      .select("ia", "ib", "jac").as[(Long, Long, Double)].collect().toSet
    fromGroups shouldBe fromText
  }

  test("chooseSampleMod returns the minimal mod fitting the 3-sigma-slacked " +
    "target, and chooseLshConfig's sampleRepCap refuses one step below " +
    "the actual sample size") {
    // the slack: target = max(1, b - ceil(3*sqrt(b))) — headroom so the
    // cap fires on >3-sigma skew, never as a coin flip at a new scale
    Dedup.sampleTargetOf(400L) shouldBe 340L
    Dedup.sampleTargetOf(1200L) shouldBe 1096L
    Dedup.sampleTargetOf(4L) shouldBe 1L
    // minimality wrt the target: m = ceil(n/t) is the smallest integer
    // with n/m <= t
    for (n <- Seq(1L, 7L, 40L, 41L, 1000L); b <- Seq(1L, 36L, 100L, 400L)) {
      val t = Dedup.sampleTargetOf(b)
      val m = Dedup.chooseSampleMod(n, b)
      assert(n <= m.toLong * t, s"derived mod $m does not fit n=$n t=$t")
      if (m > 1) assert(n > (m - 1).toLong * t,
        s"derived mod $m is not minimal for n=$n t=$t")
    }
    Dedup.chooseSampleMod(0L, 5L) shouldBe 1
    // refusal is exact at the actual sample rep count: mod 1 samples the
    // whole corpus, whose distinct-content count is known
    val nReps = Dedup.contentGroups(dupHeavy, "id", "text", 3).count()
    noException should be thrownBy
      Dedup.chooseLshConfig(dupHeavy, "id", "text", 3, 16, Seq(2, 4), 0.5,
        sampleMod = 1, precisionFloorPpm = 0L, recallFloorPpm = 0L,
        truthDfCap = None, sampleRepCap = Some(nReps)).collect()
    val boom = intercept[IllegalArgumentException](
      Dedup.chooseLshConfig(dupHeavy, "id", "text", 3, 16, Seq(2, 4), 0.5,
        sampleMod = 1, precisionFloorPpm = 0L, recallFloorPpm = 0L,
        truthDfCap = None, sampleRepCap = Some(nReps - 1)))
    boom.getMessage should include("sampleRepCap")
  }

  test("nearDupPairsAutoBudgeted derives the mod from the corpus count, runs " +
    "the auto path at it, and carries sample_mod provenance") {
    // the budgeted auto path: nearDupPairsAuto at a SampleGate.Budget
    import spark.implicits._
    val n = dupHeavy.count()
    val budget = 4 * n + 100 // slacked target >= n, so the derived mod is 1
    val expectMod = Dedup.chooseSampleMod(n, budget)
    expectMod shouldBe 1
    val budgeted = Dedup.nearDupPairsAuto(dupHeavy, "id", "text",
      truthDfCap = None, gate = SampleGate.Budget(budget),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    budgeted.select("sample_mod").distinct().as[Long].collect() shouldBe
      Array(expectMod)
    val manual = Dedup.nearDupPairsAuto(dupHeavy, "id", "text",
      truthDfCap = None, gate = SampleGate.Mod(expectMod),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    budgeted.select("rows_per_band", "ia", "ib", "jac")
        .as[(Int, Long, Long, Double)].collect().toSet shouldBe
      manual.select("rows_per_band", "ia", "ib", "jac")
        .as[(Int, Long, Long, Double)].collect().toSet
  }

  test("nearDupPairsAutoBudgeted counts SHINGLED docs: a sub-shingleN doc " +
    "neither inflates the derived mod nor joins any pair") {
    import spark.implicits._
    val n = dupHeavy.count()
    // the budget whose slacked target is EXACTLY n: with the short doc
    // correctly excluded the derived mod is ceil(n/n) = 1; if it were
    // (wrongly) counted the mod would jump to ceil((n+1)/n) = 2 and the
    // whole choice would run on a different sample
    val b = Iterator.from(n.toInt).map(_.toLong)
      .find(bb => Dedup.sampleTargetOf(bb) == n).get
    val short = Seq((999L, "too short")).toDF("id", "text") // 2 tokens < 3
    val out = Dedup.nearDupPairsAuto(dupHeavy.unionByName(short),
      "id", "text", truthDfCap = None, gate = SampleGate.Budget(b),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    out.select("sample_mod").distinct().as[Long].collect() shouldBe Array(1L)
    out.filter($"ia" === 999L || $"ib" === 999L).count() shouldBe 0L
  }

  test("chooseSampleMod stays exact above Int range — the trillion-doc " +
    "corpus against a small budget") {
    val m = Dedup.chooseSampleMod(1000000000000L, 400L) // target 340
    m shouldBe 2941176471L // ceil(1e12 / 340), > 2^31
    m should be > Int.MaxValue.toLong
  }

  test("simhashPairsAutoBudgeted derives the mod from the signature count, " +
    "matches the explicit-mod auto path, and refuses on hash-skew overshoot") {
    // the budgeted auto path: simhashPairsAuto at a SampleGate.Budget
    import spark.implicits._
    val n = dupHeavy.count()
    val budget = 4 * n + 100 // slacked target >= n -> derived mod 1
    val expectMod = Dedup.chooseSampleMod(n, budget)
    expectMod shouldBe 1
    val budgeted = Dedup.simhashPairsAuto(dupHeavy, "id", "text",
      bandConfigs = Seq(2, 3, 4), maxDist = 8, gate = SampleGate.Budget(budget),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    budgeted.select("sample_mod").distinct().as[Long].collect() shouldBe
      Array(expectMod)
    val manual = Dedup.simhashPairsAuto(dupHeavy, "id", "text",
      Seq(2, 3, 4), maxDist = 8, gate = SampleGate.Mod(expectMod),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    budgeted.select("n_bands", "ia", "ib").as[(Int, Long, Long)]
        .collect().toSet shouldBe
      manual.select("n_bands", "ia", "ib").as[(Int, Long, Long)]
        .collect().toSet
    // hash-skew overshoot refuses: 40 ids ALL passing the gate of the
    // mod the budget derives (chooseSampleMod(40, 36) = 3 under the
    // slacked target 18) admit the whole corpus, above the budget
    Dedup.chooseSampleMod(40L, 36L) shouldBe 3
    val gateIds = Iterator.from(1).map(_.toLong)
      .filter(i => graft.functions.Hash60Impl.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(i.toString)) % 3 == 0)
      .take(40).toSeq
    val skew = gateIds.map(i => (i, s"doc number $i with some shared tokens"))
      .toDF("id", "text")
    val boom = intercept[IllegalArgumentException](
      Dedup.simhashPairsAuto(skew, "id", "text", Seq(2, 3), 8,
        gate = SampleGate.Budget(36L), precisionFloorPpm = 0L, recallFloorPpm = 0L))
    boom.getMessage should include("above the stated budget")
  }

  test("lshRecall truthDfCap: a no-op cap is bit-identical to full-universe " +
    "truth, and a boilerplate-dominated corpus loses its boilerplate-only " +
    "true pairs under the cap") {
    import spark.implicits._
    // 20 docs = one 12-word boilerplate sentence + 2 doc-unique tokens:
    // every cross pair shares exactly the 10 boilerplate shingles
    // (J = 10/14 ≥ 0.5 — true ONLY via boilerplate), while the 2
    // junction shingles per doc are df-1 informative.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs20 = (0L until 20L).map(i => (i, s"$boiler zq${i}a zq${i}b"))
      .toDF("id", "text")
    def recall(cap: Option[Int]) =
      Dedup.lshRecall(docs20, "id", "text", 3, 16, Seq(2, 4), 0.5,
        sampleMod = 1, truthDfCap = cap).collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getLong(3))).toSeq
    val full = recall(None)
    // every one of the C(20,2) cross pairs is true in the full universe
    full.map(_._2).distinct shouldBe Seq(190L)
    // a cap no shingle reaches changes nothing, bit for bit
    recall(Some(1000000)) shouldBe full
    // a cap below the boilerplate df (20) removes the only shared
    // shingles: the informative-universe truth is empty
    recall(Some(5)).map(_._2).distinct shouldBe Seq(0L)
  }

  test("lshTuning verifies sig-colliding DISTINCT contents exactly (content-keyed groups)") {
    import spark.implicits._
    // Two documents with DIFFERENT shingle sets but IDENTICAL minhash
    // signatures: with k = 1 the signature is the single smallest
    // hashed shingle, so doc A = exactly the one 3-gram of doc B whose
    // hash is B's minimum collides by construction. A sig-keyed
    // collapse would place both in one group and count the pair
    // verified unconditionally; the exact definition (and the q_d17
    // oracle) says Jaccard = 1/|B's set| < 0.5 — NOT verified.
    val bText = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val grams = bText.split(" ").sliding(3).map(_.mkString(" ")).toVector
    // The k=1 signature minimizes the PERMUTED value ((h & mask)·a0+b0
    // mod 2^30), not the raw hash — pick B's argmin under the SAME
    // permutation the signature folds, or the collision premise only
    // holds by coincidence of the two argmins agreeing.
    def perm0(h: Long): Long =
      ((h & Dedup.MinhashMask) * Dedup.minhashA(0) + Dedup.minhashB(0)) %
        (Dedup.MinhashMask + 1)
    val gramHashes = Dedup.shingleHashSet(
        grams.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
        "id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minGram = grams(gramHashes.minBy(kv => perm0(kv._2))._1.toInt)
    val docs2 = Seq((1L, minGram), (2L, bText)).toDF("id", "text")
    val row = Dedup.lshTuning(docs2, "id", "text", 3, k = 1,
      rowsPerBandConfigs = Seq(1), threshold = 0.5).collect()
    row.length shouldBe 1
    // identical sigs ⇒ every band collides ⇒ the pair IS a candidate…
    row.head.getLong(2) shouldBe 1L
    // …but its true Jaccard (1/8) is below threshold ⇒ not verified.
    row.head.getLong(3) shouldBe 0L
  }

  test("content collapse preserves the verified pair relation on a dup-heavy corpus") {
    // End-to-end nearDupPairs vs the naive formulation it replaced:
    // candidates from exploded banding, every member pair verified
    // individually through the shingle join. Same (ia, ib, jac) set —
    // including exact-copy pairs at Jaccard 1.0 — is the contract.
    val fixed = Dedup.nearDupPairs(dupHeavy, "id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jac"))).toSet
    val sh = Dedup.shingleHashSet(dupHeavy, "id", "text", 3)
    val naiveCand = Dedup.lshCandidates(Dedup.minhashFromHashes(sh, 16), rowsPerBand = 4)
    val naive = Dedup.jaccardVerify(naiveCand, sh, setCol = "h")
      .filter(col("jac") >= 0.5)
      .collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"), r.getAs[Double]("jac"))).toSet
    fixed shouldBe naive
    fixed.count { case (a, b, _) => a / 1000L == b / 1000L } shouldBe 4 * (25 * 24 / 2)
    fixed.filter { case (a, b, _) => a / 1000L == b / 1000L }
      .foreach { case (_, _, j) => j shouldBe 1.0 }
  }

  test("index-maintenance loop: accumulated incremental pairs over any batch split equal the batch rebuild") {
    import spark.implicits._
    // The q_st14 invariant, minus the streaming machinery: grow the
    // index batch by batch, accumulate each batch's delta-probing
    // pairs, and the union must equal nearDupPairs from scratch — with
    // every pair emitted exactly once (no cross-batch duplicates).
    val full = Dedup.nearDupPairs(docs.union(dupHeavy), "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jac")))
    val batches = Seq(
      docs.union(dupHeavy).filter($"id" % 3 === 0),
      docs.union(dupHeavy).filter($"id" % 3 === 1),
      docs.union(dupHeavy).filter($"id" % 3 === 2))
    var baseSh = Seq.empty[(Long, Long)].toDF("id", "h")
    var baseSigs = Seq.empty[(Long, Array[Long])].toDF("id", "sig")
    var baseSizes = Seq.empty[(Long, Long)].toDF("id", "n")
    val acc = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    batches.foreach { b =>
      val dSh = Dedup.shingleHashSet(b, "id", "text", 3).localCheckpoint(true)
      acc ++= Dedup.incrementalNearDupPairsFromSets(baseSh, baseSigs, dSh,
          baseSizes = Some(baseSizes))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jac")))
      baseSh = baseSh.unionByName(dSh).localCheckpoint(true)
      baseSigs = baseSigs.unionByName(Dedup.minhashSigs(dSh, 16)).localCheckpoint(true)
      baseSizes = baseSizes.unionByName(dSh.groupBy("id").agg(count(lit(1)).as("n")))
        .localCheckpoint(true)
    }
    acc.size shouldBe acc.toSet.size        // exactly-once across batches
    acc.toSet shouldBe full.toSet
    acc.size shouldBe full.length
  }

  test("content collapse equals the naive shape on seeded RANDOM corpora (3 seeds)") {
    import spark.implicits._
    // Randomized counterpart of the fixed dup-heavy fixture: small
    // vocabulary so near-dups arise organically, random copy counts so
    // group structure varies. Seeded — failures reproduce.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    Seq(7L, 41L, 1913L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 12).flatMap { ti =>
        val len = 8 + rnd.nextInt(6)
        val text = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val copies = 1 + rnd.nextInt(8)
        (0 until copies).map(c => (ti * 1000L + c, text))
      }
      val df = rows.toDF("id", "text")
      val fixed = Dedup.nearDupPairs(df, "id", "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jac"))).toSet
      val sh = Dedup.shingleHashSet(df, "id", "text", 3)
      val naive = Dedup.jaccardVerify(
          Dedup.lshCandidates(Dedup.minhashFromHashes(sh, 16), rowsPerBand = 4),
          sh, setCol = "h")
        .filter(col("jac") >= 0.5)
        .collect().map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"),
          r.getAs[Double]("jac"))).toSet
      withClue(s"seed=$seed: ") { fixed shouldBe naive }
    }
  }

  test("nearDupPairs releases every cache block it pinned") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    Dedup.nearDupPairs(docs, "id", "text", threshold = 0.5).count()
    // The internal sh/bands persists must be gone; only the eagerly
    // checkpointed result frame may remain pinned.
    (sc.getPersistentRDDs.size - before) should be <= 1
  }

  test("ShingleGenerator matches the windowed-LEAD formulation exactly") {
    val a = Dedup.shingleSet(docs, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = DedupReference.shingleSetWindowed(docs, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    a shouldBe b
    a.map(_._1) should not contain 5L // "short text": fewer tokens than n
  }

  test("shingleHashSet equals hash60 applied to the string shingle set") {
    val viaStrings = Dedup.shingleSet(docs, "id", "text", 3)
      .select(col("id"), TextOps.hash60(col("sh")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashed = Dedup.shingleHashSet(docs, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    hashed shouldBe viaStrings
  }

  test("fingerprints (one-exchange) equals shingleHashSet-then-groupBy (two-exchange)") {
    val twoExchange = Dedup.shingleHashSet(docs, "id", "text", 3)
      .groupBy(col("id"))
      .agg(min(col("h")).as("fp_min"), max(col("h")).as("fp_max"),
        count(lit(1)).as("n_shingles"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val oneExchange = Dedup.fingerprints(docs, "id", "text", 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    oneExchange shouldBe twoExchange
  }

  test("fingerprints plan has a single shuffle exchange") {
    val plan = Dedup.fingerprints(docs, "id", "text", 3)
      .queryExecution.executedPlan.toString
    plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("ngramJaccardPairs finds exact+near pairs with exact Jaccard, skips unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs((1L, 2L)) shouldBe 1.0
    pairs.keySet should contain((1L, 3L))
    pairs.keySet should contain((2L, 3L))
    pairs.keySet.flatMap(p => Set(p._1, p._2)) should not contain 4L
    // Near-dup Jaccard must be the exact value: doc 3 drops the first
    // token, so its set is doc 1's minus the single leading shingle
    // (all of doc 1's 3-grams are distinct) → (n−1)/n.
    val n1 = Dedup.shingleHashSet(docs.filter(col("id") === 1L), "id", "text", 3).count()
    pairs((1L, 3L)) shouldBe ((n1 - 1).toDouble / n1)
  }

  test("ngramJaccardPairs dfCap drops common-shingle blocking but keeps exact verify") {
    import spark.implicits._
    // Ten docs whose only overlap is one common 3-gram prefix.
    val shared = (1L to 10L).map(i => (i, s"alpha beta gamma unique$i tail$i end$i"))
    val df = shared.toDF("id", "text")
    // cap=1: the shared "alpha beta gamma" posting (df=10) is dropped,
    // and no pair shares a rarer shingle → no candidates at all.
    Dedup.ngramJaccardPairs(df, "id", "text", threshold = 0.01, dfCap = 1)
      .count() shouldBe 0L
    // cap high enough: all 45 pairs become candidates; exact Jaccard
    // (1 shared of 4+4 shingles → 1/7) verified against the threshold.
    val all = Dedup.ngramJaccardPairs(df, "id", "text", threshold = 0.01, dfCap = 100)
    all.count() shouldBe 45L
    all.select(min(col("jac")), max(col("jac"))).collect().head match {
      case r => r.getDouble(0) shouldBe (1.0 / 7) +- 1e-12
    }
  }

  test("decontaminate flags exact and near eval overlap, not clean docs") {
    import spark.implicits._
    // Eval doc = doc 1's text. Train: 1 (full overlap), 3 (near dup of
    // 1 → high overlap), 4 (clean), 5 (too short to shingle — absent).
    val evalSet = docs.filter(col("id") === 1L)
      .select((col("id") + 1000).as("id"), col("text"))
    val out = Dedup.decontaminate(docs, evalSet, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    out(1L)._2 shouldBe 1.0 // every shingle shared
    out(2L)._2 shouldBe 1.0 // exact copy of 1
    out(3L)._2 shouldBe 1.0 // subset of 1's shingles → all of 3's overlap
    out(4L) shouldBe ((0L, 0.0)) // unrelated: zero overlap
    out.contains(5L) shouldBe false // no shingles at all
  }

  test("shingles: fewer tokens than n yields empty array, not a reversed sequence") {
    import spark.implicits._
    val out = Seq("a b", "a b c d").toDF("text")
      .select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    out(0) shouldBe Seq.empty
    out(1) shouldBe Seq("a b c", "b c d")
  }

  test("containmentPairs: dropped-first-token doc is FULLY contained (cont = 1e6 exactly)") {
    val pairs = Dedup.containmentPairs(docs, "id", "text", shingleN = 3,
        threshold1e6 = 500000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    // doc 2 = exact dup of 1: identical sets, both containments 1e6.
    val (i12, na12, nb12, ca12, cb12) = pairs((1L, 2L))
    i12 shouldBe na12; na12 shouldBe nb12
    ca12 shouldBe 1000000L; cb12 shouldBe 1000000L
    // doc 3 = doc 1 minus its first token: B ⊂ A strictly, so
    // cont_b = 1e6 exactly while cont_a = (n-1)/n < 1e6.
    val (i13, na13, nb13, ca13, cb13) = pairs((1L, 3L))
    nb13 shouldBe (na13 - 1); i13 shouldBe nb13
    cb13 shouldBe 1000000L
    ca13 shouldBe (i13 * 1000000L / na13)
    ca13 should be < 1000000L
    // unrelated docs never appear
    pairs.keySet.flatMap(p => Set(p._1, p._2)) should not contain 4L
  }

  test("incrementalNearDupPairs == full-rebuild pairs restricted to delta-touching") {
    import spark.implicits._
    val base = docs.filter(col("id") <= 3L)   // 1, 2 (exact dup), 3 (near)
    val delta = Seq(
      (10L, docs.filter(col("id") === 1L).collect()(0).getString(1)), // new exact dup of 1
      (11L, "entirely novel content nothing shares these words at all ok")) // unrelated
      .toDF("id", "text")
    val all = base.unionByName(delta)
    val full = Dedup.nearDupPairs(all, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expected = full.filter { case ((ia, ib), _) => ia >= 10L || ib >= 10L }
    val baseSh = Dedup.shingleHashSet(base, "id", "text", 3)
    val got = Dedup.incrementalNearDupPairs(
        baseSh, Dedup.minhashSigs(baseSh, 16), delta, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got shouldBe expected
    got.keySet should contain((1L, 10L))   // the new duplicate was caught
  }

  test("incrementalNearDupPairs: a re-ingested id REPLACES its indexed shingles") {
    import spark.implicits._
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base = Seq((1L, textA),
      (2L, "completely different original content for document two here")).toDF("id", "text")
    val baseSh = Dedup.shingleHashSet(base, "id", "text", 3)
    // Doc 2 re-arrives with NEW text that near-dups doc 1 (one token
    // dropped). Correctness requires jac computed on the NEW shingles
    // only: blending old+new (a union or even union.distinct) would
    // inflate doc 2's set size and sink jac below threshold.
    val delta = Seq((2L, textA.split(" ").drop(1).mkString(" "))).toDF("id", "text")
    val got = Dedup.incrementalNearDupPairs(
        baseSh, Dedup.minhashSigs(baseSh, 16), delta, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.keySet shouldBe Set((1L, 2L))
    // exact jac of the replaced doc: 7 shared / (8 + 7 - 7) = 0.875
    got((1L, 2L)) shouldBe 0.875 +- 1e-9
  }

  test("stored-sizes path: a re-ingested id's STALE size row is dropped, not blended") {
    import spark.implicits._
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base = Seq((1L, textA),
      (2L, "completely different original content for document two here")).toDF("id", "text")
    val baseSh = Dedup.shingleHashSet(base, "id", "text", 3)
    val baseSizes = baseSh.groupBy("id").agg(count(lit(1)).as("n"))
    val delta = Seq((2L, textA.split(" ").drop(1).mkString(" "))).toDF("id", "text")
    val dSh = Dedup.shingleHashSet(delta, "id", "text", 3).localCheckpoint(true)
    // Doc 2's stored size (8 shingles of the OLD text) must be REPLACED
    // by the new text's 7 — keeping it would compute jac against a
    // blended denominator and sink the true near-dup below threshold.
    val got = Dedup.incrementalNearDupPairsFromSets(
        baseSh, Dedup.minhashSigs(baseSh, 16), dSh, baseSizes = Some(baseSizes))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.keySet shouldBe Set((1L, 2L))
    got((1L, 2L)) shouldBe 0.875 +- 1e-9
  }

  test("weightedJaccardPairs is repetition-sensitive: doubled doc scores exactly 0.5") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta"
    val df = Seq((1L, a), (2L, a + " " + a), (3L, a)).toDF("id", "text")
    val pairs = Dedup.weightedJaccardPairs(df, "id", "text",
        threshold1e6 = 100000L, dfCapPct = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    pairs((1L, 3L)) shouldBe 1000000L  // identical bags
    // doc 2 = doc 1 twice: Σmin = 6, Σmax = 12 — bag similarity 0.5
    // exactly, where SET Jaccard would report 1.0 (repetition-blind).
    pairs((1L, 2L)) shouldBe 500000L
    pairs((2L, 3L)) shouldBe 500000L
  }

  test("fingerprints and containmentPairs: empty and non-overlapping inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    Dedup.fingerprints(empty, "id", "text", 3).count() shouldBe 0
    val disjoint = Seq((1L, "aaa bbb ccc ddd"), (2L, "eee fff ggg hhh")).toDF("id", "text")
    Dedup.containmentPairs(disjoint, "id", "text", 3).count() shouldBe 0
  }

  test("dupClusters groups transitive near-dups under the minimum id") {
    import spark.implicits._
    // 1-2, 2-3 (transitive via 2), and an unrelated pair 8-9.
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("ia", "ib")
    val out = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L)
  }

  test("dupClusters handles non-numeric ids (string doc keys)") {
    import spark.implicits._
    val pairs = Seq(("doc-b", "doc-a", 1.0), ("doc-c", "doc-b", 1.0), ("x-1", "x-2", 1.0))
      .toDF("ia", "ib", "jac")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getString(1) -> r.getString(0)).toMap
    got shouldBe Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "x-1" -> "x-1", "x-2" -> "x-1")
  }

  test("dupClusters reaches the fixpoint for fractional (double) ids") {
    import spark.implicits._
    // A 3-hop chain whose labels all share one integer part: the
    // decimal(38,0) sum witness rounds every label to 10, so a
    // sum-based convergence check would declare convergence after
    // round 1 with 10.4 still labeled 10.3. Fractional ids must take
    // the exact join-diff path.
    val pairs = Seq((10.1, 10.2), (10.2, 10.3), (10.3, 10.4)).toDF("ia", "ib")
    val out = Dedup.dupClusters(pairs)
      .collect().map(r => r.getDouble(1) -> r.getDouble(0)).toMap
    out shouldBe Map(10.1 -> 10.1, 10.2 -> 10.1, 10.3 -> 10.1, 10.4 -> 10.1)
  }

  test("dupClustersAlternating matches label propagation, including a 50-node chain") {
    import spark.implicits._
    // Adversarial long chain (diameter 49) + a triangle + an isolated pair.
    val chain = (1L until 50L).map(i => (i, i + 1, 1.0))
    val extra = Seq((100L, 101L, 1.0), (101L, 102L, 1.0), (100L, 102L, 1.0),
      (200L, 201L, 1.0))
    val pairs = (chain ++ extra).toDF("ia", "ib", "jac")
    // maxLabelRounds = MaxValue: pin PURE label propagation as the
    // expected value (the default budget would re-route this diameter-49
    // chain to the alternating path — the thing under test).
    val expected = Dedup.dupClusters(pairs, maxLabelRounds = Int.MaxValue)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    val got = Dedup.dupClustersAlternating(pairs)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    got shouldBe expected
    got.filter(_._1 <= 50).map(_._2) shouldBe Set(1L) // one cluster, min root
  }

  test("dupClusters auto-routes an adversarial 1000-node chain through the public entry point") {
    import spark.implicits._
    // Diameter-999 chain: pure label propagation would need ~999 rounds;
    // the default budget (8) must hand off to the alternating-star path
    // and still produce the exact component labeling.
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("ia", "ib")
    val out = Dedup.dupClusters(pairs).collect()
    out.length shouldBe 1000
    out.map(_.getLong(0)).toSet shouldBe Set(0L)           // one cluster, min root
    out.map(_.getLong(1)).sorted.toSeq shouldBe (0L until 1000L)
  }

  test("MinHashSigAgg equals the explode×groupBy formulation exactly") {
    val sh = Dedup.shingleSet(docs, "id", "text", 3)
    val a = Dedup.minhash(sh, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val b = DedupReference.minhashExploded(sh, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    a shouldBe b
  }

  test("SimHashAgg aggregator is bit-identical to the explode formulation") {
    import spark.implicits._
    val viaAgg = Dedup.simhash(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Reference formulation: explode 60 bits per token hash, majority vote.
    val viaExplode = docs
      .select(col("id"), explode(TextOps.tokens(col("text"))).as("t"))
      .select(col("id"), TextOps.hash60(col("t")).as("hv"))
      .withColumn("i", explode(sequence(lit(0), lit(59))))
      .groupBy("id", "i")
      .agg(sum(when(expr("(shiftright(hv, i) & 1) = 1"), 1).otherwise(-1)).as("s"))
      .groupBy("id")
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(0L)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaAgg shouldBe viaExplode
  }

  test("simhashPairs: exact duplicates at hamming 0, unrelated docs filtered") {
    val sh = Dedup.simhash(docs, "id", "text")
    val pairs = Dedup.simhashPairs(sh, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    pairs((1L, 2L)) shouldBe 0
    pairs.keySet.flatMap(p => Set(p._1, p._2)) should not contain 4L
  }

  test("simhashPairs exact-dup collapse preserves the pair relation on a dup-heavy corpus") {
    // Naive reference built inline: band every signature (not just the
    // distinct reps), all-pairs within (band, chunk), distinct, verify.
    val sh = Dedup.simhash(dupHeavy, "id", "text")
    val fixed = Dedup.simhashPairs(sh, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val naive = sh
      .withColumn("b", explode(sequence(lit(0), lit(3))))
      .withColumn("chunk", expr("(simhash >> (15 * b)) & 32767"))
      .groupBy(col("b"), col("chunk"))
      .agg(sort_array(collect_list(struct(col("id"), col("simhash")))).as("ms"))
      .where(org.apache.spark.sql.functions.size(col("ms")) > 1)
      .select(explode(expr(
        """flatten(transform(ms,
          |  (x, i) -> transform(slice(ms, i + 2, size(ms)),
          |            y -> named_struct('ia', x.id, 'ib', y.id,
          |                              'hamming', bit_count(x.simhash ^ y.simhash)))))"""
          .stripMargin)).as("p"))
      .select(col("p.ia"), col("p.ib"), col("p.hamming").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    fixed shouldBe naive
    // all 25-copy families present at hamming 0
    fixed.count { case ((a, b), h) => a / 1000L == b / 1000L && h == 0 } should be >= 4 * (25 * 24 / 2)
  }

  test("markerCount (codegen'd array_remove form) equals the higher-order formulation") {
    import spark.implicits._
    val df = Seq("the the a cat", "le la le", "", "x", "the le the")
      .toDF("text")
      .select(TextOps.tokens(col("text")).as("toks"))
    val markers = Seq("the", "le")
    val got = df.select(TextOps.markerCount(col("toks"), markers).as("c"))
      .collect().map(_.getInt(0)).toSeq
    val exp = df.select(TextOps.markerCountHof(col("toks"), markers).as("c"))
      .collect().map(_.getInt(0)).toSeq
    got shouldBe exp
    got.head shouldBe 2 // multiplicity counted, not set membership
  }

  test("hash60 is stable and within 60 bits") {
    import spark.implicits._
    val vals = Seq("x", "x", "y").toDF("s")
      .select(TextOps.hash60(col("s")).as("h")).collect().map(_.getLong(0))
    vals(0) shouldBe vals(1)
    vals(0) should not be vals(2)
    all(vals) should be >= 0L
    all(vals) should be < (1L << 60)
  }

  test("native Hash60 is identical to conv(substring(md5)) across random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val strs = Seq.fill(500)(rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString) ++
      Seq("币安人生USDT", "🚀USDT", "", "0:a b c")
    val out = strs.toDF("s").select(
      TextOps.hash60(col("s")).as("native"),
      TextOps.hash60Composable(col("s")).as("composable")).collect()
    out.foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  test("fuzzy editDistance1Pairs equals brute-force Levenshtein on all edit kinds") {
    import spark.implicits._
    // substitution (cat/bat), deletion (cats/cat... via cat/cats),
    // insertion, repeated chars (aa-collapse), and a far pair (dog)
    val vocab = Seq("cat", "bat", "cats", "acat", "caat", "dog", "coat")
      .toDF("term")
    val got = graft.ops.Fuzzy.editDistance1Pairs(vocab, "term")
      .as[(String, String)].collect().toSet
    val terms = Seq("cat", "bat", "cats", "acat", "caat", "dog", "coat")
    val brute = (for {
      a <- terms; b <- terms if a < b
      if org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
        .apply(a, b) <= 1
    } yield (a, b)).toSet
    got shouldBe brute
    got should contain ("bat" -> "cat")   // substitution
    got should contain ("cat" -> "cats")  // insertion at end
    got should contain ("acat" -> "cat")  // insertion at front
    got should not contain ("cat" -> "dog")
  }

  test("spanDedup: duplicated windows survive only in the min-id doc, order kept") {
    import spark.implicits._
    // span=2 windows; doc 3 is an exact copy of doc 1 → loses everything;
    // doc 5 shares only its first window with doc 1 → partial drop.
    val docs = Seq(
      (1L, "a b c d"),          // chunks: "a b", "c d"
      (3L, "a b c d"),          // all chunks owned by doc 1
      (5L, "a b x y z")         // "a b" dropped, "x y" + "z" kept
    ).toDF("id", "text")
    val got = Dedup.spanDedup(docs, "id", "text", span = 2)
      .orderBy("id")
      .as[(Long, String, Long, Long)].collect().toSeq
    got shouldBe Seq(
      (1L, "a b c d", 2L, 0L),
      (3L, "", 2L, 2L),
      (5L, "x y z", 3L, 1L))
  }

  test("maxDupSpans: a duplicate crossing spanDedup's window boundary comes back as ONE maximal span") {
    import spark.implicits._
    // Doc 1 carries a 17-token run (tokens 4..20) that doc 2 repeats at
    // a DIFFERENT offset (tokens 2..18) — so spanDedup's aligned
    // 10-token windows can never line up on it (the copy's windows hash
    // differently), while shingle islands recover the full extent.
    val shared = (1 to 17).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 u4 $shared tail1 tail2"),
      (2L, s"v1 v2 $shared w1 w2 w3 w4")
    ).toDF("id", "text")

    val spans = Dedup.maxDupSpans(docs, "id", "text", n = 3, minLen = 6)
      .orderBy("id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    // Doc 1: shared run at token offset 4 (0-based), doc 2 at offset 2;
    // each reported as ONE maximal 17-token span.
    spans shouldBe Seq((1L, 4L, 17L), (2L, 2L, 17L))

    // The contrast: spanDedup(10) fragments — doc 2 (higher id, the
    // copy) loses NO chunk because none of its aligned windows
    // content-match doc 1's differently-aligned windows.
    val d7 = Dedup.spanDedup(docs, "id", "text", span = 10)
      .orderBy("id").as[(Long, String, Long, Long)].collect()
    d7.find(_._1 == 2L).get._4 shouldBe 0L // n_dropped: the 17-token duplicate invisible
  }

  test("KeepBestIndex refuses a batch with duplicate ids instead of blending " +
    "two scored rows for one id") {
    import spark.implicits._
    import graft.ops.KeepBestIndex
    val T = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val idx = new KeepBestIndex(spark)
    val boom = intercept[IllegalArgumentException](idx.ingest(
      Seq((1L, T, 10L), (1L, T, 20L)).toDF("id", "text", "sc"),
      "id", "text", col("sc")))
    boom.getMessage should include("WITHIN the batch")
    idx.survivors.count() shouldBe 0L // the refused batch left no state
    idx.ingest(Seq((1L, T, 10L)).toDF("id", "text", "sc"), "id", "text", col("sc"))
    idx.survivors.collect().map(r => r.getLong(0)) shouldBe Array(1L)
  }

  test("KeepBestIndex auto-tuning: the first batch's sample certifies the " +
    "banding (provenance exposed), the tuned index equals the fixed-config " +
    "index at the chosen banding, and infeasible floors refuse BEFORE any " +
    "state accumulates") {
    import spark.implicits._
    import graft.ops.KeepBestIndex
    def halves(df: org.apache.spark.sql.DataFrame) = {
      val ids = df.select("id").as[Long].collect().sorted
      val cut = ids(ids.length / 2)
      (df.filter(col("id") < cut), df.filter(col("id") >= cut))
    }
    val (b1, b2) = halves(dupHeavy.withColumn("sc",
      pmod(TextOps.hash60(col("id").cast("string")), lit(1000L))))
    val tuned = new KeepBestIndex(spark, tuning = Some(KeepBestIndex.AutoTune(
      Seq(2, 4, 8), gate = SampleGate.Mod(1), precisionFloorPpm = 0L,
      recallFloorPpm = 0L, truthDfCap = None)))
    tuned.chosenRowsPerBand shouldBe None // nothing certified yet
    tuned.ingest(b1, "id", "text", col("sc"))
    val expectedRpb = Dedup.chooseLshConfig(b1, "id", "text", 3, 16,
        Seq(2, 4, 8), 0.5, sampleMod = 1, 0L, 0L)
      .filter(col("chosen")).select("rows_per_band").as[Int].collect().head
    tuned.chosenRowsPerBand shouldBe Some(expectedRpb)
    tuned.ingest(b2, "id", "text", col("sc"))
    val fixed = new KeepBestIndex(spark, rowsPerBand = expectedRpb)
    fixed.ingest(b1, "id", "text", col("sc"))
    fixed.ingest(b2, "id", "text", col("sc"))
    tuned.survivors.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      fixed.survivors.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // floors nothing can clear: refuse at stream birth, zero state
    val refused = new KeepBestIndex(spark, tuning = Some(KeepBestIndex.AutoTune(
      Seq(2, 4, 8), gate = SampleGate.Mod(1), precisionFloorPpm = 1000001L,
      recallFloorPpm = 1000001L, truthDfCap = None)))
    val boom = intercept[IllegalArgumentException](
      refused.ingest(b1, "id", "text", col("sc")))
    boom.getMessage should include("BEFORE any state accumulates")
    refused.chosenRowsPerBand shouldBe None
    refused.survivors.count() shouldBe 0L
  }

  test("truthDfCap 0/0 edge: a PURE-boilerplate duplicate family is true " +
    "under full-universe truth but NOT under a binding cap (its informative " +
    "set is empty), while still counting as a candidate in every config") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    // 20 near-identical docs (true via boilerplate only) + a 2-copy
    // family whose text IS the boilerplate: every one of its shingles
    // is shared by all 22 docs, so a cap of 5 empties its informative
    // set entirely — the ADVICE-flagged edge.
    val docs22 = ((0L until 20L).map(i => (i, s"$boiler zq${i}a zq${i}b")) ++
      Seq((100L, boiler), (101L, boiler))).toDF("id", "text")
    def recall(cap: Option[Int]) =
      Dedup.lshRecall(docs22, "id", "text", 3, 16, Seq(2, 4), 0.5,
        sampleMod = 1, truthDfCap = cap).collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getLong(3))).toSeq
    // full universe: C(20,2) boilerplate-true cross pairs + 2*20 pairs
    // against the boiler-only docs (J = 10/12) + the within-family pair
    recall(None).map(_._2).distinct shouldBe Seq(231L)
    // capped: NOTHING is true — including the identical-content pair,
    // whose entire set is capped out (0/0, the stop-shingle contract);
    // before the r14 fix this read 1, not 0
    recall(Some(5)).map(_._2).distinct shouldBe Seq(0L)
    // the chooser agrees on both sides of the cap, and the family still
    // COUNTS as candidates (identical sigs band together everywhere):
    // n_candidates is cap-invariant
    def choose(cap: Option[Int]) =
      Dedup.chooseLshConfig(docs22, "id", "text", 3, 16, Seq(2, 4), 0.5,
          sampleMod = 1, precisionFloorPpm = 0L, recallFloorPpm = 0L,
          truthDfCap = cap)
        .orderBy("rows_per_band").collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val full = choose(None)
    val capped = choose(Some(5))
    capped.map(_._2) shouldBe full.map(_._2) // n_candidates unchanged
    capped.map(_._4).distinct shouldBe Array(0L) // n_true empty under cap
    full.map(_._4).distinct shouldBe Array(231L)
    capped.map(_._3).distinct shouldBe Array(0L) // n_verified = truth ∩ cand
  }

  test("chooseSimhashBands: truth equals all-pairs Hamming, the 4-band " +
    "verified count equals simhashPairs, floors bite, invalid configs refuse") {
    import spark.implicits._
    val corpus = PipelineQueries.corpus(spark, "/root/testdata/sf0.001")
    val t = Dedup.chooseSimhashBands(corpus, "id", "text",
        bandConfigs = Seq(2, 3, 4, 6), maxDist = 6, sampleMod = 1,
        precisionFloorPpm = 0L, recallFloorPpm = 0L)
      .orderBy("n_bands").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(8)))
    // exact truth, computed naively: all-pairs Hamming over the sample
    val sims = Dedup.simhash(corpus, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nTrue = (for {
      (ia, sa) <- sims; (ib, sb) <- sims if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield 1).size.toLong
    t.map(_._5).distinct shouldBe Array(nTrue)
    // the production 4×15 banding's verified count IS simhashPairs
    val pairs4 = Dedup.simhashPairs(Dedup.simhash(corpus, "id", "text"), 6).count()
    t.find(_._1 == 4).get._4 shouldBe pairs4
    // more bands never shrinks candidates (shorter chunks collide more)
    t.map(_._3) shouldBe t.map(_._3).sorted
    // strictest floors: nothing feasible, nothing chosen — no vacuous pick
    Dedup.chooseSimhashBands(corpus, "id", "text", Seq(2, 4), 6, 1,
        1000001L, 1000001L)
      .filter(col("chosen")).count() shouldBe 0L
    intercept[IllegalArgumentException](Dedup.chooseSimhashBands(
      corpus, "id", "text", Seq(7), 6, 1, 0L, 0L)) // 7 does not divide 60
    intercept[IllegalArgumentException](Dedup.chooseSimhashBands(
      corpus, "id", "text", Seq(4), 10, 1, 0L, 0L)) // beyond truth completeness
  }

  test("simhashPairsAuto runs the full corpus at exactly the chosen band " +
    "count, and throws instead of silently defaulting when no config is " +
    "feasible") {
    import spark.implicits._
    val auto = Dedup.simhashPairsAuto(dupHeavy, "id", "text",
      bandConfigs = Seq(2, 3, 4, 6), maxDist = 6, gate = SampleGate.Mod(2),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    val nbs = auto.select("n_bands").distinct().as[Int].collect()
    nbs.length shouldBe 1 // one choice drove the whole relation
    val chosen = Dedup.chooseSimhashBands(dupHeavy, "id", "text",
        Seq(2, 3, 4, 6), maxDist = 6, sampleMod = 2, 0L, 0L)
      .filter(col("chosen")).select("n_bands").as[Int].collect()
    nbs.head shouldBe chosen.head
    val manual = Dedup.simhashPairs(
      Dedup.simhash(dupHeavy, "id", "text"), maxDist = 6, nBands = nbs.head)
    auto.select("ia", "ib").as[(Long, Long)].collect().toSet shouldBe
      manual.select("ia", "ib").as[(Long, Long)].collect().toSet
    // floors nothing can clear: refuse, never fall back to a default
    val boom = intercept[IllegalArgumentException](
      Dedup.simhashPairsAuto(dupHeavy, "id", "text", Seq(2, 3, 4, 6),
        maxDist = 6, gate = SampleGate.Mod(2),
        precisionFloorPpm = 1000001L, recallFloorPpm = 1000001L))
    boom.getMessage should include("no band count")
    // the default 4-band split is bit-identical to the generalized path
    val sh = Dedup.simhash(dupHeavy, "id", "text")
    Dedup.simhashPairs(sh, 6).collect().toSet shouldBe
      Dedup.simhashPairs(sh, 6, nBands = 4).collect().toSet
  }

  test("jaccardVerifyArrays equals the shingle-level jaccardVerify on exact copies, " +
    "near copies, single-shingle docs and docs with no shingles") {
    import spark.implicits._
    val edge = Seq((9001L, "one two three"), (9002L, "one two three"),
      (9003L, "two three four"), (9004L, "tiny"), (9005L, "")).toDF("id", "text")
    val all = docs.union(dupHeavy.filter($"id" % 1000 >= 22)).union(edge)
    val ids = all.select($"id")
    // every pair, including ones sharing no shingle and ones with a
    // shingle-less side: the kernel must drop exactly what the join drops
    val cand = ids.as("a").crossJoin(ids.as("b"))
      .where($"a.id" < $"b.id").select($"a.id".as("ia"), $"b.id".as("ib"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("ia", "ib", "inter", "na", "nb", "jac")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val byRows = rows(Dedup.jaccardVerify(cand,
      Dedup.shingleHashSet(all, "id", "text", 3), setCol = "h"))
    val byArrays = rows(Dedup.jaccardVerifyArrays(cand,
      Dedup.shingleHashArrays(all, "id", "text", 3)))
    byArrays shouldBe byRows
    byRows.map(r => (r._1, r._2)) should contain((9001L, 9002L)) // exact single-shingle copies
    byRows.find(r => (r._1, r._2) == (9001L, 9002L)).get._6 shouldBe 1.0
    byRows.exists(r => r._1 >= 9004L || r._2 >= 9004L) shouldBe false // no shingles
    byRows.exists(r => r._6 < 1.0) shouldBe true // near copies
  }

  test("the dedup steps label every job: dedup:minhash, dedup:lsh_tuning, dedup:near_dup") {
    val dir = Files.createTempDirectory("graft-d10").toString
    dupHeavy.select(col("id").as("doc_id"), col("text"))
      .write.parquet(s"$dir/documents.parquet")
    val d10 = jobDescriptions(PipelineQueries.d10MinhashEst(spark, dir))
    val tuning = jobDescriptions(Dedup.lshTuning(dupHeavy, "id", "text", 3, 16, Seq(2, 4), 0.5))
    val near = jobDescriptions(Dedup.nearDupPairs(dupHeavy, "id", "text"))
    for ((jobs, prefix) <- Seq(d10 -> "dedup:minhash:", tuning -> "dedup:lsh_tuning:",
        near -> "dedup:near_dup:")) {
      jobs should not be empty
      jobs.filterNot(_.startsWith(prefix)) shouldBe empty
    }
  }

  test("one q_d10_minhash_est call runs at most 24 jobs") {
    val dir = Files.createTempDirectory("graft-d10-jobs").toString
    dupHeavy.select(col("id").as("doc_id"), col("text"))
      .write.parquet(s"$dir/documents.parquet")
    PipelineQueries.d10MinhashEst(spark, dir) // warm: first-use class loading
    jobDescriptions(PipelineQueries.d10MinhashEst(spark, dir)).size should be <= 24
  }

  test("materializing q_d17_lsh_tuning runs at most one job outside its dedup: labels") {
    val dir = Files.createTempDirectory("graft-d17-jobs").toString
    dupHeavy.select(col("id").as("doc_id"), col("text"))
      .write.parquet(s"$dir/documents.parquet")
    val jobs = jobDescriptions(CurationQueries.d17LshTuning(spark, dir)
      .write.format("noop").mode("overwrite").save())
    jobs.filter(_.startsWith("dedup:lsh_tuning:")) should not be empty
    jobs.filterNot(_.startsWith("dedup:")).size should be <= 1
  }
}
