package graft

import org.apache.spark.sql.functions._
import graft.ops.Vectors

class VectorsSpec extends SparkSpec {

  test("cosine: orthogonal → 0, identical → 1, opposite → -1") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(1.0, 2.0), Array(1.0, 2.0)),
      (Array(1.0, 0.0), Array(-1.0, 0.0)))
      .toDF("a", "b")
      .select(Vectors.cosine(col("a"), col("b")).as("c"))
    val out = df.collect().map(_.getDouble(0))
    out(0) shouldBe 0.0 +- 1e-12
    out(1) shouldBe 1.0 +- 1e-12
    out(2) shouldBe -1.0 +- 1e-12
  }

  test("knnBruteForce returns nearest first with deterministic tie-break") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)))
      .toDF("vid", "e")
    val q = Seq(Tuple1(Array(1.0, 0.0))).toDF("e")
    val out = Vectors.knnBruteForce(vecs, q, 2).collect().map(_.getLong(0))
    out.toSeq shouldBe Seq(1L, 2L)
  }

  test("native codegen'd cosine is bit-identical to the higher-order-function fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Array.fill(64)(rnd.nextDouble() * 2 - 1),
      Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val out = df.select(
      Vectors.cosine(col("a"), col("b")).as("native"),
      Vectors.cosineHof(col("a"), col("b")).as("hof")).collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact, not approx
  }

  test("mismatched-length vectors yield NULL, never a truncated-prefix fold") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0)))
      .toDF("a", "b")
      .select(Vectors.cosine(col("a"), col("b")).as("c"),
        Vectors.dot(col("a"), col("b")).as("d"))
    val row = df.collect()(0)
    row.isNullAt(0) shouldBe true
    row.isNullAt(1) shouldBe true
  }

  test("native cosine handles float arrays without a cast") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b")
    df.select(Vectors.cosine(col("a"), col("b"))).collect()
      .head.getDouble(0) shouldBe 1.0 +- 1e-12
  }

  test("driver-side hyperplanes equal the portable-hash SQL formulation") {
    import spark.implicits._
    import graft.ops.TextOps
    val sqlPlane = Seq(0, 1, 2, 3).toDF("p")
      .select(col("p"), transform(sequence(lit(1), lit(8)), j =>
        when(TextOps.hash60(concat(col("p").cast("string"), lit("_"),
          j.cast("string"))) % 2 === 1, 1.0).otherwise(-1.0)).as("w"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    (0 to 3).foreach { p =>
      Vectors.hyperplaneValues(p, 8) shouldBe sqlPlane(p)
    }
  }

  test("IVF with nProbe = all cells recovers the exact brute-force top-k") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vid", "e")
    val centroids = vecs.filter(col("vid") < 4).select(col("vid").as("cid"), col("e").as("ce"))
    val q = vecs.filter(col("vid") === 0L).select(col("e"))
    val assigned = Vectors.ivfAssign(vecs.filter(col("vid") =!= 0L), centroids)
    val ivf = Vectors.ivfSearch(assigned, centroids, q, nProbe = 4, k = 5)
      .collect().map(_.getLong(0)).toSeq
    val brute = Vectors.knnBruteForce(vecs.filter(col("vid") =!= 0L), q, 5)
      .collect().map(_.getLong(0)).toSeq
    ivf shouldBe brute
  }

  test("multi-probe LSH recall is at least single-bucket recall, probing only the 1-flip shell") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i => (i, Array.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vid", "e")
    val buckets = Vectors.lshBuckets(vecs, "e", "vid", nPlanes = 4, dim = 16)
      .withColumnRenamed("vid", "vid2")
    val joined = vecs.join(buckets, col("vid") === col("vid2")).drop("vid2")
    val q = joined.filter(col("vid") === 0L).select(col("e").as("qe"), col("bucket").as("qb"))
    val corpus = joined.filter(col("vid") =!= 0L)

    val brute = Vectors.knnBruteForce(vecs.filter(col("vid") =!= 0L), q.select(col("qe").as("e")), 5)
      .collect().map(_.getLong(0)).toSet
    val single = corpus.join(q, col("bucket") === col("qb"))
      .withColumn("cos_sim", Vectors.cosine(col("e"), col("qe")))
      .orderBy(col("cos_sim").desc, col("vid")).limit(5)
      .collect().map(_.getLong(0)).toSet
    val multi = Vectors.lshMultiProbe(corpus, q, nPlanes = 4, k = 5, tieCol = "vid")
      .collect().map(_.getLong(0)).toSet

    (multi & brute).size should be >= (single & brute).size
    multi.size should be >= single.size // the probe shell can only add candidates
  }

  test("kmeansCentroids recovers well-separated clusters (pure cells)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // Three well-separated cluster centers in 8-d; 20 noisy members each.
    val centers = Seq(
      Array.tabulate(8)(i => if (i < 3) 10.0 else 0.0),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 10.0 else 0.0),
      Array.tabulate(8)(i => if (i >= 6) 10.0 else 0.0))
    val vecs = (0 until 60).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(_ + rnd.nextGaussian() * 0.2))
    }.toDF("vid", "e")
    val trained = Vectors.kmeansCentroids(vecs, k = 3, iters = 5)
    val assigned = Vectors.ivfAssign(vecs, trained)
      .select(col("vid"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Every member of a true cluster must land in the same trained cell,
    // and the three true clusters must occupy three distinct cells.
    val cells = (0 until 3).map { g =>
      val cs = (0 until 60).filter(_ % 3 == g).map(i => assigned(i.toLong)).distinct
      cs.length shouldBe 1
      cs.head
    }
    cells.distinct.length shouldBe 3
  }

  test("lshBuckets is deterministic and groups identical vectors together") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array.fill(8)(0.5)), (2L, Array.fill(8)(0.5)),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("vec_id", "e")
    val b1 = Vectors.lshBuckets(vecs, "e", "vec_id", 4, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = Vectors.lshBuckets(vecs, "e", "vec_id", 4, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    b1 shouldBe b2          // no RNG anywhere
    b1(1L) shouldBe b1(2L)  // identical vectors share a bucket
  }

  test("quantizeInt8: extremes hit 0/255, constant dims code 0, error within half a step") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.0f, 5.0f, 1.0f)),
      (2L, Seq(1.0f, 5.0f, 3.0f)),
      (3L, Seq(2.0f, 5.0f, 9.0f))
    ).toDF("vid", "e")
    val rows = Vectors.quantizeInt8(vecs, "vid", "e")
      .select($"vid", $"codes", $"max_err")
      .as[(Long, String, Double)].collect()
    rows.map(r => r._1 -> r._2).toMap shouldBe Map(
      1L -> "0,0,0",      // dim mins → 0; constant dim 1 → 0
      2L -> "128,0,64",   // floor(1*255/2 + .5) = 128; floor(2*255/8 + .5) = 64
      3L -> "255,0,255")  // dim maxes → 255
    // Worst reconstruction error is bounded by half the widest dim's step.
    val halfStep = 0.5 * (9.0 - 1.0) / 255.0
    all(rows.map(_._3)) should be <= halfStep
  }

  test("pqAssign: codebook self-assignment at zero error, min-cid tie-break") {
    import spark.implicits._
    // 4 dims, 2 subspaces of 2. Codebook = vids 1 and 2; vid 3 is a probe.
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f, 10.0f, 10.0f)),
      (2L, Seq(8.0f, 8.0f, 0.0f, 0.0f)),
      // equal to cb1 in subspace 0; equidistant from NEITHER in subspace 1
      (3L, Seq(0.0f, 0.0f, 1.0f, 1.0f))
    ).toDF("vid", "e")
    val codes = Vectors.quantizeCodes(vecs, "vid", "e")
    val cb = codes.filter($"vid".isin(1L, 2L))
    val byVid = Vectors.pqAssign(codes, cb, "vid", nSub = 2, subDim = 2)
      .select($"vid", $"code0", $"code1", $"pq_err")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // codebook vectors quantize to themselves for free
    byVid.view.filterKeys(Set(1L, 2L)).toMap shouldBe Map(
      1L -> (1L, 1L, 0L), 2L -> (2L, 2L, 0L))
    // probe: subspace 0 exactly matches cb1 (codes 0,0); subspace 1 is
    // closer to cb2's (0,0) than cb1's (255,255)
    byVid(3L)._1 shouldBe 1L
    byVid(3L)._2 shouldBe 2L
  }

  test("pqAssign ties break to the smallest codebook id") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.0f, 10.0f)), // cb — both entries IDENTICAL after coding?
      (2L, Seq(0.0f, 10.0f)),
      (3L, Seq(10.0f, 0.0f))
    ).toDF("vid", "e")
    val codes = Vectors.quantizeCodes(vecs, "vid", "e")
    val cb = codes.filter($"vid".isin(1L, 2L)) // two equal codebook entries
    val got = Vectors.pqAssign(codes, cb, "vid", nSub = 1, subDim = 2)
      .select($"vid", $"code0").as[(Long, Long)].collect().toMap
    got(1L) shouldBe 1L // tie between identical entries 1 and 2 → min cid
    got(2L) shouldBe 1L
  }

  test("semDedup keeps exactly the lowest-ccos member of each duplicate chain (ties by lowest vid)") {
    import spark.implicits._
    // Two well-separated cells. In each cell: an identical pair (a ccos
    // tie) chained to a lower-ccos near-dup at cos 0.96; with τ=0.95 the
    // whole chain collapses to its most atypical member (SemDeDup's
    // keep-low-centroid-similarity rule). v4 sits in cell 0 below the
    // threshold and must survive untouched.
    val vecs = Seq(
      (1L, Array(1.0, 0.0)),    // cell 0, ccos 1.0 — dropped (v3 is farther from centroid)
      (2L, Array(1.0, 0.0)),    // cell 0, identical to v1 (ccos tie) — dropped
      (3L, Array(0.96, 0.28)),  // cell 0, ccos 0.96 — KEPT (chain extreme)
      (4L, Array(0.707, -0.707)), // cell 0, cos 0.707 to v1 < τ — KEPT (no dup)
      (5L, Array(0.0, 1.0)),    // cell 1, ccos 1.0 — dropped (v6 farther)
      (6L, Array(0.28, 0.96)),  // cell 1, ccos 0.96 — KEPT (tie with v7, lower vid)
      (7L, Array(0.28, 0.96))   // cell 1, identical to v6 — dropped
    ).toDF("vid", "e")
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
      .toDF("cid", "ce")
    val out = Vectors.semDedup(vecs, cents, threshold = 0.95)
      .orderBy("vid").collect()
    out.map(r => r.getLong(0) -> r.getLong(1)).toSeq shouldBe Seq(
      1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 1L, 6L -> 1L, 7L -> 1L)
    val kept = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    kept shouldBe Set(3L, 4L, 6L)
    // ccos carried through for every member, dropped ones included
    out.find(_.getLong(0) == 3L).get.getDouble(2) shouldBe 0.96 +- 1e-9
    out.find(_.getLong(0) == 1L).get.getDouble(2) shouldBe 1.0 +- 1e-12
  }

  test("ivfAppend equals a full rebuild and never re-scores the stored base") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfappend").toString
    val all = (0L until 40L).map(i =>
      (i, Array(math.cos(i * 0.37), math.sin(i * 0.37)))).toDF("vid", "e")
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
      (2L, Array(-1.0, 0.0)), (3L, Array(0.0, -1.0))).toDF("cid", "ce")
    val base = all.filter($"vid" % 10 =!= 0)
    val delta = all.filter($"vid" % 10 === 0)
    // The stored index: assignment persisted as a table, read back.
    Vectors.ivfAssign(base, cents).write.parquet(s"$dir/ivf")
    val stored = spark.read.parquet(s"$dir/ivf")

    val maintained = Vectors.ivfAppend(stored, delta, cents)

    // Semantics: append == full rebuild, row-for-row.
    val rebuild = Vectors.ivfAssign(all, cents)
      .orderBy("vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    maintained.orderBy("vid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe rebuild
    // Plan: exactly ONE centroid broadcast join (the delta's argmax
    // pass) — the base side is a bare parquet scan, so the stored
    // vectors are never re-scored by an assignment pass.
    val plan = maintained.queryExecution.executedPlan.toString
    plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) shouldBe 1
    plan.linesIterator.count(_.contains("max_by")) should be <= 2 // partial+final of ONE aggregation
  }

  test("mmrSelect spends its budget across modes where plain top-k repeats one") {
    import spark.implicits._
    // Mode A: three near-duplicates slightly OFF the query axis (if the
    // first pick lay exactly on the axis, every candidate's redundancy
    // would equal its relevance and all scores degenerate to ~0). Mode
    // B points away: top-3 by relevance returns all of A; MMR's
    // redundancy penalty must spend pick 2 on B.
    val vecs = Seq(
      (1L, Array(1.0, 0.30)), (2L, Array(1.0, 0.32)), (3L, Array(1.0, 0.34)),
      (10L, Array(0.6, -0.60)), (11L, Array(0.61, -0.60))
    ).toDF("vid", "e")
    val q = Seq(Tuple1(Array(1.0, 0.0))).toDF("e")
    val picks = graft.ops.Vectors.mmrSelect(vecs, q, k = 3).collect()
    picks.map(_.getInt(0)).toSeq shouldBe Seq(1, 2, 3)
    picks(0).getLong(1) shouldBe 1L            // most relevant first
    Seq(10L, 11L) should contain(picks(1).getLong(1)) // then the other mode
    // first pick has zero diversity penalty by definition
    picks(0).getDouble(3) shouldBe 0.0
    // relevance-only top-3 would have been 1, 2, 3 — all mode A
    val topk = graft.ops.Vectors.knnBruteForce(
      vecs, q, 3).select("vid").collect().map(_.getLong(0)).toSeq
    topk shouldBe Seq(1L, 2L, 3L)
  }

  test("semiHardNegatives: below-ceiling other-label top-k, " +
    "too-similar negatives excluded as likely false negatives") {
    import spark.implicits._
    // anchor (1,0): positive ceiling from vid 1 (cos 0.8); vid 2 is an
    // other-label exact copy (cos 1.0 > ceiling → excluded); 3, 4, 5
    // are the semi-hard band in decreasing similarity.
    val cands = Seq(
      (1L, 0, Array(0.8, 0.6)),   // same label: sets pos_sim = 0.8
      (2L, 1, Array(1.0, 0.0)),   // cos 1.0 — above ceiling, excluded
      (3L, 1, Array(0.6, 0.8)),   // cos 0.6 — rank 1
      (4L, 1, Array(0.0, 1.0)),   // cos 0.0 — rank 2
      (5L, 2, Array(-1.0, 0.0))   // cos -1.0 — rank 3, cut by k=2
    ).toDF("vid", "label", "e")
    val anchors = Seq((100L, 0, Array(1.0, 0.0))).toDF("q_id", "q_label", "qe")
    val out = Vectors.semiHardNegatives(cands, anchors, k = 2)
      .select("q_id", "rank", "vec_id", "cos_sim", "pos_sim")
      .as[(Long, Int, Long, Double, Double)].collect().sortBy(_._2)
    out.map(r => (r._2, r._3)).toSeq shouldBe Seq((1, 3L), (2, 4L))
    out.foreach { r =>
      r._5 shouldBe 0.8 +- 1e-12      // the positive ceiling rides along
      r._4 should be < r._5           // every pick is strictly below it
    }
  }

  test("sampleVectorGroupsOf derived off the full corpus's vectorGroups equals " +
    "direct grouping of the hash-gated sample, and cosineDupPairsFromGroups " +
    "over a pMax-bucketed cache equals the from-vecs form at every p") {
    import spark.implicits._
    val base = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.99, 0.14, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 0.7, 0.7))
    val vecs = (for {
      (e, ei) <- base.zipWithIndex
      copy <- 0 until 6
    } yield (ei * 100L + copy, e)).toDF("vec_id", "emb")
    val full = Vectors.vectorGroups(vecs, "emb", "vec_id", nPlanes = 6, dim = 4)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("e").cast("string"), col("members").cast("string"),
        col("rep").cast("string"), col("m"), col("bucket"))
      .collect().map(_.toSeq).toSet
    for (sm <- Seq(1, 2, 3)) {
      val direct = Vectors.vectorGroups(
        vecs.filter(org.apache.spark.sql.functions.pmod(
          graft.ops.TextOps.hash60(col("vec_id").cast("string")),
          lit(sm.toLong)) === 0), "emb", "vec_id", nPlanes = 6, dim = 4)
      key(graft.ops.DupGroups.sampleOf(full, sm)) shouldBe key(direct)
    }
    val cached = full.cache(); cached.count()
    for (p <- Seq(2, 3, 6)) {
      val fromGroups = Vectors.cosineDupPairsFromGroups(cached, p, 0.9)
        .collect().map(_.toSeq).toSet
      val fromVecs = Vectors.cosineDupPairs(vecs, "emb", "vec_id", p, 4, 0.9)
        .collect().map(_.toSeq).toSet
      fromGroups shouldBe fromVecs
    }
    cached.unpersist()
  }

  test("cosineDupPairs exact-dup collapse preserves the pair relation on a dup-heavy corpus") {
    import spark.implicits._
    // Duplicated documents re-embed to the identical vector: 4 distinct
    // embeddings × 15 exact copies each, two of them near-parallel.
    val base = Seq(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.99, 0.14, 0.0, 0.0),     // near-parallel to the first
      Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.7, 0.7))
    val vecs = (for {
      (e, ei) <- base.zipWithIndex
      copy <- 0 until 15
    } yield (ei * 100L + copy, e)).toDF("vec_id", "emb")
    val fixed = Vectors.cosineDupPairs(vecs, "emb", "vec_id",
        nPlanes = 3, dim = 4, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("bucket"), r.getAs[Double]("cos_sim"))).toSet
    // Naive reference built inline: bucket every copy, all-pairs within
    // a bucket, verify each member pair individually.
    val naive = vecs
      .select(col("vec_id").as("vid"), col("emb").as("e"))
      .withColumn("bucket", Vectors.bucketExpr("e", 3, 4))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("vid"), col("e")))).as("ms"))
      .where(org.apache.spark.sql.functions.size(col("ms")) > 1)
      .select(col("bucket"), explode(expr(
        """flatten(transform(ms,
          |  (x, i) -> transform(slice(ms, i + 2, size(ms)),
          |            y -> named_struct('ia', x.vid, 'ib', y.vid,
          |                              'ea', x.e, 'eb', y.e))))""".stripMargin)).as("p"))
      .withColumn("cos_sim", Vectors.rankCosine(col("p.ea"), col("p.eb")))
      .filter(col("cos_sim") >= 0.9)
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"), col("bucket"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("bucket"), r.getAs[Double]("cos_sim"))).toSet
    fixed shouldBe naive
    // every copy family's all-pairs present (15 choose 2 per embedding)
    fixed.count { case (a, b, _, _) => a / 100L == b / 100L } shouldBe 4 * (15 * 14 / 2)
  }

  test("chooseCosinePlanes: nested-mask candidacy is monotone, truth matches " +
    "brute force, duplicate families ride the collapse, the truth cap and " +
    "malformed configs refuse, zero-truth never certifies") {
    import spark.implicits._
    // 20 deterministic dim-8 vectors plus one duplicated family: truth
    // recomputed brute-force in the test, so the chooser's n_true is
    // pinned against an independent computation
    def vec(i: Long): Seq[Double] =
      (1 to 8).map(j => math.sin(i * 37.0 + j * 11.0))
    val base = (1L to 20L).map(i => (i, vec(i)))
    val rows = base :+ ((100L, vec(7))) :+ ((101L, vec(7))) // m=3 family with id 7
    val df = rows.toDF("vec_id", "e")
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val th = 0.6
    val all = rows.combinations(2).toSeq
    val nTrue = all.count { case Seq((_, x), (_, y)) => cosine(x, y) >= th }
    val out = Vectors.chooseCosinePlanes(df, "e", "vec_id",
        planeConfigs = Seq(1, 2, 4), dim = 8, threshold = th, sampleMod = 1,
        precisionFloorPpm = 0L, recallFloorPpm = 0L)
      .orderBy("n_planes").collect()
    out.foreach(_.getLong(3) shouldBe nTrue.toLong)
    // candidacy NESTS: more planes can only shrink candidates/verified
    val cands = out.map(_.getLong(1))
    val vers = out.map(_.getLong(2))
    cands.sliding(2).foreach { case Array(a, b) => b should be <= a }
    vers.sliding(2).foreach { case Array(a, b) => b should be <= a }
    // the duplicated family (3 copies of vec(7) counting member-level:
    // 3 within pairs) is candidate AND verified in every config
    vers.foreach(_ should be >= 3L)
    // exactly one chosen among feasible: fewest candidates, tie to more planes
    out.count(_.getBoolean(7)) shouldBe 1
    out.filter(_.getBoolean(7)).head.getLong(1) shouldBe cands.min
    // truth cap refuses rather than paying the quadratic bill
    val boom = intercept[IllegalArgumentException](
      Vectors.chooseCosinePlanes(df, "e", "vec_id", Seq(2), 8, th, 1, 0L, 0L,
        truthRepCap = 5))
    boom.getMessage should include("truthRepCap")
    // zero-truth sample: nothing certifies
    val far = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "e")
    Vectors.chooseCosinePlanes(far, "e", "vec_id", Seq(1, 2), 2, 0.9, 1, 0L, 0L)
      .collect().foreach { r =>
        r.getBoolean(6) shouldBe false
        r.getBoolean(7) shouldBe false
      }
    // malformed plane counts refuse
    intercept[IllegalArgumentException](
      Vectors.chooseCosinePlanes(df, "e", "vec_id", Seq(0), 8, th, 1, 0L, 0L))
    intercept[IllegalArgumentException](
      Vectors.chooseCosinePlanes(df, "e", "vec_id", Seq(63), 8, th, 1, 0L, 0L))
  }

  test("ivfSearchAuto: the floor picks the cheapest adequate width, serves " +
    "the traffic query at it with provenance, and refuses an unreachable floor") {
    import spark.implicits._
    // two orthogonal cells; brute top-3 for the anchor (1,0) spans both
    // cells (vid 3 sits at 45°, third by cosine, but lives in cell 1) —
    // so nprobe=1 recall = 2/3 and only nprobe=2 meets a 0.9 floor
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.7, 0.714)), (4L, Seq(0.0, 1.0)))
      .toDF("vid", "e")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "ce")
    val tune = Seq(Tuple1(Seq(1.0, 0.0))).toDF("e")
    val serve = Seq(Tuple1(Seq(0.0, 1.0))).toDF("e")
    val out = Vectors.ivfSearchAuto(corpus, cents, tune, serve,
        k = 3, nprobes = Seq(1, 2), recallFloorPpm = 900000L)
      .collect()
    out.map(_.getInt(3)).distinct.toSeq shouldBe Seq(2) // provenance
    // served at width 2 both cells scan: top-3 for (0,1) = 4, 3, 2
    out.map(_.getLong(0)).toSeq shouldBe Seq(4L, 3L, 2L)
    // an unreachable floor refuses instead of silently serving
    val boom = intercept[IllegalArgumentException](
      Vectors.ivfSearchAuto(corpus, cents, tune, serve,
        k = 3, nprobes = Seq(1), recallFloorPpm = 900000L))
    boom.getMessage should include("recall")
  }
}
