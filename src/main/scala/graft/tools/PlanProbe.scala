package graft.tools

import org.apache.spark.sql.functions._

/** Prints the physical plans of the collapse paths for the PLANS
  * plan-audit notes (exchanges, broadcasts, generator placement).
  * Usage: PlanProbe [sfDir]
  *   [collapse|keepbest|chooser|kbindex|kbstore|ivfstore]
  * The chooser families' candidate and truth frames are audited in
  * PLANS.md (r12 lshRecall, r13 chooser, simchooser, hamchooser,
  * coschooser); the chooser cases that rebuilt those frames by hand
  * are gone — the frames live once, in the families' choosers.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val what = args.drop(1).headOption.getOrElse("collapse")
    val spark = graft.Sessions.local("graft-planprobe")
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("id"), col("text"))
    what match {
      case "chooser" =>
        // chooseLshConfig's result frame is |configs| driver rows; the
        // plan of interest is the survivors path it would drive — probe
        // nearDupPairsAuto end to end (the chooser phase executes, the
        // pairs phase's plan prints).
        val auto = graft.ops.Dedup.nearDupPairsAuto(docs, "id", "text",
          truthDfCap = None, gate = graft.ops.SampleGate.Mod(2))
        System.err.println("=== nearDupPairsAuto pairs at the chosen config ===")
        auto.explain("formatted")
        System.err.println(s"pairs: ${auto.count()}")
      case "kbindex" =>
        // the streaming survivor resolution: accumulated pairs ->
        // clusters -> the shared keep-best window -> anti-join
        val idx = new graft.ops.KeepBestIndex(spark)
        idx.ingest(docs.filter(col("id") % 2 === 0), "id", "text",
          pmod(graft.ops.TextOps.hash60(col("id").cast("string")), lit(1000L)))
        idx.ingest(docs.filter(col("id") % 2 === 1), "id", "text",
          pmod(graft.ops.TextOps.hash60(col("id").cast("string")), lit(1000L)))
        val surv = idx.survivors
        System.err.println("=== KeepBestIndex.survivors (two ingested batches) ===")
        surv.explain("formatted")
        System.err.println(s"survivors: ${surv.count()}")
      case "kbstore" =>
        // the store-backed index: per-batch delta writes, read-time
        // shadowing view (b == latest(id)), survivors off committed
        // parquet — the plans of interest are the effective-state
        // assembly and the survivor resolution over it
        graft.ops.TempFiles.withTempDir("planprobe-kbstore") { root =>
          val dir = new java.io.File(root, "s").getAbsolutePath
          val idx = graft.ops.KeepBestIndexStore.open(spark, dir)
          val score = pmod(graft.ops.TextOps.hash60(col("id").cast("string")), lit(1000L))
          idx.ingest(docs.filter(col("id") % 2 === 0), "id", "text", score)
          idx.ingest(docs.filter(col("id") % 2 === 1), "id", "text", score)
          val surv = idx.survivors
          System.err.println("=== KeepBestIndexStore.survivors (two committed batches, " +
            "read-time shadowing view) ===")
          surv.explain("formatted")
          System.err.println(s"survivors: ${surv.count()}")
          ()
        }
      case "ivfstore" =>
        // the store-backed IVF index: per-batch delta assignment, the
        // read-time shadowing view (b == latest(vid)), and the search
        // over it — the plans of interest are the effective-state
        // assembly and ivfSearch's probe
        import spark.implicits._
        graft.ops.TempFiles.withTempDir("planprobe-ivfstore") { root =>
          val dir = new java.io.File(root, "s").getAbsolutePath
          val vecs = graft.Tables.embeddings(spark, sfDir)
            .select(col("vec_id").as("vid"),
              col("embedding").cast("array<double>").as("e"))
          val centroids = vecs.filter(col("vid") < 8)
            .select(col("vid").as("cid"), col("e").as("ce"))
          val idx = graft.ops.IvfIndexStore.open(spark, dir, centroids)
          idx.ingest(vecs.filter(col("vid") =!= 5 && col("vid") % 2 === 0))
          idx.ingest(vecs.filter(col("vid") =!= 5 && col("vid") % 2 === 1))
          val res = idx.search(vecs.filter(col("vid") === 5).select(col("e")),
            nProbe = 2, k = 8)
          System.err.println("=== IvfIndexStore.search (two committed batches, " +
            "read-time shadowing view) ===")
          res.explain("formatted")
          System.err.println(s"hits: ${res.count()}")
          ()
        }
      case "keepbest" =>
        val surv = graft.ops.Dedup.purgeKeepBest(docs, "id", "text",
          pmod(graft.ops.TextOps.hash60(col("id").cast("string")), lit(1000L)))
        System.err.println("=== purgeKeepBest survivors ===")
        surv.explain("formatted")
        System.err.println(s"survivors: ${surv.count()}")
      case _ =>
        val pairs = graft.ops.Dedup.nearDupPairs(docs, "id", "text")
        System.err.println("=== nearDupPairs (post-collapse, checkpointed output) lineage is truncated; showing the CROSS-GROUP expansion plan instead ===")
        val sh = graft.ops.Dedup.shingleHashSet(docs, "id", "text", 3)
        val sigs = graft.ops.Dedup.minhashSigs(sh, 16)
        val cand = graft.ops.Dedup.lshCandidatesFromSigs(sigs, 4, 16)
        cand.explain("formatted")
        System.err.println(s"pairs rows: ${pairs.count()}")
    }
    spark.stop()
  }
}
