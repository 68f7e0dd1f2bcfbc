package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression locks for the scale-critical physical
  * properties the engine is designed around: predicate pushdown into
  * the parquet scan, broadcast of dimension sides, map-side partial
  * aggregation, no RDD round-trips, and exchange reuse across window
  * families. A refactor that silently loses one of these would pass
  * every value-correctness gate while regressing the 100 TB plan.
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_f2_range pushes the date range into the parquet scan") {
    val p = plan("q_f2_range")
    p should include("PushedFilters")
    p should include("GreaterThanOrEqual(l_shipdate")
  }

  test("q_j1_inner_join broadcasts the dimension side") {
    plan("q_j1_inner_join") should include("BroadcastHashJoin")
  }

  test("q_a1_count_by_day partial-aggregates before the shuffle") {
    plan("q_a1_count_by_day") should include("partial_count")
  }

  test("headline queries never round-trip through an RDD scan") {
    Seq("q_f1_snapshot", "q_w1_rank_topn", "q_d1_exact_dedup", "q_e1_knn_brute",
      "q_t4_fingerprint").foreach { n =>
      withClue(n) { plan(n) should not include "ExistingRDD" }
    }
  }

  test("q_rankings_pipeline shares one exchange per window family") {
    // daily grain + per-date window family + per-symbol window family —
    // each family's functions must reuse a single hash exchange.
    val hashExchanges = plan("q_rankings_pipeline")
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    hashExchanges should be <= 4
  }

  test("q_p2_mixture is a pure map-side gate — no exchange before the output sort") {
    // The mixture sample must stay a scan+filter: the only exchange in
    // the plan is the rangepartitioning for the presentation ORDER BY.
    val exchanges = plan("q_p2_mixture")
      .linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges.filterNot(_.contains("rangepartitioning")) shouldBe empty
  }

  test("q_e10_rerank broadcasts the shortlist into the exact re-rank stage") {
    val p = plan("q_e10_rerank")
    // ADC table join + shortlist join + query-codes join are all
    // bounded sides — none may degenerate to a shuffled join.
    p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 2
    p should not include "CartesianProduct"
  }

  test("q_t15_lm_score collapses doc-bigrams map-side before the LM join") {
    val p = plan("q_t15_lm_score")
    p should include("partial_count")
    p should not include "CartesianProduct"
  }

  test("decontamination broadcasts the eval shingle set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val train = (1L to 50L).map(i => (i, s"doc $i body words here and there plus $i")).toDF("id", "text")
    val ev = Seq((1000L, "doc 7 body words here and there plus 7")).toDF("id", "text")
    val t = graft.ops.Dedup.shingleHashSet(train, "id", "text", 3)
    val p = graft.ops.Dedup.decontaminatePlan(t, ev, "id", "text", 3)
      .queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
  }

  test("q_p3_pack windows the DATA per bucket; only the offsets go single-partition") {
    // The two-phase prefix sum exists to avoid a global-order window
    // over the corpus: the per-row window must be hash-partitioned on
    // the bucket, leaving exactly one SinglePartition exchange (the
    // `buckets`-row offsets cumsum).
    val p = plan("q_p3_pack")
    p should include("Window")
    p.linesIterator.count(_.contains("Exchange SinglePartition")) should be <= 1
    p should include("Exchange hashpartitioning(__b")
  }

  test("q_m2a_meta column-prunes the documents scan") {
    val p = plan("q_m2a_meta")
    // doc_id + text only — reading lang/source/ts for a 2-column need
    // would be a pruning regression.
    p should include("ReadSchema")
    p should not include "lang"
  }

  test("q_k6 bottom-k sketch partial-aggregates map-side; only sketches cross the exchange") {
    // The whole design premise of the mergeable quantile state: each
    // task collapses its rows into one k-pair buffer per group BEFORE
    // the shuffle. A partial_bottomkagg below the exchange is that
    // property; losing it would ship raw (h, v) rows instead of
    // sketches — invisible to the value gate, fatal at 100 TB.
    val p = plan("q_k6_quantile_sketch").toLowerCase
    p should include("partial_bottomkagg")
    withClue("sketch aggregation must be ObjectHashAggregate (imperative buffer), not sort-based: ") {
      p should include("objecthashaggregate")
    }
  }

  test("q_k7 heavy hitters: thresholds broadcast; one exchange carries the token stream") {
    val p = plan("q_k7_heavy_hitters")
    // the s-row thresholds frame joins by broadcast, never shuffle
    p should include("BroadcastNestedLoopJoin")
    // exactly one exchange is keyed on the raw token stream's (shard,
    // term) — the per-shard exact counts; everything downstream is
    // summary-sized. A second such exchange would mean the token
    // stream leaked past the summary boundary.
    p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        l.contains("shard") && l.contains("term")) should be <= 2 // partial+final pair resolves to one boundary
  }

  test("q_e11_semdedup: one keyed exchange; centroids broadcast; decision in-cell") {
    val p = plan("q_e11_semdedup")
    // assignment + centroid re-join are broadcasts; the only hash
    // exchanges are the per-vector argmax regroup and the cell
    // aggregation — the old self-join shape had two more.
    p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 1
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) should be <= 2
    p should not include "CartesianProduct"
  }

  test("q_p10_group_sample: bottom-k partials below the exchange, no cartesian winners join") {
    val p = plan("q_p10_group_sample")
    p should include("partial_bottomkagg")
    // The winners join deliberately carries NO broadcast hint (winners is
    // k·|groups|, unbounded at scale) — AQE picks broadcast vs shuffled
    // hash by observed size, so the lock only forbids the degenerate plan.
    p should not include "CartesianProduct"
  }

  test("q_t20_nb_score: bounded model broadcasts; per-doc feature counts partial-aggregate") {
    val p = plan("q_t20_nb_score")
    // The ≤nFeatures model (checkpoint-cut, trained exactly once) rides
    // a broadcast into the scoring join; scoring itself stays keyed.
    p should include("BroadcastHashJoin")
    p should include("partial_count")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("q_d15_max_spans: one per-doc island window; dup-hash test partial-aggregates") {
    val p = plan("q_d15_max_spans")
    p.linesIterator.count(_.contains("Window [")) shouldBe 1
    p should include("partial_min")
    p should not include "CartesianProduct"
  }

  test("q_m5_image_neardup: pairs enumerate inside the band bucket aggregation") {
    val p = plan("q_m5_image_neardup")
    p should include("partial_collect_list")
    p should not include "SortMergeJoin"   // no banded self-join
    p should not include "CartesianProduct"
  }

  test("q_t18_collocations: counts partial-aggregate; rank is a bounded TakeOrdered") {
    val p = plan("q_t18_collocations")
    p should include("partial_count")
    p should include("TakeOrderedAndProject")
    p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 2
  }

  test("q_s6_cdc_apply: the changelog collapses map-side (partial max_by)") {
    val p = plan("q_s6_cdc_apply")
    p should include("partial_max_by")
    p should not include "Window"
  }

  test("q_s7_cdc_extract: one full-outer exchange pair, no window funnel") {
    val p = plan("q_s7_cdc_extract")
    p should include("FullOuter")
    p should not include "Window"
    p should not include "CartesianProduct"
  }

  test("q_k9_hll_window: registers partial-aggregate; the window runs over sketch cells") {
    val p = plan("q_k9_hll_window")
    // per-(day,bucket) register build collapses map-side before any
    // exchange; the sliding merge is a Window over the 64-bucket grid.
    p should include("partial_max")
    p should include("Window")
  }

  test("q_d14_semantic_decontaminate: eval broadcast, per-vector max collapses map-side") {
    val p = plan("q_d14_semantic_decontaminate")
    p should include("BroadcastNestedLoopJoin")
    p should include("partial_max")
    p should not include "CartesianProduct"
  }

  test("q_v6_seasonal: one daily rollup with map-side partials feeding one window") {
    val p = plan("q_v6_seasonal")
    p should include("partial_count")
    p.linesIterator.count(_.contains("Window")) should be >= 1
  }

  test("q_r1_linkage: candidates only within blocks — no cartesian, counts partial") {
    val p = plan("q_r1_linkage")
    p should not include "CartesianProduct"
    p should include("partial_count")
  }

  test("multimodal decode chains: payload-bearing stage never shuffles") {
    // Exactly two exchanges: the pre-decode id spread (8-byte rows —
    // Partitioning.spread fanning the single gate split across cores)
    // and the range partition for the ORDER BY. The frame carrying
    // decoded payloads/hashes between them is exchange-free.
    Seq("q_m4_phash", "q_m6_audio_fp", "q_m10_dct_phash", "q_m8_video_frames")
      .foreach { n =>
        val p = plan(n)
        withClue(n) {
          p.linesIterator.count(_.contains("Exchange")) shouldBe 2
          p should include("rangepartitioning")
        }
      }
  }

  test("q_m14_dispatch: the dispatched decode keeps the m4 shape — " +
    "payload-bearing stage exchange-free") {
    // same two-exchange contract as the single-codec chains: the
    // pre-decode id spread and the presentation sort; the mixed-corpus
    // dispatch adds routing, not shuffles.
    val p = plan("q_m14_dispatch")
    p.linesIterator.count(_.contains("Exchange")) shouldBe 2
    p should include("rangepartitioning")
    p should not include "CartesianProduct"
  }

  test("q_m9_video_neardup: inverted-index join on the frame hash, never cartesian") {
    val p = plan("q_m9_video_neardup")
    p should not include "CartesianProduct"
    p should include("partial_count")
  }

  test("q_t21_auc: distinct-score collapse partial-aggregates; no quadratic pair join") {
    val p = plan("q_t21_auc")
    p should include("partial_sum")
    p should not include "CartesianProduct"
  }

  test("q_t22_calibration: bin rollup is one keyed groupBy with map-side partials") {
    val p = plan("q_t22_calibration")
    p should include("partial_count")
    p should not include "CartesianProduct"
  }

  test("q_g10_triangles: wedges enumerate inside the out-list aggregation, " +
    "no cartesian anywhere in the closure") {
    // the registered query checkpoints its node-bounded rollup (so the
    // plan visible through SparkEntry.queries is a post-checkpoint scan) —
    // lock the operator's own pre-checkpoint plan on the same edges
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = li.join(li.withColumnRenamed("p", "p2"), "o")
      .where(col("p") < col("p2"))
      .select(col("p").as("src"), col("p2").as("dst"))
    val p = graft.ops.Graph.triangleCount(pairs, checkpoint = false)
      .queryExecution.executedPlan.toString
    // out-neighbor lists collect under a keyed agg WITH a map-side
    // partial (sort_array applies in the project above it), pairs
    // explode from the list — the closing join is an equi-join, never
    // a product
    p should include("partial_collect_list")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("q_e16_semi_hard: positive pass turns into an equi broadcast join, " +
    "only the non-equi negatives pass nested-loops; TopK partial below the exchange") {
    val p = plan("q_e16_semi_hard")
    // Catalyst extracts label = q_label from the filter over the cross
    // join → BroadcastHashJoin for the positive-ceiling pass; the
    // negatives pass (label <> q_label) legitimately stays a broadcast
    // nested loop over the tiny anchor set. Candidates never shuffle
    // for scoring; only ≤ k rows per anchor×partition reach the agg
    // exchange.
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) shouldBe 1
    p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 2
    p should include("partial_topkagg")
    p should not include "CartesianProduct"
  }

  test("q_t25_dataset_card: volume rollup partial-aggregates; exactly one " +
    "median rank-selection window") {
    val p = plan("q_t25_dataset_card")
    p should include("partial_count")
    p.linesIterator.count(_.contains("Window [")) should be >= 1
    p should not include "CartesianProduct"
  }

  test("q_s8_schema_merge: by-name union stays scan-projection only — " +
    "no shuffle, no join, both scans pruned") {
    val p = plan("q_s8_schema_merge")
    p should include("Union")
    p should not include "Exchange hashpartitioning"
    p should not include "Join"
  }

  test("q_s9_incr_join_view: every delta term is a broadcast hash join — " +
    "the stored bases are scanned, never shuffled") {
    val p = plan("q_s9_incr_join_view")
    // base⋈base (the stored view surrogate) may plan however AQE likes
    // at fixture size; the three DELTA terms must ride the bounded-side
    // broadcast, and nothing may degenerate to a cartesian.
    p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 3
    p should not include "CartesianProduct"
  }

  test("q_e17_label_noise: anchors broadcast into the corpus pass; " +
    "k-bounded TopK partials below the exchange") {
    val p = plan("q_e17_label_noise")
    // corpus × anchors is the one justified nested-loop (tiny anchor
    // side broadcast); winners/vote joins are broadcasts too.
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) shouldBe 1
    p should include("partial_topkagg")
    p should not include "CartesianProduct"
    p should not include "SortMergeJoin"
  }

  test("q_e18_separation: centroid cells collapse map-side; centroids " +
    "ride broadcasts back for the distance pass") {
    val p = plan("q_e18_separation")
    p should include("partial_sum")
    p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 2
    p should not include "CartesianProduct"
  }

  test("q_t27_bm25: query-term df and corpus scalars broadcast; counts " +
    "partial-aggregate; top-k stays bounded") {
    val p = plan("q_t27_bm25")
    p should include("partial_count")
    p should include("TakeOrderedAndProject")
    p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 1
    p should not include "CartesianProduct"
  }

  test("q_g12_jaccard_neighbors: pairs enumerate inside the per-key " +
    "aggregation — no self-join of the incidence list") {
    val p = plan("q_g12_jaccard_neighbors")
    // the degree joins are keyed; candidate generation is the grouped
    // list explode, so the plan carries NO join of inc against itself
    // on k (which would be a shuffled join with quadratic output).
    p should include("partial_count")
    p should not include "CartesianProduct"
    p should include("TakeOrderedAndProject")
  }

  test("q_e19_ood: centroids broadcast; per-vector argmax collapses " +
    "map-side (no per-vid window); median pass keyed by cell") {
    val p = plan("q_e19_ood")
    // assignment must be the max_by aggregation (partials below the
    // exchange), not a row_number window keyed on vid — the window
    // would shuffle corpus × centroids rows with no partial reduction.
    p should include("partial_max_by")
    // the assigned frame feeds the median build AND the flag pass —
    // two corpus scans (each with its own broadcast nested loop over
    // the bounded centroid set), zero corpus shuffles: the
    // labelNoiseAudit shape.
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) shouldBe 2
    p should not include "CartesianProduct"
    p should not include "SortMergeJoin"
  }

  test("q_v9_cusum: both running windows share one keyed exchange — " +
    "the recurrence never degenerates to a fold or a global window") {
    val p = plan("q_v9_cusum")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    windows should not be empty
    windows.foreach(l => l should include("event_type"))
    // the running-min consumes the prefix-sum's output, so Spark plans
    // two Window stages — but they sort identically, so no exchange
    // sits between them. Keyed exchanges stay bounded: day-counts agg,
    // per-type stats agg, join alignment, the shared window sort.
    windows.size shouldBe 2
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) should be <= 4
    p should not include "CartesianProduct"
  }

  test("q_p15_interleave: per-source rank only — no global window, " +
    "slot assignment stays in the scan projection") {
    val p = plan("q_p15_interleave")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    windows should not be empty
    windows.foreach { l =>
      l should include("source")
      l should not include "], [], ["
    }
    p should not include "CartesianProduct"
    p should not include "Join"
  }

  test("q_g13_communities: rounds are checkpoint-cut — the final plan " +
    "is a flat label scan + presentation sort, not an iteration tower") {
    val p = plan("q_g13_communities")
    // each propagation round ran eagerly behind a localCheckpoint; a
    // regression that drops the cut would resurface the whole 3-round
    // join/aggregate chain (and its 3^r plan blowup) right here.
    p should not include "Join"
    p should not include "Window ["
    p.linesIterator.count(_.contains("Exchange")) should be <= 1 // range sort only
    p should not include "CartesianProduct"
  }

  test("q_p13_curriculum: one window per (epoch, shard) partition — " +
    "no global (empty-partition) window anywhere") {
    val p = plan("q_p13_curriculum")
    // a Window with an empty partition spec would serialize the corpus
    // through one task; the curriculum window must key on epoch+shard
    // (the spec prints as `], [epoch#…, shard#…], [bin#… ASC`).
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    windows should not be empty
    windows.foreach { l =>
      l should include("shard")
      l should not include "], [], ["
    }
    p should not include "CartesianProduct"
  }

  test("Bloom pruning is eager BY CONTRACT: constructing a bloom-gated " +
    "plan runs the filter build now; re-executing the returned frame " +
    "does not rebuild it") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // listener delivery is async and the bus is private[spark]: poll
    // until the count is stable instead of waitUntilEmpty
    def drained(): Int = {
      var prev = -1; var cur = jobs.get(); var spins = 0
      while (prev != cur && spins < 40) {
        prev = cur; Thread.sleep(100); cur = jobs.get(); spins += 1
      }
      cur
    }
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
        .toDF("src", "dst")
      drained()
      jobs.set(0)
      // checkpoint=false is the plan-inspection path: any job counted
      // here is the documented eager filter build (+ the cached-edge
      // count that sizes it), NOT result materialization
      val tri = graft.ops.Graph.triangleCount(edges, checkpoint = false)
      val atConstruction = drained()
      atConstruction should be >= 1 // the contract: construction IS an action
      // and the build does not re-run per downstream action: executing
      // the frame twice adds only the execution jobs, which would at
      // least double the construction count if the build re-ran inside
      jobs.set(0)
      tri.count()
      val firstExec = drained()
      jobs.set(0)
      tri.count()
      val secondExec = drained()
      // no hidden rebuild: re-execution never costs MORE jobs than the
      // first run (caches/AQE may make it cheaper, never build-heavier)
      secondExec should be <= firstExec
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
