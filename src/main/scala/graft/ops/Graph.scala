package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph centrality.
  *
  * PageRank is the canonical iterative-propagation workload (the other
  * graph member here — connected components — lives in Dedup as the
  * dup-cluster machinery). In a training-data pipeline a link-graph
  * centrality score is a standard quality prior (rank domains/documents
  * by endorsement rather than content), so the engine needs the
  * iterate-join-aggregate shape as a first-class operator.
  */
object Graph {

  /** Integer fixed-point PageRank: `iters` rounds of
    *
    *   r₀(v)    = S div n
    *   rₖ₊₁(v) = (S div n)·15 div 100
    *             + (Σ_{(u,v)∈E} rₖ(u) div deg(u)) · 85 div 100
    *
    * with every operation an exact BIGINT floor-division — no floats,
    * so the final ranks hash-match any engine that replays the same
    * algebra (the same engine-exactness stance as the t-family's
    * log-free scores). Classic damping-0.85 PageRank, with truncation
    * drift identical on both sides by construction.
    *
    * Scale shape: one round = one equi-join of the rank table with the
    * edge list on `src` (both shuffle-partitioned on the same key, so
    * AQE reuses the layout) + one map-side-combined SUM by `dst`.
    * The driver loop is bounded by `iters` (an explicit constant, the
    * d2b/d2c capped-rounds pattern) and holds no data — the single
    * driver-side action is the node COUNT for the teleport share.
    * Lineage is checkpoint-cut each round so the plan stays flat at
    * any iteration count.
    *
    * `edges` must expose BIGINT-castable (src, dst); multi-edges are
    * collapsed. Nodes are the endpoint union; every src has a degree
    * by construction, and a pure sink simply contributes nothing
    * (simplified dangling-mass semantics, stated by the oracle too).
    */
  def pageRank(edges: DataFrame, iters: Int,
               scale: Long = 1000000000000L,
               seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 50, s"bounded iteration count, got $iters")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // (src, dst, deg) is re-read every round — persist the JOINED frame,
    // not just e, or the deg aggregation+join re-executes per iteration.
    val srcSide = e.join(deg, "src").persist()

    // PERSONALIZED variant: teleport mass lands only on the seed set
    // (proximity-to-trusted-seeds scoring — the quality-prior read of
    // centrality). `nb` carries each node's per-round teleport term and
    // initial mass; the uniform case is seeds == nodes.
    val seedSet = seeds.map(_.select(col("node").cast("long").as("node")).distinct())
    val n = seedSet.getOrElse(nodes).count() // one driver-side scalar
    val init = scale / n
    val base = init * 15L / 100L
    val nb = (seedSet match {
      case None => nodes.select(col("node"), lit(base).as("b"), lit(init).as("r0"))
      case Some(sn) =>
        nodes.join(sn.withColumn("__s", lit(1)), Seq("node"), "left")
          .select(col("node"),
            when(col("__s").isNotNull, lit(base)).otherwise(lit(0L)).as("b"),
            when(col("__s").isNotNull, lit(init)).otherwise(lit(0L)).as("r0"))
    }).persist()

    var ranks = nb.select(col("node"), col("r0").as("r"))
    var round = 0
    while (round < iters) {
      val inflow = srcSide.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
      ranks = nb.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (col("b") + expr("coalesce(inflow, 0L) * 85 div 100")).as("r"))
        .localCheckpoint() // flat plan regardless of round count
      round += 1
    }
    e.unpersist(); srcSide.unpersist(); nb.unpersist()
    ranks
  }

  /** The DuckDB replay of [[pageRank]] as an unrolled CTE chain over an
    * `e(src, dst)` CTE the caller supplies — kept NEXT TO the operator
    * so the two formulations cannot drift apart silently.
    */
  def pageRankSql(edgesCte: String, iters: Int,
                  scale: Long = 1000000000000L,
                  seedsCte: Option[String] = None): String = {
    val seedsSql = seedsCte.getOrElse("SELECT node FROM nodes")
    val header =
      s"""WITH e AS ($edgesCte),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
         |seeds AS (SELECT DISTINCT node FROM ($seedsSql)),
         |params AS (SELECT $scale // COUNT(*) AS init FROM seeds),
         |nb AS (
         |  SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL
         |         THEN (SELECT init * 15 // 100 FROM params) ELSE 0 END AS b,
         |    CASE WHEN s.node IS NOT NULL
         |         THEN (SELECT init FROM params) ELSE 0 END AS r0v
         |  FROM nodes n LEFT JOIN seeds s USING (node)),
         |r0 AS (SELECT node, r0v AS r FROM nb)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT n.node, n.b + COALESCE(inf.s, 0) * 85 // 100 AS r
         |  FROM nb n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.r // d.deg) AS s
         |    FROM e JOIN r${k - 1} p ON p.node = e.src
         |           JOIN deg d ON d.node = e.src
         |    GROUP BY 1) inf USING (node))""".stripMargin
    }
    (header +: rounds).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS r FROM r$iters"
  }

  /** Per-node triangle counts via DEGREE-ORIENTED wedge closure — the
    * cohesion statistic of graph-shaped quality signals (a document/
    * domain whose neighborhood closes into triangles is a community,
    * not a spam star; spam farms are triangle-poor for their degree).
    *
    * Algorithm (the classic MR/GraphX shape):
    *   1. canonicalize to undirected distinct edges (a < b);
    *   2. orient every edge from its (degree, id)-smaller endpoint to
    *      the larger — an ACYCLIC orientation in which each triangle
    *      has exactly ONE node with both out-edges, so every triangle
    *      is generated once, no dedup pass;
    *   3. group out-edges by source, enumerate out-neighbor pairs
    *      INSIDE the aggregation (the simhashPairs shape — one keyed
    *      shuffle, quadratic only within an out-list, and degree
    *      orientation caps every out-list at O(√m));
    *   4. close wedges with one equi-join back against the oriented
    *      edge set; explode the three corners for per-node counts.
    *
    * Scale shape: two shuffles over the edge list (degree join +
    * out-list groupBy) and one wedge∞edge equi-join — no node ever
    * sees more than its own out-list, and the heavy-degree hubs that
    * blow up naive wedge enumeration are exactly the nodes the
    * orientation strips of out-edges. Reference has no graph ops; this
    * extends the centrality family ([[pageRank]]) with the standard
    * cohesion member.
    *
    * With `bloomGate` (default on), the wedge stream is pre-filtered
    * MAP-SIDE — below its join exchange — by a Bloom filter built over
    * the oriented edge keys ([[Bloom.pruneByHashedKeys]] on
    * xxhash64(x, y)): most wedges close nothing, so the closing-edge
    * join's shuffle drops from every-wedge to near-triangle-count
    * (+fpp), the dominant traffic term of the whole operator. No false
    * negatives (the exact equi-join still decides), and the filter
    * build is capped at 2^26 expected items (~55 MB) — past that it
    * saturates toward higher fpp instead of growing the broadcast.
    * MetricsSpec locks the shuffle-row reduction.
    */
  def triangleCount(edges: DataFrame, checkpoint: Boolean = true,
                    bloomGate: Boolean = true): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      // referenced by the degree agg AND both orientation joins — persist
      // or the upstream edge derivation re-executes three times
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // a < b already, so ties orient a -> b: u is the (deg, id)-smaller end.
    val oriented = withDeg.select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"),
        when(col("da") <= col("db"), col("db")).otherwise(col("da")).as("dv"))
      // consumed twice (wedge source + closing-edge side) — same rule
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Out-neighbor pairs of u from the in-bucket pair kernel, which
    // streams them (a high-out-degree hub never materializes its m²/2
    // wedge array in one row). The (dv, v) struct comparison IS the
    // orientation's total order, so each wedge comes out once, ordered
    // the way the closing edge can exist (x -> y).
    val wedges = DupGroups.inBucketPairs(oriented, Seq("u"), struct(col("dv"), col("v")))
      .select(col("u"), col("ia.v").as("x"), col("ib.v").as("y"))
    val closing = oriented.select(col("u").as("x"), col("v").as("y"))
    val candidates =
      if (!bloomGate) wedges
      else {
        // oriented is persisted, so this count materializes the frame
        // the join needs anyway; the filter build is one extra pass
        // over the cached edges, repaid by the wedge-shuffle drop.
        val m = oriented.count()
        Bloom.pruneByHashedKeys(wedges, Seq("x", "y"),
          closing, Seq("x", "y"),
          expectedItems = math.min(m, 1L << 26), fpp = 0.03)
      }
    val tris = candidates.join(closing, Seq("x", "y"))
    val raw = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    if (!checkpoint) raw // plan-inspection path: caches stay live
    else {
      // materialize the node-bounded rollup eagerly so the intermediates
      // can be dropped before returning (the Dedup persist discipline)
      val counts = raw.localCheckpoint(eager = true)
      und.unpersist(); oriented.unpersist()
      counts
    }
  }

  /** K-CORE extraction by BOUNDED iterative peeling: `rounds` passes of
    * "drop every node whose current degree < k", returning the
    * surviving nodes with their within-core degree. The k-core is the
    * standard robust-community filter (a node's degree can be spammed;
    * its coreness requires k neighbors who THEMSELVES survive — the
    * graph analogue of the mutual-endorsement quality prior).
    *
    * The round cap is part of the CONTRACT, not an approximation
    * hazard: the oracle replays exactly `rounds` peels, so both
    * engines agree bit-for-bit whether or not peeling has converged,
    * and convergence itself is a spec concern (most graphs peel to a
    * fixpoint in a handful of rounds; a path graph is the adversarial
    * slow case). Per round: one map-side-combined degree count + two
    * semi-joins against the survivor set — all keyed on the node, no
    * driver-side data, lineage checkpoint-cut per round (the pageRank
    * discipline).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 50, "bounded peeling")
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var adj = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(eager = true) // cut the caller's lineage once
    var round = 0
    while (round < rounds) {
      val keep = adj.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("a").as("node"))
      adj = adj
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
      round += 1
    }
    adj.groupBy(col("a").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** DuckDB replay of [[kCore]]: the same `rounds` peels as an
    * unrolled CTE chain over an `e(src, dst)` CTE — kept next to the
    * operator so the formulations cannot drift (pageRankSql pattern).
    */
  def kCoreSql(edgesCte: String, k: Int, rounds: Int): String = {
    // Every adj CTE is referenced three times by the next peel; DuckDB
    // inlines CTEs by default, which re-evaluates the whole chain
    // 3^rounds times — AS MATERIALIZED pins each round to one
    // evaluation, mirroring the operator's per-round localCheckpoint.
    val header =
      s"""WITH raw AS ($edgesCte),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM raw WHERE src <> dst),
         |adj0 AS MATERIALIZED (SELECT a, b FROM und UNION ALL SELECT b, a FROM und)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s"""keep$r AS MATERIALIZED (
         |  SELECT a AS node FROM adj${r - 1} GROUP BY 1 HAVING COUNT(*) >= $k),
         |adj$r AS MATERIALIZED (
         |  SELECT adj${r - 1}.a, adj${r - 1}.b FROM adj${r - 1}
         |  JOIN keep$r x ON adj${r - 1}.a = x.node
         |  JOIN keep$r y ON adj${r - 1}.b = y.node)""".stripMargin
    }
    (header +: peels).mkString(",\n") +
      s"\nSELECT a AS node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM adj$rounds GROUP BY 1"
  }

  /** SYNCHRONOUS label-propagation COMMUNITY detection, bounded
    * rounds — distinct from the connected-components closure
    * (`Dedup.dupClusters` minimizes labels; components ignore edge
    * density): here each node adopts the PLURALITY label among its
    * neighbors every round (tie → smallest label), so densely
    * interconnected groups converge to one label while bridges don't
    * leak labels across sparse cuts. Rounds are part of the contract
    * (the k-core precedent) and the oracle replays exactly the same
    * synchronous updates.
    *
    * Per round: one keyed join (neighbor labels) + one
    * map-side-combined plurality aggregation (min of (−cnt, label)
    * structs — no per-node window); `localCheckpoint` keeps the plan
    * flat across rounds. Edge-linear per round at any scale.
    */
  def labelPropagate(edges: DataFrame, rounds: Int): DataFrame = {
    val und = edges.toDF("s", "t").where(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"), greatest(col("s"), col("t")).as("b"))
      .distinct()
    val adj = und.select(col("a"), col("b"))
      .unionByName(und.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var labels = adj.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      val nl = adj
        .join(labels.select(col("node").as("b"), col("label").as("nbl")), "b")
        .groupBy(col("a"), col("nbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("a"))
        .agg(min(struct((-col("cnt")).as("nc"), col("nbl"))).as("m"))
        .select(col("a").as("node"), col("m.nbl").as("next"))
      labels = labels.join(nl, Seq("node"), "left")
        .select(col("node"), coalesce(col("next"), col("label")).as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** DuckDB replay of [[labelPropagate]]: the same synchronous rounds
    * unrolled into CTEs (the kCoreSql pattern).
    */
  def labelPropSql(edgesCte: String, rounds: Int): String = {
    val header =
      s"""WITH raw AS ($edgesCte),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM raw WHERE src <> dst),
         |adj AS MATERIALIZED (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
         |lab0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM adj)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""cnt$r AS (
         |  SELECT adj.a, l.label AS nbl, COUNT(*) AS cnt
         |  FROM adj JOIN lab${r - 1} l ON l.node = adj.b GROUP BY 1, 2),
         |pick$r AS (
         |  SELECT a AS node, nbl FROM (
         |    SELECT a, nbl, row_number() OVER (PARTITION BY a
         |      ORDER BY cnt DESC, nbl) AS rn FROM cnt$r) WHERE rn = 1),
         |lab$r AS MATERIALIZED (
         |  SELECT l.node, COALESCE(p.nbl, l.label) AS label
         |  FROM lab${r - 1} l LEFT JOIN pick$r p ON p.node = l.node)""".stripMargin
    }
    (header +: rs).mkString(",\n") +
      s"\nSELECT node, label AS community FROM lab$rounds"
  }

  /** NEIGHBOR-SET JACCARD similarity over a bipartite incidence list
    * (key, node) — the link-prediction / "related items" primitive:
    * two nodes are similar when the keys they attach to overlap.
    *
    *   jaccard(a, b) = |N(a) ∩ N(b)| / (|N(a)| + |N(b)| − |∩|)
    *
    * reported 1e6-scaled integral (`div`, non-negative — engine-exact).
    *
    * Candidate pairs come from the incidence list itself: only node
    * pairs CO-ATTACHED to at least one key are enumerated (pairs inside
    * one key's sorted node list — the in-bucket enumeration of the
    * SimHash/banded-Hamming family), so the work is Σ_key |list|²,
    * never corpus², and a disjoint pair is never materialized. Keys
    * hotter than `maxList` nodes are dropped from candidate generation
    * (their pairs are degenerate "everything relates to everything"
    * signals, and one viral key would otherwise contribute |list|²
    * pairs); degrees still count every key, so the reported Jaccard is
    * exact for every SURVIVING pair.
    */
  def neighborJaccard(incidence: DataFrame, minJaccard1e6: Long,
                      maxList: Int = 1000): DataFrame = {
    val inc = incidence.toDF("k", "node").distinct()
    val deg = inc.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val co = inc
      .groupBy(col("k"))
      .agg(sort_array(collect_list(col("node"))).as("ns"))
      .where(size(col("ns")) > 1 && size(col("ns")) <= maxList)
      .select(explode(expr(
        """flatten(transform(ns, (x, i) ->
          |  transform(slice(ns, i + 2, size(ns)),
          |            y -> named_struct('a', x, 'b', y))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("co"))
    co
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
      .withColumn("jaccard_1e6",
        expr("co * 1000000 div (deg_a + deg_b - co)"))
      .filter(col("jaccard_1e6") >= minJaccard1e6)
      .select("a", "b", "co", "deg_a", "deg_b", "jaccard_1e6")
  }
}
