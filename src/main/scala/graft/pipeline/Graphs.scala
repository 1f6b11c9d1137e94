package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Link-graph rank signals for web-corpus curation. Crawl pipelines weight
 * and filter documents by the standing of their host in the web graph —
 * Common Crawl publishes harmonic-centrality/PageRank host ranks for
 * exactly this use, and "low-rank host" is a standard junk-page prior
 * alongside the text-level gates in [[Text]] — so the engine ships the
 * rank computation itself rather than assuming a side-loaded score file.
 *
 * Determinism contract (matches the engine-wide fixed-point convention the
 * LM sums / classifier gradients / temperature weights use): ranks are
 * BIGINT fixed-point at `scale` (default 1e12), every step is integer
 * arithmetic — `div` for the out-degree share and the damping factor,
 * exact long SUM for the gather — so the result is a pure function of the
 * edge multiset, independent of partitioning and summation order, and a
 * SQL oracle that unrolls the same iterations reproduces every value
 * bit-for-bit. Truncation loses at most 1 unit per integer division, so
 * total mass only ever decreases (spec-pinned); at scale=1e12 the
 * per-node error after a handful of iterations is ~1e-9 of the mass —
 * noise far below any curation threshold.
 *
 * Plan at scale (billions of edges, ~1e8 hosts): the degree-annotated edge
 * list is materialized ONCE (localCheckpoint — which captures the deg
 * join's hash partitioning and sort order on `src` into the checkpointed
 * relation, so in the sort-merge regime the per-iteration join re-reads
 * it with no new Exchange and no Sort; explain-verified). Each iteration
 * moves only the (id, rank) frame — tiny relative to the edges — through
 * one join on `src`, one map-side-combining long SUM keyed by `dst`, and
 * one left join back to the node set for zero-in-degree nodes. Rank
 * frames are checkpointed on a cadence so the iterative plan stays flat
 * and a late executor loss never recomputes the whole chain.
 */
object Graphs {

  /** Fixed-point PageRank over `edges` (src → dst). `nodes` optionally
   * supplies the node universe (ids with no edges at all still get the
   * teleport base rank); when null the universe is the ids appearing in
   * the edge list. Returns (id BIGINT, rank_fp BIGINT) where
   * rank_fp ≈ rank · scale and Σ rank ≈ 1.
   *
   * `dampPct` is the damping factor in integer percent (85 = the classic
   * 0.85): rank'(v) = (100-dampPct)% · (scale/N) + dampPct% ·
   * Σ_{u→v} rank(u) div outdeg(u), every operation on longs. Dangling
   * nodes (no out-edges) keep receiving rank but redistribute none — the
   * standard simplification; their outgoing mass simply decays, which for
   * a relative quality prior is immaterial and keeps the per-iteration
   * plan at exactly one shuffle. */
  /** With `tolFp > 0`, iteration stops EARLY once the exact L1 delta
   * Σ|rank' − rank| (in fixed-point units) drops to `tolFp` or below —
   * `iterations` then acts as the cap. The delta is one extra join +
   * long-sum per completed iteration (driver reads a single row), and
   * because every quantity is an exact long the stopping decision is as
   * deterministic as the ranks: no float drift can make two runs stop at
   * different iteration counts. tolFp = scale/1e6-ish is a practical
   * web-graph setting; 0 (default) keeps the fixed-iteration contract the
   * SQL oracles unroll. */
  def pageRankFixed(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      nodes: DataFrame = null, nodeIdCol: Column = null,
      iterations: Int = 3, dampPct: Int = 85,
      scale: Long = 1000000000000L, checkpointInterval: Int = 2,
      tolFp: Long = 0L): DataFrame =
    rankImpl(edges, srcCol, dstCol, nodes, nodeIdCol, null, null,
      iterations, dampPct, scale, checkpointInterval, tolFp, null)

  /**
   * Edge-WEIGHTED PageRank under the same exact-integer contract: each
   * node splits its rank over out-edges proportionally to integer edge
   * weights instead of uniformly — anchor counts, click counts, trust
   * grades. The per-edge share ⌊rank·w / W⌋ (W = the node's weight sum)
   * is computed as `(rank div W)·w + ((rank mod W)·w) div W` — exact
   * floor arithmetic with every intermediate below 2⁶³ for weights in
   * [1, 10⁶] (required), so an external engine replays every value with
   * plain 64-bit integers and no big-decimal rounding hazard. Same
   * checkpointed one-shuffle-per-iteration plan as [[pageRankFixed]];
   * duplicate (src, dst) edges act as accumulated weight.
   */
  def pageRankWeighted(
      edges: DataFrame, srcCol: Column, dstCol: Column, weightCol: Column,
      nodes: DataFrame = null, nodeIdCol: Column = null,
      iterations: Int = 3, dampPct: Int = 85,
      scale: Long = 1000000000000L, checkpointInterval: Int = 2,
      tolFp: Long = 0L): DataFrame =
    rankImpl(edges, srcCol, dstCol, nodes, nodeIdCol, null, null,
      iterations, dampPct, scale, checkpointInterval, tolFp, weightCol)

  /**
   * TrustRank (Gyöngyi/Garcia-Molina/Pedersen 2004): PageRank whose
   * teleport goes ONLY to a hand-curated trusted seed set, so trust flows
   * outward from seeds along links and a spam cluster no seed links into
   * scores (exactly) zero — the standard spam-demotion complement to the
   * popularity rank in web curation. Same exact-integer contract and
   * per-iteration plan as [[pageRankFixed]]; initial mass is scale/|seeds|
   * on each seed (0 elsewhere) and the (100-dampPct)% teleport term is
   * paid only to seeds. Seeds not in the node universe are ignored.
   */
  def trustRankFixed(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      seeds: DataFrame, seedIdCol: Column,
      nodes: DataFrame = null, nodeIdCol: Column = null,
      iterations: Int = 3, dampPct: Int = 85,
      scale: Long = 1000000000000L, checkpointInterval: Int = 2,
      tolFp: Long = 0L): DataFrame = {
    require(seeds != null && seedIdCol != null, "trustRankFixed needs a seed set")
    rankImpl(edges, srcCol, dstCol, nodes, nodeIdCol, seeds, seedIdCol,
      iterations, dampPct, scale, checkpointInterval, tolFp)
  }

  private def rankImpl(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      nodes: DataFrame, nodeIdCol: Column,
      seeds: DataFrame, seedIdCol: Column,
      iterations: Int, dampPct: Int,
      scale: Long, checkpointInterval: Int,
      tolFp: Long, weightCol: Column = null): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in 1..100, got $iterations")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct must be in 0..100, got $dampPct")
    require(scale >= 1000000L, s"scale must be >= 1e6 for usable precision, got $scale")

    // node keys keep their type — host STRINGS work directly, so a web-scale
    // host graph never needs a dense-id assignment pass (which would be a
    // global sort or a single-task window over ~1e8 hosts)
    val e = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val nodeUniverse =
      if (nodes == null)
        e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id"))).distinct()
      else nodes.select(nodeIdCol.as("id")).distinct()
    // both the node set and the degree-annotated edges are read once per
    // iteration — materialize them out of the loop's lineage. In the
    // big-graph regime the deg join is itself a sort-merge on `src`, and
    // Spark's localCheckpoint captures the child's partitioning AND
    // ordering into the checkpointed relation (verified by explain: the
    // per-iteration join consumes the checkpoint with no new Exchange and
    // no Sort on the edge side) — so the edges are exchanged once here
    // and never again; each iteration moves only the (id, rank) frame.
    // for TrustRank the node set carries a seed flag; init mass and the
    // teleport term then select on it instead of being uniform constants
    val flagged =
      if (seeds == null) nodeUniverse.withColumn("graft_seed", lit(true))
      else nodeUniverse.join(
          seeds.select(seedIdCol.as("id")).distinct().withColumn("graft_s", lit(true)),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("graft_s"), lit(false)).as("graft_seed"))
    // node and seed counts ride the node-set checkpoint as observed
    // metrics, and the weight-range audit rides the edge checkpoint —
    // the separate count jobs they replaced cost one full pass each
    // (r19 opt: the rank queries are job-count bound at the gate SF)
    val nodeObs = org.apache.spark.sql.Observation()
    val nodesP = flagged
      .observe(nodeObs, count(lit(1)).as("graft_n"),
        sum(when(col("graft_seed"), 1L).otherwise(0L)).as("graft_nseeds"))
      .localCheckpoint(true)
    val eW =
      if (weightCol == null) e // unweighted plan stays exactly as before
      else edges.select(srcCol.as("src"), dstCol.as("dst"),
        weightCol.cast("long").as("graft_w"))
    val deg =
      if (weightCol == null) eW.groupBy("src").agg(count(lit(1)).as("graft_deg"))
      else eW.groupBy("src").agg(sum(col("graft_w")).as("graft_deg"))
    val edgesDeg = {
      val joined = eW.join(deg, "src")
      if (weightCol == null) joined.localCheckpoint(true)
      else {
        val wObs = org.apache.spark.sql.Observation()
        def badExpr = sum(when(col("graft_w") < 1L || col("graft_w") > 1000000L, 1L)
          .otherwise(0L))
        val p = joined.observe(wObs, badExpr.as("graft_bad")).localCheckpoint(true)
        // bounded metric read (ADVICE r19): a dropped execution-end event
        // must not hang the driver — recount off the checkpoint instead
        val bad = Observed.long(wObs, "graft_bad") {
          p.agg(coalesce(badExpr, lit(0L))).head().getLong(0)
        }
        require(bad == 0L, s"$bad edges carry weights outside [1, 1e6]")
        p
      }
    }

    val Seq(n, seedCount) = Observed.longs(nodeObs, "graft_n", "graft_nseeds") {
      val r = nodesP.agg(count(lit(1)),
        coalesce(sum(when(col("graft_seed"), 1L).otherwise(0L)), lit(0L))).head()
      Seq(r.getLong(0), r.getLong(1))
    }
    require(n > 0, "rank needs at least one node")
    val nSeeds = if (seeds == null) n else seedCount
    require(nSeeds > 0, "trustRankFixed: no seed is present in the node universe")
    val initRank = scale / nSeeds
    // the teleport term — constant across iterations, paid to seeds only
    val base = ((100L - dampPct) * initRank) / 100L
    val baseCol = when(col("graft_seed"), lit(base)).otherwise(lit(0L))

    var ranks = nodesP.select(col("id"),
      when(col("graft_seed"), lit(initRank)).otherwise(lit(0L)).as("rank_fp"))
    var iter = 1
    while (iter <= iterations) {
      val shareExpr =
        if (weightCol == null) expr("rank_fp div graft_deg")
        // exact ⌊rank·w / W⌋ without overflow: (rank div W)·w + ((rank mod W)·w) div W
        else expr("(rank_fp div graft_deg) * graft_w" +
          " + ((rank_fp % graft_deg) * graft_w) div graft_deg")
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("id", "graft_rid"),
          col("src") === col("graft_rid"))
        .select(col("dst").as("id"), shareExpr.as("graft_share"))
        .groupBy("id").agg(sum("graft_share").as("graft_contrib"))
      val next = nodesP.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (baseCol +
            expr(s"${dampPct}L * coalesce(graft_contrib, 0L) div 100L")).as("rank_fp"))
      if (tolFp > 0L) {
        // the delta read forces materialization anyway, so checkpoint every
        // converging iteration — the join below then reuses it, not the plan
        val nextP = next.localCheckpoint(true)
        val delta = nextP
          .join(ranks.withColumnRenamed("rank_fp", "graft_prev"), Seq("id"), "left")
          .agg(sum(abs(col("rank_fp") - coalesce(col("graft_prev"), lit(0L)))))
          .head().getLong(0)
        ranks = nextP
        if (delta <= tolFp) return ranks
      } else {
        ranks = if (iter % checkpointInterval == 0 || iter == iterations)
          next.localCheckpoint(true) else next
      }
      iter += 1
    }
    ranks
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999) in the same EXACT-integer
   * fixed-point contract as [[pageRankFixed]]: auth'(v) = Σ_{u→v} hub(u),
   * hub'(u) = Σ_{u→v} auth'(v), each sum re-normalized every half-step by
   * the INTEGER divisor `(max div scale) + 1` — values stay ≤ scale, every
   * operation is a long, so ranks are bit-identical under any partitioning
   * and the SQL oracle unrolls the iterations verbatim. (Classic HITS
   * normalizes by the L2 norm; any positive normalizer preserves the
   * ranking fixpoint, and the integer form keeps the exactness contract.)
   *
   * Plan per iteration: two shuffle-joins of the (id, score) frame against
   * the ONE checkpointed edge exchange + two single-row max aggregates
   * broadcast back — no collect, no window. Overflow bound: in-degree ×
   * scale must stay under 2⁶³ (default scale 10⁹ leaves room for 9×10⁹
   * incident edges per node). Returns (id, hub_fp, auth_fp).
   */
  def hitsFixed(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      iterations: Int = 3, scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in 1..100, got $iterations")
    require(scale >= 1000000L, s"scale must be >= 1e6, got $scale")
    val e = edges.select(srcCol.as("src"), dstCol.as("dst")).localCheckpoint(true)

    // Zero scores contribute nothing to either half-step sum, so the
    // ITERATION frames carry only nodes with a nonzero raw sum — the full
    // node universe (with its zeros) joins back once at the END. Saves a
    // node-universe left-join per half-step and the eager materialization
    // of the node set.
    // integer max-normalization: divisor (max div scale)+1 caps scores at
    // scale without the scale× multiply that would overflow a long.
    // r19 opt: each half-step CHECKPOINTS its raw sums with the max as an
    // observed metric, and the divisor becomes a literal — one eager job
    // per half-step, replacing the broadcast-max-agg job (which re-ran
    // the half-step join once more to build the one-row broadcast) and
    // the un-checkpointed auth recompute inside the hub half-step. Same
    // integer division on the same max → bit-identical scores.
    def normalized(raw: DataFrame): DataFrame = {
      val obs = org.apache.spark.sql.Observation()
      val p = raw.observe(obs, max(col("graft_raw")).as("graft_max"))
        .localCheckpoint(true)
      val mx = Observed.long(obs, "graft_max") {
        p.agg(coalesce(max(col("graft_raw")), lit(0L))).head().getLong(0)
      }
      p.select(col("id"),
        expr("graft_raw div " + (mx / scale + 1L) + "L").as("graft_score"))
    }

    var hubs = e.select(col("src").as("id")).distinct()
      .select(col("id"), lit(scale).as("graft_score"))
    var auths: DataFrame = null
    var iter = 1
    while (iter <= iterations) {
      val authRaw = e.join(hubs.withColumnRenamed("id", "graft_hid"),
          col("src") === col("graft_hid"))
        .groupBy(col("dst").as("id")).agg(sum(col("graft_score")).as("graft_raw"))
      auths = normalized(authRaw)
      val hubRaw = e.join(auths.withColumnRenamed("id", "graft_aid"),
          col("dst") === col("graft_aid"))
        .groupBy(col("src").as("id")).agg(sum(col("graft_score")).as("graft_raw"))
      hubs = normalized(hubRaw)
      iter += 1
    }
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    nodes
      .join(hubs.withColumnRenamed("graft_score", "hub_fp"), Seq("id"), "left")
      .join(auths.withColumnRenamed("graft_score", "auth_fp"), Seq("id"), "left")
      .select(col("id"), coalesce(col("hub_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("auth_fp"), lit(0L)).as("auth_fp"))
  }

  /** (src_host, dst_host) edges from raw crawl pages: the page's own host
   * ([[Text.urlHost]] of `urlCol`) → the host of every outlink the REAL
   * parser finds in `htmlCol` ([[Text.htmlLinks]] — script/comment decoys
   * skipped). Relative links (no scheme → empty host) and self-links drop;
   * parallel edges are KEPT (a page linking a host twice weights it twice —
   * PageRank's multigraph semantics). Feed straight into
   * [[pageRankFixed]]: one narrow codegen'd pass + explode, no shuffle. */
  def hostEdges(df: DataFrame, urlCol: Column, htmlCol: Column): DataFrame = {
    import org.apache.spark.sql.functions.explode
    df.select(Text.urlHost(urlCol).as("src"),
        explode(Text.htmlLinks(htmlCol)).as("graft_link"))
      .select(col("src"), Text.urlHost(col("graft_link")).as("dst"))
      .where(col("dst") =!= lit("") && col("src") =!= col("dst"))
  }

  /** Live host-edge intake: each micro-batch of raw pages (url, html) runs
   * the same [[hostEdges]] parse and lands its edges under
   * `path/batch=<epochId>` with overwrite — the epoch id is stable across
   * micro-batch RETRIES, so a replayed batch overwrites itself instead of
   * double-counting edge weights (which would shift ranks). Rank itself is
   * a global fixpoint, so it is NOT maintained per-row; recompute on a
   * cadence with [[rankEdgeTable]] over the accumulated table. The
   * per-batch work is the stream-friendly part: one codegen'd parse +
   * explode, no shuffle, O(batch) write. */
  def streamingHostEdges(
      stream: DataFrame, urlCol: Column, htmlCol: Column,
      path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          epochId: Long) =>
        if (!batch.isEmpty)
          hostEdges(batch.toDF(), urlCol, htmlCol)
            .write.mode("overwrite").parquet(s"$path/batch=$epochId")
      }
      .start()

  /** The accumulated edge table a [[streamingHostEdges]] intake wrote. */
  def edgeTable(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("src"), col("dst"))

  /** [[pageRankFixed]] over an accumulated edge table — the batch rank
   * refresh paired with a streaming intake. */
  def rankEdgeTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      iterations: Int = 3, tolFp: Long = 0L): DataFrame =
    pageRankFixed(edgeTable(spark, path), col("src"), col("dst"),
      iterations = iterations, tolFp = tolFp)

  /**
   * Connected components — the generic grouping primitive behind
   * mirror-site clusters, link families and any "these belong together"
   * analysis (the near-dup pipeline embeds a specialized copy over its
   * pair graph; this is the standalone operator over arbitrary edges).
   * Min-label propagation to a fixpoint: every node starts as its own
   * label, each iteration takes the min of its own and its neighbors'
   * labels over the UNDIRECTED edge set, and the loop stops when an exact
   * changed-row count reaches zero — convergence in graph-diameter
   * iterations, each one shuffle-join + one combining min. Labels are the
   * natural ordering's minimum (numeric min for numeric ids, lexicographic
   * for host strings), so components are deterministic. Returns (id,
   * component). Label frames checkpoint every iteration (the convergence
   * count materializes them anyway), keeping the iterative plan flat.
   */
  def connectedComponents(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      nodes: DataFrame = null, nodeIdCol: Column = null,
      maxIterations: Int = 50): DataFrame = {
    val directed = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val und = undirected(directed)
    val nodeUniverse =
      if (nodes == null)
        und.select(col("src").as("id")).distinct()
      else nodes.select(nodeIdCol.as("id")).distinct()
    ccLoop(und, nodeUniverse.withColumn("component", col("id")), maxIterations)
  }

  /**
   * WARM-START connected components — the incremental-growth shape: a new
   * crawl adds edges to a graph whose components are already computed, and
   * re-converging from the PREVIOUS labels takes iterations proportional
   * to how far the new edges move labels (usually 1–2), not to the whole
   * graph's diameter. `prevLabels` is a (id, component) frame (a previous
   * run's output, typically read back from the stats table); nodes new to
   * the universe start as their own label. Correctness does NOT depend on
   * the warm start — min-label propagation converges to the same fixpoint
   * from any initialization whose labels are existing node ids, and the
   * warm labels are exactly that (spec-pinned warm == cold). Pass the
   * FULL edge set (old ∪ new): merging two previously-separate components
   * must propagate through old edges too.
   */
  def connectedComponentsFrom(
      prevLabels: DataFrame, edges: DataFrame, srcCol: Column, dstCol: Column,
      maxIterations: Int = 50): DataFrame = {
    val directed = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val und = undirected(directed)
    val universe = und.select(col("src").as("id")).distinct()
      .unionAll(prevLabels.select(col("id"))).distinct()
    val init = universe
      .join(prevLabels.withColumnRenamed("component", "graft_prev"), Seq("id"), "left")
      .select(col("id"), coalesce(col("graft_prev"), col("id")).as("component"))
    ccLoop(und, init, maxIterations)
  }

  /**
   * Multi-source BFS hop distance from a seed set: (id, dist) for every
   * node reachable within `maxHops` directed hops (pass the reversed edge
   * set too for undirected reach). The TrustRank companion diagnostic —
   * "how many hops separate this node from the trusted core" — and the
   * general reachability-layer report (crawl frontier depth, escalation
   * radius). Exact: dist is the true minimum hop count, a pure function
   * of the edge set.
   *
   * Scale shape: one edge-keyed shuffle join per hop, and the join's
   * probe side is only the FRONTIER (nodes first reached last hop), which
   * shrinks as the wave settles; settled nodes never re-enter
   * (anti-join). Frames checkpoint per hop so the plan stays flat across
   * iterations, exactly like the CC/PageRank loops.
   */
  def seedDistances(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      seeds: DataFrame, seedIdCol: Column, maxHops: Int = 10): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e = edges.select(srcCol.as("src"), dstCol.as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var dist = seeds.select(seedIdCol.as("id")).distinct()
      .withColumn("dist", lit(0)).localCheckpoint(true)
    var frontier = dist
    var hop = 1
    var advancing = true
    while (advancing && hop <= maxHops) {
      // ONE eager job per hop (r19 opt, was three): the emptiness check
      // rides the checkpoint as an observed count, and the settled set
      // stays a LAZY union of the per-hop checkpointed frontiers (each
      // member is a flat RDD scan, so the anti-join's plan stays shallow
      // — maxHops scans, no quadratic recompute)
      val obs = org.apache.spark.sql.Observation()
      val next = frontier.select(col("id").as("src"))
        .join(e, Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .withColumn("dist", lit(hop))
        .observe(obs, count(lit(1)).as("graft_n"))
        .localCheckpoint(true)
      val n = Observed.long(obs, "graft_n")(next.count())
      if (n == 0L) advancing = false
      else {
        dist = dist.unionAll(next)
        frontier = next
      }
      hop += 1
    }
    dist
  }

  /**
   * Exact per-node triangle counts — the local clustering signal link-spam
   * analysis leans on (organic neighborhoods close triangles; link farms
   * are stars and rings that don't). Returns (id, triangles) for every
   * node on an edge.
   *
   * Degree-ordered orientation (the standard arboricity trick): every
   * undirected edge points from the (degree, id)-smaller endpoint to the
   * larger, making out-degrees O(√m) on ANY graph — so the wedge join
   * (pairs of out-neighbors of one node) is bounded by Σ outdeg² ≈ m^1.5
   * worst-case instead of the hub-degree² a naive neighbor join pays.
   * Each triangle is found exactly once (its orientation-minimal vertex
   * owns it) and credited to all three corners via one explode.
   */
  def triangleCounts(
      edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val und = undirected(edges.select(srcCol.as("src"), dstCol.as("dst")))
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("graft_d"))
    // orient by (degree, id): keep edges where src ≺ dst in that order
    val oriented = und
      .join(deg.select(col("id").as("src"), col("graft_d").as("graft_ds")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("graft_d").as("graft_dd")), Seq("dst"))
      .where(struct(col("graft_ds"), col("src")) < struct(col("graft_dd"), col("dst")))
      .select(col("src"), col("dst"), col("graft_dd"))
      .localCheckpoint(true)
    val wedges = oriented.as("a").join(oriented.as("b"),
        col("a.src") === col("b.src") &&
          (struct(col("a.graft_dd"), col("a.dst")) <
            struct(col("b.graft_dd"), col("b.dst"))))
      .select(col("a.src").as("graft_u"), col("a.dst").as("graft_v"),
        col("b.dst").as("graft_w"))
    val tris = wedges.join(oriented.select(col("src").as("graft_v"),
        col("dst").as("graft_w")), Seq("graft_v", "graft_w"), "leftsemi")
    tris.select(explode(array(col("graft_u"), col("graft_v"), col("graft_w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
  }

  /**
   * k-core decomposition by iterative peeling: the maximal subgraph in
   * which every node keeps at least k (undirected) neighbors — the
   * robust "dense community" membership that degree alone fakes (a star
   * center has high degree and no 2-core). Link-farm cores and organic
   * community cores separate on exactly this. Returns the surviving
   * (id, core_degree) rows; an empty frame means no k-core exists.
   *
   * Each round drops sub-k nodes and recounts — the peel converges in at
   * most |V| rounds but in practice tens; each round is one semi-join +
   * one count aggregate over the CHECKPOINTED remaining edges (plan stays
   * flat, lineage never grows). The result is the unique maximal k-core,
   * independent of peel order — partitioning cannot change it.
   */
  def kCore(
      edges: DataFrame, srcCol: Column, dstCol: Column, k: Int,
      maxIterations: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    var und = undirected(edges.select(srcCol.as("src"), dstCol.as("dst")))
    var iter = 0
    var stable = false
    // TWO eager jobs per round (r19 opt, was six): the below-k and
    // node-count statistics ride each degree checkpoint as observed
    // metrics; keep's count is recovered from the PREVIOUS round's pair
    // (keep = nodes - below, exactly the `core_degree >= k` filter), so
    // the separate keep checkpoint, isEmpty probe and two counts all fold
    // away. keep itself stays a lazy filter over the checkpointed degrees
    // (its two semi-join uses re-filter a materialized frame — no
    // recompute depth).
    def degObserved(grouped: DataFrame): (DataFrame, Long, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val d = grouped
        .observe(obs,
          sum(when(col("core_degree") < k, 1L).otherwise(0L)).as("graft_below"),
          count(lit(1)).as("graft_nodes"))
        .localCheckpoint(true)
      val Seq(below, nodes) = Observed.longs(obs, "graft_below", "graft_nodes") {
        val r = d.agg(
          coalesce(sum(when(col("core_degree") < k, 1L).otherwise(0L)), lit(0L)),
          count(lit(1))).head()
        Seq(r.getLong(0), r.getLong(1))
      }
      (d, below, nodes)
    }
    var (deg, below, nodes) = degObserved(
      und.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree")))
    while (!stable && iter < maxIterations) {
      val keepCount = nodes - below
      val keep = deg.where(col("core_degree") >= k).select(col("id"))
      val pruned = und
        .join(keep.select(col("id").as("src")), Seq("src"), "leftsemi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "leftsemi")
        .localCheckpoint(true)
      val (nextDeg, nextBelow, nextNodes) = degObserved(
        pruned.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree")))
      // converged when no node fell below k this round
      stable = nextBelow == 0L && keepCount == nextNodes
      und = pruned
      deg = nextDeg
      below = nextBelow
      nodes = nextNodes
      iter += 1
    }
    deg.where(col("core_degree") >= k)
  }

  /** Local clustering coefficients from [[triangleCounts]]: per node,
   * (id, degree, triangles, coeff_ppm) with coeff = triangles /
   * C(degree, 2) in integer ppm (degree-1 nodes report 0 against a null
   * guard). The per-node closure number behind the graph-level spam
   * signals: link farms sit near 0, organic neighborhoods far above. */
  def clusteringCoefficients(
      edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val und = undirected(edges.select(srcCol.as("src"), dstCol.as("dst")))
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(edges, srcCol, dstCol), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        expr("coalesce(triangles, 0L) * 2000000L div nullif(degree * (degree - 1), 0L)")
          .as("coeff_ppm"))
      .withColumn("coeff_ppm", coalesce(col("coeff_ppm"), lit(0L)))
  }

  private def undirected(directed: DataFrame): DataFrame =
    directed.unionAll(directed.select(col("dst"), col("src")))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)

  private def ccLoop(
      und: DataFrame, labels0: DataFrame, maxIterations: Int): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    var labels = labels0.localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIterations) {
      val neighborMin = und
        .join(labels.select(col("id").as("src"), col("component")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("component")).as("graft_nmin"))
      // ONE eager job per iteration: the convergence count rides the
      // checkpoint materialization as an observed metric instead of a
      // second pass over the checkpointed frame (r19 opt — the fixpoint
      // queries are job-count bound at the gate SF, ~2 jobs/round before)
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), col("graft_nmin")).as("component"),
          (col("graft_nmin") < col("component")).as("graft_changed"))
        .observe(obs, sum(when(col("graft_changed"), 1L).otherwise(0L)).as("graft_n"))
        .localCheckpoint(true)
      changed = Observed.long(obs, "graft_n") {
        next.agg(coalesce(sum(when(col("graft_changed"), 1L).otherwise(0L)),
          lit(0L))).head().getLong(0)
      }
      labels = next.select(col("id"), col("component"))
      iter += 1
    }
    labels
  }

  /**
   * Reciprocal-link ratio per host — the link-exchange spam signal: of a
   * host's DISTINCT outgoing neighbors, what fraction links back?
   * Organic linking is largely one-directional; paid link exchanges and
   * ring schemes reciprocate heavily, so curation demotes hosts with
   * ratios near 1 (used alongside [[trustRankFixed]], which such rings
   * cannot fake either). Returns (host, out_hosts, reciprocal, ratio_ppm)
   * with the ratio in exact parts-per-million (`reciprocal * 1e6 div
   * out_hosts` — integer, oracle-reproducible). Plan: one distinct on the
   * edge pair, one self-semi-join on the reversed pair (both sides hash
   * on (src,dst) — linear, no fan-out), two combining counts.
   */
  def reciprocalLinkRatio(
      edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val e = edges.select(srcCol.as("src"), dstCol.as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val back = e.select(col("dst").as("src"), col("src").as("dst"))
    val recip = e.join(back, Seq("src", "dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("reciprocal"))
    e.groupBy("src").agg(count(lit(1)).as("out_hosts"))
      .join(recip, Seq("src"), "left")
      .select(col("src").as("host"), col("out_hosts"),
        coalesce(col("reciprocal"), lit(0L)).as("reciprocal"),
        expr("coalesce(reciprocal, 0L) * 1000000L div out_hosts").as("ratio_ppm"))
  }

  /**
   * Co-citation counts — "related hosts": pairs of hosts that the same
   * source links together, the classic bibliographic-coupling similarity
   * (Small 1973) that needs no content at all. Pair fan-out is outdeg²
   * per source, so sources with more than `maxOutDeg` distinct targets
   * are DROPPED before pairing (directory/link-farm pages that would
   * dominate the join while carrying no similarity signal — the same
   * fan-out bound the containment join places on ubiquitous shingles);
   * Σ outdeg² is then ≤ maxOutDeg · |E|. Pairs are canonical (a < b) so
   * each co-citation counts once; `minCount` cuts the long noise tail at
   * the aggregate's output. Returns (host_a, host_b, cocites).
   */
  def coCitations(
      edges: DataFrame, srcCol: Column, dstCol: Column,
      maxOutDeg: Int = 100, minCount: Long = 2L): DataFrame = {
    require(maxOutDeg >= 2, s"maxOutDeg must be >= 2, got $maxOutDeg")
    val e = edges.select(srcCol.as("src"), dstCol.as("dst")).distinct()
    val keptSrc = e.groupBy("src").agg(count(lit(1)).as("graft_d"))
      .where(col("graft_d") <= maxOutDeg).select(col("src"))
    val kept = e.join(keptSrc, Seq("src"), "left_semi")
    kept.as("a").join(kept.as("b"), col("a.src") === col("b.src"))
      .where(col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("host_a"), col("b.dst").as("host_b"))
      .agg(count(lit(1)).as("cocites"))
      .where(col("cocites") >= minCount)
  }

  /**
   * The host quality table — one row per host with the signals this
   * module computes, joined: (host, rank_fp, out_hosts, reciprocal,
   * ratio_ppm, in_links[, trust_fp when seeds are given]). This is the
   * ARTIFACT a curation pipeline consumes: join it to documents on
   * [[Text.urlHost]] and gate/weight on the columns. Pages are parsed
   * ONCE (the edge frame is checkpointed and every signal reads it);
   * hosts that only ever appear as link targets still get a row (they
   * have rank and in-links but no outgoing profile — degrees coalesce
   * to 0).
   */
  def hostProfile(
      pages: DataFrame, urlCol: Column, htmlCol: Column,
      seeds: DataFrame = null, seedHostCol: Column = null,
      iterations: Int = 3): DataFrame = {
    val edges = hostEdges(pages, urlCol, htmlCol).localCheckpoint(true)
    val ranks = pageRankFixed(edges, col("src"), col("dst"), iterations = iterations)
      .select(col("id").as("host"), col("rank_fp"))
    val recip = reciprocalLinkRatio(edges, col("src"), col("dst"))
    val inLinks = edges.groupBy(col("dst").as("host"))
      .agg(count(lit(1)).as("in_links"))
    val base = ranks
      .join(recip, Seq("host"), "left")
      .join(inLinks, Seq("host"), "left")
      .select(col("host"), col("rank_fp"),
        coalesce(col("out_hosts"), lit(0L)).as("out_hosts"),
        coalesce(col("reciprocal"), lit(0L)).as("reciprocal"),
        coalesce(col("ratio_ppm"), lit(0L)).as("ratio_ppm"),
        coalesce(col("in_links"), lit(0L)).as("in_links"))
    if (seeds == null) base
    else base.join(
      trustRankFixed(edges, col("src"), col("dst"), seeds, seedHostCol,
          iterations = iterations)
        .select(col("id").as("host"), col("rank_fp").as("trust_fp")),
      Seq("host"), "left")
  }

  /** Anchor-term profile per TARGET host — what the rest of the web calls
   * a host ([[Text.htmlAnchors]]), the classic host-description/relevance
   * signal next to its rank: (host, term, cnt), lowercased whitespace
   * terms. One codegen'd parse + two explodes (no shuffle), then a single
   * map-side-combining count keyed by (host, term). */
  def anchorTerms(df: DataFrame, htmlCol: Column): DataFrame =
    df.select(explode(Text.htmlAnchors(htmlCol)).as("graft_a"))
      .select(Text.urlHost(col("graft_a.href")).as("host"),
        explode(split(trim(lower(col("graft_a.anchor"))), "\\s+")).as("term"))
      .where(col("host") =!= lit("") && col("term") =!= lit(""))
      .groupBy(col("host"), col("term")).agg(count(lit(1)).as("cnt"))
}
