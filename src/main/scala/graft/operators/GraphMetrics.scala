package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over the materialized entity graph — the step after
  * triple emission in a KG pipeline: entity importance (PageRank) feeds
  * canonical-entity selection and downstream ranking, degree centrality
  * feeds hub/leaf pruning. Complements Linking's connected components
  * (which answer "same entity?"; these answer "which entity matters?").
  *
  * Execution model (the north-star shape): Pregel-style iterative
  * DataFrame joins — each superstep is one edge-to-rank equi-join plus one
  * aggregation on the destination key, with the rank frame checkpointed
  * per superstep to truncate lineage (localCheckpoint here; on a real
  * cluster a checkpoint TABLE — PipelineMain's stage tables — replaces it,
  * non-replicated executor storage being the documented trade-off).
  * Per-superstep cost at 10^12 edges: one shuffle of the node-scale rank
  * frame onto the edge partitioning + one edge-scale partial-aggregated
  * shuffle onto dst — no fact×fact blowup, and the edge-weight frame is
  * computed once outside the loop.
  *
  * PageRank variant: the classic damped, unnormalized form
  *   r_0(v) = 1,  r_{t+1}(v) = (1-d) + d * Σ_{(u,v)∈E} r_t(u) / outdeg(u)
  * (dangling-node mass evaporates rather than redistributing — the usual
  * DataFrame-PageRank simplification; deterministic and locally checkable).
  */
object GraphMetrics {

  /** In/out degree per node over an edge table (src, dst). One groupBy
    * per direction + a node-scale outer join; coalesced zeros so pure
    * sources/sinks keep a row.
    */
  def degrees(edges: DataFrame): DataFrame = {
    // same null-endpoint contract as pageRank/minHops/randomWalks: a
    // null src/dst is not an edge (and the full-outer join could never
    // reunite the two null-keyed groups anyway)
    val e = edges
      .where(col("src").isNotNull && col("dst").isNotNull)
    val out = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Production PageRank: double arithmetic, any out-degree, any damping.
    * Bit-level result depends on float summation order (as every
    * distributed double aggregation does) — stable to ~1e-12; use
    * [[pageRankExact]] where a value-exact cross-run/cross-engine result
    * is the requirement.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 1, seeds: Option[DataFrame] = None): DataFrame =
    run(edges, iters, checkpointEvery,
      init = lit(1.0),
      base = lit(1.0 - damping),
      weightTimesD = od => lit(damping) / od,
      castBack = identity,
      seeds = seeds)
    .select(col("node"), col("rank"))

  /** Audit-grade PageRank: all arithmetic in DECIMAL with a scale budget
    * sized so NO operation ever rounds, making the result a pure exact
    * function of the graph — identical across partitionings, retries,
    * engines (the q76 DuckDB twin recomputes it value-exact), and days.
    *
    * The budget: weights and damping are 2-dp decimals, so each superstep
    * adds at most 4 decimal places to the true value; DECIMAL(30,20) rank
    * carry (intermediates adjust to scale 22 under Spark's precision cap)
    * holds that exactly for up to 5 supersteps — hence the requires.
    * Out-degrees must divide 100 (exact 2-dp reciprocals); others raise.
    *
    * The rank column stays DECIMAL(30,20): a final cast to double would
    * re-introduce engine variance — DuckDB's wide-decimal→double cast is
    * not correctly rounded (measured one ulp off Spark's BigDecimal cast
    * at scale 20), and one ulp is exactly what "value-exact" forbids.
    */
  def pageRankExact(edges: DataFrame, iters: Int,
      checkpointEvery: Int = 1, seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 5,
      s"exact mode's decimal scale budget covers 1..5 supersteps: $iters")
    def dec(s: String): Column = lit(new java.math.BigDecimal(s))
    val wd: Column => Column = od =>
      Seq(1, 2, 4, 5, 10, 20, 25, 50, 100).foldLeft(Option.empty[Column]) {
        case (acc, n) =>
          val w = dec(new java.math.BigDecimal(100 / n)
            .movePointLeft(2).toPlainString) * dec("0.85")
          Some(acc.fold(when(od === n, w))(_.when(od === n, w)))
      }.get.otherwise(raise_error(concat(
        lit("pageRankExact requires out-degrees dividing 100, got "),
        od.cast("string"))))
    run(edges, iters, checkpointEvery,
      init = dec("1.0"),
      base = dec("0.15"),
      weightTimesD = wd,
      castBack = _.cast(DecimalType(30, 20)),
      seeds = seeds)
    .select(col("node"), col("rank"))
  }

  /** PERSONALIZED PageRank, exact mode — the related-entity retrieval
    * measure: init mass and teleport base live ONLY on the seed set, so
    * rank flows outward from the seeds and nodes unreachable from them
    * sit at exactly zero. Same no-rounding decimal budget as
    * [[pageRankExact]] (seeding only swaps constants for seed-gated
    * CASEs, which cannot add scale), so the q92 DuckDB twin replays the
    * supersteps value-exact. With seeds = all nodes this IS
    * pageRankExact — spec-pinned.
    */
  def personalizedPageRankExact(edges: DataFrame, seeds: DataFrame,
      iters: Int, checkpointEvery: Int = 1): DataFrame =
    pageRankExact(edges, iters, checkpointEvery, seeds = Some(seeds))

  /** Canonical cross-engine emission for exact-decimal ranks: BIGINT
    * micro-units at scale 15, `rank_fp = rank × 10^15`. DECIMAL(30,20)
    * values that are numerically equal still SERIALIZE differently
    * across engines (Spark's Decimal wire form vs DuckDB's widened
    * decimal), so a hash over the representation disagrees even when a
    * value compare passes. An integer has exactly one representation.
    *
    * Exactness: [[pageRankExact]]'s budget means the true scale after
    * k supersteps is 1 + 4k ≤ 13 decimal places (weights are scale-4,
    * sums add no scale), so the narrowing cast to DECIMAL(19,15) and the
    * 10^15 shift never round — `rank_fp` is the exact rank, shifted.
    * Precision: rank < 0.15 + 0.85·Σmass ≤ 10^4 for any graph under
    * ~10^4 nodes of unit init mass, so 4 integer digits suffice and the
    * product DECIMAL(19,15)×DECIMAL(16,0) = DECIMAL(36,15) stays under
    * Spark's 38-digit cap (never silently rescaled).
    */
  def rankFp15(ranks: DataFrame): DataFrame =
    ranks.select(col("node"),
      (col("rank").cast(DecimalType(19, 15)) *
        lit(java.math.BigDecimal.TEN.pow(15))).cast("long").as("rank_fp"))

  /** Multi-source BFS: minimum hop count from any seed node, one frontier
    * superstep per hop — frontier ⋈ edges, anti-join against everything
    * already labeled, checkpoint, repeat; stops early when the frontier
    * drains (the per-superstep emptiness check is one count job, the
    * standard driver-coordinated-BFS cost). Unreachable nodes get no row.
    * All-integer output, so the result is exact across engines — the q79
    * DuckDB twin recomputes it as a recursive CTE. Frontier and labeled
    * sets are node-scale; the per-superstep join is frontier × out-edges,
    * never fact×fact.
    */
  def minHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    var dist = seeds.select(col("node")).where(col("node").isNotNull)
      .distinct().withColumn("hops", lit(0)).localCheckpoint()
    var frontier = dist
    var h = 1
    var drained = false
    while (h <= maxHops && !drained) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint()
      drained = next.isEmpty
      if (!drained) { dist = dist.unionAll(next).localCheckpoint(); frontier = next }
      h += 1
    }
    dist
  }

  /** Incremental view maintenance for [[degrees]]: fold a CHANGE FEED of
    * edge rows (VersionedTable.readChangeFeed shape — `src`, `dst`,
    * `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage) into a previously materialized degree frame.
    * Inserts and post-images count +1, deletes and pre-images −1; nodes
    * whose both degrees reach zero drop out, so the result equals
    * [[degrees]] recomputed over the new table state — at O(|changes|)
    * work plus one node-scale outer join, never O(table). An unknown
    * change type fails the job loudly (a silently skipped delta would
    * corrupt every downstream read of the maintained view). Caller
    * contract: the feed actually follows `prev` (a delete of an edge the
    * view never saw would drive a degree negative, as it would any IVM).
    */
  def applyDegreeChanges(prev: DataFrame, changes: DataFrame): DataFrame = {
    val sgn = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
      .otherwise(raise_error(concat(
        lit("applyDegreeChanges: unknown _change_type "),
        col("_change_type"))))
    val signed = changes
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"), sgn.as("sgn"))
    val dOut = signed.groupBy(col("src").as("node"))
      .agg(sum(col("sgn")).as("d_out"))
    val dIn = signed.groupBy(col("dst").as("node"))
      .agg(sum(col("sgn")).as("d_in"))
    prev
      .join(dOut.join(dIn, Seq("node"), "full_outer"), Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("out_deg"), lit(0L)) + coalesce(col("d_out"), lit(0L)))
          .as("out_deg"),
        (coalesce(col("in_deg"), lit(0L)) + coalesce(col("d_in"), lit(0L)))
          .as("in_deg"))
      .where(col("out_deg") =!= 0L || col("in_deg") =!= 0L)
  }

  /** Bounded Bellman-Ford: per node, the MINIMUM total weight over paths
    * of at most `maxIters` edges from any seed (integer weights ⇒ the
    * result is exact and engine-independent; nodes unreachable within the
    * bound are absent). Each superstep is one edge-scale relaxation join
    * plus one node-scale min — the same shuffle shape as a PageRank
    * superstep — and dist_k = min(dist_{k-1}, relax(dist_{k-1})) by
    * construction, so after k supersteps the frame IS the ≤k-edge
    * optimum (the property a recursive-CTE twin can replay).
    * Caller contract: weights are non-negative (with the hop bound a
    * negative weight would make "shortest within k hops" diverge from
    * the fixed point a caller expects); null endpoints/weights are not
    * edges.
    */
  def minCost(edges: DataFrame, seeds: DataFrame, maxIters: Int): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("w").isNotNull)
    var dist = seeds.select(col("node")).where(col("node").isNotNull)
      .distinct().withColumn("cost", lit(0L)).localCheckpoint()
    for (_ <- 1 to maxIters) {
      val relax = dist.join(e, dist("node") === e("src"))
        .select(e("dst").as("node"), (dist("cost") + e("w")).as("cost"))
      dist = dist.unionAll(relax)
        .groupBy("node").agg(min("cost").as("cost"))
        .localCheckpoint()
    }
    dist
  }

  /** Synchronous label-propagation community detection over the
    * UNDIRECTED view of the edge table: every node starts labeled with
    * itself; each superstep every node adopts the most frequent label
    * among its neighbors, ties broken by smallest label — so the result
    * after a fixed `iters` is a PURE function of the graph (no
    * async-update order, no randomness), replayable superstep-for-
    * superstep by any engine. Communities group entity mentions whose
    * relatedness neighborhoods agree — the coarse-grained complement to
    * Linking's connected components (which need an explicit similarity
    * edge for every merge).
    *
    * Superstep cost at 10^12 edges: one node-scale label shuffle onto the
    * edge partitioning, one edge-scale (dst, label) partial-aggregated
    * count, one node-scale argmax — same shape as a PageRank superstep,
    * labels checkpointed per round.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    // bidirectional union ⇒ every endpoint appears as a src
    val nodes = und.select(col("src").as("node")).distinct().localCheckpoint()
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val votes = und.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val winner = votes.groupBy("node")
        .agg(min(struct((-col("cnt")).as("neg"), col("label").as("l"))).as("w"))
        .select(col("node"), col("w.l").as("label"))
      // left join + keep-own-label: guards a node with no in-votes (can't
      // happen under the bidirectional union, but the contract shouldn't
      // depend on it)
      labels = nodes.join(winner, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** Per-node triangle counts over an UNDIRECTED graph — the clustering-
    * coefficient numerator, the standard cohesion signal over relatedness
    * edges (a skill/entity whose neighbors also co-occur with each other
    * is a topic core; one whose neighbors don't is a hub artifact).
    *
    * Degree-ordered orientation (each undirected edge directed from its
    * lower (degree, node) endpoint): every triangle is counted exactly
    * once at its lowest-order corner, and — the scale property — the
    * wedge-join fanout per node is bounded by its ORIENTED out-degree,
    * ≤ O(√m) on any graph, so a celebrity hub never produces a
    * quadratic wedge set (the lexicographic orientation it replaces has
    * no such bound). Wedges then semi-join the canonical edge set.
    * All-integer and deterministic → q86's DuckDB twin mirrors the
    * orientation, wedge join and count value-exact.
    */
  /** Canonical undirected edge set: nulls and self-loops dropped,
    * endpoints ordered a < b, deduped, eagerly materialized (each caller
    * references it several times; localCheckpoint is GC-managed, unlike
    * a leaked cache()). One definition so triangles/commonNeighbors can
    * never drift on the canonicalization invariant.
    */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint()

  def triangles(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val lowerFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
      when(lowerFirst, col("a")).otherwise(col("b")).as("src"),
      when(lowerFirst, col("b")).otherwise(col("a")).as("dst"))
    val wedges = o.as("x").join(o.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("u"), col("x.dst").as("v"),
        col("y.dst").as("w"))
    val tri = wedges.join(und,
      least(col("v"), col("w")) === col("a") &&
      greatest(col("v"), col("w")) === col("b"))
    tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Link-prediction candidates — KG completion's first move: NON-adjacent
    * node pairs ranked by common-neighbor count (the classic
    * common-neighbors score; integer, so exact cross-engine — q87).
    * Wedge pairs are generated per center node and the quadratic term is
    * deg(center)², so centers above `hubCap` are excluded from wedge
    * generation (the Cooccur census guard again — a hub connected to
    * everything predicts nothing anyway, it just detonates the shuffle)
    * while still contributing to adjacency for OTHER centers. Existing
    * edges anti-join away; output (node_a < node_b, n_common).
    */
  def commonNeighbors(edges: DataFrame, minCommon: Long = 1L,
      hubCap: Int = 10000): DataFrame = {
    val und = canonicalUndirected(edges)
    val adj = und.select(col("a").as("n"), col("b").as("x"))
      .unionAll(und.select(col("b").as("n"), col("a").as("x")))
    val smallCenters = adj.groupBy("x").agg(count(lit(1)).as("dx"))
      .filter(col("dx") <= hubCap).select("x")
    val capped = adj.join(smallCenters, Seq("x"))
    val pairs = capped.as("p")
      .join(capped.as("q"),
        col("p.x") === col("q.x") && col("p.n") < col("q.n"))
      .groupBy(col("p.n").as("node_a"), col("q.n").as("node_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    pairs.join(und,
      pairs("node_a") === und("a") && pairs("node_b") === und("b"),
      "left_anti")
  }

  /** Deterministic random walks — DeepWalk/node2vec corpus prep over the
    * entity graph: one walk per start node, each step choosing an
    * out-edge by CONTENT HASH (md5 of walk id + step + salt, mod
    * out-degree, onto a dense per-source edge index) instead of RNG
    * state. The walk corpus is therefore a pure function of the graph —
    * stable under repartitioning/retries/engines, and the q84 DuckDB
    * twin replays every step of every walk value-exact (a rand()-stepped
    * walk could never). Walks stop early at sink nodes (the join drops
    * them — the standard termination).
    *
    * Scale: the edge-index window sorts per-source adjacency (bounded by
    * out-degree, never corpus-scale); each step is one frontier ⋈ edges
    * join on the current node with the surviving edge selected by the
    * hash equality — frontier rows stay one-per-walk, so step cost is
    * walks × 1 edge lookup, checkpointed per step like the other
    * supersteps. Output: (walk_id, step, node), step 0 = the start.
    */
  def randomWalks(edges: DataFrame, length: Int,
      salt: String = "graft"): DataFrame = {
    require(length >= 1, s"length must be >= 1: $length")
    val dis = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull).distinct()
    val idx = dis.withColumn("eidx",
      row_number().over(Window.partitionBy(col("src")).orderBy(col("dst")))
        .cast("long") - 1)
    val e = idx.join(idx.groupBy("src").agg(count(lit(1)).as("outdeg")),
      Seq("src")).localCheckpoint()
    val nodes = dis.select(col("src").as("node"))
      .union(dis.select(col("dst").as("node"))).distinct()
    var frontier = nodes
      .select(col("node").as("walk_id"), col("node").as("cur"),
        lit(0).as("step"))
      .localCheckpoint()
    var out = frontier
    for (s <- 1 to length) {
      val draw = Sampling.hash32(concat_ws(":",
        col("walk_id"), lit(s), lit(salt)))
      frontier = frontier.join(e, frontier("cur") === e("src"))
        .where(draw % col("outdeg") === col("eidx"))
        .select(col("walk_id"), e("dst").as("cur"), lit(s).as("step"))
        .localCheckpoint()
      out = out.unionAll(frontier)
    }
    out.select(col("walk_id"), col("step"), col("cur").as("node"))
  }

  /** The shared superstep loop. `weightTimesD(outdeg)` is folded into the
    * edge frame once; each superstep computes
    * rank' = castBack(base + Σ_in rank * wd).
    */
  private def run(edges: DataFrame, iters: Int, checkpointEvery: Int,
      init: Column, base: Column, weightTimesD: Column => Column,
      castBack: Column => Column,
      seeds: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // personalized mode: init/base apply only where _seed; the flag is a
    // plain column so the seed gate stays inside codegen, not a join per
    // superstep
    val nodes = seeds.fold(nodes0.withColumn("_seed", lit(true))) { sd =>
      nodes0.join(sd.select(col("node")).where(col("node").isNotNull)
          .distinct().withColumn("_s", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("_s"), lit(false)).as("_seed"))
    }.cache()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // pin the edge frame to hash(src) BEFORE caching: the per-superstep
    // join's edge side then already satisfies its distribution and only
    // the NODE-scale rank frame crosses the wire each superstep — without
    // this, every superstep re-shuffles all the edges (measured 1.2× on
    // 40M edges, 8→32-core efficiency 0.47 → 0.54 = that host's
    // memory-copy ceiling; BENCH_SCALING.md, GraphScale section)
    val ew = e.join(outdeg, Seq("src"))
      .select(col("src"), col("dst"), weightTimesD(col("outdeg")).as("wd"))
      .repartition(col("src"))
      .cache()
    var ranks = nodes.select(col("node"),
      castBack(when(col("_seed"), init).otherwise(lit(0))).as("rank"))
    for (i <- 1 to iters) {
      val contribs = ew.join(ranks, ew("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") * col("wd")).as("contrib"))
      ranks = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(nodes("node"),
          castBack(when(nodes("_seed"), base).otherwise(lit(0))
            + coalesce(col("contrib"), lit(0))).as("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    // materialize the result, then release the loop's cached frames —
    // without this every pageRank call pins an edge-scale ew + nodes in
    // executor storage for the session lifetime
    val out = ranks.localCheckpoint()
    nodes.unpersist()
    ew.unpersist()
    out
  }
}
