package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge.{fitsBroadcast, measuredCut, measuredRows}
import org.apache.spark.sql.functions._

/** Iterative graph computation on DataFrames — the Pregel-as-relational
  * pattern: one equi-join (ranks onto edges by source) plus one grouped
  * aggregate (contributions by destination) per superstep. All bulk
  * state (edges, contributions, ranks) lives in executors, partitioned
  * by the join key; the per-superstep cost is one edge-sized probe plus
  * one |nodes|-sized aggregate — the unit GraphX/Pregel pays — and the
  * edge frame is cut once and reused by every iteration (no
  * rescans, no exponential plan growth). Every lineage cut is a
  * [[org.apache.spark.sql.GraftBridge.measuredCut]], so Catalyst plans
  * each join from MEASURED sizes: a |nodes|-row state that fits
  * `spark.sql.autoBroadcastJoinThreshold` broadcasts, a larger one
  * shuffle-joins, and no caller picks the strategy.
  */
object Graph {

  /** Hint an in-plan frame that is |state|-sized but estimated as a
    * join product (a contribution sum, a vote) from a MEASURED state
    * with at least its rows and at least its row width: broadcast iff
    * that state fits Spark's own broadcast-by-size rule, so the hint
    * never forces a frame past the threshold. */
  private def broadcastIfFits(state: DataFrame, df: DataFrame): DataFrame =
    if (fitsBroadcast(state)) broadcast(df) else df

  /** The damping factor d of every PageRank form (g1's oracle uses the
    * same 0.85 and writes the teleport constant as 1.0 − d). */
  private val Damping = 0.85
  /** Per-edge contributions (and HITS half-step sums) round to this
    * many places and sum exactly as DECIMAL(38,12). */
  private val SumScale = 12
  /** Ranks (and HITS scores) re-round to this many places. */
  private val ScoreScale = 9

  /** Damped PageRank, fixed iteration count.
    *
    * Determinism contract (the cross-engine replay convention used by
    * every aggregate in this repo): per-edge contributions are doubles
    * rounded to `SumScale` places, summed EXACTLY as DECIMAL(38,12)
    * (decimal addition is associative, so Spark's arbitrary aggregation
    * order cannot produce ulp drift), and the new rank is re-rounded to
    * `ScoreScale` places. Both engines iterate the identical rounded system, so
    * five supersteps stay hash-identical.
    *
    * `edges` must be DIRECTED (src, dst) pairs, pre-deduplicated. The
    * node set is taken from the SOURCE side and is CLOSED: contributions
    * to a destination that never appears as a source are dropped (a
    * semi-join against the node set — that mass leaves the ranked set,
    * exactly like links pointing outside a crawled subgraph), and such
    * destinations are never ranked. Consequently rank mass is conserved
    * iff every destination is also a source — true for any symmetrized
    * graph, as g1's bipartite customer↔supplier union is (and asserted
    * as a property in GraphPropsSpec). Nodes with no IN-edges are
    * retained at the teleport-only rank (1−d)/n each superstep: the
    * contribution sums re-attach to the full node state by a left join
    * (NULL → exact decimal 0), so the state's node set is invariant
    * across supersteps.
    *
    * Join strategy: the rank state is |nodes|-sized — orders of
    * magnitude below |edges| on real graphs — and every iterate is a
    * measured cut, so Catalyst sees its true size. The edge cut is
    * dst-partitioned. While the state fits the broadcast threshold it
    * broadcasts onto that cut: zero per-superstep edge movement, and
    * the contribution aggregate reuses the partitioning, so a
    * superstep runs with NO hash exchange at all (each superstep's
    * broadcast builds collect |nodes|-row frames to the driver —
    * bounded, the e8 bounded-broadcast contract). Past the threshold
    * the planner shuffle-joins the state onto the edges by src, which
    * re-exchanges the edge cut every superstep; no benchmark workload
    * reaches that regime, so its cost is unmeasured. Values are
    * identical either way (PlanSpec, ScaleSpec).
    *
    * `weightCol`: optional LONG edge weight — contributions become
    * rank·w/Σw instead of rank/outdeg (weighted PageRank, e.g. trading
    * volume as influence). Weights must be POSITIVE: non-positive-weight
    * edges are dropped before the graph is formed (a zero weight carries
    * no mass anyway, and a source whose every weight is zero would
    * otherwise divide 0/0 into NaN and throw under ANSI decimal casts —
    * dropping its edges removes the node from the graph instead, the
    * documented contract). With no weight every edge carries weight 1,
    * which reproduces the unweighted arithmetic EXACTLY (x·1.0 ≡ x in
    * IEEE and Σ1 ≡ count), so the generalization cannot perturb
    * unweighted results. Integer weights keep the w/Σw division a
    * single double op both engines replay identically.
    */
  def pageRank(edges: DataFrame, iterations: Int,
      weightCol: Option[String] = None): DataFrame =
    run(edges, weightCol).ranks(iterations)

  /** A PREPARED PageRank system whose iterate prefix is computed once and
    * shared by every consumer — the shared-artifact pattern applied to
    * supersteps themselves. A fixed-count ranking ([[Run.ranks]]), a
    * convergence-stopped ranking ([[Run.converged]]) and a personalized
    * variant ([[Run.personalized]]) over the same edge frame share the
    * prepared (edge ⋈ out-weight ⋈ closed-node-set) frame, and the first
    * two share every common superstep instead of re-deriving identical
    * rounded-system states. At 100 TB that sharing is the difference
    * between k and 2k edge-sized join passes for a workload that asks
    * both "5 supersteps" and "to convergence" of one graph; the cached
    * iterates are |nodes|-sized cuts — bounded state, never a
    * data copy. */
  final class Run private[Graph] (
      edges: DataFrame, weightCol: Option[String]) {
    private val (ewd, init) = prepare(edges, weightCol)
    private val nodes = init.select(col("src"))
    // states(k) = the k-th iterate of the rounded system, a measured cut;
    // states(0) = the uniform initial state
    private val states = scala.collection.mutable.ArrayBuffer[DataFrame](init)

    /** Iterates currently cached (0 = only the initial state) — lets a
      * consumer-routing test prove a query actually walked THIS run's
      * chain rather than building its own. */
    def cachedIterates: Int = synchronized { states.size - 1 }

    /** The k-th CUT iterate (k = 0 is the initial state), computing
      * and caching any missing prefix. */
    def iterate(k: Int): DataFrame = synchronized {
      while (states.size <= k)
        states += measuredCut(superstep(ewd, states.last))
      states(k)
    }

    /** Fixed-iteration ranks ([[Graph.pageRank]] semantics). The FINAL
      * superstep stays raw, off the cached prefix: the consumer's plan
      * IS one superstep (the PlanSpec g1 pin — broadcast rank state,
      * no hash exchange), and a later deeper consumer
      * re-derives from the cached prefix rather than re-paying the
      * whole chain. */
    def ranks(iterations: Int): DataFrame = {
      require(iterations >= 1, "need at least one iteration")
      superstep(ewd, iterate(iterations - 1))
        .select(col("src").as("node"), col("rank"))
    }

    /** Convergence-stopped ranks ([[Graph.pageRankConverged]]
      * semantics). Residuals are measured between consecutive CACHED
      * iterates, so a fixed-count consumer of the same run reuses every
      * superstep this stop rule examined (and vice versa). */
    def converged(maxIterations: Int, epsilon: Double): (DataFrame, Int) = {
      require(maxIterations >= 1, "need at least one iteration")
      require(epsilon > 0.0, "epsilon must be positive")
      var iters = 0
      var done = false
      while (iters < maxIterations && !done) {
        val prev = iterate(iters).select(col("src"), col("rank").as("__prev"))
        val residual = iterate(iters + 1).select(col("src"), col("rank"))
          .join(prev, Seq("src"))
          .agg(sum(abs(col("rank") - col("__prev"))
            .cast("decimal(38,12)")).cast("double").as("d"))
          .head.getDouble(0)
        iters += 1
        done = residual < epsilon
      }
      (iterate(iters).select(col("src").as("node"), col("rank")), iters)
    }

    /** Personalized ranks ([[Graph.personalizedPageRank]] semantics)
      * over the shared prepared frames. Teleport states are
      * seed-dependent, so they cannot share iterates with the uniform
      * system — only the prepared edge frame and node set. */
    def personalized(seeds: DataFrame, iterations: Int): DataFrame = {
      require(iterations >= 1, "need at least one iteration")
      val seedCol = seeds.columns.head
      val inGraph = nodes
        .join(seeds.select(col(seedCol).as("src")).distinct(),
          Seq("src"), "left_semi")
      // bounded 1-row guard: an empty effective seed set would divide the
      // teleport into NaNs — fail loudly instead (pqCodebooks precedent)
      val nSeeds = inGraph.count()
      require(nSeeds > 0, "no seed intersects the graph's node set")
      // the teleport state is cut like every iterate, so the first
      // superstep also plans from its measured size
      var ranks = measuredCut(nodes
        .join(inGraph.withColumn("__seed", lit(1)), Seq("src"), "left")
        .select(col("src"),
          when(col("__seed").isNotNull, lit(1.0) / nSeeds)
            .otherwise(lit(0.0)).as("__tele"))
        .withColumn("rank", col("__tele"))
        .select(col("src"), col("rank"), col("__tele")))
      for (k <- 1 to iterations) {
        val next = personalizedSuperstep(ewd, ranks)
        ranks = if (k < iterations) measuredCut(next) else next
      }
      ranks.select(col("src").as("node"), col("rank"))
    }
  }

  /** Entry point for shared-prefix consumers; [[pageRank]],
    * [[pageRankConverged]] and [[personalizedPageRank]] are one-shot
    * wrappers over a fresh run. */
  def run(edges: DataFrame, weightCol: Option[String] = None): Run =
    new Run(edges, weightCol)

  /** Convergence-terminated damped PageRank: iterates the SAME rounded
    * system as [[pageRank]] and stops after the first superstep whose
    * L1 residual Σ |rank − prev| falls below `epsilon`, or at
    * `maxIterations` — the stopping rule a production PageRank runs
    * (fixed counts either waste supersteps or stop short; the residual
    * tells you which). L1 — total rank mass that moved — is the
    * SCALE-FREE choice: rank mass sums to 1 at any node count, so one
    * ε is meaningful from a unit-test graph to a 100-TB crawl, where a
    * max-|Δ| threshold shrinks like 1/n and silently stops ever
    * triggering (or always triggering) as the graph grows. The residual
    * is ONE extra bounded aggregate per superstep: a |nodes|-row
    * equi-join of the new state onto the old (both measured cuts, so
    * planned like the superstep's own state join) reduced to a single
    * driver-read row.
    *
    * Returns (final state, supersteps executed). The stop is
    * DETERMINISTIC: ranks are decimal-rounded to `ScoreScale` places every
    * superstep, and the residual sums per-node |Δ| (multiples of
    * 10^-ScoreScale, exact in a double) as exact DECIMAL(38,12) — no
    * float-summation-order ulp can flip the ε comparison. The selected
    * iteration count is therefore a pure function of the input, and an
    * oracle can replay it through the fixed-iteration system
    * ([[pageRank]] with `iterations = selected` is bit-identical, a
    * GraphPropsSpec property).
    */
  def pageRankConverged(
      edges: DataFrame, maxIterations: Int, epsilon: Double)
      : (DataFrame, Int) =
    run(edges).converged(maxIterations, epsilon)

  /** PERSONALIZED PageRank: teleport mass (1−d) returns only to the
    * `seeds` (uniformly), not to every node — the "similar to THESE"
    * form (related-item retrieval, seeded influence, topic-conditioned
    * centrality). Rank update per superstep:
    * rank(v) = (1−d)·tele(v) + d·Σ contribs, with tele(v) = 1/|seeds|
    * for seed nodes and 0 otherwise; the initial state IS the teleport
    * distribution. Nodes unreachable from the seed set stay at exactly
    * 0.0 — they remain in the state (node-set totality, like the
    * fixed-rank form) so the output is a total ranking, not a reachable
    * subset.
    *
    * Same rounded-system determinism as [[pageRank]]; the per-node
    * teleport rides the state as a third column and re-attaches after
    * the contribution aggregate via max() over the per-node zero row —
    * no extra join. `seeds` (one column, same values as `src`) is
    * intersected with the graph's node set; seeds outside the graph are
    * ignored. The teleport constant is written 1.0 − Damping in both
    * engines (the g1 convention). */
  def personalizedPageRank(
      edges: DataFrame, seeds: DataFrame, iterations: Int): DataFrame =
    run(edges).personalized(seeds, iterations)

  /** One superstep of the personalized system: like [[superstep]], but
    * the teleport term is the per-NODE `__tele` column — which, in the
    * r15 join-back shape, simply rides the rank state into the final
    * select (the old union form had to smuggle it through a max() over
    * per-node zero rows because contribution rows carried a NULL tele). */
  private def personalizedSuperstep(
      ewd: DataFrame, ranks: DataFrame): DataFrame = {
    val csums = ewd
      .join(ranks, Seq("src"))
      .select(col("dst"),
        round((col("rank") * col("__w")) / col("outw"), SumScale)
          .cast("decimal(38,12)").as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("csum"))
      .select(col("dst").as("src"), col("csum"))
    ranks.select(col("src"), col("__tele"))
      .join(broadcastIfFits(ranks, csums), Seq("src"), "left")
      .select(col("src"),
        round(lit(1.0 - Damping) * col("__tele")
          + lit(Damping) * coalesce(col("csum"),
              lit(0).cast("decimal(38,12)")).cast("double"), ScoreScale)
          .as("rank"),
        col("__tele"))
  }

  /** EXACT per-node triangle counting by DEGREE-ORDERED EDGE ORIENTATION
    * — the relational form of the classic bounded-fanout algorithm
    * (orient every undirected edge from its (degree, id)-smaller
    * endpoint to the larger; each triangle then has exactly ONE wedge
    * u→v, u→w with both closing edges oriented the same way, so it is
    * found exactly once, with no post-hoc dedup).
    *
    * Why this shape survives 100 TB: the naive wedge join on an
    * UNORIENTED graph fans out quadratically in the max degree — one
    * celebrity node with 10M followers yields 10^14 wedges on its key
    * alone. Orientation caps every node's OUT-degree at O(√m) (a node
    * of degree > √(2m) cannot have that many higher-degree neighbors),
    * so per-key wedge fanout is C(outdeg, 2) ≤ O(m) TOTAL regardless of
    * skew — the degeneracy bound. Three equi-joins, all shuffled on
    * bounded keys; counts are exact integers, so no float convention is
    * needed.
    *
    * Input edges are canonicalized here: self-loops dropped, direction
    * and duplicates collapsed — callers pass any (src, dst) pair list.
    * The |nodes|-row degree frame is a measured cut, so the two
    * orientation joins broadcast it while it fits the broadcast
    * threshold and become ordinary shuffle equi-joins past it.
    *
    * Returns (node, triangles) for every node in ≥ 1 triangle. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val (_, _, tri) = triangles(edges)
    tri.select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** Shared degree-ordered triangle enumeration behind [[triangleCount]]
    * and [[edgeJaccard]]. Returns (canonical undirected edges `(a, b)`
    * with `a < b`, per-node degrees `(node, deg)`, enumerated triangles
    * `(src, v, w)` — each triangle exactly once, `src` its
    * (degree, id)-smallest corner). */
  private def triangles(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // canonical undirected edge set; feeds the degree count AND the
    // orientation join — one materialization (t8 convention)
    val und = measuredCut(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // the |nodes|-row degree state, read by both orientation joins (and
    // edgeJaccard's two stitches): cut so its measured size plans them
    val deg = measuredCut(und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // orient a—b from the (deg, id)-smaller endpoint; carry the HEAD's
    // degree so the wedge join can order neighbors without re-joining.
    // Cut: reused by BOTH wedge sides and the closing join.
    val o = measuredCut(und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db")
            || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t"), col("db").as("dt")))
        .otherwise(
          struct(col("b").as("s"), col("a").as("t"), col("da").as("dt")))
        .as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"),
        col("e.dt").as("ddeg")))
    // wedges u→v, u→w with (deg, id)(v) < (deg, id)(w): an equi-join on
    // the wedge center plus the ordering filter (no cartesian — the
    // join key is u)
    val wedges = o.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
      .join(o.select(col("src"), col("dst").as("w"), col("ddeg").as("dw")),
        Seq("src"))
      .filter(col("dv") < col("dw")
        || (col("dv") === col("dw") && col("v") < col("w")))
    // close the wedge: (v, w) must be an oriented edge. `o` rows are
    // unique, so a semi-join counts each triangle exactly once.
    val tri = wedges.join(
      o.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_semi")
      .select(col("src"), col("v"), col("w"))
    (und, deg, tri)
  }

  /** Per-EDGE common-neighbor (co-citation) similarity: for every
    * undirected edge (a, b), the number of shared neighbors and the
    * neighbor-set Jaccard `common / (deg(a) + deg(b) − common)` — the
    * link-strength score behind related-item suggestion and weak-tie
    * pruning. Convention: N(·) is the RAW adjacency set (so a ∈ N(b)
    * and b ∈ N(a) both count in the union but can never be common —
    * self-loops are dropped); an edge with no shared neighbors scores
    * 0.0, not NULL.
    *
    * Cost shape: the shared [[triangles]] enumeration (each triangle
    * found once under the degeneracy bound) plus one explode — a
    * triangle (u, v, w) contributes its third corner as a common
    * neighbor to each of its three edges — one count aggregate on the
    * canonical edge key, and one degree stitch. The Jaccard
    * is a single division of exact integers (identical IEEE result in
    * any engine, unrounded — the exactAvg rule). */
  def edgeJaccard(edges: DataFrame): DataFrame = {
    val (und, deg, tri) = triangles(edges)
    // three (edge, witness) emissions per triangle, edges re-canonicalized
    val witnessed = tri.select(explode(array(
        struct(col("v").as("x"), col("w").as("y")),
        struct(col("src").as("x"), col("w").as("y")),
        struct(col("src").as("x"), col("v").as("y")))).as("e"))
      .select(least(col("e.x"), col("e.y")).as("a"),
        greatest(col("e.x"), col("e.y")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    und.join(witnessed, Seq("a", "b"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double")
          / (col("da") + col("db") - col("common")).cast("double"))
          .as("jaccard"))
  }

  /** Synchronous label-propagation community detection (LPA), fixed
    * iteration count. Every node starts labeled with its own id; each
    * iteration every node adopts the label carried by the PLURALITY of
    * its in-neighbors, ties broken deterministically by the smaller
    * label (binary string order — both engines compare memcmp-style).
    * Plurality-with-min-tiebreak makes the whole iteration a pure
    * integer/string function of the input — no floats anywhere — so a
    * chained-CTE oracle replays it exactly.
    *
    * `edges` are directed (src, dst) pairs; the node set is the SOURCE
    * side, and labels flow dst→src along each edge's reverse, which
    * for a symmetric edge set (like g7's trading graph) is plain
    * neighborhood voting. The node set is TOTAL and invariant across
    * iterations: a node none of whose out-neighbors carries a label
    * (every dst outside the node set — possible on unsymmetrized
    * input) simply KEEPS its current label rather than silently
    * dropping out of the state — the crawled-subgraph semantics
    * [[pageRank]]'s closure handling established; votes for/from
    * out-of-set destinations are ignored. Per iteration: one
    * edges⋈labels equi-join (the |nodes|-row label state is a measured
    * cut: broadcast while it fits the broadcast threshold, an ordinary
    * shuffle equi-join past it — the pageRank rank-state rule), one
    * (node, label) grouped count, one
    * per-node ordered top-1, and one |nodes|-row keep-label join — the
    * label frame is re-cut each iteration so lineage stays flat. The
    * edge cut is src-partitioned: while the label state broadcasts, the
    * plurality count and the per-src top-1 window both reuse that
    * layout, so an iteration plans zero hash exchanges.
    *
    * Returns (node, label) — nodes sharing a label share a community. */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // r15 (guide §2.4): every iteration's vote pass clusters on src
    // TWICE — the (src, label) plurality count and the per-src top-1
    // window — so a src-partitioned edge cut lets both reuse one layout
    val e = measuredCut(edges.select(col("src"), col("dst")), Some("src"))
    val nodes = measuredCut(e.select(col("src")).distinct())
    var labels = nodes.select(col("src").as("node"), col("src").as("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("c").desc, col("label"))
    for (_ <- 1 to iterations) {
      val voted = e
        .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("src").as("node"), col("label").as("__voted"))
      // totality: un-voted nodes keep their label (no silent dropout)
      labels = measuredCut(labels
        .join(broadcastIfFits(labels, voted), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__voted"), col("label")).as("label")))
    }
    labels
  }

  /** HITS hubs & authorities (Kleinberg's mutual-reinforcement
    * centrality) on a DIRECTED edge set — the two-sided ranking
    * PageRank can't express: a node is a good HUB if it points at good
    * authorities and a good AUTHORITY if good hubs point at it (on the
    * customer→supplier trading graph: influential buyers vs
    * sought-after suppliers). Per iteration: auth(v) = Σ_{u→v} hub(u)
    * then hub(u) = Σ_{u→v} auth(v), each half-step L1-normalized
    * (score / Σ scores). L1 replaces the textbook L2 deliberately: the
    * ranking is identical (normalization is a monotone per-side
    * rescale) but the arithmetic stays in the repo's replayable
    * rounded-system family — an L2 sqrt over a float sum has no exact
    * cross-engine form. Determinism: scores round to `ScoreScale`
    * places, half-step sums accumulate those rounded values exactly as
    * DECIMAL(38,`SumScale`) (association-proof), and each
    * normalization is ONE double division rounded once — both engines
    * iterate the identical system (the pageRank convention).
    *
    * Scale shape: the edge frame is cut ONCE per half-step layout and
    * never re-shuffles while the state broadcasts — each half-step is
    * one broadcast probe of the |side|-row state onto the edges plus
    * one map-side-combined grouped sum (|side| rows out), and each L1
    * total is a bounded 1-row aggregate riding a broadcast cross join
    * (never a driver collect). Each side's state is measured (a cut, or
    * hinted from its measured raw sums), so past the broadcast
    * threshold it shuffle-joins instead, pageRank's rule. Node-set
    * totality needs no zero-union: every
    * distinct src gets a hub score and every distinct dst an auth score
    * by construction (each has at least the edge that defined it).
    *
    * `edges` must be pre-deduplicated (src, dst) pairs (the pageRank
    * contract); returns (side ∈ {hub, auth}, node, score). */
  def hits(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val dec = s"decimal(38,$SumScale)"
    // r15 (guide §2.4): the two half-steps cluster on OPPOSITE keys —
    // auth sums group by dst (probing the hub state by src), hub sums
    // group by src (probing the auth state by dst) — so ONE edge cut
    // cannot serve both exchange-free. The edge list is cut TWICE, once
    // per partitioning; while the state broadcasts, each half-step's
    // aggregate reuses its copy's layout and a full iteration plans ZERO
    // hash exchanges (was 2). The cost is cut bytes (2× the edge list),
    // not a semantic copy.
    val e0 = edges.select(col("src"), col("dst"))
    val eAuth = measuredCut(e0, Some("dst"))
    val eHub = measuredCut(e0, Some("src"))
    val hubNodes = measuredCut(eHub.select(col("src")).distinct())
    // Returns the normalized state and whether it fits the broadcast
    // threshold: the cross join makes the state's estimate a product,
    // so the decision is read from the measured raw sums (same rows,
    // wider row).
    def normalize(raw: DataFrame, key: String): (DataFrame, Boolean) = {
      // raw feeds both its own L1 total and the normalized state —
      // cut so the half-step join doesn't run twice
      val r = measuredCut(raw)
      val tot = r.agg(sum(col("raw")).as("tot"))
      (r.crossJoin(broadcast(tot))
        .select(col(key),
          round(col("raw").cast("double") / col("tot").cast("double"),
            ScoreScale).as("score")),
        fitsBroadcast(r))
    }
    // uniform 1/|hubs| start: a projection of the measured node set, so
    // the first auth half-step plans from a measured size too
    var hubs = hubNodes
      .select(col("src"), lit(1.0 / measuredRows(hubNodes)).as("score"))
    var auths: DataFrame = null
    for (k <- 1 to iterations) {
      // explicit round-then-cast (the pageRank contribution pattern):
      // after the first normalize scores are already at ScoreScale, but
      // the 1/n init is a raw double whose decimal conversion must be
      // the same HALF_UP step in both engines
      val (authState, authFits) = normalize(
        eAuth.join(hubs, Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(round(col("score"), SumScale).cast(dec)).as("raw")),
        "dst")
      auths = authState
      val (nextHubs, _) = normalize(
        eHub.join(if (authFits) broadcast(auths) else auths, Seq("dst"))
          .groupBy(col("src"))
          .agg(sum(round(col("score"), SumScale).cast(dec)).as("raw")),
        "src")
      // barrier BETWEEN iterations keeps plans linear (pageRank rule)
      hubs = if (k < iterations) measuredCut(nextHubs) else nextHubs
    }
    hubs.select(lit("hub").as("side"), col("src").as("node"), col("score"))
      .unionByName(auths.select(lit("auth").as("side"),
        col("dst").as("node"), col("score")))
  }

  /** CONNECTED COMPONENTS over an undirected BIGINT-id edge list — the
    * first-class graph surface over
    * [[graft.extensions.Dedup.nearDupClusters]]'s cluster engine: the
    * near-dup clustering problem IS connected components, so the graph
    * query reuses that tested machinery (hybrid driver union-find under
    * its documented bounded-edge contract, distributed alternating-min
    * label iteration as the scale fallback — force it with
    * `driverEdgeLimit = 0`) instead of a second implementation.
    * Returns (node, component_id) for every edge-incident node, with
    * component_id = the component's minimum node id (the deterministic
    * labeling both the d9 recursive-CTE oracle replay and the keep-min
    * dedup apply use). Isolated nodes are the caller's concern: a graph
    * extraction that emits edges has already dropped them. */
  def connectedComponents(edges: DataFrame,
      driverEdgeLimit: Long = 5000000L): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
    graft.extensions.Dedup.nearDupClusters(nodes,
        edges.select(col("src").as("a_id"), col("dst").as("b_id")),
        "node", driverEdgeLimit = driverEdgeLimit)
      .select(col("node"), col("cluster_id").as("component_id"))
  }

  /** Shared graph preparation: the cut (edge ⋈ out-weight ⋈ closed
    * node set) frame plus the uniform initial state. One materialization
    * serves every superstep (positive-weight contract enforced up front
    * — see [[pageRank]]'s scaladoc). */
  private def prepare(
      edges: DataFrame, weightCol: Option[String]): (DataFrame, DataFrame) = {
    val e = measuredCut(weightCol match {
      case Some(w) => edges.select(col("src"), col("dst"),
          col(w).cast("long").as("__w"))
        .filter(col("__w") > 0)
      case None => edges.select(col("src"), col("dst"), lit(1L).as("__w"))
    })
    val deg = e.groupBy(col("src")).agg(sum(col("__w")).as("outw"))
    // the node frame feeds the count, the init state and every
    // superstep's re-attach join — materialize it once
    val nodes = measuredCut(e.select(col("src")).distinct())
    // the node count feeds the uniform init rank
    val n = measuredRows(nodes)
    val init = nodes
      .select(col("src"), lit(1.0 / n).as("rank"), lit(n).as("n"))
    // closed node set: drop edges whose dst never appears as a source
    // ONCE, before the cut — the filter is loop-invariant, and
    // applying it after `deg` keeps outw counting out-of-set links
    // (crawled-subgraph semantics: that mass leaves the ranked set).
    // Without it, groupBy(dst) would smuggle never-a-source nodes into
    // the state with an inconsistent teleport share. `deg` is
    // |nodes|-row state like the ranks, but its estimate is scaled from
    // the EDGE cut — hint it from the initial rank state (a projection
    // of the measured node set, same rows, wider row).
    val ewd0 = e.join(broadcastIfFits(init, deg), Seq("src"))
      .join(nodes.select(col("src").as("dst")), Seq("dst"), "left_semi")
    // Pre-partition the prepared edge frame ONCE by dst (r15, guide
    // §2.4): while the rank state broadcasts, every superstep's
    // contribution aggregate groups by dst, so all k aggregates reuse
    // this one exchange (plan: zero hash exchanges per superstep).
    val ewd = measuredCut(ewd0, Some("dst"))
    (ewd, init)
  }

  /** One superstep of the rounded system: contributions rank·w/Σw
    * rounded to `SumScale` places, summed exactly as DECIMAL(38,12), new
    * rank re-rounded to `ScoreScale` places. r15 shape (guide §2.4): the old
    * form unioned a zero-contribution row per node into the aggregate —
    * a Union whose output partitioning is unknown, so EVERY superstep
    * re-exchanged its partial aggregates even though ewd is already
    * dst-partitioned. Now the contribution aggregate rides ewd's
    * cut dst-partitioning exchange-free, and in-degree-0 nodes
    * re-enter via a |nodes|-row left join back onto the rank state
    * (csum NULL → exact decimal 0 — bit-identical to summing the old
    * zero row, since adding decimal 0 never changes a sum; node-set
    * invariance now comes from joining FROM the state). */
  private def superstep(ewd: DataFrame, ranks: DataFrame): DataFrame = {
    val csums = ewd
      .join(ranks, Seq("src"))
      .select(col("dst"),
        round((col("rank") * col("__w")) / col("outw"), SumScale)
          .cast("decimal(38,12)").as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("csum"))
      .select(col("dst").as("src"), col("csum"))
    ranks.select(col("src"), col("n"))
      .join(broadcastIfFits(ranks, csums), Seq("src"), "left")
      .select(col("src"),
        round(lit(1.0 - Damping) / col("n")
          + lit(Damping) * coalesce(col("csum"),
              lit(0).cast("decimal(38,12)")).cast("double"), ScoreScale)
          .as("rank"),
        col("n"))
  }
}
