package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [extension] Connected components over an undirected edge set — the
  * clustering step that turns near-duplicate PAIRS (MinHash/SimHash/
  * cosine candidates from [[Dedup]]/[[Similarity]]) into duplicate
  * GROUPS: each node labeled with the minimum node id of its component,
  * the canonical "keep the earliest, drop the rest" dedup contract.
  * No reference analog (the reference has no graph operators).
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
  * MapReduce and Beyond", SoCC 2014). Each round is two window/shuffle
  * passes on the node id; the edge set converges to stars centered at
  * component minima in O(log n) rounds — unlike naive min-label
  * propagation, whose round count is the graph DIAMETER (a 100 M-node
  * chain takes 100 M propagation rounds but ~27 star rounds).
  *
  * Scale shape: per round, large-star is one window min over the
  * symmetrized edges (no adjacency-list materialization — a high-degree
  * hub never becomes a giant in-memory array, it is a sorted window
  * group) and small-star the same over the canonical edges; each round
  * ends in a `localCheckpoint` that cuts lineage so plan depth stays
  * O(1) instead of O(rounds). On a real cluster swap the local
  * checkpoint for a reliable `checkpoint()` dir — same contract.
  * Convergence is detected by set equality (count + left-anti) on the
  * checkpointed frames, one cheap job per round.
  *
  * Negative result (r13, measured): batching TWO star rounds per
  * checkpoint/convergence cycle — to halve driver round-trips — ran
  * 15-25% SLOWER on the q97/q140/q145/q152 gates at sf0.1 (27-30 s
  * single vs 32-35 s doubled across repeated A/B sweeps). Large-star
  * EXPANDS the edge set mid-convergence, so the unchecked second pass
  * does real extra shuffle work that the per-round check would have
  * skipped near the fixpoint; don't re-try this.
  */
object Components {

  /** (node, component) for every node incident to an edge; `component`
    * is the component's minimum node id. Ids can be any orderable type
    * (long, string); NULL endpoints and self-loops are dropped.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 50): DataFrame = {
    // canonical form: (u, v) with u > v, distinct, no self-loops
    // LAZY checkpoint + count (r19, guide §1.2 "per-task work" applied
    // to the driver): localCheckpoint(eager = true) runs its own
    // materialization job and the count() that follows is a SECOND
    // job; marking lazily and counting materializes the checkpoint
    // inside the count's job — one driver round-trip per round instead
    // of two, same blocks, same lineage cut (the Dataset is re-rooted
    // at a LogicalRDD either way)
    var cur = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .distinct()
      .localCheckpoint(false)

    var converged = false
    var round = 0
    // carry the count forward: last round's next.count() IS this
    // round's cur.count() — one job per round instead of two
    var curCount = cur.count()
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextCount = next.count()
      // fixpoint of two DISTINCT canonical sets: equal counts and an
      // empty one-sided difference imply set equality
      converged = nextCount == curCount &&
        next.join(cur, Seq("u", "v"), "left_anti").isEmpty
      cur = next
      curCount = nextCount
      round += 1
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxRounds rounds " +
        "(theoretical bound is O(log n) — raise maxRounds only if n warrants it)")

    // fixpoint = stars: every non-min node u carries exactly one edge
    // (u, min); minima appear only on the v side and label themselves
    cur.select(col("u").as("node"), col("v").as("component"))
      .unionByName(cur.select(col("v").as("node"), col("v").as("component")))
      .distinct()
  }

  /** Incremental connected-components maintenance — merge NEW edges
    * into an EXISTING labeling without recomputing the full graph: the
    * dedup-serving path where near-dup pairs arrive continuously but
    * the duplicate-cluster labels must stay current (the
    * `IncrementalAgg`/`maintainAggState` discipline applied to the
    * graph tier).
    *
    * Correctness rests on star compression: a valid labeling of the
    * prior graph is connectivity-equivalent to its star edge set
    * {(node, component) | node ≠ component}, so components of
    * (priorStars ∪ delta) equal components of (priorEdges ∪ delta).
    * Only components TOUCHED by a delta endpoint can change, so the
    * star rounds run on the touched components' stars plus the delta;
    * untouched labels pass through unchanged. A merged component's new
    * label is the min over its member components' labels — already the
    * min node id of the union, so labels stay canonical and the output
    * is itself a valid `prior` for the next delta.
    *
    * Scale shape: the label-maintenance work is O(|delta| + |touched
    * components|), never O(|graph|) — two equi joins to find touched
    * components, star rounds whose input has diameter ≤ 2 per prior
    * component (converges in O(1) rounds plus the delta's own
    * O(log |delta-cluster|)), and a left-anti passthrough for the
    * untouched majority. At 100 TB the full graph is never reshuffled.
    *
    * `prior` contract: (node, component) with component = min node id,
    * every component ≥ 2 nodes — exactly [[connectedComponents]]'s (and
    * this function's) output. Output covers prior nodes ∪ delta-edge
    * endpoints.
    */
  def incrementalComponents(prior: DataFrame, newEdges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxRounds: Int = 50): DataFrame = {
    val (touchedComps, merged) =
      incrementalParts(prior, newEdges, srcCol, dstCol, maxRounds)
    prior.join(touchedComps, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
      .unionByName(merged)
  }

  /** The CHANGED half of [[incrementalComponents]] only: labels for
    * nodes in components touched by a delta edge (including fresh
    * nodes). Upserting these by node key into a stored labeling yields
    * the same table [[incrementalComponents]] would return — the shape
    * the streaming maintenance path wants, where the untouched majority
    * must not be rewritten every micro-batch.
    */
  def incrementalComponentsUpdates(prior: DataFrame, newEdges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxRounds: Int = 50): DataFrame =
    incrementalParts(prior, newEdges, srcCol, dstCol, maxRounds)._2

  private def incrementalParts(prior: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String,
      maxRounds: Int): (DataFrame, DataFrame) = {
    // the canonical delta is consumed TWICE (touched-node probe + star
    // rounds); a lazy local checkpoint cuts its lineage so an expensive
    // upstream candidate generator (e.g. tiled all-pairs cosine) runs
    // once, not per consumer — the connectedComponents checkpoint
    // discipline, and the frame is delta-sized, never graph-sized
    val delta = newEdges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .distinct()
      // lazy (r19): the first consumer's job materializes the blocks
      // and later consumers read them — same sharing, one less
      // standalone driver job than eager (the connectedComponents
      // count-fusion note)
      .localCheckpoint(false)
    val touchedNodes = delta.select(col("u").as("node"))
      .unionAll(delta.select(col("v").as("node"))).distinct()
    val touchedComps = prior.join(touchedNodes, Seq("node"))
      .select(col("component")).distinct()
    val touchedStars = prior.join(touchedComps, Seq("component"))
      .filter(col("node") =!= col("component"))
      .select(col("node").as("src"), col("component").as("dst"))
    val merged = connectedComponents(
      touchedStars.unionByName(
        delta.select(col("u").as("src"), col("v").as("dst"))),
      maxRounds = maxRounds)
    (touchedComps, merged)
  }

  /** Integer-quantized PageRank over an undirected edge set — the
    * centrality companion to [[connectedComponents]]: where components
    * pick the canonical doc per duplicate cluster by MIN ID, PageRank
    * ranks cluster members by how connected they are (the "keep the
    * most-representative duplicate" policy).
    *
    * Arithmetic is EXACT BIGINT throughout (the §5.3 discipline):
    * ranks live in `scale` fixed-point units; one synchronous
    * iteration is `r'(v) = (15·scale) div (100·n) + Σ_{u→v} (85·r(u))
    * div (100·deg(u))` — integer division on both sides of the oracle,
    * so the DuckDB unrolled recurrence matches hash-for-hash. The
    * floor losses (< 1 unit per in-edge) make this a defined
    * deterministic variant of d=0.85 PageRank, not an approximation
    * claim; with scale = 1e9 the relative distortion is ≤ deg/1e9 per
    * iteration.
    *
    * Scale shape: per iteration, one equi-join of the rank frame onto
    * the out-edges (shuffle on node id, AQE-skew-splittable for hub
    * nodes) and one hash aggregate onto the destination — the textbook
    * distributed PageRank plan. Each iteration ends in a
    * `localCheckpoint` cutting lineage (the [[connectedComponents]]
    * contract: swap for `checkpoint()` on a real cluster). Nodes are
    * edge-incident endpoints; isolated nodes are the caller's to
    * handle (they would hold `scale div n` forever).
    */
  def pageRankQuantized(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iterations: Int = 5,
      scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"pageRankQuantized: iterations must be in [1,100], got $iterations")
    // exact integer division for non-negative operands: the remainder
    // subtraction makes the double division exact (numerator divisible)
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    // `und` feeds both arms of the symmetrizing union — checkpoint it
    // first or the upstream candidate generator runs once per arm
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint(true)
    val dir = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      // EAGER deliberately (r19 re-measured): the rank seed's node
      // side and its broadcast(nTotal) build consume `dir`
      // CONCURRENTLY — a lazy mark lets both race the unmaterialized
      // frame and the (expensive) upstream pair generator runs twice
      // at once. The per-ITERATION rank frames below are safe lazy:
      // each is consumed exactly once, serially, by the next
      // iteration's contribs join.
      .localCheckpoint(true)
    val deg = dir.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val nodes = deg.select(col("u").as("node"))
    val nTotal = deg.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(nTotal))
      .select(col("node"), idiv(lit(scale), col("n")).as("rq"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contribs = ranks
        .join(dir, col("node") === col("u"))
        .join(deg, Seq("u"))
        .select(col("v").as("node"),
          idiv(lit(85L) * col("rq"), lit(100L) * col("deg")).as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_in"))
      // every symmetrized-graph node has in-edges, but the left join +
      // coalesce keeps the frame total even if a caller feeds a
      // directed edge set through a future variant
      ranks = nodes
        .join(contribs, Seq("node"), "left_outer")
        .crossJoin(broadcast(nTotal))
        .select(col("node"),
          (idiv(lit(15L) * lit(scale), lit(100L) * col("n"))
            + coalesce(col("_in"), lit(0L))).as("rq"))
        // eager deliberately (r19 re-measured): a lazily-chained
        // variant (mark every iteration, one count at the end) was
        // paired-A/B'd at NOISE-level wall with a double-compute
        // hazard when callers consume the final frame from concurrent
        // subtrees — not worth the risk for zero measured win
        .localCheckpoint(true)
    }
    ranks
  }

  /** Per-node triangle counts + degree over an undirected edge set —
    * the local-clustering-coefficient statistic (triangles /
    * (deg·(deg−1)/2)) that grades how tightly a near-dup cluster is
    * knit: a clique of rewrites vs a star of one template touching many
    * docs score the same degree but opposite triangle densities.
    *
    * Algorithm: degree-ordered edge orientation (the MapReduce triangle
    * count of Suri & Vassilvitskii, WWW 2011): orient every edge from
    * its (degree, id)-lower endpoint to the higher, enumerate wedges
    * around each source, close them against the oriented edge set.
    * Orientation bounds each node's out-degree by O(√|E|), so a
    * high-degree hub generates wedges on its LOW-degree neighbors'
    * budgets — the naive per-node wedge count Σ deg² becomes Σ
    * outdeg² ≤ |E|^1.5, the difference between feasible and not at
    * 100 TB. All joins are equi joins on node keys (wedge skew is AQE
    * join skew, never a task-memory array); each triangle is
    * enumerated exactly once, so the count needs no /3 fix-up.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // the canonical edge set feeds THREE consumers (both arms of the
    // degree union + the orientation join): cut its lineage eagerly so
    // an expensive upstream candidate generator (tiled all-pairs
    // cosine) runs once, not three times — the incrementalParts
    // discipline; the frame is |E|-sized, what the algorithm holds
    // anyway
    val canon = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
      // eager deliberately (r19): deg/withDeg/oriented consume canon
      // from concurrent subtree builds — a lazy mark would let them
      // race the unmaterialized (possibly expensive) upstream
      .localCheckpoint(true)
    val deg = canon.select(col("a").as("n"))
      .unionAll(canon.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
    // orient lower (deg, id) → higher; carry the head's (deg, id) so
    // the wedge ordering below needs no extra join
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("src"),
      when(aLower, col("b")).otherwise(col("a")).as("dst"),
      when(aLower, col("db")).otherwise(col("da")).as("dd"))
    // wedges (src; v, w) with v strictly (deg,id)-below w: each wedge
    // once, and the closing edge (if any) is oriented v → w
    val o1 = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val o2 = oriented.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    val wedges = o1.join(o2, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("n"), "left_outer")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Large-star: every node connects its LARGER neighbors to the
    * minimum of its closed neighborhood. One symmetrize + one window
    * min on the node id; output stays canonical (v > u >= m).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val m = least(col("u"), min(col("v")).over(Window.partitionBy(col("u"))))
    sym.withColumn("m", m)
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
    // NO trailing distinct (r19): the only consumer is smallStar,
    // whose window min is duplicate-insensitive and whose OWN trailing
    // distinct dedups the emissions — the exchange+aggregate here was
    // a fourth shuffle per round buying nothing (ComponentsSpec pins
    // the composition's fixpoints unchanged)
  }

  /** Small-star: every node connects its smaller neighbors (and itself)
    * to the minimum of those. Canonical edges already orient u > v, so
    * the group is exactly the smaller neighborhood; the (u, m) edge
    * rides the row where v hits the minimum — distinct input keeps it
    * emitted once per group.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = min(col("v")).over(Window.partitionBy(col("u")))
    e.withColumn("m", m)
      .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
        col("m").as("v"))
      .distinct()
  }
}
