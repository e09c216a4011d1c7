package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Harmonic centrality over an edge table — the reference's AMPC
  * webgraph job re-expressed Spark-first (reference:
  * `crates/core/src/ampc/mod.rs:17-42` drives harmonic centrality over
  * the webgraph; the published algorithms are plain frontier BFS and
  * Boldi & Vigna's HyperBall, "In-Core Computation of Geometric
  * Centralities with HyperBall", 2013). Harmonic centrality of v =
  * Σ_{u≠v, d(u,v)<∞} 1/d(u,v) where d(u,v) is the FORWARD distance
  * u→v — i.e. it counts who can reach v, the incoming-link notion the
  * reference ranks with.
  *
  * Two paths, same contract as the HLL vocab face:
  *
  *  - [[harmonicExact]]: the multi-source distance BFS
  *    ([[Webgraph.multiSourceDistances]]) from every node over the
  *    reversed edges. To keep the result hash-exact across engines the
  *    score is returned as an INTEGER: h`L` = Σ L/d with
  *    L = lcm(1..maxDepth), so no float summation order exists at all
  *    (maxDepth ≤ 6 keeps L/d integral: L(4)=12, L(6)=60). The oracle
  *    is a recursive-CTE BFS.
  *  - [[harmonicHyperBall]]: per-node HLL registers of the in-ball,
  *    one round = ship each node's sketch along its out-edges and
  *    elementwise-max-merge at the destination. State is 2^p bytes per
  *    node and each round is one shuffle keyed by dst — the 100 TB
  *    path (exact BFS carries O(reachable pairs) state; HyperBall
  *    carries O(nodes · 2^p)). Estimates are deterministic: register
  *    max is commutative/associative, so partitioning cannot change
  *    the sketch.
  */
object Centrality {

  /** One node's HyperBall state: in-ball sketch registers, the
    * previous ball estimate, and the harmonic accumulator with its
    * Kahan compensation term (the reference compensates exactly this
    * accumulation, webgraph/centrality/harmonic.rs:56 — at ≤6 rounds
    * the correction is tiny, but the accumulator semantics match).
    * Public — Spark codegen requirement. */
  final case class BallState(node: Long, regs: Array[Byte],
                             prevEst: Double, harmonic: Double,
                             herr: Double = 0.0)

  // ------------------------------------------------------------- exact

  /** Above this many distinct edges [[Webgraph.Edges.joinSide]] stops
    * BROADCASTING the edge side of the per-round joins (~16 B/row →
    * ~64 MB at this default, the usual autoBroadcastJoinThreshold
    * class) and falls back to a shuffle join: a caller that routes a
    * big graph through the small-graph paths must degrade to a slower
    * correct plan, not OOM the driver re-broadcasting the edge table
    * every BFS round. */
  final val ExactBroadcastMaxEdges: Long = 4L * 1000 * 1000

  /** Exact harmonic centrality (integer form): returns
    * (node, h) where h = Σ_{u reaches node, d ≤ maxDepth} lcm/d, for
    * every node of `edges`. It is the all-sources case of the distance
    * BFS: walking the reversed edges from v finds every u that reaches
    * v, at its forward distance d(u, v). */
  def harmonicExact(spark: SparkSession, edges: Webgraph.Edges,
                    maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 6, "lcm trick holds for depth 1..6")
    val lcm = maxDepth match {
      case 1 => 1L; case 2 => 2L; case 3 => 6L
      case 4 => 12L; case 5 => 60L; case 6 => 60L
    }
    // lcm/d divided on the driver, so the per-row weight is an exact
    // integer; dist 0 (the node itself) weighs 0
    val weight = (1 to maxDepth).foldLeft(lit(0L)) { (w, d) =>
      when(col("dist") === d, lit(lcm / d)).otherwise(w)
    }
    val nodes = edges.df.select(col("src").as("n"))
      .union(edges.df.select(col("dst").as("n")))
    Webgraph.multiSourceDistances(edges.reversed, nodes, maxDepth)
      .groupBy(col("source")).agg(sum(weight).as("h"))
      .select(col("source").cast("long").as("node"), col("h"))
  }

  // --------------------------------------------------------- HyperBall

  final val P = 8                // 2^8 = 256 registers, rsd ~6.5%
  final val M: Int = 1 << P

  private[graft] def initRegs(node: Long): Array[Byte] = {
    val regs = new Array[Byte](M)
    addTo(regs, node)
    regs
  }

  /** 64-bit avalanche finalizer (the public murmur3 fmix64 constants):
    * FNV-1a alone barely diffuses its HIGH bits for short inputs —
    * "hb:1".."hb:6" all shared the same top byte, collapsing every
    * node into one HLL register — so the register index needs a mixed
    * hash. */
  private[graft] def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  private[graft] def addTo(regs: Array[Byte], v: Long): Unit = {
    val h = mix64(graft.core.Fnv1a("hb:" + v))
    val idx = (h >>> (64 - P)).toInt
    val rest = h << P
    val rank = (java.lang.Long.numberOfLeadingZeros(rest | 1L) + 1).toByte
    if (rank > regs(idx)) regs(idx) = rank
  }

  private[graft] def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](M)
    var i = 0
    while (i < M) {
      out(i) = if (a(i) >= b(i)) a(i) else b(i)
      i += 1
    }
    out
  }

  /** Standard HLL estimate with the small-range linear-counting
    * correction (Flajolet et al. 2007). */
  private[graft] def estimate(regs: Array[Byte]): Double = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    val raw = alpha * M * M / sum
    if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
    else raw
  }

  // ------------------------------------------------- approx (sampled)

  /** The reference's sampling error target (approx_harmonic.rs:29:
    * `const EPSILON: f64 = 0.3`). */
  final val ApproxEpsilon = 0.3

  /** Deterministic seeded-hash node sample — the analog of the
    * reference's `random_page_nodes_with_outgoing` (a uniform random
    * sample; seeded md5 order makes ours reproducible so tests and
    * oracles can replay it). Returns `k` rows (source). The limit is
    * k = O(log n / eps^2) — a few hundred even at web scale, so the
    * TakeOrdered heap is driver-safe. */
  private[graft] def sampleSources(edges: DataFrame, k: Int,
                                   seed: String): DataFrame =
    edges.select(col("src").as("source")).distinct()
      .orderBy(md5(concat(lit(seed), col("source").cast("string"))),
        col("source"))
      .limit(k)

  /** Approximate harmonic centrality (reference
    * crates/core/src/webgraph/centrality/approx_harmonic.rs:29-60, the
    * reference's own page-level-scale answer): estimate n with an HLL
    * sketch, sample s = ceil(log2(n)/eps^2) source nodes that have
    * outgoing edges, run a depth-capped BFS from each, and score every
    * reached target v as Σ_sources (1/d(s,v)) · n/(s·(n−1)) — an
    * unbiased estimate of the normalized harmonic centrality
    * Σ_u 1/d(u,v) / (n−1). Nodes no sample reaches get no row (the
    * reference's map holds only touched entries).
    *
    * Spark-first shape: n comes from `approx_count_distinct` (Spark's
    * HLL++; rsd 0.023 matches the reference's 2048-register sketch),
    * the s sources advance in ONE shared frontier
    * ([[graft.ops.Webgraph.multiSourceDistances]]) so the job count is
    * O(maxDist), not O(s), and the per-node sum folds in ascending
    * source order (collect_list → array_sort → aggregate), so the
    * result is bit-stable under any partitioning — the reference
    * accumulates f32 in thread order and is NOT run-reproducible; the
    * deterministic fold is the engine-wide ord-order summation rule.
    * The only driver-held values are n, s and the sampled source list
    * (all O(log n)). */
  def approxHarmonic(spark: SparkSession, edges: Webgraph.Edges,
                     maxDist: Int = 7, epsilon: Double = ApproxEpsilon,
                     seed: String = "ah"): DataFrame = {
    val e = edges.df
    val nEst = math.max(2L,
      e.select(col("src").as("n")).union(e.select(col("dst").as("n")))
        .agg(approx_count_distinct(col("n"), 0.023)).head().getLong(0))
    val numSamples = math.max(1,
      math.ceil(math.log(nEst.toDouble) / math.log(2.0) /
        (epsilon * epsilon)).toInt)
    val sampled = sampleSources(e, numSamples, seed).localCheckpoint()
    // norm uses the REALIZED sample size: the reference assumes the
    // graph has at least num_samples source nodes; a small graph would
    // otherwise deflate every score by the shortfall factor
    val sActual = math.max(1L, sampled.count())
    val norm = nEst.toDouble / (sActual.toDouble * (nEst.toDouble - 1.0))
    Webgraph.multiSourceDistances(edges, sampled, maxDist)
      .where(col("dist") > 0) // dist 0 rows are the sources themselves
      .groupBy(col("node"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("source"), col("dist")))),
        lit(0.0),
        (acc, x) => acc + (lit(1.0) / x.getField("dist")) * lit(norm))
        .as("score"))
  }

  // ------------------------------------------------- betweenness

  /** Betweenness centrality via Brandes' algorithm ("A Faster
    * Algorithm for Betweenness Centrality", 2001) — reference
    * crates/core/src/webgraph/centrality/betweenness.rs:156-218, which
    * runs the textbook per-source BFS + dependency back-propagation
    * over (up to) the first 100k host nodes and normalizes by
    * n·(n−1) with n = the number of sources processed.
    *
    * Spark-first shape: all sources run in ONE pair of level-
    * synchronous passes instead of a per-source loop —
    *
    *  - forward: (source, node, dist, sigma) rows grow one BFS shell
    *    per round; sigma(w) = Σ sigma(v) over frontier predecessors
    *    v→w, a single integer-sum aggregate (exact, order-free);
    *  - backward: for level L−1 down to 0, delta(s,v) =
    *    Σ_{v→w, dist(w)=dist(v)+1} sigma_v/sigma_w · (1 + delta(s,w)),
    *    folded in ascending w order (collect_list → array_sort →
    *    aggregate) so every float sum has ONE order — the reference's
    *    per-source sequential loop is deterministic trivially; the
    *    distributed twin must pin the order to be so.
    *
    * bc(v) = Σ_s delta(s,v) (v≠s), folded in ascending source order,
    * normalized by n(n−1). Output: (node, bc) for every node reached
    * from (or contained in) the source set, zeros included — the
    * reference creates an entry for every source and every stacked
    * node. `maxDepth` caps the BFS like the reference's distance cap
    * elsewhere (its betweenness BFS is uncapped; a cap bounds the round
    * count at scale and the face's oracle unrolls to the same cap).
    * State is O(Σ ball sizes) rows, shuffles keyed by (source, node) —
    * sampled `sources` keep that linear in the sample size at 100 TB;
    * passing every node is the small-graph exact mode. */
  def betweenness(spark: SparkSession, edges: Webgraph.Edges,
                  sources: DataFrame, maxDepth: Int = 8): DataFrame =
    brandesBackward(edges, brandesForward(edges, sources, maxDepth))

  /** Forward-pass result: checkpointed BFS shells (one per level,
    * level = index) with their row counts. Counts come for free from
    * the per-round emptiness probe and drive every downstream
    * broadcast decision without extra count() jobs; level 0 holds one
    * row per distinct source. */
  private[graft] final case class SigmaShells(shells: IndexedSeq[DataFrame],
                                              counts: IndexedSeq[Long]) {
    def dMax: Int = shells.length - 1
    def all: DataFrame = shells.reduce(_ union _)
    def totalRows: Long = counts.sum
    def nSources: Long = counts(0)
  }

  /** Brandes' forward pass: shells of (s, v, d, sigma) rows, sigma =
    * the number of shortest s→v paths, grown one BFS level per round
    * with a single integer-sum aggregate. `sources` is a one-column
    * frame of start nodes.
    *
    * This is the only frontier loop besides
    * [[Webgraph.multiSourceDistances]], because it carries path COUNTS:
    * sigma grows exponentially with depth on dense graphs, and under
    * Spark's default ANSI mode a long `sum` throws on overflow, so a
    * plain distance query must never ride it.
    *
    * The n(n−1) normalization silently becomes 0/0 (NaN) or ∞ with a
    * single source — a plausible degenerate call under the sampled-
    * source API — so every betweenness entry fails loudly instead. */
  private[graft] def brandesForward(edges: Webgraph.Edges, sources: DataFrame,
                                    maxDepth: Int): SigmaShells = {
    require(maxDepth >= 1 && maxDepth <= 255, "dist is a u8-class cap")
    val e = edges.joinSide
    val srcCol = sources.columns.head
    val level0 = sources.select(col(srcCol).as("s")).distinct()
      .select(col("s"), col("s").as("v"), lit(0).as("d"), lit(1L).as("sigma"))
      .localCheckpoint()
    val nSources = level0.count()
    require(nSources >= 2,
      s"betweenness needs >= 2 distinct sources (got $nSources): " +
        "the n(n-1) normalization is degenerate")
    val shells = scala.collection.mutable.ArrayBuffer(level0)
    val counts = scala.collection.mutable.ArrayBuffer(nSources)
    var all = level0
    var frontier = level0
    var d = 1
    var exhausted = false
    while (d <= maxDepth && !exhausted) {
      val next = frontier.join(e, frontier("v") === e("src"))
        .groupBy(col("s"), col("dst").as("w"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(Webgraph.hinted(all.select(col("s"), col("v").as("w")), counts.sum),
          Seq("s", "w"), "left_anti")
        .select(col("s"), col("w").as("v"), lit(d).as("d"), col("sigma"))
        .localCheckpoint()
      val n = next.count()
      if (n == 0L) exhausted = true
      else {
        all = all.union(next)
        if (d % Webgraph.RecheckpointEvery == 0) all = all.localCheckpoint()
        shells += next
        counts += n
        frontier = next
      }
      d += 1
    }
    SigmaShells(shells.toIndexedSeq, counts.toIndexedSeq)
  }

  /** Per-level delta tables at or under this many rows broadcast into
    * the backward-pass outer join (~24 B/row → ~100 MB at this cap);
    * larger levels keep the shuffle join. [[Webgraph.hinted]] applies
    * the same cap to every row-sized side of the graph operators. */
  final val BackwardBroadcastMaxRows: Long = 4L * 1000 * 1000

  /** Backward pass: dependency accumulation level by level, then the
    * source-order fold and n(n−1) normalization (see [[betweenness]]).
    * Per-level sizes are the forward pass's shell counts, so every
    * broadcast decision (delta table into the outer join, successor
    * table into the contribution join, per-level contribs back onto
    * the shell) is guarded without any count() probe jobs; floats fold
    * in pinned order, so join strategy cannot change any value. */
  private[graft] def brandesBackward(edges: Webgraph.Edges,
                                     sh: SigmaShells): DataFrame = {
    import Webgraph.hinted
    val e = edges.joinSide
    val dMax = sh.dMax
    // delta rows for the current level+1 (leaves start at 0 implicitly).
    // A projection of an already-checkpointed shell — no checkpoint of
    // its own needed.
    var deltaNext = sh.shells(dMax)
      .select(col("s"), col("v"), lit(0.0).as("delta"))
    var deltaRows = sh.counts(dMax)
    // per-level gains stay as references to their (checkpointed)
    // deltaNext parents and union flat at the end — checkpointing the
    // running accumulator per level bought nothing but a job per round
    var gains = List.empty[DataFrame]
    var lvl = dMax - 1
    while (lvl >= 0) {
      val cur = sh.shells(lvl)
      val dn = hinted(deltaNext.select(col("s"), col("v").as("w"),
        col("delta").as("delta_w")), deltaRows)
      val succ = sh.shells(lvl + 1)
        .select(col("s"), col("v").as("w"), col("sigma").as("sigma_w"))
        .join(dn, Seq("s", "w"), "left_outer")
        .select(col("s"), col("w"), col("sigma_w"),
          coalesce(col("delta_w"), lit(0.0)).as("delta_w"))
      // cur and succ both descend from the shells' lineage: aliased
      // sides keep the join keys explicit instead of leaving Spark to
      // rewrite a `s = s` self-join condition
      val contribs = cur.as("cur").join(e.as("e"), col("cur.v") === col("e.src"))
        .join(hinted(succ.as("succ"), sh.counts(lvl + 1)),
          col("cur.s") === col("succ.s") && col("e.dst") === col("succ.w"))
        .select(col("cur.s").as("s"), col("cur.v").as("v"),
          struct(col("succ.w").as("w"),
            ((col("cur.sigma").cast("double") / col("succ.sigma_w").cast("double")) *
              (lit(1.0) + col("succ.delta_w"))).as("c")).as("wc"))
        .groupBy(col("s"), col("v"))
        .agg(aggregate(array_sort(collect_list(col("wc"))), lit(0.0),
          (a, x) => a + x.getField("c")).as("delta"))
      deltaNext = cur.select(col("s"), col("v"))
        .join(hinted(contribs, sh.counts(lvl)), Seq("s", "v"), "left_outer")
        .select(col("s"), col("v"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
      // every leaf of deltaNext's plan is a checkpointed shell, so the
      // per-level chain stays shallow at the depths the faces run —
      // the per-level eager checkpoint cost a materialization job per
      // round for nothing (measured: re-checkpointing every other
      // level was ~1 s SLOWER at depth 4 despite halving the plan
      // size; AQE stage reuse already de-duplicates the repeated
      // subtrees at runtime). A periodic re-checkpoint stays as the
      // backstop for deep caps (the API permits maxDepth up to 255,
      // where nested-round Catalyst cost would otherwise resurface).
      if ((dMax - lvl) % 8 == 0) deltaNext = deltaNext.localCheckpoint()
      deltaRows = sh.counts(lvl)
      gains ::= deltaNext.where(col("v") =!= col("s") && col("delta") =!= 0.0)
      lvl -= 1
    }
    val everyNode = sh.all.select(col("v")).distinct()
    if (gains.isEmpty)
      everyNode.select(col("v").as("node"), lit(0.0).as("bc"))
    else {
      val norm = sh.nSources.toDouble * (sh.nSources.toDouble - 1.0)
      val summed = gains.reduce(_ union _).groupBy(col("v"))
        .agg((aggregate(
          array_sort(collect_list(struct(col("s"), col("delta")))),
          lit(0.0), (a, x) => a + x.getField("delta")) / lit(norm))
          .as("bc"))
      everyNode.join(hinted(summed, sh.totalRows), Seq("v"), "left_outer")
        .select(col("v").as("node"),
          coalesce(col("bc"), lit(0.0)).as("bc"))
    }
  }

  /** Shortest-path pair table for the pair-dependency identity —
    * the FACE-checkable twin of [[betweenness]]. From the forward-BFS
    * table (all-pairs when `sources` = every node):
    * bc(v) = Σ_{s≠v≠t} σ_sv·σ_vt/σ_st over pairs with
    * d(s,v)+d(v,t)=d(s,t) (Brandes eq. 2 / the classic definition).
    * σ products are exact integers, so the per-node PATH COUNT
    * spc(v) = Σ σ_sv·σ_vt is an integer a SQL oracle reproduces
    * hash-exactly; the float quotient sum folds in (s,t) order. Output:
    * (node, spc, bc_formula) for every node in the BFS table. */
  def betweennessPairDependency(spark: SparkSession, edges: Webgraph.Edges,
                                sources: DataFrame,
                                maxDepth: Int = 8): DataFrame =
    pairDependencyFrom(brandesForward(edges, sources, maxDepth))

  /** Both sides from ONE forward pass: (node, spc, bc, bc_formula) —
    * the Brandes back-propagated score next to the pair-dependency
    * identity value and integer path count. The driver face uses this
    * so the shared sigma table is computed once, not twice. */
  def betweennessChecked(spark: SparkSession, edges: Webgraph.Edges,
                         sources: DataFrame, maxDepth: Int = 8): DataFrame = {
    val sh = brandesForward(edges, sources, maxDepth)
    // both sides are one row per reached node (≤ totalRows)
    brandesBackward(edges, sh)
      .join(Webgraph.hinted(pairDependencyFrom(sh), sh.totalRows), Seq("node"))
  }

  /** The pair table's small sides (the shells themselves and the
    * per-(s,t) sigma lookup) broadcast under the shells' row count.
    * Sums are exact integers or pinned-order folds — strategy cannot
    * change results. */
  private[graft] def pairDependencyFrom(sh: SigmaShells): DataFrame = {
    import Webgraph.hinted
    val rows = sh.totalRows
    val sp = sh.all
    val a = sp.select(col("s"), col("v"), col("d").as("dsv"),
      col("sigma").as("ssv")).where(col("s") =!= col("v"))
    val b = sp.select(col("s").as("v"), col("v").as("t"),
      col("d").as("dvt"), col("sigma").as("svt"))
      .where(col("v") =!= col("t"))
    val st = sp.select(col("s"), col("v").as("t"), col("d").as("dst"),
      col("sigma").as("sst"))
    val through = a.join(hinted(b, rows), Seq("v"))
      .where(col("s") =!= col("t"))
      .join(hinted(st, rows), Seq("s", "t"))
      .where(col("dsv") + col("dvt") === col("dst"))
    val norm = sh.nSources.toDouble * (sh.nSources.toDouble - 1.0)
    val scored = through
      .select(col("v"),
        (col("ssv") * col("svt")).as("spc_part"),
        struct(col("s"), col("t"),
          ((col("ssv") * col("svt")).cast("double") /
            col("sst").cast("double")).as("q")).as("stq"))
      .groupBy(col("v"))
      .agg(sum(col("spc_part")).as("spc"),
        (aggregate(array_sort(collect_list(col("stq"))), lit(0.0),
          (acc2, x) => acc2 + x.getField("q")) / lit(norm)).as("bc_formula"))
    sp.select(col("v")).distinct()
      .join(hinted(scored, rows), Seq("v"), "left_outer")
      .select(col("v").as("node"),
        coalesce(col("spc"), lit(0L)).as("spc"),
        coalesce(col("bc_formula"), lit(0.0)).as("bc_formula"))
  }

  /** HyperBall harmonic-centrality estimates: (node, est_harmonic,
    * est_ball) after `maxDepth` rounds. Per round, every node ships
    * its current in-ball sketch along its OUT-edges (u ∈ B(x, t-1) and
    * x→v imply u ∈ B(v, t)), destinations reduce by elementwise max,
    * and the harmonic accumulator adds (est_t - est_{t-1})/t clamped
    * at 0. */
  def harmonicHyperBall(spark: SparkSession, edges: Webgraph.Edges,
                        maxDepth: Int): Dataset[BallState] = {
    import spark.implicits._
    def typed(df: DataFrame): Dataset[(Long, Long)] =
      df.select(col("src").cast("long"), col("dst").cast("long")).as[(Long, Long)]
    val e0 = typed(edges.df)
    // the edge list broadcasts under the edges' guard and the ≈300 B/row
    // merged-sketch table under a node-count guard (register max-merge
    // is commutative/associative, so join strategy cannot change a
    // sketch). Over-threshold graphs keep the scale-safe shuffle joins
    // — HyperBall's 100 TB shape.
    val e = typed(edges.joinSide)
    val nodes = e0.map(_._1).union(e0.map(_._2)).distinct().localCheckpoint()
    val tinySketch = nodes.count() <= 200000L
    // prevEst seeds with the ESTIMATOR's view of the singleton ball,
    // not the exact 1.0: deltas subtract estimates from estimates
    // (Boldi & Vigna), and an exact seed inflates every node's first
    // delta by the estimator's singleton bias (~0.002)
    var cur: Dataset[BallState] =
      nodes.map(n => BallState(n, initRegs(n), estimate(initRegs(n)), 0.0))
        .localCheckpoint()
    var t = 1
    while (t <= maxDepth) {
      val depth = t
      // sketches travel src -> dst; reduce per destination by max-merge
      val inbound0 = cur.joinWith(e, cur("node") === e("src"))
        .map { case (st, (_, dst)) => (dst, st.regs) }
        .groupByKey(_._1)
        .reduceGroups((a, b) => (a._1, merge(a._2, b._2)))
        .map { case (node, (_, regs)) => (node, regs) }
      val inbound = if (tinySketch) broadcast(inbound0) else inbound0
      cur = cur.joinWith(inbound, cur("node") === inbound("_1"), "left_outer")
        .map { case (st, in) =>
          val regs = if (in == null) st.regs else merge(st.regs, in._2)
          val est = estimate(regs)
          val delta = math.max(est - st.prevEst, 0.0)
          val acc = Kahan.add(Kahan.KahanAcc(st.harmonic, st.herr),
            delta / depth)
          BallState(st.node, regs, est, acc.sum, acc.err)
        }.localCheckpoint() // truncate the per-round lineage (see exact)
      t += 1
    }
    cur
  }
}
