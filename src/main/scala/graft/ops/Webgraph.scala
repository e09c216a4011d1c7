package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.index.SourceDoc

/** Webgraph construction — the reference builds page- and host-level
  * link graphs from crawled pages (crates/core/src/webgraph/) and
  * feeds them to the centrality jobs. Code-corpus analog: each doc's
  * outgoing link targets (`SourceDoc.links` — dependency references of
  * the doc's repo) aggregate into a weighted repo→repo edge table, the
  * exact input shape ops.Centrality consumes and
  * IndexBuilder.Config.centrality stores.
  *
  * Scale shape: one explode (narrow) + one groupBy keyed by (src, dst)
  * — a single shuffle whose key space is the edge set, with map-side
  * partial aggregation; no corpus×corpus joins, no driver-side state.
  */
object Webgraph {

  /** Repo(host)-level weighted graph (src, dst, weight): self-loops
    * dropped, weight = number of doc-level link occurrences — the
    * host-graph aggregation the reference's centrality ranks over. */
  def repoGraph(docs: Dataset[SourceDoc]): DataFrame =
    docs.select(col("repo").as("src"), explode(col("links")).as("dst"))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))

  /** Grouped backlinks (reference backlink_grouper.rs + log_group.rs:
    * a page's inbound links are bucketed into `groups` exponential
    * bands by the SOURCE host's centrality rank — best-ranked sources
    * land in the highest group; the reference feeds its grouped
    * backlink schema fields from this with NUM_GROUPS = 10).
    *
    * `edges` is the (src, dst) repo graph; `ranks` maps repo → rank
    * (0 = best; any centrality order works — ops.Centrality's jobs or
    * a cheap in-degree rank). One broadcast-or-shuffle join keyed by
    * src plus a pure column expression for the band: group =
    * groups - 1 - min(trunc(ln(rank+1)/ln(base)), groups-1), with
    * ln(base) computed driver-side from the SAME rounded base the
    * kernel uses, so column and kernel agree bit-for-bit. */
  def groupedBacklinks(edges: DataFrame, ranks: DataFrame, numHosts: Long,
                       groups: Long = 10L): DataFrame = {
    val lg = new graft.core.LogGroup(numHosts, groups)
    val grp = lit(groups - 1) -
      least(floor(log(col("rank") + 1) / lit(lg.lnBase)).cast("long"),
        lit(groups - 1))
    edges.select(col("src"), col("dst"))
      .join(ranks.select(col("repo").as("src"), col("rank")), Seq("src"))
      .select(col("dst"), grp.as("grp"), col("src"), col("rank"))
  }

  /** A graph's edge table prepared ONCE for every graph operator
    * (distances, exact / sampled / HyperBall harmonic centrality,
    * betweenness): (src, dst) with self-loops dropped and duplicates
    * removed, localCheckpointed and counted. Node columns keep their
    * input type.
    *
    * [[joinSide]] is the frame for a per-round join: broadcast at or
    * under `broadcastMaxEdges` rows. The checkpointed LogicalRDD carries
    * no Catalyst stats, so without the hint every round would pay a
    * shuffle join against a relation Spark cannot see is small; over
    * the guard a big graph degrades to the slower shuffle join instead
    * of re-broadcasting the edge table every round. Every sum on either
    * side of the hint is an exact integer or a pinned-order fold, so
    * the join strategy cannot change a result (`broadcastMaxEdges = 0`
    * forces the shuffle path). */
  final class Edges private (val df: DataFrame, count: Long,
                             broadcastMaxEdges: Long) {
    def joinSide: DataFrame =
      if (count <= broadcastMaxEdges) broadcast(df) else df

    /** The same edges walked backwards (inbound links). */
    def reversed: Edges = new Edges(
      df.select(col("dst").as("src"), col("src").as("dst")), count,
      broadcastMaxEdges)
  }

  object Edges {
    def apply(edges: DataFrame,
              broadcastMaxEdges: Long = Centrality.ExactBroadcastMaxEdges): Edges = {
      val e = edges.select(col("src"), col("dst"))
        .where(col("src") =!= col("dst")).distinct().localCheckpoint()
      // the checkpoint materialized e: the count is a cached-block scan
      new Edges(e, e.count(), broadcastMaxEdges)
    }
  }

  /** The one broadcast guard of the graph operators' row-sized sides
    * (visited pairs, BFS shells, per-node results): broadcast at or
    * under [[Centrality.BackwardBroadcastMaxRows]] rows, else keep the
    * scale-safe shuffle join. `rows` always comes from a count the
    * caller already holds, never from a probe job. */
  private[graft] def hinted(df: DataFrame, rows: Long): DataFrame =
    if (rows <= Centrality.BackwardBroadcastMaxRows) broadcast(df) else df

  /** Rounds between re-checkpoints of a BFS's running union of shells.
    * Each shell is checkpointed, so the union is a flat plan over
    * materialized leaves, but it still grows by one leaf per round:
    * O(d^2) Catalyst work at deep caps unless periodically truncated. */
  private[graft] final val RecheckpointEvery = 32

  /** BFS shortest-path distances from `source` over the repo graph —
    * the reference's webgraph distance queries
    * (crates/core/src/webgraph/shortest_path.rs: `dijkstra_multi` with
    * unit edge cost = breadth-first levels, `raw_distances_with_max`
    * caps the depth, the `reversed` variants walk inbound edges).
    * Returns (repo, dist) with dist = minimum hop count, source at 0. */
  def distances(edges: Edges, source: String, maxDist: Int,
                reversed: Boolean = false): DataFrame = {
    val src = edges.df.sparkSession.range(1).select(lit(source).as("source"))
    multiSourceDistances(if (reversed) edges.reversed else edges, src, maxDist)
      .select(col("node").as("repo"), col("dist"))
  }

  /** Multi-source capped BFS — the one distance BFS under
    * [[distances]] and ops.Centrality's exact (every node a source,
    * reversed edges) and sampled-source harmonic jobs. `sources` is a
    * one-column frame of start nodes (the reference's
    * `raw_distances_with_max` is the single-source form,
    * shortest_path.rs). Returns (source, node, dist) with dist = min
    * hop count, each source at 0.
    *
    * Scale shape: all sources advance in ONE frontier — each round is a
    * single frontier⋈edges join (the edges' [[Edges.joinSide]]) plus an
    * anti-join against the visited (source, node) pairs, so s sources
    * cost one job sequence, not s of them. State is O(Σ ball sizes)
    * rows — the same product the reference materializes per source,
    * sharded instead of driver-held. Each round's shell is
    * localCheckpointed: without that truncation the d-th round's plan
    * nests every earlier round and Catalyst time grows superlinearly
    * with depth. */
  def multiSourceDistances(edges: Edges, sources: DataFrame,
                           maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 255, "dist is a u8 in the reference")
    val e = edges.joinSide
    val srcCol = sources.columns.head
    var visited = sources
      .select(col(srcCol).as("source"), col(srcCol).as("node"),
        lit(0L).as("dist"))
      .distinct().localCheckpoint()
    // the emptiness probe per round doubles as the row count that
    // guards the anti-join's visited-side broadcast
    var visRows = visited.count()
    var frontier = visited.select("source", "node")
    var d = 1
    var exhausted = false
    while (d <= maxDist && !exhausted) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("source"), col("dst").as("node")).distinct()
        .join(hinted(visited.select("source", "node"), visRows),
          Seq("source", "node"), "left_anti")
        .localCheckpoint()
      val n = next.count()
      if (n == 0L) exhausted = true
      else {
        visited = visited
          .union(next.select(col("source"), col("node"),
            lit(d.toLong).as("dist")))
        if (d % RecheckpointEvery == 0) visited = visited.localCheckpoint()
        visRows += n
        frontier = next
      }
      d += 1
    }
    visited
  }

  /** "Similar hosts" analog (reference similar_hosts.rs +
    * ranking/inbound_similarity.rs): rank repos by how much their
    * inbound-link profile overlaps the `liked` repos'.
    *
    * Candidate generation = the reference's `potential_nodes`
    * (similar_hosts.rs:118-166): the liked repos' inbound sources
    * ("backlink nodes") vote for every repo they link to; when there
    * are more than `backlinkThreshold` voters, repos backed by more
    * than ceil(`popularFraction`·voters) of them are dropped as
    * too-popular and the pool shrinks to `approxCandidates`, else the
    * pool caps at `candidatesLimit`. Liked repos are excluded.
    *
    * Scoring = inbound_similarity::Scorer with no dislikes, normalized
    * (similar_hosts.rs:62, inbound_similarity.rs:100-120):
    * score(c) = max(0, Σ_l sim(l, c) / |liked|) where sim is the
    * binary-set cosine |inb(l)∩inb(c)| / (√|inb(l)|·√|inb(c)|)
    * (bitvec_similarity.rs:165-180 — its bloom prefilter is a
    * shortcut approximation we skip, so scores here are exact).
    * The Σ folds in `liked` order (deterministic float summation, the
    * engine-wide ord-order rule). The reference sorts candidate votes
    * and final scores with unspecified tie order (HashMap iteration);
    * here both tie-break on repo id so results are reproducible.
    *
    * Scale shape: backlink extraction filters on ≤|liked| keys; the
    * vote count is one src-keyed join + dst-keyed partial agg; the
    * candidate pool is driver-bounded (≤1024); intersections join the
    * liked-inbound rows (small) with the candidate-inbound rows
    * (bucket-bounded) on src — no corpus×corpus pair production. */
  def similarRepos(edges: DataFrame, liked: Seq[String], limit: Int,
                   backlinkThreshold: Int = 32,
                   popularFraction: Double = 0.25,
                   approxCandidates: Int = 256,
                   candidatesLimit: Int = 1024): DataFrame = {
    require(liked.nonEmpty, "need at least one liked repo")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    // one cached-block count guards every small-side broadcast below
    // (degree table, per-candidate scores): binary-set cosine terms are
    // exact integer counts and the score fold is liked-order pinned, so
    // join strategy cannot change results; an over-threshold graph
    // keeps the shuffle joins
    val eCnt = e.count()
    val back = e.where(col("dst").isin(liked: _*)).select("src").distinct()
    val nBack = back.count()
    val votes = e.join(broadcast(back), Seq("src"))
      .where(!col("dst").isin(liked: _*))
      .groupBy("dst").agg(count(lit(1)).as("cnt"))
    val applyFilter = nBack > backlinkThreshold
    val capped =
      if (applyFilter)
        votes.where(col("cnt") <= math.ceil(nBack * popularFraction).toLong)
      else votes
    val nCand = if (applyFilter) approxCandidates else candidatesLimit
    val cand = capped.orderBy(col("cnt").desc, col("dst"))
      .limit(nCand).select(col("dst").as("cand")).localCheckpoint()
    val deg = e.groupBy("dst").agg(count(lit(1)).as("deg"))
    val li = e.where(col("dst").isin(liked: _*))
      .select(col("dst").as("l"), col("src"))
    val ci = e.join(broadcast(cand), e("dst") === cand("cand"))
      .select(col("cand").as("c"), col("src"))
    val inter = li.join(ci, Seq("src")).groupBy("l", "c")
      .agg(count(lit(1)).as("inter"))
    // liked-list position for the deterministic fold order
    val liCol: Column = liked.zipWithIndex.tail
      .foldLeft(when(col("l") === liked.head, lit(0))) {
        case (acc, (r, i)) => acc.when(col("l") === r, lit(i))
      }
    val sims = inter
      .join(hinted(deg.select(col("dst").as("l"), col("deg").as("dl")), eCnt), Seq("l"))
      .join(hinted(deg.select(col("dst").as("c"), col("deg").as("dc")), eCnt), Seq("c"))
      .select(col("c"), liCol.as("li"),
        (col("inter").cast("double") /
          (sqrt(col("dl").cast("double")) * sqrt(col("dc").cast("double"))))
          .as("sim"))
    val scored = sims.groupBy("c")
      .agg(aggregate(
        array_sort(collect_list(struct(col("li"), col("sim")))),
        lit(0.0), (acc, x) => acc + x.getField("sim")).as("ssum"))
    // zero-overlap candidates still rank (score 0.0), like the
    // reference's scored_nodes over every potential node
    cand.join(hinted(scored, eCnt), cand("cand") === scored("c"), "left_outer")
      .select(col("cand").as("repo"),
        greatest(lit(0.0),
          coalesce(col("ssum"), lit(0.0)) / lit(liked.size.toDouble))
          .as("score"))
      .orderBy(col("score").desc, col("repo"))
      .limit(limit)
  }
}
