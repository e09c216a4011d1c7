package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import scala.collection.mutable.ArrayBuffer
import graft.core.Ltr

/** Distributed LambdaMART training (reference: `ltr/lambdamart.py` —
  * the reference trains its ranker with LightGBM's `lambdarank`
  * objective, metric ndcg@[1,2,3,5], num_leaves 15, lambda_l2 2.0-2.5,
  * over per-(query,url) rankingSignals vectors; the trained model is
  * consumed by `ranking/models/lambdamart.rs`). This is a Spark-native
  * re-derivation of the published algorithm stack — LambdaMART (Burges,
  * "From RankNet to LambdaRank to LambdaMART", MSR-TR-2010-82) fitted
  * with LightGBM-style histogram trees (Ke et al., NeurIPS 2017) — NOT
  * a port of LightGBM: binning, gradients and tree growth are
  * re-expressed as Spark passes.
  *
  * Distributed design (holds on a 1000-executor cluster):
  *  - Bin construction samples `binSampleCount` rows (LightGBM's own
  *    `bin_construct_sample_cnt` approach) via a deterministic
  *    hash-ordered TakeOrdered — constant driver memory at any corpus
  *    size.
  *  - Per boosting iteration: ONE shuffle (groupByKey on qid) computes
  *    lambdarank gradients inside bounded query groups (pairs are
  *    truncation-capped, so a group costs O(τ·n), never O(n²)); tree
  *    growth is ≤ maxDepth+1 narrow mapPartitions passes, each emitting
  *    one dense per-partition histogram (slots × Σbins × 3 doubles)
  *    combined on the driver in partition order (deterministic float
  *    summation); split selection is driver-side over the tiny
  *    histogram. Driver combine is O(partitions × histogram) — at
  *    extreme partition counts coalesce the gradient dataset first;
  *    the histogram itself is a few hundred KB regardless of data size.
  *  - The gradient dataset is localCheckpoint'ed every iteration (the
  *    iterative-Catalyst lineage trap, see ops/Centrality) and the
  *    previous iteration's blocks are freed once the new one is
  *    materialized.
  *
  * Inference compatibility: `serialize` emits the LightGBM text layout
  * `core.Ltr.parse` reads. Ltr applies the reference's per-tree
  * |min leaf|+1 load shift and predicts the MEAN of trees
  * (lambdamart.rs:155-175,305-310), so parsed-model scores are a
  * rank-preserving positive-affine transform of the raw boosted sum:
  * parsed.predict = (rawSum + Σ offsets) / numTrees. */
object LtrTrain {

  /** One labeled (query, doc) example: `label` is the relevance grade
    * (reference annotations use 0..4), `features` a dense signal
    * vector. `docId` breaks ranking ties deterministically. */
  final case class LtrTrainRow(qid: Long, docId: Long, label: Double,
                               features: Array[Double])

  /** Defaults mirror the reference's grid (`ltr/lambdamart.py`
    * param_grid): lambda_l2 2.0, num_leaves 15 ≈ depth-4 trees, and
    * LightGBM's lambdarank truncation default 30. */
  final case class Config(numTrees: Int = 30,
                          maxDepth: Int = 4,
                          numBins: Int = 64,
                          learningRate: Double = 0.1,
                          lambdaL2: Double = 2.0,
                          minHessianLeaf: Double = 1e-3,
                          minRowsLeaf: Long = 1L,
                          truncation: Int = 30,
                          binSampleCount: Int = 200000,
                          sigma: Double = 1.0)

  /** Internal binned row threaded across boosting iterations. Public:
    * Spark codegen requires visible case classes. */
  final case class BRow(qid: Long, docId: Long, label: Double,
                        bins: Array[Int], score: Double,
                        grad: Double, hess: Double)

  final case class Trained(modelText: String, ensemble: Ltr.Ensemble,
                           treesBuilt: Int)

  // ---------------------------------------------------------------- bins

  /** Per-feature ascending cut values; bin(v) = first i with
    * v <= edges(i), else edges.length (overflow bin). A split at bin s
    * therefore means exactly `value <= edges(s)`, matching Ltr.Tree's
    * `value <= threshold → left` traversal. */
  private[graft] def binOf(v: Double, edges: Array[Double]): Int = {
    var lo = 0; var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v <= edges(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Equal-frequency cut values from a sorted (with duplicates) sample
    * column; an all-identical column yields no edges (unsplittable). */
  private[graft] def edgesFromSample(sorted: Array[Double],
                                   numBins: Int): Array[Double] = {
    if (sorted.isEmpty || sorted.head == sorted.last) return Array.empty
    val cuts = ArrayBuffer[Double]()
    var b = 1
    while (b < numBins) {
      val v = sorted(math.min((b.toLong * sorted.length / numBins).toInt,
        sorted.length - 1))
      if ((cuts.isEmpty || v > cuts.last) && v < sorted.last) cuts += v
      b += 1
    }
    // guarantee at least one cut for a non-constant feature
    if (cuts.isEmpty) cuts += sorted.head
    cuts.toArray
  }

  // ------------------------------------------------------- lambdarank

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)
  private def gainOf(label: Double): Double = math.pow(2.0, label) - 1.0
  private def discount(pos: Int): Double = 1.0 / log2(pos + 2.0)

  /** NDCG@k for one group; ranking order is (score desc, docId asc) —
    * the engine's canonical tie-break. An all-zero-label group scores
    * 1.0 (nothing to misrank). */
  def ndcgAt(k: Int, scores: Array[Double], labels: Array[Double],
             docIds: Array[Long]): Double = {
    val n = scores.length
    val order = (0 until n).sortBy(i => (-scores(i), docIds(i)))
    val ideal = labels.sorted(Ordering[Double].reverse)
    var dcg = 0.0; var idcg = 0.0
    var p = 0
    while (p < math.min(k, n)) {
      dcg += gainOf(labels(order(p))) * discount(p)
      idcg += gainOf(ideal(p)) * discount(p)
      p += 1
    }
    if (idcg == 0.0) 1.0 else dcg / idcg
  }

  /** Lambdarank gradients for one query group: pairs restricted to
    * min(rank) < truncation, delta = |Δgain|·|Δdiscount| / idealDCG@τ,
    * p = 1/(1+e^{σ(s_hi−s_lo)}); grad_hi −= σ·p·δ, grad_lo += σ·p·δ,
    * hess += σ²·p·(1−p)·δ. The tree's Newton leaf −G/(H+λ) then pushes
    * better-labeled docs up. */
  private[graft] def groupLambdas(rows: Array[BRow], cfg: Config): Array[BRow] = {
    val n = rows.length
    if (n < 2) return rows.map(_.copy(grad = 0.0, hess = 0.0))
    val order = (0 until n).sortBy(i => (-rows(i).score, rows(i).docId)).toArray
    val labAt = Array.tabulate(n)(p => rows(order(p)).label)
    val scoAt = Array.tabulate(n)(p => rows(order(p)).score)
    val tau = math.min(cfg.truncation, n)
    val idealLabels = labAt.sorted(Ordering[Double].reverse)
    var idcg = 0.0
    var p = 0
    while (p < tau) { idcg += gainOf(idealLabels(p)) * discount(p); p += 1 }
    val grad = new Array[Double](n) // indexed by sorted position
    val hess = new Array[Double](n)
    if (idcg > 0.0) {
      var pa = 0
      while (pa < tau) {
        var pb = 0
        while (pb < n) {
          // each unordered pair once: within the top-τ block only pb > pa
          if (pb != pa && !(pb < tau && pb < pa) && labAt(pa) != labAt(pb)) {
            val (hi, lo) = if (labAt(pa) > labAt(pb)) (pa, pb) else (pb, pa)
            val delta = math.abs(gainOf(labAt(hi)) - gainOf(labAt(lo))) *
              math.abs(discount(pa) - discount(pb)) / idcg
            val s = cfg.sigma * (scoAt(hi) - scoAt(lo))
            val prob = 1.0 / (1.0 + math.exp(s))
            val l = cfg.sigma * prob * delta
            grad(hi) -= l; grad(lo) += l
            val h = cfg.sigma * cfg.sigma * prob * (1.0 - prob) * delta
            hess(hi) += h; hess(lo) += h
          }
          pb += 1
        }
        pa += 1
      }
    }
    Array.tabulate(n) { pp =>
      rows(order(pp)).copy(grad = grad(pp), hess = hess(pp))
    }
  }

  // ------------------------------------------------------- tree growth

  /** Driver-side node of a tree under construction. */
  private[graft] final class FitNode(val depth: Int, var g: Double,
                                   var h: Double, var cnt: Long) {
    var splitFeat: Int = -1
    var splitBin: Int = -1
    var left: Int = -1
    var right: Int = -1
  }

  private final case class TreeShape(feat: Array[Int], bin: Array[Int],
                                     left: Array[Int], right: Array[Int])

  /** Traverse a (possibly partial) tree in bin space; lands on an
    * unsplit node. */
  private def descend(t: TreeShape, bins: Array[Int]): Int = {
    var node = 0
    while (t.feat(node) >= 0)
      node = if (bins(t.feat(node)) <= t.bin(node)) t.left(node) else t.right(node)
    node
  }

  private def shapeOf(nodes: ArrayBuffer[FitNode]): TreeShape =
    TreeShape(nodes.map(_.splitFeat).toArray, nodes.map(_.splitBin).toArray,
      nodes.map(_.left).toArray, nodes.map(_.right).toArray)

  /** One histogram pass: per-partition dense (slot × Σbins × [g,h,cnt])
    * arrays, combined on the driver in partition order so float
    * summation is deterministic for a fixed partitioning. */
  private def histogramPass(g: Dataset[BRow], tree: TreeShape,
                            slotOf: Map[Int, Int], nSlots: Int,
                            off: Array[Int], totB: Int): Array[Double] = {
    val numF = off.length
    val parts = g.rdd.mapPartitions { it =>
      val arr = new Array[Double](nSlots * totB * 3)
      it.foreach { r =>
        slotOf.get(descend(tree, r.bins)) match {
          case Some(slot) =>
            val base = slot * totB
            var fi = 0
            while (fi < numF) {
              val i = (base + off(fi) + r.bins(fi)) * 3
              arr(i) += r.grad; arr(i + 1) += r.hess; arr(i + 2) += 1.0
              fi += 1
            }
          case None => ()
        }
      }
      Iterator.single((TaskContext.getPartitionId(), arr))
    }.collect().sortBy(_._1)
    val total = new Array[Double](nSlots * totB * 3)
    parts.foreach { case (_, arr) =>
      var i = 0
      while (i < total.length) { total(i) += arr(i); i += 1 }
    }
    total
  }

  /** Grow one depth-wise histogram tree. Returns None when the root has
    * no gradient signal (training converged). */
  private def fitTree(g: Dataset[BRow], edges: Array[Array[Double]],
                      cfg: Config): Option[ArrayBuffer[FitNode]] = {
    val numF = edges.length
    val off = new Array[Int](numF)
    var acc = 0
    var f = 0
    while (f < numF) { off(f) = acc; acc += edges(f).length + 1; f += 1 }
    val totB = acc

    val nodes = ArrayBuffer(new FitNode(0, 0.0, 0.0, 0L))
    var level = 0
    while (level <= cfg.maxDepth) {
      val open = nodes.zipWithIndex.filter { case (nd, _) =>
        nd.splitFeat < 0 && nd.depth == level && nd.depth < cfg.maxDepth &&
          (level == 0 || (nd.h >= 2 * cfg.minHessianLeaf &&
            nd.cnt >= 2 * cfg.minRowsLeaf))
      }.toArray
      if (open.isEmpty) return checkRoot(nodes)
      val slotOf = open.map(_._2).zipWithIndex.toMap
      val hist = histogramPass(g, shapeOf(nodes), slotOf, open.length, off, totB)
      open.foreach { case (nd, id) =>
        val base = slotOf(id) * totB
        // node totals from feature 0's bins (every feature's bins sum
        // to the node total)
        var gT = 0.0; var hT = 0.0; var cT = 0.0
        var b = 0
        while (b < edges(0).length + 1) {
          val i = (base + off(0) + b) * 3
          gT += hist(i); hT += hist(i + 1); cT += hist(i + 2)
          b += 1
        }
        if (level == 0) { nd.g = gT; nd.h = hT; nd.cnt = cT.toLong }
        if (nd.cnt == 0L) return None // empty root: no rows at all
        val parentObj = nd.g * nd.g / (nd.h + cfg.lambdaL2)
        var bestGain = 1e-12
        var bestF = -1; var bestB = -1
        var bestGL = 0.0; var bestHL = 0.0; var bestCL = 0L
        f = 0
        while (f < numF) {
          val nb = edges(f).length + 1
          var gl = 0.0; var hl = 0.0; var cl = 0.0
          var s = 0
          while (s < nb - 1) { // overflow bin can never be a left bound
            val i = (base + off(f) + s) * 3
            gl += hist(i); hl += hist(i + 1); cl += hist(i + 2)
            val gr = nd.g - gl; val hr = nd.h - hl
            val cr = nd.cnt - cl.toLong
            if (cl.toLong >= cfg.minRowsLeaf && cr >= cfg.minRowsLeaf &&
                hl >= cfg.minHessianLeaf && hr >= cfg.minHessianLeaf) {
              val gain = gl * gl / (hl + cfg.lambdaL2) +
                gr * gr / (hr + cfg.lambdaL2) - parentObj
              if (gain > bestGain) {
                bestGain = gain; bestF = f; bestB = s
                bestGL = gl; bestHL = hl; bestCL = cl.toLong
              }
            }
            s += 1
          }
          f += 1
        }
        if (bestF >= 0) {
          nd.splitFeat = bestF; nd.splitBin = bestB
          nd.left = nodes.length
          nodes += new FitNode(nd.depth + 1, bestGL, bestHL, bestCL)
          nd.right = nodes.length
          nodes += new FitNode(nd.depth + 1, nd.g - bestGL, nd.h - bestHL,
            nd.cnt - bestCL)
        }
      }
      level += 1
    }
    checkRoot(nodes)
  }

  /** A tree whose root never split AND has ~zero gradient carries no
    * signal — signals convergence to the boosting loop. */
  private def checkRoot(nodes: ArrayBuffer[FitNode]): Option[ArrayBuffer[FitNode]] =
    if (nodes.length == 1 && math.abs(nodes(0).g) < 1e-12) None else Some(nodes)

  /** Newton leaf value with shrinkage baked in (LightGBM stores
    * shrunk leaf_value in its dumps too). */
  private def leafValueOf(nd: FitNode, cfg: Config): Double =
    if (nd.h + cfg.lambdaL2 <= 0.0) 0.0
    else -cfg.learningRate * nd.g / (nd.h + cfg.lambdaL2)

  /** Bin-space scorer for the boosting update (same routing as the
    * serialized value-space tree, by construction of the edges). */
  private def binScore(shape: TreeShape, leafOfNode: Array[Double],
                       bins: Array[Int]): Double =
    leafOfNode(descend(shape, bins))

  // ------------------------------------------------------ serialization

  /** Value-space parallel arrays in the Ltr.Tree layout: internal nodes
    * numbered breadth-first (so every child id > parent id, which
    * Ltr.parse validates), leaves as ~leafIndex. */
  private def toLayout(nodes: ArrayBuffer[FitNode], edges: Array[Array[Double]],
                       cfg: Config): (Array[Int], Array[Double], Array[Int], Array[Int], Array[Double]) = {
    val internal = nodes.zipWithIndex.filter(_._1.splitFeat >= 0)
    if (internal.isEmpty)
      return (Array.empty, Array.empty, Array.empty, Array.empty,
        Array(leafValueOf(nodes(0), cfg)))
    // breadth-first order = creation order of split nodes (depth-wise
    // growth appends children level by level), so sorting internal
    // nodes by their buffer index preserves parent-before-child
    val idOf = internal.map(_._2).zipWithIndex.toMap // buffer idx -> layout idx
    val sf = ArrayBuffer[Int](); val th = ArrayBuffer[Double]()
    val lc = ArrayBuffer[Int](); val rc = ArrayBuffer[Int]()
    val lv = ArrayBuffer[Double]()
    def childRef(bufIdx: Int): Int =
      idOf.get(bufIdx) match {
        case Some(layout) => layout
        case None => lv += leafValueOf(nodes(bufIdx), cfg); -lv.length // ~(len-1)
      }
    internal.foreach { case (nd, _) =>
      sf += nd.splitFeat
      th += edges(nd.splitFeat)(nd.splitBin)
      lc += childRef(nd.left)
      rc += childRef(nd.right)
    }
    (sf.toArray, th.toArray, lc.toArray, rc.toArray, lv.toArray)
  }

  /** LightGBM-style text dump readable by core.Ltr.parse. */
  def serialize(featureNames: Array[String],
                trees: Seq[(Array[Int], Array[Double], Array[Int], Array[Int], Array[Double])]): String = {
    val sb = new StringBuilder
    sb.append("tree\nversion=v4\nnum_class=1\n")
    sb.append("feature_names=").append(featureNames.mkString(" ")).append("\n\n")
    trees.zipWithIndex.foreach { case ((sf, th, lc, rc, lv), i) =>
      sb.append("Tree=").append(i).append("\n")
      sb.append("num_leaves=").append(lv.length).append("\n")
      sb.append("split_feature=").append(sf.mkString(" ")).append("\n")
      sb.append("threshold=").append(th.mkString(" ")).append("\n")
      sb.append("left_child=").append(lc.mkString(" ")).append("\n")
      sb.append("right_child=").append(rc.mkString(" ")).append("\n")
      sb.append("leaf_value=").append(lv.mkString(" ")).append("\n\n")
    }
    sb.append("end of trees\n")
    sb.toString
  }

  // ------------------------------------------------------------- train

  /** Bin edges from a deterministic pseudo-random sample (LightGBM's
    * `bin_construct_sample_cnt` approach): TakeOrdered by xxhash64 of
    * the row key — constant driver memory at any input size. When the
    * input has at most `binSampleCount` rows the sample IS the whole
    * set, which makes the subsample-index cuts pure SQL — the
    * oracle-checkable half of training (q_ltr_bins). */
  private[graft] def sampleEdges(rows: Dataset[LtrTrainRow], numF: Int,
                                 cfg: Config): Array[Array[Double]] = {
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    val sampled = rows
      .withColumn("h", xxhash64(col("qid"), col("docId")))
      .orderBy(col("h"), col("qid"), col("docId"))
      .limit(cfg.binSampleCount)
      .select(col("features")).as[Array[Double]].collect()
    require(sampled.nonEmpty, "empty training set")
    sampled.foreach { fv =>
      require(fv.length == numF,
        s"feature vector length ${fv.length} != ${numF}")
      require(!fv.exists(_.isNaN), "NaN feature in training set")
    }
    Array.tabulate(numF) { f =>
      edgesFromSample(sampled.map(_(f)).sorted, cfg.numBins)
    }
  }

  /** The bin edges `train` would use, as (feature, cut_idx, edge) rows
    * — a driver face for the deterministic part of training. A feature
    * whose sampled values are all equal contributes no rows (binOf puts
    * everything in bin 0). */
  def binEdgesDf(rows: Dataset[LtrTrainRow], featureNames: Array[String],
                 cfg: Config = Config()): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val edges = sampleEdges(rows, featureNames.length, cfg)
    val out = for {
      f <- featureNames.indices.toSeq
      (e, i) <- edges(f).zipWithIndex
    } yield (featureNames(f), i, e)
    out.toDF("feature", "cut_idx", "edge")
  }

  /** Train a LambdaMART ensemble. Deterministic for a fixed input and
    * partitioning (hash-ordered bin sample, partition-ordered histogram
    * sums, first-best split tie-break). */
  def train(rows: Dataset[LtrTrainRow], featureNames: Array[String],
            cfg: Config = Config()): Trained = {
    val spark = rows.sparkSession
    import spark.implicits._
    val numF = featureNames.length
    require(numF > 0, "no features")
    require(cfg.maxDepth >= 1 && cfg.numBins >= 2 && cfg.numTrees >= 1,
      "maxDepth/numBins/numTrees out of range")

    val edges: Array[Array[Double]] = sampleEdges(rows, numF, cfg)
    val bEdges = spark.sparkContext.broadcast(edges)

    var cur: Dataset[BRow] = rows.map { r =>
      require(r.features.length == numF,
        s"feature vector length ${r.features.length} != ${numF}")
      // reject NaN LOUDLY: binOf's comparisons are all false on NaN, so
      // a NaN feature would silently land in bin 0 and a NaN label
      // would poison every lambda in its group — fail the job instead
      require(!r.label.isNaN, s"NaN label (qid=${r.qid}, docId=${r.docId})")
      require(!r.features.exists(_.isNaN),
        s"NaN feature (qid=${r.qid}, docId=${r.docId})")
      val e = bEdges.value
      BRow(r.qid, r.docId, r.label,
        Array.tabulate(numF)(f => binOf(r.features(f), e(f))), 0.0, 0.0, 0.0)
    }

    val sc = spark.sparkContext
    var prevIds: Set[Int] = Set.empty
    def checkpointTracked(ds: Dataset[BRow]): (Dataset[BRow], Set[Int]) = {
      // localCheckpoint truncates the iterative lineage; persistent-RDD
      // ids are snapshotted around the call so the PREVIOUS iteration's
      // blocks can be freed (train() runs single-threaded in its
      // session — concurrent persists would be misattributed).
      val before = sc.getPersistentRDDs.keySet
      val out = ds.localCheckpoint() // eager
      val mine = sc.getPersistentRDDs.keySet.filterNot(before)
      (out, mine.toSet)
    }
    def freePrev(keep: Set[Int]): Unit = {
      prevIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      prevIds = keep
    }

    val built = ArrayBuffer[(Array[Int], Array[Double], Array[Int], Array[Int], Array[Double])]()
    var t = 0
    var converged = false
    while (t < cfg.numTrees && !converged) {
      val (g, ids) = checkpointTracked(
        cur.groupByKey(_.qid).flatMapGroups { (_, it) =>
          groupLambdas(it.toArray, cfg).iterator
        })
      freePrev(ids)
      fitTree(g, edges, cfg) match {
        case None => converged = true
        case Some(nodes) =>
          built += toLayout(nodes, edges, cfg)
          val shape = shapeOf(nodes)
          val leafOfNode = nodes.map(nd =>
            if (nd.splitFeat < 0) leafValueOf(nd, cfg) else 0.0).toArray
          cur = g.map(r => r.copy(score = r.score + binScore(shape, leafOfNode, r.bins)))
      }
      t += 1
    }
    freePrev(Set.empty)
    require(built.nonEmpty, "training produced no trees (no gradient signal)")
    val text = serialize(featureNames, built.toSeq)
    Trained(text, Ltr.parse(text), built.length)
  }

  /** Mean NDCG@k of a model over a labeled dataset (one group pass). */
  def evalNdcg(rows: Dataset[LtrTrainRow], model: Ltr.Ensemble,
               featureNames: Array[String], k: Int): Double = {
    val spark = rows.sparkSession
    import spark.implicits._
    val perQuery = rows.groupByKey(_.qid).mapGroups { (_, it) =>
      val g = it.toArray.sortBy(_.docId)
      val scores = g.map(r => model.predict(
        featureNames.zip(r.features).toMap))
      ndcgAt(k, scores, g.map(_.label), g.map(_.docId))
    }.collect()
    perQuery.sum / perQuery.length
  }
}
