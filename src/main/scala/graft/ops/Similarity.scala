package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an Array[Float] column — brute-force
  * cosine as the exact baseline, LSH-bucketed (random hyperplane signs)
  * as the scale path. All column-expression based (zip_with/aggregate),
  * fully codegen'd; no UDFs. */
object Similarity {

  /** dot(a, b) in double precision (deterministic array-order sum). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** cosine with the two norms supplied as PRE-COMPUTED columns.
    * Higher-order-function subtrees are excluded from Spark's common-
    * subexpression elimination, so an inline cosine() inside a
    * candidate join recomputes both 64-dim norms for every candidate
    * PAIR; materializing each side's norm once per ROW and carrying it
    * through the join leaves only the dot product per pair. The
    * division/multiplication order matches cosine() exactly
    * (dot / (norm_a * norm_b)), and each norm column is produced by the
    * identical sqrt-of-self-dot expression, so every emitted double is
    * bit-identical to the inline form. */
  private[ops] def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Exact top-k by cosine against one query vector (broadcast as a
    * literal array): one scan + TakeOrderedAndProject. */
  def topKCosine(df: DataFrame, idCol: String, vecCol: String,
                 query: Array[Float], k: Int): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol),
        round(cosine(col(vecCol), q), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Brute-force kNN join for a bounded probe set (probe broadcast).
    * For full corpus-x-corpus at scale use `lshBuckets` first. */
  def knnJoin(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), norm(col(vecCol)).as("probe_norm")))
    val scored = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"),
        norm(col(vecCol)).as("nbr_norm"))
      .crossJoin(p)
      .where(col("probe_id") =!= col("nbr_id"))
      .select(col("probe_id"), col("nbr_id"),
        round(cosinePre(col("probe_vec"), col("nbr_vec"),
          col("probe_norm"), col("nbr_norm")), 4).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("probe_id", "nbr_id", "cos", "rnk")
  }

  /** Deterministic pseudo-random hyperplane b (hash-derived; the same
    * constants are inlined into the DuckDB oracle as list literals). */
  def plane(b: Int, dim: Int): Array[Float] = {
    val a = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val h = graft.core.Fnv1a(s"lsh:$b:$i")
      a(i) = ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
      i += 1
    }
    a
  }

  /** Sign-LSH bucket id: bit b = sign(dot(vec, hyperplane_b)) with
    * deterministic pseudo-random hyperplanes derived from (b, dim)
    * hashes — the IVF/LSH scale path: candidates are joined per bucket
    * instead of all-pairs. */
  def lshBucket(vec: Column, dim: Int, bits: Int): Column =
    (0 until bits).map { b =>
      when(dot(vec, typedLit(plane(b, dim))) >= 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)

  /** IVF coarse-quantizer cell id: argmax cosine over the centroid
    * list (ties to the smallest centroid id), evaluated as one
    * `greatest` over (cos, -id) structs — pure column expressions,
    * codegen'd, centroids broadcast as literals. */
  def ivfCell(vec: Column, centroids: Seq[Array[Float]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, typedLit(c)).as("cos"), lit(-i).as("nid"))
    }
    (if (scored.length == 1) scored.head else greatest(scored: _*))
      .getField("nid") * -1
  }

  /** Driver-side twin of the norm() column over a literal vector —
    * the same left-to-right double fold and sqrt Catalyst's constant
    * folding produces, so lit(normOf(c)) is bit-equal to the folded
    * norm(typedLit(c)). */
  private def normOf(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** [[ivfCell]] with the row vector's norm as a pre-computed column
    * (shared across all centroid cosines; see cosinePre — every score
    * is bit-identical to the inline form). */
  private def ivfCellPre(vec: Column, nv: Column,
                         centroids: Seq[Array[Float]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosinePre(vec, typedLit(c), nv, lit(normOf(c))).as("cos"),
        lit(-i).as("nid"))
    }
    (if (scored.length == 1) scored.head else greatest(scored: _*))
      .getField("nid") * -1
  }

  /** IVF centroids. Seeded = the first `nlist` corpus vectors in id
    * order (deterministic AND data-derived, so a SQL oracle can
    * re-derive them from the same table); `refine` Lloyd iterations
    * (assign -> per-cell per-dimension mean) improve the quantizer
    * when bit-replication is not required — distributed mean sums make
    * refined centroids deterministic only up to float addition order. */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String,
                   nlist: Int, refine: Int = 0): Seq[Array[Float]] = {
    var cents: Seq[Array[Float]] = df
      .orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    var it = 0
    while (it < refine) {
      val assigned = df.select(col(vecCol).as("v"),
        ivfCell(col(vecCol), cents).as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("ms"))
        .collect()
        .map(r => r.getInt(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1).toFloat).toArray)
        .toMap
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
      it += 1
    }
    cents
  }

  /** IVF kNN join — the k-means-family ANN scale path beside sign-LSH:
    * every corpus vector is assigned to its nearest of `nlist` coarse
    * centroids (one broadcast pass, the cell id becomes the shuffle
    * key); each probe searches only its `nprobe` nearest cells with
    * exact cosine rerank inside. Candidates shrink ~nlist/nprobe-fold
    * vs a full scan and there is no corpus-x-probes cross join. With
    * nprobe = nlist the probe set covers every cell and the result
    * equals the exact knnJoin (spec-gated). */
  def ivfKnnJoin(corpus: DataFrame, probes: DataFrame, idCol: String,
                 vecCol: String, k: Int, nlist: Int, nprobe: Int,
                 refine: Int = 0): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist, refine)
    // the vector's own norm is shared by all nlist centroid cosines
    // (norm(centroid-literal) constant-folds; the row norm would
    // otherwise be recomputed per centroid — see cosinePre)
    val cb = corpus
      .select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"),
        norm(col(vecCol)).as("nbr_norm"))
      .select(col("nbr_id"), col("nbr_vec"), col("nbr_norm"),
        ivfCellPre(col("nbr_vec"), col("nbr_norm"), cents).as("cell"))
    // nprobe nearest cells per probe: literal centroid structs sorted
    // by (cos desc, id asc), sliced, exploded into probe-cell pairs
    def cellStructs(vec: Column, nv: Column) = array(
      cents.zipWithIndex.map { case (c, i) =>
        struct((cosinePre(vec, typedLit(c), nv, lit(normOf(c))) * -1)
          .as("negcos"), lit(i).as("nid"))
      }: _*)
    val pb = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        norm(col(vecCol)).as("probe_norm"))
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"),
        explode(slice(array_sort(
          cellStructs(col("probe_vec"), col("probe_norm"))), 1, nprobe)).as("pc"))
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"),
        col("pc.nid").as("cell"))
    val scored = cb.join(pb, "cell")
      .where(col("probe_id") =!= col("nbr_id"))
      .select(col("probe_id"), col("nbr_id"),
        round(cosinePre(col("probe_vec"), col("nbr_vec"),
          col("probe_norm"), col("nbr_norm")), 4).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("probe_id", "nbr_id", "cos", "rnk")
  }

  /** Approximate kNN join at scale: corpus and probes bucket by
    * sign-LSH, candidates pair WITHIN a bucket (shuffle keyed by bucket
    * id — no corpus-x-probes cross join), exact cosine reranks inside.
    * Recall trades off with `bits` (more bits = smaller buckets = fewer
    * candidates); multi-probe variants add neighboring buckets. The
    * exact `knnJoin` stays the oracle for bounded probe sets.
    *
    * `maxBucketSize` caps the corpus-side bucket population (the
    * minhashCandidates left-anti prune): a near-constant embedding
    * column puts every vector on the same side of every hyperplane and
    * one bucket goes quadratic — hot buckets are dropped wholesale
    * (documented recall loss for their probes) instead of melting an
    * executor. The bucket-count pass is a cheap partial-agg. */
  def lshKnnJoin(corpus: DataFrame, probes: DataFrame, idCol: String,
                 vecCol: String, k: Int, dim: Int, bits: Int = 8,
                 maxBucketSize: Int = 10000): DataFrame = {
    require(maxBucketSize > 0, "maxBucketSize must be positive")
    val cb0 = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"),
      norm(col(vecCol)).as("nbr_norm"),
      lshBucket(col(vecCol), dim, bits).as("bucket"))
    val cb =
      if (maxBucketSize == Int.MaxValue) cb0
      else {
        // cache: the hot-bucket count and the anti-join both consume
        // cb0 — without it the bits-wide lshBucket dot products run
        // over the whole corpus TWICE
        val cached = cb0.cache()
        val hot = cached.groupBy("bucket")
          .agg(count(lit(1)).as("n")).where(col("n") > maxBucketSize)
          .select("bucket")
        cached.join(broadcast(hot), Seq("bucket"), "left_anti")
      }
    val pb = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      norm(col(vecCol)).as("probe_norm"),
      lshBucket(col(vecCol), dim, bits).as("bucket"))
    val scored = cb.join(pb, "bucket")
      .where(col("probe_id") =!= col("nbr_id"))
      .select(col("probe_id"), col("nbr_id"),
        round(cosinePre(col("probe_vec"), col("nbr_vec"),
          col("probe_norm"), col("nbr_norm")), 4).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("probe_id", "nbr_id", "cos", "rnk")
  }
}
