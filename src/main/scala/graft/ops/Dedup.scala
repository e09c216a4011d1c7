package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators (dedup family for training-data
  * pipelines). Exact + MinHash-LSH are pure column/agg plans; SimHash
  * (reference semantics: crates/core/src/simhash.rs:20-50 — 64-bit
  * majority-vote signature over token hashes) is a typed map using a
  * stable FNV-1a token hash. */
object Dedup {

  /** Exact dedup: keep the lowest id per content hash. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("copies"))

  /** Canonical-document mapping (reference canon_index.rs: an index of
    * original-URL -> canonical-URL pairs whose insert SKIPS
    * self-mappings and cross-root-domain pairs, canon_index.rs:41-44).
    * The code-corpus analog elects the smallest id of each exact-dup
    * group as canonical; per the reference's insert rule, a doc only
    * maps when a same-domain canonical exists, so the window is keyed
    * (content_hash, domain) — cross-domain duplicates never pair, and
    * group keepers (id == canonical) emit no row. One shuffle on the
    * dup key; no driver state. */
  def canonicalMapping(df: DataFrame, idCol: String, textCol: String,
                       domainCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash", "domain")
    df.select(col(idCol).as("id"), col(domainCol).as("domain"),
        md5(col(textCol).cast("binary")).as("content_hash"))
      .withColumn("canonical_id", min(col("id")).over(w))
      .where(col("id") =!= col("canonical_id"))
      .select(col("id"), col("canonical_id"), col("domain"))
  }

  /** MinHash-LSH candidate pairs: docs sharing any of `bands` band
    * signatures. Shuffle is keyed by (band, signature) — a classic
    * bucket join; no quadratic blow-up across buckets, and
    * `maxBucketSize` drops degenerate buckets (boilerplate-identical
    * shingle minima) whose within-bucket pairing would be quadratic.
    *
    * Cost shape: ONE tokenize+shingle+md5 pass per document (explode +
    * partial-agg min; the per-band column form recomputes the lambda
    * subtree per band because Spark CSE skips lambda-bearing trees),
    * then band signatures are `bands` disjoint slices of that single
    * md5 — independent 32-bit hash functions at 1/bands the hash work. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        bands: Int = 4, shingleN: Int = 3,
                        maxBucketSize: Int = 1000): DataFrame = {
    require(maxBucketSize > 0, "maxBucketSize must be positive")
    // fanOut: the shingle+md5 explode is the whole cost of this
    // operator — parallelize it even when the input is one file. No
    // cache needed for the multi-consumer DAG below: the groupBy("id")
    // exchange is a shared stage, so Spark computes the hash pipeline
    // once per action and reuses the shuffle output for the hot-bucket
    // count and both join sides (verified: caching sigs changed
    // nothing; fanOut cut the stage from 3.4 s to sub-second at sf0.1).
    val src = TextOps.fanOut(
      df.select(col(idCol).as("id"), col(textCol).as("t")))
    val hashed = src.select(col("id"),
        explode(TextOps.shingles(col("t"), shingleN)).as("s"))
      .select(col("id"), md5(col("s").cast("binary")).as("h"))
    // map-side combine collapses to one row per (doc, band) pre-shuffle.
    // The band slice aggregates as a LONG where it fits (≤15 hex chars
    // = 60 bits): min over a string column forces the whole exploded
    // hash stream through a Sort + SortAggregate (string agg buffers
    // are not hash-aggregable), while min over a long runs as a
    // map-side partial HashAggregate. Fixed-width lowercase hex orders
    // identically lexicographically and numerically, so the chosen
    // minima — and therefore the emitted candidate pairs — are
    // unchanged.
    val width = 32 / bands
    val numericSlice = width <= 15
    val bandCols = (0 until bands).map { j =>
      val slice = TextOps.bandSlice(col("h"), j, bands)
      min(if (numericSlice) conv(slice, 16, 10).cast("long") else slice)
        .as(s"b$j")
    }
    val sigs = hashed.groupBy("id").agg(bandCols.head, bandCols.tail: _*)
    val long = sigs.select(col("id"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"), col(s"b$j").as("sig"))): _*)).as("bs"))
      .select(col("id"), col("bs.band"), col("bs.sig"))
      .where(col("sig").isNotNull)
    val pruned =
      if (maxBucketSize == Int.MaxValue) long
      else {
        val hot = long.groupBy("band", "sig")
          .agg(count(lit(1)).as("n")).where(col("n") > maxBucketSize)
          .select("band", "sig")
        long.join(broadcast(hot), Seq("band", "sig"), "left_anti")
      }
    val a = pruned.as("a")
    val b = pruned.as("b")
    a.join(b, expr("a.band = b.band AND a.sig = b.sig AND a.id < b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** 64-bit SimHash over whitespace tokens with FNV-1a 64 hashes. */
  def simhash64(tokens: Iterable[String]): Long = {
    val counts = new Array[Int](64)
    tokens.foreach { t =>
      val h = graft.core.Fnv1a(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash per row (typed map; deterministic). */
  def withSimhash(spark: SparkSession, df: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // null text rows hash as empty (the column-based dedup ops
        // propagate nulls the same way instead of crashing the task)
        val t = if (text == null) "" else text
        (id, simhash64(t.toLowerCase.split("\\s+").filter(_.nonEmpty)))
      }
      .toDF("id", "simhash")
  }

  /** Hamming distance between two 64-bit signatures as a column. */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    bit_count(a.bitwiseXOR(b))

  /** Distributed SimHash near-duplicate pairs (hamming <= k) via the
    * block-prefix bucket join (graft.core.SimhashTable's pigeonhole:
    * two hashes within k bit flips agree exactly on one of k+1 disjoint
    * 16-bit slices). Each doc emits k+1 (block, prefix) keys; only
    * same-bucket candidates are compared — no all-pairs join, the scale
    * path for corpus-level near-dup at web scale. */
  def simhashPairs(spark: SparkSession, df: DataFrame, idCol: String,
                   textCol: String, k: Int = 3): DataFrame = {
    require(k == graft.core.SimhashTable.K, "block layout is fixed for k=3")
    val sigs = withSimhash(spark, df, idCol, textCol)
    val keyed = sigs.select(col("id"), col("simhash"),
      explode(array((0 until graft.core.SimhashTable.NumBlocks).map { i =>
        struct(lit(i).as("b"),
          col("simhash").bitwiseAND(lit(graft.core.SimhashTable.mask(i))).as("p"))
      }: _*)).as("bp"))
      .select(col("id"), col("simhash"), col("bp.b"), col("bp.p"))
    val a = keyed.as("a")
    val b = keyed.as("b")
    a.join(b, expr("a.b = b.b AND a.p = b.p AND a.id < b.id"))
      .where(hamming(col("a.simhash"), col("b.simhash")) <= k)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.simhash"), col("b.simhash")).cast("long").as("dist"))
      .distinct()
  }

  /** Exact n-gram Jaccard over candidate pairs that share at least one
    * shingle (the join prunes the quadratic space). `maxShingleDf` drops
    * shingles appearing in more than that many documents BEFORE the
    * self-join — one hot shingle otherwise produces O(df^2) pairs, the
    * scale-killer at web scale. The similarity becomes Jaccard over the
    * pruned (discriminative) shingle universe: set sizes are computed
    * after the prune so the formula stays a true Jaccard there.
    * `minJaccard` applies to the ROUNDED (4-decimal) similarity — a
    * pair at 0.09996 rounds to the threshold and passes; deliberate:
    * the emitted column and the filter see the same value, and the
    * DuckDB oracle pins exactly this order.
    * `spread = false` skips the fanOut pre-shuffle for callers that
    * KNOW the input is tiny (e.g. a selective filter over a big table:
    * the optimizer's size estimate is the unfiltered scan size, so the
    * fanOut bypass guard cannot see the filter and would shuffle a
    * handful of rows). Partitioning cannot change any emitted value —
    * the ids pass through and jaccard is a deterministic rounded double
    * division of exact integer counts. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, minJaccard: Double = 0.1,
                   maxShingleDf: Int = 1000, spread: Boolean = true): DataFrame = {
    val src = df.select(col(idCol).as("id"), col(textCol).as("t"))
    val shAll = (if (spread) TextOps.fanOut(src) else src)
      .select(col("id"),
        explode(array_distinct(TextOps.shingles(col("t"), shingleN))).as("sh"))
    // hot-shingle prune: the df > cap set is small by construction
    val hot = shAll.groupBy("sh").agg(count(lit(1)).as("n"))
      .where(col("n") > maxShingleDf).select("sh")
    val sh = shAll.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val pairs = sh.as("x").join(sh.as("y"),
        expr("x.sh = y.sh AND x.id < y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 4))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding-cosine near-duplicate pairs — the dedup-shaped twin of
    * Similarity.lshKnnJoin: corpus vectors bucket by deterministic
    * sign-LSH (all `bits` hyperplane signs form the key), candidate
    * pairs form only WITHIN a bucket (self-join keyed by bucket id —
    * no all-pairs), exact cosine reranks and the threshold applies to
    * the ROUNDED (4-decimal) value like ngramJaccard, so the emitted
    * column and the filter see the same number and a SQL oracle can
    * pin the exact order of operations.
    *
    * Recall: a pair shares the bucket iff every hyperplane sign
    * agrees — P = (1-θ/π)^bits — so true near-dups (θ→0) are caught
    * with probability →1 and `bits` dials candidate volume vs recall;
    * exact duplicates are always caught (identical vector ⇒ identical
    * signs). `maxBucketSize` drops degenerate hot buckets wholesale
    * (a near-constant embedding column puts everything on one side of
    * every hyperplane) instead of melting an executor — same policy
    * and cache discipline as lshKnnJoin. */
  def embedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, tau: Double, bits: Int = 8,
                        maxBucketSize: Int = 10000): DataFrame = {
    require(maxBucketSize > 0, "maxBucketSize must be positive")
    // the row norm rides along so the within-bucket rerank pays one dot
    // per pair instead of re-deriving both 64-dim norms per pair (see
    // Similarity.cosinePre — values bit-identical to the inline cosine)
    val b0 = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.norm(col(vecCol)).as("nrm"),
      Similarity.lshBucket(col(vecCol), dim, bits).as("bucket"))
    val b = {
      // cache: hot-bucket count AND the anti-join both consume b0
      val cached = b0.cache()
      val hot = cached.groupBy("bucket")
        .agg(count(lit(1)).as("n")).where(col("n") > maxBucketSize)
        .select("bucket")
      cached.join(broadcast(hot), Seq("bucket"), "left_anti")
    }
    b.as("x").join(b.as("y"),
        expr("x.bucket = y.bucket AND x.id < y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(Similarity.cosinePre(col("x.vec"), col("y.vec"),
          col("x.nrm"), col("y.nrm")), 4).as("cos"))
      .where(col("cos") >= tau)
  }
}
