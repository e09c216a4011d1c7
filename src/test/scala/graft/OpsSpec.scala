package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("HLL sketch vocab is within 5% of the exact count") {
    import spark.implicits._
    val approx = SparkEntry.queries("q_count_distinct_hll")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("q_count_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (lang, n) =>
      val rel = math.abs(approx(lang).toDouble - n) / n
      assert(rel < 0.05, s"$lang: approx ${approx(lang)} vs exact $n")
    }
  }

  test("exact dedup groups preserve row count") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    val total = g.agg(sum("copies")).head().getLong(0)
    assert(total == docs.count())
  }

  test("fanOut widens narrow inputs, bypasses trivial ones, no-op on wide ones") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    // trivially small input (under the FanOutMinBytes estimate): no
    // shuffle — the downstream work is cheaper than the repartition
    val tiny = (0 until 100).toDF("x").coalesce(1)
    assert(TextOps.fanOut(tiny).rdd.getNumPartitions == 1)
    assert(TextOps.fanOut(tiny).as[Int].collect().sorted.toSeq == (0 until 100))
    // above-threshold narrow input widens to the session parallelism
    val narrow = (0 until 2000).map(i => ("x" * 64) + i).toDF("x").coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    assert(TextOps.fanOut(narrow).rdd.getNumPartitions == p)
    // already-wide input keeps its partitioning (the 100 TB case: no
    // extra shuffle)
    val wide = (0 until 100).toDF("x").repartition(p + 4)
    assert(TextOps.fanOut(wide).rdd.getNumPartitions == p + 4)
    // values unchanged either way
    assert(TextOps.fanOut(narrow).as[String].collect().sorted.toSeq ==
      (0 until 2000).map(i => ("x" * 64) + i).sorted)
  }

  test("canonicalMapping: same-domain dups map to min id, cross-domain and self excluded") {
    import spark.implicits._
    // dup groups: {1,2,3} same text — 1,2 in domain a (3 in b);
    // {4,5} same text, different domains; 6 unique
    val rows = Seq(
      (1L, "same text", "a"), (2L, "same text", "a"), (3L, "same text", "b"),
      (4L, "other text", "a"), (5L, "other text", "b"),
      (6L, "unique", "a"))
    val m = Dedup.canonicalMapping(rows.toDF("doc_id", "text", "dom"),
        "doc_id", "text", "dom")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // only 2 -> 1 maps: 3 is the lone copy in domain b (self-canonical,
    // canon_index.rs skips self-mappings), 4/5 are cross-domain
    assert(m == Set((2L, 1L, "a")))
  }

  test("simhash: identical text -> identical signature; determinism") {
    val a = Dedup.simhash64(Seq("the", "quick", "brown", "fox"))
    val b = Dedup.simhash64(Seq("the", "quick", "brown", "fox"))
    val c = Dedup.simhash64(Seq("entirely", "different", "words", "here"))
    assert(a == b)
    assert(a != c)
    // near-dup: one word changed flips few bits
    val d = Dedup.simhash64(Seq("the", "quick", "brown", "cat"))
    assert(java.lang.Long.bitCount(a ^ d) < 32)
  }

  test("minhash numeric band minima equal the lexicographic string minima") {
    // minhashCandidates aggregates each band slice as a base-16-parsed
    // LONG (HashAggregate-able); fixed-width lowercase hex must order
    // identically numerically and lexicographically, so the chosen
    // per-(doc, band) minima — and therefore the emitted pairs — are
    // pinned equal to the string form here
    val hashed = docs.limit(120)
      .select(col("doc_id").as("id"),
        explode(TextOps.shingles(col("text"), 3)).as("s"))
      .select(col("id"), md5(col("s").cast("binary")).as("h"))
    val aggCols = (0 until 4).flatMap { j =>
      val slice = TextOps.bandSlice(col("h"), j, 4)
      Seq(min(slice).as(s"s$j"),
        min(conv(slice, 16, 10).cast("long")).as(s"n$j"))
    }
    val both = hashed.groupBy("id").agg(aggCols.head, aggCols.tail: _*)
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      (0 until 4).foreach { j =>
        val s = r.getAs[String](s"s$j")
        val n = r.getAs[Long](s"n$j")
        assert(java.lang.Long.parseLong(s, 16) == n,
          s"id=${r.get(0)} band=$j: string-min $s vs numeric-min $n")
      }
    }
  }

  test("minhash candidates include exact duplicates") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(df, "doc_id", "text").collect()
    assert(cands.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!cands.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("simhashPairs == brute-force hamming pairs (block bucket join)") {
    val df = docs.limit(150)
    val pairs = Dedup.simhashPairs(spark, df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    val sigs = Dedup.withSimhash(spark, df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(pairs == brute)
    assert(brute.nonEmpty, "test corpus should contain near-dups")
  }

  test("cosine self-similarity == 1") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") === 3).head().getSeq[Float](1).toArray
    val top = Similarity.topKCosine(emb, "vec_id", "embedding", q, 1).head()
    assert(top.getLong(0) == 3L)
    assert(math.abs(top.getDouble(1) - 1.0) < 1e-9)
  }

  test("lsh bucket is deterministic and partitions the space") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val b1 = emb.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 64, 8).as("bucket"))
    val counts = b1.groupBy("bucket").count().collect()
    assert(counts.length > 1 && counts.length <= 256)
    val again = emb.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 64, 8).as("bucket"))
    assert(b1.except(again).count() == 0)
  }

  test("ivfKnnJoin: nprobe=nlist equals the exact join; partial probing recalls clusters") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 64
    val vecs = (0 until 6).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      (0 until 6).map { m =>
        val v = center.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-4f)
        ((c * 6 + m).toLong, v)
      }
    }
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") % 6 === 0)
    val exact = Similarity.knnJoin(df, probes, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full probing covers every cell -> identical to the exact join
    val full = Similarity.ivfKnnJoin(df, probes, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full == exact)
    // partial probing keeps high recall on clustered data
    val part = Similarity.ivfKnnJoin(df, probes, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact.map(t => (t._1, t._2)) & part).size.toDouble / exact.size
    assert(recall >= 0.9, s"ivf cluster recall too low: $recall")
    // a Lloyd refinement pass still yields a valid full-coverage join
    val refined = Similarity.ivfKnnJoin(df, probes, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 8, refine = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(refined == exact)
  }

  test("lshKnnJoin: exact rerank within buckets, high recall on clusters") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 6 tight clusters of 6 vectors: near neighbors share buckets w.h.p.
    val dim = 64
    val vecs = (0 until 6).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      (0 until 6).map { m =>
        val v = center.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-4f)
        ((c * 6 + m).toLong, v)
      }
    }
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") % 6 === 0)
    val exact = Similarity.knnJoin(df, probes, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnnJoin(df, probes, "vec_id", "embedding", 3,
      dim, bits = 8).collect()
    val approxPairs = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approxPairs).size.toDouble / exact.size
    assert(recall >= 0.9, s"cluster recall too low: $recall")
    // rerank correctness: every approx cos equals the exact cosine
    val exactCos = Similarity.knnJoin(df, probes, "vec_id", "embedding", 40)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    approx.foreach { r =>
      assert(exactCos((r.getLong(0), r.getLong(1))) == r.getDouble(2))
    }
  }

  test("lshKnnJoin: hot-bucket cap prunes a degenerate constant-vector corpus") {
    import spark.implicits._
    // a constant embedding column puts every vector on the same side of
    // every hyperplane -> ONE bucket holds the whole corpus and its
    // within-bucket pairing is quadratic without the cap
    val dim = 16
    val v = Array.fill(dim)(0.5f)
    val df = (0L until 50L).map(i => (i, v)).toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") < 3)
    val capped = Similarity.lshKnnJoin(df, probes, "vec_id", "embedding", 3,
      dim, bits = 8, maxBucketSize = 10)
    assert(capped.count() == 0L) // hot bucket dropped wholesale
    val uncapped = Similarity.lshKnnJoin(df, probes, "vec_id", "embedding", 3,
      dim, bits = 8, maxBucketSize = Int.MaxValue)
    assert(uncapped.count() == 9L) // 3 probes x top-3, opt-in exhaustive
  }

  test("harmonic centrality: exact BFS on a hand graph; HyperBall tracks it") {
    import spark.implicits._
    // path a(1) -> b(2) -> c(3) plus 4 -> 3: h12(3) = 12/1 + 12/1 + 12/2 = 30
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val exact = Centrality.harmonicExact(spark, Webgraph.Edges(edges), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact(1L) == 0L)          // nothing reaches 1
    assert(exact(2L) == 12L)         // 1 at distance 1
    assert(exact(3L) == 30L)         // 2 and 4 at d=1, 1 at d=2
    assert(exact(4L) == 0L)
    // a larger deterministic graph: HyperBall estimate stays within the
    // face's bound (15% relative + one harmonic unit absolute) per node
    val n = 200
    val big = (0L until n.toLong).flatMap(i =>
      Seq((i, (i * 7 + 3) % n), (i, (i * 13 + 11) % n), (i, (i * 29 + 17) % n)))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val ex2 = Centrality.harmonicExact(spark, Webgraph.Edges(big), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = Centrality.harmonicHyperBall(spark, Webgraph.Edges(big), maxDepth = 4)
      .collect().map(b => b.node -> b.harmonic).toMap
    val offenders = ex2.collect { case (node, h) =>
      val e = est(node) * 12.0
      (node, h, e, math.abs(e - h.toDouble) > h.toDouble * 0.15 + 12.0)
    }.filter(_._4)
    assert(offenders.isEmpty, s"out of bound: ${offenders.take(5)}")
    // determinism: sketches are partition-order independent
    val est2 = Centrality.harmonicHyperBall(spark, Webgraph.Edges(big.repartition(7)),
        maxDepth = 4)
      .collect().map(b => b.node -> b.harmonic).toMap
    assert(est == est2)
    // over-threshold edge tables take the NON-broadcast join path (the
    // driver-OOM guard: a caller mistake degrades to a shuffle join,
    // same results) — threshold 0 forces every edge batch over it
    val ex3 = Centrality.harmonicExact(spark,
        Webgraph.Edges(big, broadcastMaxEdges = 0L), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ex3 == ex2, "shuffle-join fallback must be result-identical")
  }

  /** Driver-side exact harmonic centrality: for every node v, a
    * backward BFS over the deduplicated loop-free edges, summing lcm/d
    * over the nodes that reach v within maxDepth. */
  private def bruteHarmonic(edges: Seq[(Long, Long)], maxDepth: Int): Map[Long, Long] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val into = e.groupBy(_._2).map { case (v, ps) => v -> ps.map(_._1) }
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (1L to maxDepth.toLong).foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    e.flatMap(p => Seq(p._1, p._2)).distinct.map { v =>
      var seen = Set(v)
      var shell = Seq(v)
      var h = 0L
      for (d <- 1 to maxDepth) {
        shell = shell.flatMap(into.getOrElse(_, Nil)).distinct.filterNot(seen)
        seen ++= shell
        h += shell.size * (lcm / d)
      }
      v -> h
    }.toMap
  }

  test("harmonicExact == driver-side BFS at every maxDepth 1..6, both join paths") {
    import spark.implicits._
    for (seed <- Seq(11L, 29L)) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val core = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val ring = (0L until 5L).map(i => (i, (i + 1) % 5))
      // a 9-hop chain reaches depths 5 and 6, where lcm = 60
      val chain = (60L until 69L).map(i => (i, i + 1)) :+ ((69L, 0L))
      val loops = Seq((3L, 3L), (7L, 7L), (99L, 99L)) // 99 has no other edge
      val sources = Seq((40L, 1L), (41L, 2L), (41L, 3L), (50L, 51L))
      val all = rnd.shuffle(core ++ core.take(10) ++ ring ++ chain ++ loops ++ sources)
      val df = all.toDF("src", "dst")
      for (depth <- 1 to 6; guard <- Seq(Centrality.ExactBroadcastMaxEdges, 0L)) {
        val got = Centrality.harmonicExact(spark,
            Webgraph.Edges(df, broadcastMaxEdges = guard), maxDepth = depth)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == bruteHarmonic(all, depth),
          s"seed $seed maxDepth $depth broadcastMaxEdges $guard")
      }
    }
  }

  test("bpe-ish token count and multi-language ID heuristics") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps"),          // 5 ws = 5 bpe chunks
      (2L, "hello, world! v2.0"),                 // punct + digit runs split
      (3L, "der hund und die katze sind nicht da"),
      (4L, "le chat est sur la table dans le jardin"),
      (5L, "el perro y el gato no son para mi"),
      (6L, "一个中文文档的内容测试一二三四五六七八九十"),
      (7L, "def compute(x): return x * x"), // zero stopword evidence
      (8L, "the\tquick\nbrown  fox") // whitespace runs, not just spaces
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("ws"),
        TextOps.bpeTokenCount(col("text")).as("bpe"),
        TextOps.langPredict(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1) == ((5, 5, "en")))
    // "hello, world! v2.0" -> hello | , | world | ! | v | 2 | . | 0 = 8 chunks
    assert(out(2)._1 == 3 && out(2)._2 == 8)
    assert(out(3)._3 == "de")
    assert(out(4)._3 == "fr")
    assert(out(5)._3 == "es")
    assert(out(6)._3 == "zh") // CJK channel, stopwords never fire
    // zero evidence -> "und", never a confident alphabetical-first label
    assert(out(7)._3 == "und")
    // tabs/newlines/doubled spaces split like spaces ("the" still hits)
    assert(out(8)._1 == 4 && out(8)._3 == "en")
  }

  test("multimodal plumbing: schema, determinism, frame sampling") {
    import spark.implicits._
    val media = Multimodal.synthesize(spark, docs.limit(50), "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media, dim = 4).collect()
    assert(feats.length == 50)
    assert(feats.forall(_.features.length == 4))
    val feats2 = Multimodal.extractFeatures(spark, media, dim = 4).collect()
    assert(feats.map(f => (f.media_id, f.features.toSeq)).toSet ==
      feats2.map(f => (f.media_id, f.features.toSeq)).toSet)
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 64, everyN = 2)
    assert(frames.count() > 0)
    assert(frames.columns.toSeq ==
      Seq("media_id", "frame", "frame_bytes", "features"))
  }

  test("shingles on docs shorter than n: empty array, no crash (ADVICE r1)") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, ""), (3L, "x"), (4L, "a b c d")).toDF("id", "text")
    val sh = df.select(col("id"), TextOps.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).isEmpty && sh(2L).isEmpty && sh(3L).isEmpty)
    assert(sh(4L) == Seq("a b c", "b c d"))
    // the downstream ops must not crash on short docs
    assert(Dedup.minhashCandidates(df, "id", "text").collect().isEmpty)
    assert(Dedup.ngramJaccard(df, "id", "text", 3, 0.1).collect().isEmpty)
  }

  test("ngramJaccard hot-shingle df-cap prunes without changing rare pairs") {
    import spark.implicits._
    // docs 1/2 share rare shingles; every doc shares the hot boilerplate
    val boiler = "lorem ipsum dolor sit amet"
    val df = (
      Seq((1L, s"alpha beta gamma delta $boiler"),
          (2L, s"alpha beta gamma delta epsilon $boiler")) ++
      (3L to 40L).map(i => (i, s"unique$i distinct$i token$i $boiler"))
    ).toDF("id", "text")
    val capped = Dedup.ngramJaccard(df, "id", "text", 3, 0.05, maxShingleDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // boilerplate-only pairs are gone; the genuinely-similar pair survives
    assert(capped.contains((1L, 2L)))
    assert(capped.length < 40 * 39 / 2)
  }

  test("ngramJaccard spread=false emits the same pairs and scores as spread=true") {
    import spark.implicits._
    // estimated over FanOutMinBytes and in one partition (fewer than
    // defaultParallelism): spread=true really fans out, spread=false not
    val df = (1L to 1200L).map { i =>
      val group = (1 to 8).map(j => s"g${i / 4}w$j").mkString(" ")
      val own = (1 to 6).map(j => s"u${i}w$j").mkString(" ")
      (i, s"$group $own")
    }.toDF("id", "text").coalesce(1)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > TextOps.FanOutMinBytes)
    def run(spread: Boolean) = Dedup.ngramJaccard(df, "id", "text", 3, 0.05, spread = spread)
    def roundRobin(spread: Boolean) =
      run(spread).queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
    assert(roundRobin(spread = true))
    assert(!roundRobin(spread = false))
    def rows(spread: Boolean) =
      run(spread).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    val wide = rows(spread = true)
    assert(wide.nonEmpty)
    assert(rows(spread = false) == wide)
  }

  test("kahan sum: exact where a plain double fold loses addends") {
    import spark.implicits._
    // 1e16 followed by 500 units then -1e16: each unit rounds away
    // against the running 1e16 (ulp 2), so an uncompensated
    // left-to-right fold returns 0; Kahan's err term recovers them all
    val xs = Seq(1e16) ++ Seq.fill(500)(1.0) ++ Seq(-1e16)
    val naive = xs.foldLeft(0.0)(_ + _)
    assert(naive != 500.0, s"adversary failed to adversary: $naive")
    assert(Kahan.sum(xs) == 500.0)

    // distributed: the same bound must hold through partial-agg merges
    // regardless of partitioning (the merge path folds pair-into-pair)
    for (parts <- Seq(1, 7, 32)) {
      val got = spark.createDataset(xs).repartition(parts)
        .agg(Kahan.sumCol(col("value"))).head().getDouble(0)
      assert(math.abs(got - 500.0) <= 16.0, s"parts=$parts got $got")
    }

    // random mix: |kahan - exact| <= 2*eps*sum(|x|) (exact via BigDecimal)
    val rnd = new scala.util.Random(42)
    val ys = Seq.tabulate(2000)(i =>
      if (i % 97 == 0) (rnd.nextDouble() - 0.5) * 1e12
      else rnd.nextDouble() - 0.5)
    val exact = ys.foldLeft(BigDecimal(0))((a, x) => a + BigDecimal(x)).toDouble
    val absSum = ys.map(math.abs).sum
    val bound = 2 * 2.3e-16 * absSum
    assert(math.abs(Kahan.sum(ys) - exact) <= bound)
    val dist = spark.createDataset(ys).repartition(13)
      .agg(Kahan.sumCol(col("value"))).head().getDouble(0)
    assert(math.abs(dist - exact) <= 64 * bound + 1e-9)
  }

  test("webgraph distances: BFS min-hop, cycle-safe, reversed, maxDist cap") {
    import spark.implicits._
    // a -> b -> c -> a (cycle), c -> d, x -> y (unreachable island)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("x", "y")).toDF("src", "dst")
    val d = Webgraph.distances(Webgraph.Edges(edges), "a", maxDist = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    // reversed: who reaches d, at what distance
    val rd = Webgraph.distances(Webgraph.Edges(edges), "d", maxDist = 6,
        reversed = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rd == Map("d" -> 0L, "c" -> 1L, "b" -> 2L, "a" -> 3L))
    // cap stops the walk
    val capped = Webgraph.distances(Webgraph.Edges(edges), "a", maxDist = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped == Map("a" -> 0L, "b" -> 1L))
  }

  test("multiSourceDistances == per-source distances; approxHarmonic contract") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("x", "y")).toDF("src", "dst")
    val multi = Webgraph.multiSourceDistances(Webgraph.Edges(edges),
        Seq("a", "x").toDF("source"), maxDist = 6)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val singles = Seq("a", "x").flatMap { s0 =>
      Webgraph.distances(Webgraph.Edges(edges), s0, maxDist = 6)
        .collect().map(r => (s0, r.getString(0)) -> r.getLong(1))
    }.toMap
    assert(multi == singles)

    // approx harmonic on the 200-node deterministic graph: with epsilon
    // small enough to sample EVERY source, the estimate collapses to
    // the exact normalized score up to the HLL n-estimate (tight at
    // n=200), and the whole pipeline is partition-order deterministic
    val n = 200
    val big = (0L until n.toLong).flatMap(i =>
      Seq((i, (i * 7 + 3) % n), (i, (i * 13 + 11) % n), (i, (i * 29 + 17) % n)))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val exact = Centrality.harmonicExact(spark, Webgraph.Edges(big), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = Centrality.approxHarmonic(spark, Webgraph.Edges(big), maxDist = 4,
        epsilon = 0.01) // ceil(log2(200)/1e-4) >> 200 -> every source
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    exact.filter(_._2 > 0).foreach { case (node, h) =>
      val want = h.toDouble / (12.0 * (n - 1.0))
      val got = all.getOrElse(node, 0.0)
      assert(math.abs(got - want) <= want * 0.05 + 1e-9,
        s"node $node: approx $got vs exact-normalized $want")
    }
    // true sampling (reference epsilon): seeded-hash sample is a fixed
    // subset, so the result is identical under any input partitioning
    val s1 = Centrality.approxHarmonic(spark, Webgraph.Edges(big), maxDist = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s2 = Centrality.approxHarmonic(spark, Webgraph.Edges(big.repartition(7)),
        maxDist = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s1 == s2)
    // sample-size formula: ceil(log2(n)/eps^2) sources, all with
    // outgoing edges
    val srcs = Centrality.sampleSources(big, 11, "ah")
      .collect().map(_.getLong(0)).toSet
    assert(srcs.size == 11)
    val withOut = big.select("src").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(srcs.subsetOf(withOut))
  }

  test("betweenness: reference path-graph vector; Brandes == pair-dependency") {
    import spark.implicits._
    // the reference's own test (betweenness.rs path()): 0->1->2->3->4
    // gives {0, 0.15, 0.2, 0.15, 0} under the n(n-1) norm with all 5
    // nodes as sources
    val path = (0L until 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val srcs5 = (0L until 5L).toDF("s")
    val bc = Centrality.betweenness(spark, Webgraph.Edges(path), srcs5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc == Map(0L -> 0.0, 1L -> 0.15, 2L -> 0.2, 3L -> 0.15, 4L -> 0.0))
    // denser deterministic graph: back-propagated Brandes must satisfy
    // the pair-dependency identity node-for-node, and stay identical
    // under any input partitioning (the ordered-fold determinism claim)
    val n = 40
    val big = (0L until n.toLong).flatMap(i =>
      Seq((i, (i * 7 + 3) % n), (i, (i * 13 + 11) % n), (i, (i * 29 + 17) % n)))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val srcsAll = (0L until n.toLong).toDF("s")
    val b1 = Centrality.betweenness(spark, Webgraph.Edges(big), srcsAll, maxDepth = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pd = Centrality.betweennessPairDependency(spark, Webgraph.Edges(big), srcsAll,
        maxDepth = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(b1.keySet == pd.keySet)
    b1.foreach { case (node, v) =>
      val f = pd(node)._2
      assert(math.abs(v - f) <= 1e-9 + math.abs(f) * 1e-9,
        s"node $node: brandes $v vs formula $f")
    }
    assert(pd.values.exists(_._1 > 0L)) // some through-paths exist
    val b2 = Centrality.betweenness(spark, Webgraph.Edges(big.repartition(7)), srcsAll,
        maxDepth = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b1 == b2)
    // sampled-source mode: a subset of sources runs the same machinery
    // (the 100 TB shape) and normalizes by the SAMPLE's n(n-1)
    val some = Seq(0L, 7L, 13L).toDF("s")
    val bs = Centrality.betweenness(spark, Webgraph.Edges(big), some, maxDepth = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bs.values.forall(_ >= 0.0) && bs.values.exists(_ > 0.0))
  }

  /** Scala replica of similarRepos (reference potential_nodes +
    * inbound_similarity semantics), folding sims in liked order so the
    * doubles are bit-comparable with the DataFrame path. */
  private def bruteSimilar(edges: Seq[(String, String)], liked: Seq[String],
                           limit: Int): Seq[(String, Double)] = {
    val e = edges.distinct.filter(p => p._1 != p._2)
    val inb = e.groupBy(_._2).map { case (d, xs) => d -> xs.map(_._1).toSet }
    val back = liked.flatMap(l => inb.getOrElse(l, Set.empty[String])).toSet
    val votes = e.filter(p => back(p._1) && !liked.contains(p._2))
      .groupBy(_._2).map { case (dst, xs) => dst -> xs.size }
    val applyF = back.size > 32
    val kept =
      if (applyF) votes.filter(_._2 <= math.ceil(back.size * 0.25))
      else votes
    val nCand = if (applyF) 256 else 1024
    val cand = kept.toSeq.sortBy { case (dst, c) => (-c, dst) }
      .take(nCand).map(_._1)
    cand.map { c =>
      val ic = inb.getOrElse(c, Set.empty[String])
      val s = liked.foldLeft(0.0) { (acc, l) =>
        val il = inb.getOrElse(l, Set.empty[String])
        acc + (if (il.isEmpty || ic.isEmpty) 0.0
               else (il & ic).size / (math.sqrt(il.size) * math.sqrt(ic.size)))
      }
      c -> math.max(0.0, s / liked.size)
    }.sortBy { case (r, sc) => (-sc, r) }.take(limit)
  }

  test("similarRepos == liked-order brute force; too-popular filter engages") {
    import spark.implicits._
    // small graph, no filter (few backlink sources)
    val small = Seq(
      ("s1", "A"), ("s2", "A"), ("s1", "B"), ("s3", "B"),
      ("s1", "c1"), ("s2", "c1"), ("s3", "c2"), ("s4", "c2"),
      ("s2", "c3"))
    val got = Webgraph.similarRepos(small.toDF("src", "dst"),
        Seq("A", "B"), limit = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(got == bruteSimilar(small, Seq("A", "B"), 10))
    assert(got.nonEmpty && !got.exists(p => p._1 == "A" || p._1 == "B"))
    // 40 backlink sources -> the 0.25 too-popular filter drops "pop"
    // (40 votes > ceil(40*0.25)=10) while c0..c4 (8 votes each) stay
    val big = (0 until 40).flatMap { i =>
      Seq((s"s$i", "L"), (s"s$i", "pop"), (s"s$i", s"c${i % 5}"))
    }
    val gotBig = Webgraph.similarRepos(big.toDF("src", "dst"),
        Seq("L"), limit = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(gotBig == bruteSimilar(big, Seq("L"), 10))
    assert(!gotBig.exists(_._1 == "pop"))
    assert(gotBig.map(_._1) == Seq("c0", "c1", "c2", "c3", "c4"))
  }

  test("embedNearDupPairs: planted exact dups always found; bucket+threshold == brute replica") {
    import spark.implicits._
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val rows = Seq(
      0L -> vec(1, 0, 0, 0), 1L -> vec(1, 0, 0, 0), // exact dup pair
      2L -> vec(0, 1, 0, 0), 3L -> vec(0.9, 0.1, 0, 0),
      4L -> vec(0, 0, 1, 0), 5L -> vec(0, 1, 0, 0)) // second exact dup
    val df = rows.toDF("id", "v")
    val tau = 0.95
    val got = Dedup.embedNearDupPairs(df, "id", "v", dim = 4, tau = tau,
        bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute replica of the operator: same deterministic planes, same
    // bucket equality, same rounded-cosine threshold
    def bucket(v: Array[Float]): Long = (0 until 4).map { b =>
      val p = Similarity.plane(b, 4)
      val d = v.indices.foldLeft(0.0)((a, i) => a + v(i).toDouble * p(i).toDouble)
      if (d >= 0) 1L << b else 0L
    }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val expected = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && bucket(va) == bucket(vb)
      if BigDecimal(cos(va, vb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= tau
    } yield (ia, ib)).toSet
    assert(got == expected)
    // identical vectors share every hyperplane sign: exact dups are
    // ALWAYS candidates, independent of the plane draw
    assert(got.contains((0L, 1L)) && got.contains((2L, 5L)))
    // degenerate constant column: the hot-bucket cap drops the bucket
    val const = (0L until 10L).map(i => i -> vec(1, 1, 1, 1)).toDF("id", "v")
    assert(Dedup.embedNearDupPairs(const, "id", "v", dim = 4, tau = 0.5,
      bits = 4, maxBucketSize = 5).isEmpty)
  }

  test("shingles + fingerprint column ops") {
    import spark.implicits._
    val df = Seq((1L, "a b c d")).toDF("id", "text")
    val sh = df.select(TextOps.shingles(col("text"), 3)).head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val fp1 = df.select(TextOps.fingerprint(col("text"))).head().getString(0)
    val fp2 = Seq((2L, "d c b a")).toDF("id", "text")
      .select(TextOps.fingerprint(col("text"))).head().getString(0)
    assert(fp1 == fp2) // order-insensitive (sorted distinct set)
  }
}

/** Driver-contract smoke: entry + a few queries execute and return rows. */
class EntrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("rank", "doc_id", "score"))
  }

  test("every oracle query name exists in queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("queries run on sf0.001") {
    val d = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, d).count()
      assert(n >= 0, name)
    }
  }
}
