package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.{ErrorModel, Tokenizers}

/** Distributed spelling error-model training (reference:
  * crates/web-spell/src/trainer.rs SecondTrainer::train — for every
  * dictionary term, find corrections within a length-bucketed edit
  * budget whose frequency is >10× the term's, let the trigram LM vote
  * over the term's frequent contexts, and count the char-level edit
  * sequences of the winning (term, correction) pairs into an
  * ErrorModel). Re-expressed as relational Spark passes:
  *
  *  - term + trigram counts: one tokenize pass each (groupBy count,
  *    map-side partial agg).
  *  - candidate pairs: SymSpell-style prefix-delete bucketing (the
  *    published delete-variant indexing with prefix length 7 — ≤64
  *    variant keys per term regardless of term length) + exact
  *    Levenshtein verify, with a hot-bucket cap so a degenerate key
  *    cannot go quadratic (hot buckets are dropped wholesale via a
  *    broadcast anti-join — the lshKnnJoin idiom, documented recall
  *    loss, never a melted executor).
  *  - context voting: contexts join candidates join trigram counts;
  *    winner per context via one window (count desc, then the original
  *    term, then lexicographically-last — the reference's Rust
  *    max_by keeps the last maximal element of
  *    [corrections..., term], trainer.rs:134-160).
  *  - model build: winning pairs → ErrorModel.possibleErrors sequence
  *    keys → count; only the tiny (sequence, count) aggregate is
  *    collected.
  *
  * The resulting ErrorModel plugs into
  * InvertedIndex.spellCorrectBatch(errorModel = Some(m)) replacing the
  * fixed per-edit penalty with the harvested 2^logProb edit factor
  * (spell_checker.rs:101-114 noisy-channel shape). */
object SpellTrain {

  final case class Config(correctionFactor: Long = 10,
                          minContextCount: Long = 10,
                          prefixLen: Int = 7,
                          maxBucket: Int = 5000,
                          minTermCount: Long = 1)

  final case class TermCount(term: String, cnt: Long)
  final case class Trigram(w1: String, w2: String, w3: String, cnt: Long)

  /** Engine-identical token stream (Tokenizers.default — the same
    * terms the index's spell dictionary holds). */
  def termCounts(docs: DataFrame, textCol: String): Dataset[TermCount] = {
    val spark = docs.sparkSession
    import spark.implicits._
    TextOps.fanOut(docs.select(col(textCol))).as[String]
      .flatMap(t => Tokenizers.default(t))
      .groupBy(col("value").as("term")).agg(count(lit(1)).as("cnt"))
      .as[TermCount]
  }

  def trigramCounts(docs: DataFrame, textCol: String): Dataset[Trigram] = {
    val spark = docs.sparkSession
    import spark.implicits._
    TextOps.fanOut(docs.select(col(textCol))).as[String]
      .flatMap { t =>
        Tokenizers.default(t).sliding(3).filter(_.length == 3)
          .map(w => (w(0), w(1), w(2)))
      }
      .groupBy(col("_1").as("w1"), col("_2").as("w2"), col("_3").as("w3"))
      .agg(count(lit(1)).as("cnt"))
      .as[Trigram]
  }

  /** SymSpell prefix-delete variant keys: every subsequence of the
    * first `prefixLen` chars with up to maxEditsFor(term) deletions
    * (including the undeleted prefix). Two terms within the edit
    * budget share at least one key; exact Levenshtein verifies after
    * the bucket join. Honest boundary note: generation depth is each
    * term's OWN budget, so a pair whose two lengths straddle a budget
    * boundary (e.g. 13 vs 12 chars at distance 3) can be missed —
    * the reference's per-term FST search does not have this edge;
    * everything within the smaller budget is found. */
  private[graft] def variantKeys(term: String, prefixLen: Int): Seq[String] = {
    val maxDel = ErrorModel.maxEditsFor(term)
    val p = term.substring(0, math.min(term.length, prefixLen))
    val out = scala.collection.mutable.LinkedHashSet[String](p)
    var frontier = Set(p)
    var d = 0
    while (d < maxDel) {
      frontier = frontier.flatMap(s =>
        (0 until s.length).map(i => s.substring(0, i) + s.substring(i + 1)))
      out ++= frontier
      d += 1
    }
    out.toSeq
  }

  final case class Keyed(key: String, term: String, cnt: Long)

  /** Harvested (misspelling a, correction b) candidate pairs:
    * dist(a,b) ≤ maxEditsFor(a) and cnt(b) > factor·cnt(a). */
  def candidatePairs(terms: Dataset[TermCount], cfg: Config = Config()): DataFrame = {
    val spark = terms.sparkSession
    import spark.implicits._
    val plen = cfg.prefixLen
    val keyed0 = terms.filter(_.cnt >= cfg.minTermCount)
      .flatMap(t => variantKeys(t.term, plen).map(k => Keyed(k, t.term, t.cnt)))
      .toDF()
    // hot-bucket cap (the lshKnnJoin idiom): a pathological shared key
    // (e.g. the near-empty variant of very common short prefixes) would
    // make the self-join quadratic — such buckets are dropped wholesale
    // via a broadcast anti-join (documented recall loss), never melted
    // through. cache: the count and the anti-join both consume keyed0.
    // A cap of Int.MaxValue can never drop a bucket — skip the counting
    // pass (and its cache) outright instead of anti-joining an
    // always-empty hot set.
    val keyed =
      if (cfg.maxBucket == Int.MaxValue) keyed0
      else {
        val cached = keyed0.cache()
        val hot = cached.groupBy("key").agg(count(lit(1)).as("n"))
          .where(col("n") > cfg.maxBucket).select("key")
        cached.join(broadcast(hot), Seq("key"), "left_anti")
      }
    val a = keyed.select(col("key"), col("term").as("a"), col("cnt").as("a_cnt"))
    // correction-side pre-filter: a winning correction needs
    // cnt(b) > factor·cnt(a) and cnt(a) ≥ minTermCount, so any b with
    // cnt ≤ factor·minTermCount can never survive the frequency filter
    // below — dropping those rows BEFORE the bucket self-join removes
    // the long Zipf tail (most of the vocabulary) from the join's right
    // side without changing the result (guide §2.3: shuffle fewer
    // bytes / prune before the exchange).
    val b = keyed.where(col("cnt") > lit(cfg.correctionFactor * cfg.minTermCount))
      .select(col("key"), col("term").as("b"), col("cnt").as("b_cnt"))
    // frequency + edit-distance filters run BEFORE the distinct: both
    // are deterministic functions of the distinct key, so the result is
    // identical, but the dedup shuffle now carries only surviving pairs
    // (previously every shared-key duplicate of every pair).
    a.join(b, Seq("key"))
      .where(col("a") =!= col("b"))
      .where(col("b_cnt") > col("a_cnt") * lit(cfg.correctionFactor))
      .where(levenshtein(col("a"), col("b")) <=
        when(length(col("a")) <= 4, 1).when(length(col("a")) <= 12, 2).otherwise(3))
      .select("a", "a_cnt", "b", "b_cnt").distinct()
  }

  /** Context-vote winners: for each frequent trigram context of a
    * candidate misspelling, the candidate (or the term itself) whose
    * substituted trigram is most frequent wins; pairs where a
    * correction wins at least one context survive. */
  def winningPairs(pairs: DataFrame, trigrams: Dataset[Trigram],
                   cfg: Config = Config()): DataFrame = {
    val tg = trigrams.toDF()
    val contexts = tg
      .join(pairs.select(col("a")).distinct(), tg("w2") === col("a"))
      .where(col("cnt") >= cfg.minContextCount)
      .select(col("a"), col("w1"), col("w3"))
      .distinct()
    val cands = pairs.select(col("a"), col("b").as("c"))
      .union(pairs.select(col("a"), col("a").as("c"))).distinct()
    // the context-vote lookup only ever matches trigrams whose MIDDLE
    // word is a candidate (a term or one of its corrections) — a
    // broadcast semi-join on that small set prunes the trigram table
    // before the 3-key join instead of shuffling every trigram
    // (guide §3.2: reduce the big side before shuffling it).
    val midSet = cands.select(col("c").as("lc")).distinct()
    val lookup = tg.select(col("w1").as("l1"), col("w2").as("lc"),
      col("w3").as("l3"), col("cnt").as("c_cnt"))
      .join(broadcast(midSet), Seq("lc"), "left_semi")
    val scored = contexts.join(cands, Seq("a"))
      .join(lookup, col("w1") === col("l1") && col("w3") === col("l3") &&
        col("c") === col("lc"), "left")
      .select(col("a"), col("w1"), col("w3"), col("c"),
        coalesce(col("c_cnt"), lit(0L)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a", "w1", "w3")
      .orderBy(col("n").desc, (col("c") === col("a")).desc, col("c").desc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .where(col("c") =!= col("a"))
      .select(col("a"), col("c")).distinct()
  }

  /** Aggregate winning pairs into the error-sequence distribution;
    * only the (sequence, count) aggregate reaches the driver. */
  def buildModel(winners: DataFrame): ErrorModel = {
    val spark = winners.sparkSession
    import spark.implicits._
    val counted = winners.select(col("a"), col("c")).as[(String, String)]
      .map { case (a, c) =>
        ErrorModel.seqKey(ErrorModel.possibleErrors(a, c).get)
      }
      .groupBy(col("value").as("k")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect()
    ErrorModel(counted.toMap, counted.map(_._2).sum)
  }

  /** Full pipeline over a document table. */
  def train(docs: DataFrame, textCol: String, cfg: Config = Config()): ErrorModel = {
    val terms = termCounts(docs, textCol).cache()
    val tri = trigramCounts(docs, textCol)
    try {
      val pairs = candidatePairs(terms, cfg)
      buildModel(winningPairs(pairs, tri, cfg))
    } finally terms.unpersist()
  }
}
