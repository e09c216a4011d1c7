package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-pipeline operators for large-scale training-data curation, all
  * expressed with codegen'd `functions._` columns (no UDFs) so Catalyst
  * can push/prune/fuse them. Word-level tokenization here is the
  * whitespace "WordTokenizer" analog (reference
  * crates/core/src/tokenizer/fields/words.rs); the exact IR tokenizer
  * lives in graft.core.Tokenizers and is used by the index engine.
  */
object TextOps {

  /** Whitespace tokens, lowercased, empties dropped. Splits on RUNS of
    * any whitespace — real source text is full of newlines and tabs,
    * and a single-space split would weld "1\nval" into one pseudo-token
    * and corrupt every downstream quality/dedup/language statistic. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Inputs at or under this estimated size skip fanOut outright: the
    * downstream explode/hash work on a few tens of KB finishes faster
    * than the repartition's shuffle setup. The threshold is against
    * the optimizer's estimate, which for a parquet scan is the
    * COMPRESSED file size — text compresses ~20×, so this must stay
    * far below the point where the exploded work saturates one core
    * (measured: 580 KB compressed ⇒ ~6 s of single-core shingle+md5). */
  final val FanOutMinBytes: Long = 32L * 1024

  /** Ensure at least the session's default parallelism ahead of an
    * explode/hash-heavy projection. A small single-file input (one
    * parquet row group = one Spark partition) otherwise runs the whole
    * tokenize/shingle/hash pipeline on ONE core — measured 3.4 s vs
    * ~0.3 s for q_dedup_minhash's shingle+md5 stage at sf0.1. The
    * shuffle moves only the narrow pre-explode rows; at real scale the
    * input already has >= cores partitions and this is a no-op, so it
    * never adds a shuffle at 100 TB. Trivially small inputs (by
    * optimizer size estimate) bypass both the shuffle AND the partition
    * probe; the probe itself reads the internal-row RDD's partition
    * count (queryExecution.toRdd) — no external-row conversion layer. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= FanOutMinBytes) df
    else if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be")

  /** Stopword ratio + length stats — the quality-scoring primitive. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val n = size(toks)
    val stop = size(filter(toks, t => t.isin(EnglishStopwords: _*)))
    val distinctN = size(array_distinct(toks))
    Seq(
      "num_tokens" -> n,
      "num_distinct" -> distinctN,
      "stopword_ratio" -> round(stop.cast("double") / n, 4),
      "distinct_ratio" -> round(distinctN.cast("double") / n, 4),
      // true mean of token lengths (the old length(text)-n+1 shortcut
      // assumed exactly one single-space separator between tokens and
      // broke on any doubled space, tab, newline or edge whitespace)
      "mean_token_len" -> round(
        aggregate(toks, lit(0), (a, t) => a + length(t)).cast("double") / n, 4)
    )
  }

  /** Deterministic document fingerprint: md5 over the sorted distinct
    * token set (cross-engine reproducible). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))).cast("binary"))

  /** BPE-ish pre-tokenizer chunk pattern (the GPT-2 pre-split shape
    * without lookaheads, so Java regex and RE2-style engines count
    * identically): a chunk is an optional leading space followed by a
    * letter run, a digit run, or a non-alnum-non-space punctuation
    * run. LLM token budgeting estimates tokens as chunks (each BPE
    * token is a piece of exactly one pre-split chunk; the chunk count
    * is the lower bound and the usual corpus-budget proxy). */
  final val BpeChunkPattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  /** Chunk count of the BPE-ish pre-tokenizer over the lowercased
    * text — the token-budget column beside the whitespace count.
    * regexp_count (not size(regexp_extract_all)): counting matches
    * directly skips materializing the whole chunk array per row —
    * the count is all any consumer of this column ever wanted. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit(BpeChunkPattern))

  /** Per-language stopword tables for the language-ID heuristic
    * (function-word hit ratio — the classic n-gram/stopword profile
    * approach; sets kept small and high-frequency on purpose). */
  val StopwordsByLang: Map[String, Seq[String]] = Map(
    "en" -> EnglishStopwords,
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "zu", "mit", "von", "für", "auf", "den", "dem", "im", "sich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "du", "des",
      "pour", "dans", "que", "qui", "sur", "pas", "au", "ne"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "del", "para",
      "en", "que", "no", "por", "con", "se", "su", "lo"))

  /** CJK character count (Chinese detection channel: stopword lists
    * don't apply to an unsegmented script). Integer, so every
    * downstream comparison stays exact across engines. */
  def cjkCount(text: Column): Column =
    length(regexp_replace(text, "[^\\x{4e00}-\\x{9fa5}]", ""))

  /** Language-ID evidence over a PRE-COMPUTED token column: one
    * integer stopword-hit-count column per language plus the CJK char
    * count and the token count — integer columns only (a ratio column
    * would reintroduce the round(double) half-tie hazard the float
    * invariants forbid). Callers should materialize the token array
    * into a real column first (withColumn) and pass its reference:
    * lambda-bearing subtrees are excluded from Spark's common-
    * subexpression elimination (the minhashBand hazard below), so an
    * inline tokens(text) here would re-tokenize every row once per
    * language filter. */
  def langHitsOn(toks: Column, text: Column): Seq[(String, Column)] =
    StopwordsByLang.toSeq.sortBy(_._1).map { case (lang, words) =>
      s"${lang}_hits" -> size(filter(toks, t => t.isin(words: _*)))
    } ++ Seq("cjk_chars" -> cjkCount(text), "n_tokens" -> size(toks))

  /** Predicted language: "zh" when CJK chars clear cjkNum/cjkDen of
    * the text length (integer cross-multiplication, no division);
    * "und" (BCP-47 undetermined) when NO language has any stopword
    * evidence — a stopword-free code/English doc must not be
    * confidently labeled with the alphabetically-first language;
    * otherwise the argmax stopword-hit count with ties to the
    * alphabetically-first language (greatest over (hits, -rank)
    * structs, the ivfCell pattern — pure codegen'd expressions). */
  def langPredictOn(toks: Column, text: Column,
                    cjkNum: Int = 1, cjkDen: Int = 5): Column = {
    val langs = StopwordsByLang.keys.toSeq.sorted
    val hits = langHitsOn(toks, text).toMap
    val hitCols = langs.map(l => hits(s"${l}_hits"))
    val structs = langs.zipWithIndex.map { case (lang, i) =>
      struct(hits(s"${lang}_hits").as("s"), lit(-i).as("nid"))
    }
    val bestIdx = greatest(structs: _*).getField("nid") * -1
    val byIdx = langs.zipWithIndex.foldLeft(lit(langs.head)) {
      case (acc, (lang, i)) => when(bestIdx === i, lit(lang)).otherwise(acc)
    }
    when(cjkCount(text) * cjkDen >= length(text) * cjkNum, lit("zh"))
      .when(hitCols.reduce(_ + _) === 0, lit("und"))
      .otherwise(byIdx)
  }

  /** Convenience form of [[langPredictOn]]. */
  def langPredict(text: Column, cjkNum: Int = 1, cjkDen: Int = 5): Column =
    langPredictOn(tokens(text), text, cjkNum, cjkDen)

  /** n-token shingles via posexplode-free column ops: transform over
    * index range. Docs with fewer than n tokens yield an empty array
    * (sequence(1, count<=0) would produce a descending range whose
    * negative indices crash slice at runtime — guarded explicitly). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val count = size(toks) - (n - 1)
    when(count > 0,
      transform(sequence(lit(1), count),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash band signature j of a single md5 per shingle: the 128-bit
    * md5 hex splits into `bands` disjoint slices, each an independent
    * hash function (lexicographic min of hex = deterministic hash min,
    * identically computable in any engine with md5 + substr). Up to 4
    * bands of 8 hex chars (32 bits) each. */
  def bandSlice(md5Hex: Column, j: Int, bands: Int): Column = {
    require(bands >= 1 && bands <= 4, s"1..4 bands supported, got $bands")
    val width = 32 / bands
    substring(md5Hex, j * width + 1, width)
  }

  /** MinHash signature component j (single-row column form; prefer the
    * explode/agg path in Dedup.minhashCandidates for large corpora —
    * lambda-bearing subtrees are excluded from Spark's common-
    * subexpression elimination, so per-band column recompute costs
    * bands x the shingle work). */
  def minhashBand(text: Column, j: Int, shingleN: Int = 3, bands: Int = 4): Column =
    array_min(transform(shingles(text, shingleN),
      s => bandSlice(md5(s.cast("binary")), j, bands)))
}
