package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index._

/** Dumps formatted physical plans for the load-bearing queries so plan
  * regressions (lost pushdown, surprise shuffles, missed broadcasts)
  * are visible in review. Run: runMain graft.PlanReview */
object PlanReview {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .appName("graft-plans")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graftplan").toString
    IndexBuilder.build(spark, Corpus.generate(spark, 5000), dir,
      IndexBuilder.Config(numSegments = 8, storeGlobalRank = true))
    val idx = new InvertedIndex(spark, dir)

    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n==================== $name ====================")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    // 1. posting scan for query terms: the term filter must reach the
    //    parquet source (PushedFilters: In(term, ...))
    show("posting scan (term pushdown)",
      idx.postings.filter($"term".isin("spark", "session")).toDF())

    // 2. collection stats: the stat rows, summed on the driver
    show("collection stats scan", idx.segStats.toDF())

    // 3. doc resolution: the hits' segment and docId IN-lists must reach
    //    the parquet source (PushedFilters), with no join or exchange
    show("doc resolve (segment/docId pushdown)",
      idx.docs.filter($"segment".isin(0, 1) && $"docId".isin(1, 2))
        .select($"segment", $"docId", $"repo", $"path", $"simhash"))
    val hits = spark.createDataset(Seq((0, 1, 1.0f), (1, 2, 0.5f)))
      .toDF("segment", "docId", "score")

    // 3b. stored global-rank lookup: candidate keys broadcast against
    //     the ordinal table (the serving path that replaces the O(N·k)
    //     counting theta-join)
    idx.storedGlobalRanks.foreach { g =>
      show("grank lookup (broadcast keyed join)",
        g.toDF().join(broadcast(hits.select("segment", "docId")),
          Seq("segment", "docId")))
    }

    // 4. relational BM25 driver query (aggregates + joins)
    show("q_bm25_topk", SparkEntry.queries("q_bm25_topk")(spark, "/root/testdata/sf0.001"))

    // 5. dedup minhash LSH (bucket join, no cartesian)
    show("q_dedup_minhash", SparkEntry.queries("q_dedup_minhash")(spark, "/root/testdata/sf0.001"))

    // 6. LSH kNN join: bucket equi-join (no cartesian product node)
    show("q_embed_lsh_knn", SparkEntry.queries("q_embed_lsh_knn")(spark, "/root/testdata/sf0.001"))

    // 7. simhash pairs: block-prefix bucket join (no cartesian)
    show("q_simhash_pairs", SparkEntry.queries("q_simhash_pairs")(spark, "/root/testdata/sf0.001"))

    // 8. bigrams: shuffle-free zip_with plan (no window exchange)
    show("q_bigrams", SparkEntry.queries("q_bigrams")(spark, "/root/testdata/sf0.001"))

    // 9. key-phrase dictionary walk: the field prefix must reach the
    //    sorted term scan (row-group min/max pruning)
    show("keyphrase termdict scan",
      idx.postings.filter($"term".startsWith(Fields.KeyPhrasePrefix)).toDF())

    // 10. siteUrls generic query: repo filter pushed into the doc scan
    show("siteUrls (repo pushdown)",
      idx.docs.filter($"repo" === "org001/repo001")
        .orderBy($"segment", $"docId").limit(10).toDF())

    // 11. NB classification: the model term table must be a
    //     BroadcastHashJoin (never a shuffle of the model)
    show("q_nb_classify", SparkEntry.queries("q_nb_classify")(spark, "/root/testdata/sf0.001"))

    // 12. spell error-model harvest: bucketed self-join + anti-join
    //     prune (no cartesian)
    show("q_spell_train (winners)", SparkEntry.queries("q_spell_train")(spark, "/root/testdata/sf0.001"))

    // 13. bloom membership: broadcast filter probe over a fanned scan
    show("q_bloom", SparkEntry.queries("q_bloom")(spark, "/root/testdata/sf0.001"))

    // 14. grouped backlinks: one src-keyed join + column band math
    show("q_backlink_groups", SparkEntry.queries("q_backlink_groups")(spark, "/root/testdata/sf0.001"))

    // 15. approx harmonic sampled BFS + ordered-fold scoring: one
    //     frontier join per round, no cartesian, the per-node fold a
    //     single ObjectHashAggregate
    show("q_centrality_approx",
      SparkEntry.queries("q_centrality_approx")(spark, "/root/testdata/sf0.001"))

    // 16. betweenness checked face: forward sigma shells + back-prop
    //     joins keyed by (source, node) — no cartesian anywhere
    show("q_betweenness",
      SparkEntry.queries("q_betweenness")(spark, "/root/testdata/sf0.001"))

    // 17. LambdaMART bin cuts: ONE distributed TakeOrdered sample (the
    //     only collect, capped at binSampleCount) ahead of a tiny
    //     driver-side edge derivation
    show("q_ltr_bins",
      SparkEntry.queries("q_ltr_bins")(spark, "/root/testdata/sf0.001"))

    // 18. summarizer window offsets: a single typed flatMap over the
    //     parquet scan, no shuffle at all before the dump
    show("q_sum_windows",
      SparkEntry.queries("q_sum_windows")(spark, "/root/testdata/sf0.001"))

    // 11. pipeline simhash fetch: candidate (repo, path) keys broadcast
    //     against the doc table — a BroadcastHashJoin projecting only
    //     repo/path/simhash, NOT a repo-wide collect (one monorepo
    //     among the candidates must not ship every file it contains)
    val candKeys = spark.createDataset(
        Seq(("org001/repo001", "src/a.scala"), ("org002/repo002", "b.md")))
      .toDF("repo", "path")
    show("pipeline simhash fetch (broadcast candidate keys)",
      idx.docs.join(broadcast(candKeys), Seq("repo", "path"))
        .select($"repo", $"path", $"simhash"))

    // latency check with resident fnorms
    val lats = Bench.queryLatencies(spark, dir, reps = 3)
    val s = lats.sorted
    println(f"\nquery latency over ${lats.size} runs: p50=${s(s.size / 2)}%.4f s p95=${s((s.size * 0.95).toInt.min(s.size - 1))}%.4f s min=${s.head}%.4f s")
    spark.stop()
  }
}
