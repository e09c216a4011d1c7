package perfbench

import java.lang.Float.floatToRawIntBits
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

import graft.index._
import graft.streaming.LiveIndex

/** The workloads. Each sets up from the seed, measures (`serve` for the
  * run's seconds; `live` spreads its rounds over them), then checks
  * outputs outside the timed phase. */
object Workloads {
  val K = 20
  /** Live micro-batch docs get ids from here, apart from the corpus. */
  val LiveBase = 10000000L

  private def now: Long = System.nanoTime()
  private def config(ctx: Ctx) =
    IndexBuilder.Config(numSegments = ctx.scale.segments, recordPositions = false)

  private def dataBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(IndexBuilder.dataDir(dir)))
    try s.filter(p => p.toString.endsWith(".parquet")).mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  private def delete(dir: String): Unit = IndexBuilder.deleteRecursively(new java.io.File(dir))

  /** Writes the query stream and reads it back as the run's input. */
  private def queries(ctx: Ctx, name: String, saltLo: Long, saltHi: Long): Array[Query] = {
    val path = Paths.get(ctx.dir(s"$name.tsv"))
    val hash = Inputs.writeQueries(
      Inputs.queryStream(ctx.args.seed, ctx.scale.streamQueries, saltLo, saltHi), path)
    ctx.info(s"input $name: ${ctx.scale.streamQueries} queries sha256=$hash")
    Inputs.readQueries(path)
  }

  /** Writes the seeded corpus table; returns (rows, content bytes). */
  private def corpus(ctx: Ctx, path: String): (Long, Long) = {
    val (rows, bytes, hash) = ctx.setupStep("corpus", 1) {
      Inputs.writeDocs(ctx.spark, ctx.args.seed, 0, ctx.scale.corpusDocs, 0, path)
      Inputs.digest(ctx.spark, path)
    }
    ctx.info(s"input corpus: $rows rows, $bytes content bytes, xxhash64 sum=$hash")
    (rows, bytes)
  }

  /** Tie-stable top-k per query: fetch candidateBudget(k) hits, sort by
    * (score desc, repo, path), cut to k. Scores compare bit for bit. */
  private def stableTopK(ctx: Ctx, idx: InvertedIndex, qs: Seq[Query])
      : Map[String, Seq[(String, String, Int)]] = ctx.tracer.span("check.topk", "check") {
    val budget = InvertedIndex.candidateBudget(K)
    val raw = idx.searchBatchRaw(qs.zipWithIndex.map { case (q, j) =>
      (j.toString, q.text, budget, q.mode, q.minus) })
    val hits = raw.values.flatten.toSeq
    val names =
      if (hits.isEmpty) Map.empty[(Int, Int), (String, String)]
      else idx.docs
        .filter(col("segment").isin(hits.map(_._1).distinct: _*) &&
          col("docId").isin(hits.map(_._2).distinct: _*))
        .select("segment", "docId", "repo", "path").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getString(2), r.getString(3))).toMap
    val order = Ordering.Tuple3(Ordering.Float.TotalOrdering.reverse, Ordering.String, Ordering.String)
    raw.map { case (qid, hs) =>
      qid -> hs.toSeq.map { case (s, d, sc) => val (r, p) = names((s, d)); (sc, r, p) }
        .sorted(order).take(K).map { case (sc, r, p) => (r, p, floatToRawIntBits(sc)) }
    }
  }

  private def sameTopK(ctx: Ctx, name: String, a: InvertedIndex, b: InvertedIndex,
                       qs: Seq[Query]): Unit = {
    val x = stableTopK(ctx, a, qs)
    val y = stableTopK(ctx, b, qs)
    qs.indices.foreach { j =>
      val k = j.toString
      ctx.check(name, x.getOrElse(k, Nil) == y.getOrElse(k, Nil), s"query '${qs(j).line}'")
    }
  }

  /** `InvertedIndex.search`, timed as its two calls. */
  private def search(ctx: Ctx, idx: InvertedIndex, q: Query, req: String): Array[Hit] = {
    val raw = ctx.tracer.span("InvertedIndex.searchRaw", req)(idx.searchRaw(q.text, K, q.mode, q.minus))
    ctx.tracer.span("InvertedIndex.resolve", req)(idx.resolve(raw, K))
  }

  private def plans(qs: Seq[Query]) =
    qs.zipWithIndex.map { case (q, j) => (s"b$j", q.text, K, q.mode, q.minus) }

  private def bitEqual(a: Array[(Int, Int, Float)], b: Array[(Int, Int, Float)]): Boolean =
    a.length == b.length && a.indices.forall { i =>
      a(i)._1 == b(i)._1 && a(i)._2 == b(i)._2 &&
        floatToRawIntBits(a(i)._3) == floatToRawIntBits(b(i)._3)
    }

  // ---------------------------------------------------------------- serve

  def serve(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val s = ctx.scale
    val table = ctx.dir("corpus")
    val (_, contentBytes) = corpus(ctx, table)
    val qs = queries(ctx, "queries", 0, s.corpusDocs)
    val dir = ctx.dir("serve-index")
    if (ctx.args.trace) ctx.tracer.start()
    ctx.setupStep("prebuild", 1)(ctx.tracer.span("IndexBuilder.build", "setup")(
      IndexBuilder.build(spark, Inputs.read(spark, table), dir, config(ctx))))
    val openMs = ArrayBuffer[Double]()
    val (idx, searcher) = ctx.setupStep("searcher-open", s.openReps) {
      val (v, ms) = Ctx.timed(ctx.tracer.span("Searcher.open", "setup") {
        val x = new InvertedIndex(spark, dir); (x, new Searcher(x)) })
      openMs += ms
      v
    }
    ctx.tracer.stop()
    // the vocabulary fits the posting cache, as it would in a long-running
    // server: preload it, then warm the JIT on the head of the stream
    ctx.setupStep("warm-queries", 1) {
      Corpus.Vocab.grouped(32).foreach(ws => searcher.searchRaw(ws.mkString(" "), K))
      qs.take(s.serveWarmQueries).foreach(q => searcher.searchRaw(q.text, K, q.mode, q.minus))
    }
    ctx.setupDone()

    val lat, salted, tracedLat, untracedLat, blockRates = ArrayBuffer[Double]()
    val gc0 = ctx.gcMs
    var i = s.serveWarmQueries
    var traced = false
    val t0 = now
    var blockT0 = t0
    val end = t0 + (ctx.args.seconds * 1e9).toLong
    while (now < end) {
      val n = i - s.serveWarmQueries
      if (n % s.serveBlock == 0) {
        val t = now
        if (n > 0) blockRates += s.serveBlock / ((t - blockT0) / 1e9)
        blockT0 = t
        traced = ctx.block(n / s.serveBlock)
      }
      val q = qs(i % qs.length)
      val (_, ms) = Ctx.timed(ctx.tracer.span("Searcher.searchRaw", s"q$i")(
        searcher.searchRaw(q.text, K, q.mode, q.minus)))
      lat += ms
      if (q.salted) salted += ms
      (if (traced) tracedLat else untracedLat) += ms
      i += 1
    }
    val wallS = (now - t0) / 1e9
    ctx.tracer.stop()
    ctx.gauges("Spark.gc_ms") = ctx.gcMs - gc0
    ctx.ops(lat.size)
    ctx.info(f"measured: ${lat.size} queries (${salted.size} salted) in $wallS%.2f s; " +
      s"${Stats.beyond(lat, 0.98)} samples beyond p98; block rates " +
      blockRates.map(x => f"$x%.0f").mkString(" "))
    val heap = ctx.retainedHeapMb(idx, searcher)

    // Searcher == InvertedIndex.searchRaw, and == exhaustive for `or`
    if (ctx.args.trace) ctx.tracer.start()
    val sample = (0 until s.checkQueries).map(j => qs((s.serveWarmQueries + j * 25) % qs.length))
    val viaIndex = ctx.tracer.span("check.searchBatchRaw", "check")(idx.searchBatchRaw(
      sample.zipWithIndex.flatMap { case (q, j) =>
        Seq((s"i$j", q.text, K, q.mode, q.minus)) ++
          (if (q.mode == "or") Seq((s"x$j", q.text, K, "exhaustive", q.minus)) else Nil)
      }))
    sample.zipWithIndex.foreach { case (q, j) =>
      val got = ctx.tracer.span("check.searcher", "check")(searcher.searchRaw(q.text, K, q.mode, q.minus))
      ctx.check("serve.searcher_eq_index", bitEqual(got, viaIndex(s"i$j")), s"query '${q.line}'")
      if (q.mode == "or")
        ctx.check("serve.wand_eq_exhaustive", bitEqual(got, viaIndex(s"x$j")), s"query '${q.line}'")
    }

    ctx.put("p50_ms", Stats.median(lat), "ms")
    // p98: about 25 samples lie beyond it at this run length (about 1250
    // queries in 10 s on 4 cores); p99 would fall among the salted 5%
    ctx.put("tail_ms", Stats.pct(lat, 0.98), "ms")
    // every block of the stream holds the same share of salted queries,
    // so the median block rate is the steady rate, free of one-off stalls
    ctx.put("rate_per_s", Stats.median(blockRates), "1/s")
    ctx.put("op2_ms", Stats.median(salted), "ms")
    ctx.put("op3_ms", Stats.median(openMs), "ms")
    ctx.put("retained_heap_mb", heap, "MB")
    ctx.put("index_bytes_per_input_byte", dataBytes(dir).toDouble / contentBytes, "ratio")
    if (ctx.args.trace) {
      ctx.gauges("InvertedIndex.segments") = idx.stats.numSegments
      Probe.run(ctx, idx, qs)
      ctx.overhead(tracedLat, untracedLat)
      // the live-index layers, once, so the traced run measures every layer
      val (l, c) = (ctx.dir("cross-live"), ctx.dir("cross-compact"))
      ctx.tracer.span("LiveIndex.appendBatch", "cross")(
        LiveIndex.appendBatch(Inputs.read(spark, table).limit(500), 0, l, config(ctx)))
      val li = ctx.tracer.span("InvertedIndex.open", "cross") { val x = new InvertedIndex(spark, l); x.stats; x }
      qs.take(2).foreach(q => search(ctx, li, q, "cross"))
      ctx.tracer.span("InvertedIndex.searchBatchRaw", "cross", 4)(li.searchBatchRaw(plans(qs.take(4))))
      ctx.tracer.span("SegmentMerge.compact", "cross")(LiveIndex.compact(spark, l, c, config(ctx)))
    }
  }

  // ----------------------------------------------------------------- live

  def live(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val s = ctx.scale
    val cfg = config(ctx)
    val rounds = s.liveRounds
    val batches = ctx.dir("batches")
    // batches 0 until rounds are the measured rounds'; batch `rounds`
    // is the live index's first, appended in set-up
    val (allRows, contentBytes, hash) = ctx.setupStep("batches", 1) {
      Inputs.writeDocs(spark, ctx.args.seed, LiveBase, LiveBase + (rounds + 1) * s.liveBatchDocs,
        s.liveBatchDocs, batches)
      Inputs.digest(spark, batches)
    }
    ctx.info(s"input batches: $allRows rows in ${rounds + 1} batches, xxhash64 sum=$hash")
    val qs = queries(ctx, "queries", LiveBase, LiveBase + rounds * s.liveBatchDocs)
    def batch(b: Long) = Inputs.read(spark, batches, Some(b))

    // set-up gives the live index its first batch (batch id 0) and
    // warms the JIT on one round of the workload, compaction included
    val dir = ctx.dir("live")
    ctx.setupStep("first-round", 1) {
      LiveIndex.appendBatch(batch(rounds), 0, dir, cfg)
      val idx = new InvertedIndex(spark, dir)
      qs.take(2).foreach(q => search(ctx, idx, q, "warmup"))
      idx.searchBatchRaw(plans(qs.take(s.liveBatchQueries)))
      val wc = ctx.dir("warm-compact")
      LiveIndex.compact(spark, dir, wc, cfg)
      delete(wc)
    }
    ctx.setupDone()

    // rounds: append, reopen, the first read (a doc of the new batch by
    // its salt term), steady single queries until the round's share of
    // the run is used, then one batch of the next queries of the stream
    val steady, first, appendMs, batchMs, tracedLat, untracedLat = ArrayBuffer[Double]()
    var batchQueries = 0
    var idx: InvertedIndex = null
    val gc0 = ctx.gcMs
    var next = 0
    def take(n: Int): Seq[Query] = { val q = (next until next + n).map(i => qs(i % qs.length)); next += n; q }
    val t0 = now
    (0 until rounds).foreach { r =>
      val traced = ctx.block(r)
      val req = s"round$r"
      val (_, aMs) = Ctx.timed(ctx.tracer.span("LiveIndex.appendBatch", req)(
        LiveIndex.appendBatch(batch(r), r + 1, dir, cfg)))
      appendMs += aMs
      idx = ctx.tracer.span("InvertedIndex.open", req) { val x = new InvertedIndex(spark, dir); x.stats; x }
      val d = LiveBase + r * s.liveBatchDocs + Math.floorMod(ctx.args.seed * 31 + r, s.liveBatchDocs)
      val want = Corpus.mkDoc(d, ctx.args.seed, skew = false)
      val (fresh, fMs) = Ctx.timed(search(ctx, idx, Query("or", s"zzsalt${d}a", Nil), req))
      first += fMs
      ctx.check("live.fresh", fresh.length == 1 && fresh(0).repo == want.repo && fresh(0).path == want.path,
        s"round $r: ${fresh.map(h => s"${h.repo}/${h.path}").mkString(",")}")
      val roundEnd = t0 + (ctx.args.seconds * 1e9 * (r + 1) / rounds).toLong
      var n = 0
      while (n < s.liveMinQueries || (now < roundEnd && n < 200)) {
        val (_, ms) = Ctx.timed(search(ctx, idx, take(1).head, req))
        steady += ms
        (if (traced) tracedLat else untracedLat) += ms
        n += 1
      }
      val bqs = take(s.liveBatchQueries)
      val (_, bMs) = Ctx.timed(ctx.tracer.span("InvertedIndex.searchBatchRaw", req, bqs.size)(
        idx.searchBatchRaw(plans(bqs))))
      batchMs += bMs
      batchQueries += bqs.size
      ctx.ops(4 + n)
    }
    ctx.gauges("InvertedIndex.segments") = idx.stats.numSegments
    val liveBytes = dataBytes(dir)
    if (ctx.args.trace) ctx.tracer.start()
    val cdir = ctx.dir("compacted")
    val (_, compactMs) = Ctx.timed(ctx.tracer.span("SegmentMerge.compact", "compact")(
      LiveIndex.compact(spark, dir, cdir, cfg)))
    val compacted = ctx.tracer.span("InvertedIndex.open", "compact") {
      val x = new InvertedIndex(spark, cdir); x.stats; x }
    ctx.ops(2)
    ctx.tracer.stop()
    ctx.gauges("Spark.gc_ms") = ctx.gcMs - gc0
    ctx.info(f"measured: $rounds rounds, ${steady.size} steady queries (ms " +
      f"${steady.map(x => f"$x%.0f").mkString(" ")}), first read ms " +
      f"${first.map(x => f"$x%.0f").mkString(" ")}, append ms ${appendMs.map(x => f"$x%.0f").mkString(" ")}, " +
      f"compact $compactMs%.0f ms")
    val heap = ctx.retainedHeapMb(idx, compacted)

    // the query round on the compacted index is the top-k check's
    if (ctx.args.trace) ctx.tracer.start()
    sameTopK(ctx, "compact.topk", idx, compacted, qs.take(s.checkQueries))

    ctx.put("p50_ms", Stats.median(steady), "ms")
    ctx.put("tail_ms", Stats.median(first), "ms")
    ctx.put("rate_per_s", batchQueries / (batchMs.sum / 1e3), "1/s")
    ctx.put("op2_ms", Stats.median(appendMs), "ms")
    ctx.put("op3_ms", compactMs, "ms")
    ctx.put("retained_heap_mb", heap, "MB")
    ctx.put("index_bytes_per_input_byte", liveBytes.toDouble / contentBytes, "ratio")
    if (ctx.args.trace) {
      Probe.run(ctx, compacted, qs)
      ctx.overhead(tracedLat, untracedLat)
      // the build and serving layers, once, so the traced run measures every layer
      val b = ctx.dir("cross-build")
      ctx.tracer.span("IndexBuilder.build", "cross")(IndexBuilder.build(spark, Inputs.read(spark, batches), b, cfg))
      val searcher = ctx.tracer.span("Searcher.open", "cross")(new Searcher(new InvertedIndex(spark, b)))
      qs.take(50).zipWithIndex.foreach { case (q, j) =>
        ctx.tracer.span("Searcher.searchRaw", s"cross$j")(searcher.searchRaw(q.text, K, q.mode, q.minus)) }
    }
  }
}
