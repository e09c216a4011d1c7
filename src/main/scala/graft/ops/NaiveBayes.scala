package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TF-IDF + Naive Bayes text classification (reference:
  * crates/core/src/naive_bayes.rs, consumed by
  * webpage/safety_classifier.rs for the SFW/NSFW model). The reference
  * trains single-node over an in-RAM Vec<Datapoint>; here training is
  * two distributed token passes (document frequencies; per-(class,
  * term) counts) whose aggregates — vocab-bounded, NOT corpus-bounded —
  * are collected to build the same in-RAM model the reference ships as
  * a bincode artifact. Prediction is either driver-side (one text) or
  * a broadcast-join DataFrame pass (no model data ever shuffles).
  *
  * The reference has several load-bearing quirks, all reproduced and
  * pinned by NaiveBayesSpec rather than silently "fixed":
  *  - vectorizer idf = ln(N / (1 + df)) + 1 (naive_bayes.rs:86);
  *  - per-(class,term) weight = Laplace-ish ln((count+1)/(total+1))
  *    where total is the class's summed tf-idf mass — the denominator
  *    is NOT total + alpha*|vocab| (naive_bayes.rs:227);
  *  - a term in the vocab but unseen in a class contributes the
  *    POSITIVE constant alpha/(alpha+alpha) = 0.5 per tf-idf unit at
  *    predict time (naive_bayes.rs:259);
  *  - the predicted class is the MINIMUM accumulated value (strict <,
  *    so the first class in sorted order wins ties,
  *    naive_bayes.rs:168-179) — with the 0.5-for-unseen rule this is
  *    internally consistent: seen evidence drives a class more
  *    negative, unseen evidence more positive;
  *  - confidence = max(best / sum_over_classes, 0)
  *    (naive_bayes.rs:182).
  *
  * Determinism contract (the oracle-parity requirement): every
  * transcendental output (idf, feature log-probs, prior logs) is
  * quantized to f32 — like the reference's f32 model — and every SUM
  * is either an exact integer aggregate or an ordered fold (by term id,
  * then by class id) over doubles of those f32 inputs, so Spark and
  * the DuckDB oracle produce bit-identical scores regardless of
  * partitioning. The reference's own f32 accumulation order is
  * unspecified (IntMap iteration); the ordered-fold re-derivation is
  * the documented divergence. */
object NaiveBayes {

  /** The trained model (reference NaiveBayes + TfidfVectorizer state).
    * Sizes: vocab strings + |classes| maps of at most |vocab| floats —
    * the same artifact the reference holds in RAM; at 100 TB the
    * driver-side collect is bounded by vocabulary, not corpus (use
    * `minDf` to bound a heavy-tailed vocabulary). */
  final case class Model(classes: Array[String],
                         prior: Array[Double],
                         priorLn: Array[Float],
                         vocab: Array[String],
                         idf: Array[Float],
                         flp: Array[Map[Int, Float]]) {
    @transient lazy val vocabIndex: Map[String, Int] = vocab.zipWithIndex.toMap
  }

  /** safety_classifier.rs normalize: first `maxWords` whitespace
    * tokens, lowercased, space-joined. */
  def normalizeCol(text: Column, maxWords: Int = 100): Column =
    lower(concat_ws(" ",
      slice(filter(split(text, "\\s+"), t => t =!= ""), 1, maxWords)))

  /** Train on (textCol, labelCol). Two token passes (df, class-term
    * counts), both ending in vocab-bounded aggregates; the model is
    * assembled on the driver with ordered folds (term-id order) so it
    * is independent of partitioning. `minDf` drops rare terms BEFORE
    * the collect — the scale knob the reference doesn't need
    * single-node (0/1 keep everything, the reference's behavior). */
  def fit(docs: DataFrame, textCol: String, labelCol: String,
          minDf: Long = 1L): Model = {
    val spark = docs.sparkSession
    import spark.implicits._
    // cache the NARROW normalized rows (label + text), not the exploded
    // token stream: the three aggregates below re-tokenize from the
    // in-memory rows with codegen'd splits, which is far cheaper than
    // materializing and shuffling every token occurrence (guide §5:
    // cache what is reused, keep per-task state small)
    val base = TextOps.fanOut(docs
        .select(col(labelCol).cast("string").as("label"), col(textCol).as("text")))
      .cache()
    try {
      val classCounts = base.groupBy($"label").agg(count(lit(1)).as("c"))
        .as[(String, Long)].collect().sortBy(_._1)
      // n derives from the class counts — no separate count() pass
      val n = classCounts.map(_._2).sum
      require(n > 0, "NaiveBayes.fit: empty input")
      // document frequency via a PER-ROW distinct (array_distinct on
      // the token array) instead of a corpus-wide (doc, term) distinct:
      // each row contributes 1 per distinct term it contains, so the
      // counts are identical, but the big dedup exchange is gone — the
      // only shuffle left is the vocab-sized partial-aggregated count
      // (guide §2.4: remove shuffles outright).
      val dfRows = base
        .select(explode(array_distinct(
          filter(split($"text", "\\s+"), t => t =!= ""))).as("term"))
        .groupBy($"term").agg(count(lit(1)).as("df"))
        .where($"df" >= minDf)
        .as[(String, Long)].collect()
      val ctRows = base
        .select($"label", explode(split($"text", "\\s+")).as("term"))
        .where($"term" =!= "")
        .groupBy($"label", $"term").agg(count(lit(1)).as("cnt"))
        .as[(String, String, Long)].collect()

      val vocab = dfRows.map(_._1).sorted
      val vIdx = vocab.zipWithIndex.toMap
      val dfMap = dfRows.toMap
      val idf = vocab.map(t =>
        (math.log(n.toDouble / (1.0 + dfMap(t).toDouble)) + 1.0).toFloat)
      val classes = classCounts.map(_._1)
      val prior = classCounts.map(_._2.toDouble / n.toDouble)
      val priorLn = prior.map(p => math.log(p).toFloat)
      val flp: Array[Map[Int, Float]] = classes.map { c =>
        val cnts = ctRows.iterator
          .filter { case (l, t, _) => l == c && vIdx.contains(t) }
          .map { case (_, t, cnt) => (vIdx(t), cnt) }
          .toArray.sortBy(_._1)
        var total = 0.0
        cnts.foreach { case (tid, cnt) =>
          total += idf(tid).toDouble * cnt.toDouble
        }
        cnts.map { case (tid, cnt) =>
          tid -> math.log(
            (idf(tid).toDouble * cnt.toDouble + 1.0) / (total + 1.0)).toFloat
        }.toMap
      }
      Model(classes, prior, priorLn, vocab, idf, flp)
    } finally base.unpersist()
  }

  /** Driver-side single-text prediction (the reference's
    * Pipeline::predict): returns (label, confidence). */
  def predict(m: Model, text: String): (String, Float) = {
    val tf = scala.collection.mutable.Map.empty[Int, Long]
    text.split("\\s+").iterator.filter(_.nonEmpty).foreach { t =>
      m.vocabIndex.get(t).foreach(i => tf(i) = tf.getOrElse(i, 0L) + 1L)
    }
    val tids = tf.keysIterator.toArray.sorted
    val scores = m.classes.indices.map { c =>
      var s = m.priorLn(c).toDouble
      tids.foreach { tid =>
        // tf * (idf*weight) — the SAME association predictDf uses (it
        // pre-multiplies idf into the broadcast weight), so driver and
        // distributed paths are bit-identical
        s += tf(tid).toDouble *
          (m.idf(tid).toDouble * m.flp(c).getOrElse(tid, 0.5f).toDouble)
      }
      s
    }
    var best = 0
    var bv = Double.PositiveInfinity
    var sum = 0.0
    scores.indices.foreach { i =>
      if (scores(i) < bv) { bv = scores(i); best = i }
      sum += scores(i)
    }
    (m.classes(best), math.max(bv / sum, 0.0).toFloat)
  }

  /** Distributed prediction: per-doc (idCol, label, confidence). The
    * model ships once as a broadcast term table (term, tid, idf,
    * per-class weight-or-0.5); per-doc scores are an ordered fold by
    * term id starting from the prior logs, so results are bit-equal to
    * `predict` regardless of partitioning. Docs with zero in-vocab
    * tokens score on the priors alone (reference: empty sample). */
  def predictDf(m: Model, docs: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val termRows = m.vocab.zipWithIndex.map { case (t, tid) =>
      (t, tid,
        m.classes.indices.map(c =>
          m.idf(tid).toDouble * m.flp(c).getOrElse(tid, 0.5f).toDouble).toArray)
    }.toSeq
    val termDf = termRows.toDF("term", "tid", "w")
    val start = array(m.priorLn.map(p => lit(p.toDouble)).toIndexedSeq: _*)
    val classesArr = array(m.classes.map(lit(_)).toIndexedSeq: _*)

    val ids = TextOps.fanOut(
      docs.select(col(idCol).as("id"), col(textCol).as("text")))
    val tf = ids
      .select($"id", explode(split($"text", "\\s+")).as("term"))
      .where($"term" =!= "")
      .groupBy($"id", $"term").agg(count(lit(1)).as("tf"))
    val contrib = tf.join(broadcast(termDf), Seq("term"))
      .select($"id", $"tid",
        transform($"w", wc => $"tf".cast("double") * wc).as("cs"))
    val folded = contrib
      .groupBy($"id")
      .agg(sort_array(collect_list(struct($"tid", $"cs"))).as("xs"))
      .select($"id", aggregate($"xs", start,
        (acc, x) => zip_with(acc, x("cs"), (a, b) => a + b)).as("scores"))
    val all = ids.select($"id").distinct()
      .join(folded, Seq("id"), "left")
      .select($"id", coalesce($"scores", start).as("scores"))
    all.select(
      $"id",
      element_at(classesArr,
        array_position($"scores", array_min($"scores")).cast("int"))
        .as("label"),
      greatest(
        array_min($"scores") /
          aggregate($"scores", lit(0.0), (a, b) => a + b),
        lit(0.0)).cast("float").as("confidence"))
  }

  /** safety_classifier.rs Evaluation: accuracy over all rows plus
    * binary precision/recall/f1 for `positive`. All four are single
    * divisions of exact integer counts — deterministic doubles. */
  def evaluate(pred: DataFrame, truthCol: String, predCol: String,
               positive: String): DataFrame = {
    pred.agg(
      (sum(when(col(truthCol) === col(predCol), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("accuracy"),
      (sum(when(col(predCol) === positive && col(truthCol) === positive, 1L)
        .otherwise(0L)).cast("double") /
        greatest(sum(when(col(predCol) === positive, 1L).otherwise(0L)), lit(1L))
          .cast("double")).as("precision"),
      (sum(when(col(predCol) === positive && col(truthCol) === positive, 1L)
        .otherwise(0L)).cast("double") /
        greatest(sum(when(col(truthCol) === positive, 1L).otherwise(0L)), lit(1L))
          .cast("double")).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
  }
}
