package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality scoring — the trained counterpart of the
  * rule-based TextFeatures.qualityScore, the shape CCNet/DCLM-style
  * pipelines use (score every document with a cheap frozen model; filter
  * or bucket on the score). The model is logistic regression over the
  * engine's engineered text features.
  *
  * Division of labor at 100 TB, matching the repo's k-means/BPE
  * precedent: feature extraction is distributed and map-side; TRAINING
  * runs driver-side on a bounded deterministic sample (the maxSample
  * smallest (hash, id) keys — one distributed top-k, O(1) driver state at
  * any corpus size, identical under any partitioning); SCORING ships the
  * frozen weights back as literals in one map-side expression — the
  * production shape, where the scorer is trained once and applied to
  * every shard with no further driver involvement.
  *
  * The score is the LOG-ODDS z = b + Σ wᵢ·(fᵢ−μᵢ)/σᵢ (standardized
  * features). Probability = sigmoid(z) is monotone in z, so thresholds
  * translate; z avoids exp, whose libm divergence can never be
  * oracle-hash-matched (see functions.IeeeLn's scaladoc).
  */
object QualityModel {

  final case class Scorer(features: Seq[String],
                          mu: Seq[Double], sigma: Seq[Double],
                          weights: Seq[Double], bias: Double)

  /** The feature family, fixed order (training and scoring share it). */
  def featureExprs(text: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> length(text).cast("double"),
    "n_tokens" -> size(TextFeatures.tokens(text)).cast("double"),
    "avg_tok_len" -> TextFeatures.avgTokenLen(text),
    "punct_ratio" -> TextFeatures.punctRatio(text),
    "stop_ratio" -> TextFeatures.stopwordRatio(text),
    "digit_ratio" -> (length(regexp_replace(text, "[^0-9]", ""))
      .cast("double") / when(length(text) =!= 0, length(text))))

  /** Train on a bounded deterministic sample: standardize features with
    * the sample's moments, then full-batch gradient descent on logistic
    * loss — a fixed iteration count of fixed-order arithmetic, so the
    * scorer is identical across runs and partitionings.
    */
  def train(docs: DataFrame, idCol: String, textCol: String,
            label: Column, maxSample: Int = 2048,
            iters: Int = 300, lr: Double = 0.5): Scorer = {
    val names = featureExprs(col(textCol)).map(_._1)
    val sample = docs
      .orderBy(pmod(xxhash64(col(idCol)), lit(1000003L)), col(idCol))
      .limit(maxSample)
      .select(label.cast("double").as("y") +:
        featureExprs(col(textCol)).map { case (n, c) => c.as(n) }: _*)
      .collect()
    val n = sample.length
    require(n > 0, "empty training sample")
    val k = names.length
    val ys = sample.map(_.getDouble(0))
    val xs = sample.map(r => Array.tabulate(k)(i => r.getDouble(i + 1)))
    val mu = Array.tabulate(k)(i => xs.map(_(i)).sum / n)
    val sigma = Array.tabulate(k) { i =>
      val v = xs.map(x => (x(i) - mu(i)) * (x(i) - mu(i))).sum / n
      val s = math.sqrt(v); if (s == 0.0) 1.0 else s
    }
    val z = xs.map(x => Array.tabulate(k)(i => (x(i) - mu(i)) / sigma(i)))
    val w = new Array[Double](k)
    var b = 0.0
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](k)
      var gb = 0.0
      var r = 0
      while (r < n) {
        var s = b; var i = 0
        while (i < k) { s += w(i) * z(r)(i); i += 1 }
        val p = 1.0 / (1.0 + math.exp(-s))
        val err = p - ys(r)
        i = 0
        while (i < k) { gw(i) += err * z(r)(i); i += 1 }
        gb += err
        r += 1
      }
      var i = 0
      while (i < k) { w(i) -= lr * gw(i) / n; i += 1 }
      b -= lr * gb / n
      it += 1
    }
    Scorer(names, mu.toSeq, sigma.toSeq, w.toSeq, b)
  }

  /** Deterministic text corruption for contrastive training: strip the
    * fluency signal (stopwords) and punch vowels out into punctuation —
    * the cheap stand-in for "a worse document with the same topic words".
    */
  def corrupt(text: Column): Column =
    regexp_replace(
      regexp_replace(graft.functions.GraftFunctions.icuLower(text),
        "\\b(" + TextFeatures.stopwords.mkString("|") + ")\\b", ""),
      "[aeiou]", "#")

  /** The fastText/DCLM quality-classifier recipe when no labeled pool
    * exists: positives are the corpus documents themselves, negatives a
    * deterministic corruption of the same documents, and the model learns
    * the direction that separates them — which is exactly the fluency/
    * noise axis a quality filter thresholds on. Training still samples
    * bounded and driver-side; the returned scorer is frozen literals.
    */
  def trainContrastive(docs: DataFrame, idCol: String, textCol: String,
                       maxSample: Int = 2048, iters: Int = 300,
                       lr: Double = 0.5): Scorer = {
    val pos = docs.select(col(idCol), col(textCol), lit(true).as("__clean"))
    val neg = docs.select((col(idCol) + lit(10000000L)).as(idCol),
      corrupt(col(textCol)).as(textCol), lit(false).as("__clean"))
    train(pos.unionByName(neg), idCol, textCol, col("__clean"),
      maxSample, iters, lr)
  }

  /** A FROZEN scorer — the production deployment shape (train once,
    * freeze, apply to every shard), the [[graft.llm.Bpe.FrozenMerges]]
    * discipline applied to the quality classifier. Provenance: one
    * `trainContrastive` run over the driver's sf0.001 documents corpus
    * (maxSample=2048, iters=300, lr=0.5), printed by
    * [[QualityModelFreeze]] and pinned verbatim. Scoring with it is a
    * fixed-order fold of correctly-rounded IEEE ops over SQL-expressible
    * features, so the text_quality_score_frozen oracle replays it
    * bit-for-bit in DuckDB — unlike training, whose exp() calls are
    * libm-divergent (see functions.IeeeLn's scaladoc).
    */
  val FrozenScorer: Scorer = Scorer(
    features = Seq("n_chars", "n_tokens", "avg_tok_len", "punct_ratio",
      "stop_ratio", "digit_ratio"),
    mu = Seq(302.651, 54.037, 4.5858974537958375, 0.14048728807648284,
      0.03304252309730619, 0.0),
    sigma = Seq(141.69722368134106, 25.29275846956992, 0.21210965381174404,
      0.1408127014649693, 0.04299876538673177, 1.0),
    weights = Seq(-0.12010825603375491, -0.02512733370890691,
      -0.28759096019614805, -4.130351876760048, 1.8406956374356345, 0.0),
    bias = 0.3446692448124147)

  /** Map-side scoring with the frozen model: one projection, weights as
    * literals, no shuffle, no driver involvement.
    */
  def score(docs: DataFrame, textCol: String, scorer: Scorer,
            as: String = "quality_logit"): DataFrame = {
    val exprs = featureExprs(col(textCol)).toMap
    val z = scorer.features.zipWithIndex.map { case (name, i) =>
      (exprs(name) - lit(scorer.mu(i))) / lit(scorer.sigma(i)) *
        lit(scorer.weights(i))
    }.foldLeft(lit(scorer.bias): Column)(_ + _)
    docs.withColumn(as, z)
  }
}
