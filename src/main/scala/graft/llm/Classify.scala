package graft.llm

import graft.{Op, Tables}
import graft.functions.GraftFunctions.ieeeLn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classification (McCallum & Nigam 1998) —
  * the classic linear-time baseline a data pipeline trains for cheap
  * document routing: language ID, topic/domain tags, quality tiers. The
  * engine's trained-model family next to QualityModel's logistic
  * regression, but with a fully ORACLE-REPLAYABLE training pass: the
  * sufficient statistics are integer token counts, the add-one-smoothed
  * log-probabilities go through `ieee_ln`, and every per-document fold is
  * token-ordered, so train AND predict hash-compare end to end.
  *
  * Scale shape: training is one corpus pass (explode -> two keyed
  * aggregates over (class, token)); the model is a bounded
  * |vocab| x |classes| broadcast — vocabulary is capped to the top-V
  * corpus tokens (deterministic count-desc, token-asc order), the
  * feature-selection step that keeps the broadcast bounded no matter the
  * corpus size. Scoring fans each posting out to |classes| rows map-side
  * under the broadcast and folds per (doc, class) — no shuffle keyed by
  * anything wider than doc_id.
  */
object Classify {

  /** Train-and-score multinomial NB over `docs`, predicting `labelCol`
    * from the text (resubstitution — train and eval on the same corpus;
    * split upstream for held-out eval). Returns one row per document
    * holding at least one in-vocabulary token: (idCol, pred, truth,
    * correct). Ties in the class posterior break toward the
    * lexicographically smaller label.
    */
  def naiveBayes(docs: DataFrame, labelCol: String = "lang",
                 vocabSize: Int = 1000, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive: $vocabSize")
    val ex = docs.select(col(idCol),
        explode(TextFeatures.tokens(col(textCol))).as("tok"))
    val vocab = ex.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"))
    val vstat = vocab.agg(count(lit(1)).as("v"))
    // postings restricted to the vocabulary — the only corpus-sized
    // shuffle, keyed by (doc, token)
    val posts = ex.join(broadcast(vocab), "tok")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val lab = docs.select(col(idCol), col(labelCol).as("truth"))
    val cls = docs.groupBy(col(labelCol).as("truth"))
      .agg(count(lit(1)).as("n_c"))
    val nn = docs.agg(count(lit(1)).as("n"))
    val cnt = posts.join(lab, idCol)
      .groupBy(col("truth"), col("tok")).agg(sum(col("tf")).as("cnt"))
    val tot = cnt.groupBy(col("truth")).agg(sum(col("cnt")).as("tot"))
    // smoothed per-(class, token) log-probability for EVERY vocab token,
    // zero counts included — |vocab| x |classes| rows, the model
    val cond = cls.select(col("truth"))
      .crossJoin(vocab)
      .join(cnt, Seq("truth", "tok"), "left")
      .join(tot, "truth")
      .crossJoin(vstat)
      .select(col("truth").as("cand"), col("tok"),
        ieeeLn((coalesce(col("cnt"), lit(0L)).cast("double") + lit(1.0)) /
          (col("tot").cast("double") + col("v").cast("double")))
          .as("lncp"))
    val prior = cls.crossJoin(nn)
      .select(col("truth").as("cand"),
        ieeeLn(col("n_c").cast("double") / col("n").cast("double"))
          .as("lp"))
    val body = posts
      .join(broadcast(cond), "tok")
      .select(col(idCol), col("cand"), col("tok"),
        (col("tf").cast("double") * col("lncp")).as("s"))
      .groupBy(col(idCol), col("cand"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("tok"), col("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("body"))
    val ranked = body.join(broadcast(prior), "cand")
      .select(col(idCol), col("cand"),
        (col("lp") + col("body")).as("score"))
      .withColumn("rn", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("score").desc, col("cand"))))
      .filter(col("rn") === 1)
    ranked.join(lab, idCol)
      .select(col(idCol), col("cand").as("pred"), col("truth"),
        (col("cand") === col("truth")).as("correct"))
  }

  val ops: Seq[Op] = Seq(
    // NB language ID trained on the corpus's own lang labels. The oracle
    // replays the vocabulary selection, the integer sufficient
    // statistics, the smoothed ln probabilities, the token-ordered
    // per-class fold, and the argmax — the full train+predict cycle.
    Op("text_naive_bayes",
       s"""WITH toks AS (
         |  SELECT doc_id,
         |         ${TextFeatures.toksSql} AS toks
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
         |vocab AS (
         |  SELECT tok FROM (SELECT tok, count(*) AS c FROM ex GROUP BY 1)
         |  ORDER BY c DESC, tok LIMIT 1000),
         |vstat AS (SELECT count(*) AS v FROM vocab),
         |posts AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM ex
         |  WHERE tok IN (SELECT tok FROM vocab) GROUP BY 1, 2),
         |lab AS (SELECT doc_id, lang AS truth FROM documents),
         |cls AS (SELECT lang AS truth, count(*) AS n_c
         |        FROM documents GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |cnt AS (
         |  SELECT l.truth, p.tok, CAST(sum(p.tf) AS BIGINT) AS cnt
         |  FROM posts p JOIN lab l USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT truth, CAST(sum(cnt) AS BIGINT) AS tot
         |        FROM cnt GROUP BY 1),
         |cond AS (
         |  SELECT c.truth AS cand, v.tok,
         |         ln((CAST(coalesce(k.cnt, 0) AS DOUBLE) + 1.0) /
         |            (CAST(t.tot AS DOUBLE) + CAST(vs.v AS DOUBLE)))
         |           AS lncp
         |  FROM cls c CROSS JOIN vocab v
         |  LEFT JOIN cnt k ON k.truth = c.truth AND k.tok = v.tok
         |  JOIN tot t ON t.truth = c.truth, vstat vs),
         |prior AS (
         |  SELECT truth AS cand,
         |         ln(CAST(n_c AS DOUBLE) / CAST(n.n AS DOUBLE)) AS lp
         |  FROM cls, nn n),
         |body AS (
         |  SELECT p.doc_id, c.cand,
         |         list_reduce(list_prepend(0.0,
         |             list(CAST(p.tf AS DOUBLE) * c.lncp ORDER BY p.tok)),
         |           (a, b) -> a + b) AS body
         |  FROM posts p JOIN cond c ON c.tok = p.tok
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT b.doc_id, b.cand, pr.lp + b.body AS score,
         |         row_number() OVER (PARTITION BY b.doc_id
         |           ORDER BY pr.lp + b.body DESC, b.cand) AS rn
         |  FROM body b JOIN prior pr USING (cand))
         |SELECT r.doc_id, r.cand AS pred, l.truth,
         |       r.cand = l.truth AS correct
         |FROM ranked r JOIN lab l USING (doc_id) WHERE rn = 1""".stripMargin) {
      (s, d) => naiveBayes(Tables.documents(s, d))
    }
  )
}
