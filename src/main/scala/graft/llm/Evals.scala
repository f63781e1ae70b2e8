package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Op, Tables}
import graft.functions.GraftFunctions.{ieeeLn, lcsLen}

/** Model-evaluation metrics a training-data/eval pipeline computes at corpus
  * scale: readability scoring, the unbiased pass@k estimator, and clipped
  * n-gram-precision BLEU over candidate/reference pairs.
  *
  * Everything here is plain codegen'd column algebra over equi-join plans —
  * no UDFs, no driver collects, no cross joins — so each op streams through
  * a 100 TB scan exactly like the rest of the text tier. Numeric contract
  * follows the repo conventions: counts stay exact integers to the last
  * possible step, divisions are single IEEE ops performed identically in
  * DuckDB, ln routes through the `ieee_ln` kernel, and nothing exp's.
  */
object Evals {

  /** Per-word syllable-count heuristic: number of vowel-group runs
    * (`[aeiouy]+`), clamped to >= 1 per word — the classic Flesch input.
    * Exact integer on both engines.
    */
  private def syllables(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => acc + greatest(lit(1L),
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))).cast("long")))

  /** Flesch Reading Ease + Flesch–Kincaid grade per document.
    *
    * Sentences are `[.!?]+` runs clamped to >= 1 for non-empty text (the
    * synthetic corpus carries no terminal punctuation; real web text does,
    * and the clamp is the standard readability-library behavior for
    * fragments). Words/sentences/syllables are exact BIGINTs; the two
    * scores are fixed-shape double expressions — each division and
    * multiply is one IEEE op evaluated in the same left-associated order
    * DuckDB uses, so the oracle hash-matches bit-for-bit. NULL scores for
    * word-less documents (ANSI-safe: the division never executes).
    */
  def readability(docs: DataFrame): DataFrame = {
    val toks = filter(TextFeatures.tokens(col("text")), t => t =!= "")
    val base = docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_words"),
      greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long")).as("n_sents"),
      syllables(toks).as("n_syllables"))
    val w = col("n_words").cast("double")
    val s = col("n_sents").cast("double")
    val sy = col("n_syllables").cast("double")
    base.select(
      col("doc_id"), col("n_words"), col("n_sents"), col("n_syllables"),
      when(col("n_words") > 0,
        lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w))
        .as("flesch"),
      when(col("n_words") > 0,
        lit(0.39) * (w / s) + lit(11.8) * (sy / w) - lit(15.59))
        .as("fk_grade"))
  }

  /** Unbiased pass@k (Chen et al. 2021, Codex appendix): for a problem with
    * `n` samples of which `c` pass, pass@k = 1 − C(n−c,k)/C(n,k), computed
    * stably as 1 − Π_{i=0..k−1} (n−c−i)/(n−i).
    *
    * The product folds LEFT over ascending i on both engines (double
    * multiplication is order-sensitive); each term clamps at 0 when
    * n−c−i ≤ 0 so exhausted numerators can't go negative (and can't mint a
    * −0.0 that would flip the string hash). Problems with n < k are
    * dropped — the estimator is undefined there. Grouping is one hash
    * aggregate on the problem key; the fold is a per-row scalar over a
    * k-element sequence literal, i.e. map-side only.
    */
  def passAtK(events: DataFrame, k: Int, passType: String): DataFrame = {
    val n = col("n").cast("double")
    val c = col("c").cast("double")
    events
      .groupBy(col("user_id").as("problem_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === passType, 1L).otherwise(0L)).as("c"))
      .where(col("n") >= k)
      .select(
        col("problem_id"), col("n"), col("c"),
        (c / n).as("pass_at_1"),
        (lit(1.0) - aggregate(sequence(lit(0), lit(k - 1)), lit(1.0),
          (acc, i) => acc * when(col("n") - col("c") - i <= 0, lit(0.0))
            .otherwise((n - c - i.cast("double")) / (n - i.cast("double")))))
          .as(s"pass_at_$k"))
  }

  /** Sentence-BLEU (n ≤ 2, uniform weights, log domain) over deterministic
    * candidate/reference pairs: each document scored against the next
    * doc_id — the standard eval-harness join shape (candidate generations
    * matched 1:1 to references by a pure equi-key, no windows, no skew).
    *
    * Clipped precisions are exact integer pairs (p1_num/p1_den,
    * p2_num/p2_den): Σ min(count_cand, count_ref) over the pair's shared
    * n-grams via tok-keyed equi-joins — never a per-pair list walk, so the
    * plan is the same banded shape the dedup tier uses and survives 100 TB.
    * The score stays in the log domain (DuckDB's exp matches no JVM exp):
    * log_bleu = log_bp + ½·ln p1 + ½·ln p2 with ln through `ieee_ln`,
    * log_bp = min(0, 1 − ref_len/cand_len). NULL when either precision is
    * zero (BLEU is −∞) or the candidate is empty.
    */
  def bleuPairs(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"),
      filter(TextFeatures.tokens(col("text")), x => x =!= "").as("toks"))
    val uni = t.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val big = t.select(col("doc_id"),
        explode(TextFeatures.bigramsOfTokens(col("toks"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val pairs = t.as("a").join(t.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("ref_id"),
        size(col("a.toks")).cast("long").as("cand_len"),
        size(col("b.toks")).cast("long").as("ref_len"))

    def clipped(cnt: DataFrame, outCol: String): DataFrame =
      pairs.select(col("doc_id").as("cand_id"), col("ref_id"))
        .join(cnt.as("cu"), col("cu.doc_id") === col("cand_id"))
        .join(cnt.as("ru"),
          col("ru.doc_id") === col("ref_id") && col("ru.tok") === col("cu.tok"))
        .groupBy(col("cand_id"))
        .agg(sum(least(col("cu.c"), col("ru.c"))).as(outCol))
        .withColumnRenamed("cand_id", "doc_id")

    val scored = pairs
      .join(clipped(uni, "p1_num"), Seq("doc_id"), "left")
      .join(clipped(big, "p2_num"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("ref_id"),
        coalesce(col("p1_num"), lit(0L)).as("p1_num"),
        col("cand_len").as("p1_den"),
        coalesce(col("p2_num"), lit(0L)).as("p2_num"),
        greatest(lit(0L), col("cand_len") - 1).as("p2_den"),
        col("cand_len"), col("ref_len"))
    val p1 = col("p1_num").cast("double") / col("p1_den").cast("double")
    val p2 = col("p2_num").cast("double") / col("p2_den").cast("double")
    val logBp = when(col("cand_len") >= col("ref_len"), lit(0.0))
      .otherwise(lit(1.0) -
        col("ref_len").cast("double") / col("cand_len").cast("double"))
    scored.select(col("doc_id"), col("ref_id"),
      col("p1_num"), col("p1_den"), col("p2_num"), col("p2_den"),
      when(col("p1_num") > 0 && col("p2_num") > 0,
        logBp + lit(0.5) * ieeeLn(p1) + lit(0.5) * ieeeLn(p2))
        .as("log_bleu"))
  }

  /** ROUGE-L over the same candidate/reference pairs as [[bleuPairs]]:
    * exact LCS length via the native `lcs_len` kernel (O(m·n) rolling-row
    * DP inside whole-stage codegen), precision/recall/F1 as fixed-shape
    * double expressions over the exact integers. The pair join is the
    * only shuffle; the DP itself is map-side scalar work, so the op
    * scales as O(rows · m · n) with no pair explosion.
    */
  def rougeL(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"),
      filter(TextFeatures.tokens(col("text")), x => x =!= "").as("toks"))
    val pairs = t.as("a").join(t.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("ref_id"),
        col("a.toks").as("ct"), col("b.toks").as("rt"))
    val base = pairs.select(col("doc_id"), col("ref_id"),
      size(col("ct")).cast("long").as("cand_len"),
      size(col("rt")).cast("long").as("ref_len"),
      lcsLen(col("ct"), col("rt")).as("lcs_len"))
    val withPr = base.select(col("doc_id"), col("ref_id"),
      col("cand_len"), col("ref_len"), col("lcs_len"),
      when(col("cand_len") > 0,
        col("lcs_len").cast("double") / col("cand_len").cast("double"))
        .as("rouge_p"),
      when(col("ref_len") > 0,
        col("lcs_len").cast("double") / col("ref_len").cast("double"))
        .as("rouge_r"))
    withPr.withColumn("rouge_f1",
      when(col("cand_len") > 0 && col("ref_len") > 0,
        when(col("lcs_len") > 0,
          (lit(2.0) * col("rouge_p") * col("rouge_r")) /
            (col("rouge_p") + col("rouge_r")))
          .otherwise(lit(0.0))))
  }

  /** Split-conformal prediction intervals per event_type (Vovk et al.;
    * the Lei et al. 2018 split recipe): train half fits a per-group mean,
    * calibration half takes the ceil((1−α)(n+1))-th absolute residual as
    * the interval half-width, α = 0.1.
    *
    * Everything is exact integer arithmetic until the last division:
    * values become cents, residuals are cross-multiplied by n_train
    * (|cents·n_t − Σtrain| — never a float mean), and the quantile is a
    * k-th order statistic (row_number over a value whose k-th VALUE is
    * tie-permutation-invariant). Two hash aggregates + one broadcastable
    * stats join + one per-group sort of the calibration half.
    */
  def conformalInterval(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = round(col("value") * 100).cast("long")
    val e = events.select(col("event_id"), col("event_type"),
      cents.as("cents"))
    val train = e.filter(col("event_id") % 2 === 0)
      .groupBy("event_type")
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n_train"))
    val calib = e.filter(col("event_id") % 2 === 1)
      .join(broadcast(train), "event_type")
      .select(col("event_type"), col("s"), col("n_train"),
        abs(col("cents") * col("n_train") - col("s")).as("resid"))
    val w = Window.partitionBy("event_type").orderBy("resid")
    val sized = calib
      .withColumn("n_calib",
        count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("rn", row_number().over(w))
    sized
      // k > n_calib happens whenever n_calib < 9 at α=0.1 — the finite-
      // sample guarantee then needs the MAX residual (qhat = +∞ in the
      // strict theory; the standard practical clamp), not a dropped group.
      .filter(col("rn") ===
        expr("least(n_calib, (9 * (n_calib + 1) + 9) div 10)"))
      .select(col("event_type"), col("n_train"), col("n_calib"),
        col("rn").cast("long").as("k"), col("resid").as("qhat"),
        (col("s").cast("double") / col("n_train").cast("double") /
          lit(100.0)).as("mean_value"),
        (col("resid").cast("double") / col("n_train").cast("double") /
          lit(100.0)).as("half_width"))
  }

  /** Leave-one-source-out ablation table — the planning sheet for corpus
    * mixture decisions: for every source, its token share and what the
    * corpus-wide mean document length becomes WITHOUT it. Exact integer
    * sums everywhere; the closed form (total − group) makes the ablation
    * one aggregate + a broadcast 1-row totals attach, not |sources|
    * re-scans.
    */
  def sourceAblation(docs: DataFrame): DataFrame = {
    val toks = filter(TextFeatures.tokens(col("text")), t => t =!= "")
    val per = docs.select(col("source"), size(toks).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = per.agg(sum(col("n_docs")).as("nn"),
      sum(col("n_tokens")).as("tt"))
    per.crossJoin(broadcast(tot)).select(
      col("source"), col("n_docs"), col("n_tokens"),
      (col("n_tokens").cast("double") / col("tt").cast("double"))
        .as("token_share"),
      when(col("nn") > col("n_docs"),
        (col("tt") - col("n_tokens")).cast("double") /
          (col("nn") - col("n_docs")).cast("double")).as("loo_mean_len"),
      when(col("nn") > col("n_docs"),
        (col("tt") - col("n_tokens")).cast("double") /
          (col("nn") - col("n_docs")).cast("double") -
          col("tt").cast("double") / col("nn").cast("double"))
        .as("delta_vs_overall"))
  }

  /** Green-list watermark detector (Kirchenbauer et al. 2023): score each
    * document by how many of its token bigrams fall in the "green" half
    * of a hash partition keyed on the (prev, cur) pair — a watermarking
    * LLM biases generation toward green continuations, so watermarked
    * text shows z ≫ 0 while natural text centers on 0.
    *
    * green(prev, cur) := first md5 nibble of the bigram string < 8 — an
    * exact 1/2-rate partition both engines compute identically. The
    * z-score (2g − n)/√n is one integer subtraction, one sqrt, one
    * division: IEEE sqrt is CORRECTLY ROUNDED in both engines (unlike
    * ln/exp), so z hash-compares bit-for-bit — the reason this detector
    * needs no quantization. Map-only over the scan.
    */
  def watermarkDetect(docs: DataFrame, zCut: Double = 2.0): DataFrame = {
    val toks = filter(TextFeatures.tokens(col("text")), t => t =!= "")
    val base = docs.select(col("doc_id"),
      TextFeatures.bigramsOfTokens(toks).as("bgs"))
      .select(col("doc_id"),
        size(col("bgs")).cast("long").as("n_scored"),
        size(filter(col("bgs"),
          b => substring(md5(b), 1, 1).isin(
            "0", "1", "2", "3", "4", "5", "6", "7")))
          .cast("long").as("n_green"))
    base.select(col("doc_id"), col("n_scored"), col("n_green"),
      when(col("n_scored") > 0,
        (lit(2L) * col("n_green") - col("n_scored")).cast("double") /
          sqrt(col("n_scored").cast("double"))).as("z"),
      when(col("n_scored") > 0,
        ((lit(2L) * col("n_green") - col("n_scored")).cast("double") /
          sqrt(col("n_scored").cast("double")) > zCut).cast("int"))
        .as("flagged"))
  }

  /** Greedy bigram-LM decoding — the deterministic skeleton of LM
    * generation, run entirely as relational algebra: train a corpus
    * bigram table, take each source's most frequent token as the prompt,
    * then follow the argmax continuation `steps` times (ties break to the
    * lexicographically smaller token; a token with no observed
    * continuation ends the walk early).
    *
    * The argmax-next table is computed ONCE (one aggregate + one
    * per-prev row_number) and cut, so the walk's `steps` joins touch a
    * checkpoint leaf instead of re-deriving the LM each round; the walk
    * state is |sources| rows. Replayed exactly by a recursive CTE.
    */
  def greedyCompletion(docs: DataFrame, steps: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("source"),
      filter(TextFeatures.tokens(col("text")), x => x =!= "").as("toks"))
    val occ = t.select(col("source"), explode(col("toks")).as("tok"))
    val starts = occ.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("c").desc, col("tok").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("tok").as("seq"), col("tok").as("last"),
        lit(1L).as("n_toks"))
    val bg = t.select(
        explode(TextFeatures.bigramsOfTokens(col("toks"))).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("prev"),
        split(col("bg"), " ").getItem(1).as("cur"))
    val bn = graft.Ckpt.cut(
      bg.groupBy("prev", "cur").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("prev")
            .orderBy(col("c").desc, col("cur").asc)))
        .filter(col("rn") === 1)
        .select(col("prev"), col("cur").as("next"))
        .repartition(col("prev")))
    var state = starts
    for (_ <- 1 to steps) {
      state = state.join(bn, state("last") === bn("prev"), "left")
        .select(col("source"),
          when(col("next").isNotNull,
            concat_ws(" ", col("seq"), col("next")))
            .otherwise(col("seq")).as("seq"),
          col("next").as("last"),
          when(col("next").isNotNull, col("n_toks") + 1)
            .otherwise(col("n_toks")).as("n_toks"))
    }
    val out = state.select(col("source"), col("seq").as("completion"),
      col("n_toks"))
    out
  }

  // --- oracle SQL -----------------------------------------------------

  // Non-empty tokens of the shared normal form (documents.text is
  // NON-NULL: see the schema contract at TextFeatures.normSql).
  private val toksSql = s"list_filter(${TextFeatures.toksSql}, x -> x <> '')"

  val ops: Seq[Op] = Seq(

    // Readability: exact integer counts + fixed-shape double formulas.
    Op("text_readability",
       s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          |m AS (
          |  SELECT doc_id,
          |    CAST(len(toks) AS BIGINT) AS n_words,
          |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
          |         AS BIGINT) AS n_sents,
          |    CAST(list_aggregate(list_prepend(0, list_transform(toks,
          |           t -> greatest(1, len(regexp_extract_all(t,
          |                                 '[aeiouy]+'))))),
          |         'sum') AS BIGINT) AS n_syllables
          |  FROM t)
          |SELECT doc_id, n_words, n_sents, n_syllables,
          |  CASE WHEN n_words > 0 THEN
          |    206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / n_sents)
          |      - 84.6e0 * (CAST(n_syllables AS DOUBLE) / n_words)
          |  END AS flesch,
          |  CASE WHEN n_words > 0 THEN
          |    0.39e0 * (CAST(n_words AS DOUBLE) / n_sents)
          |      + 11.8e0 * (CAST(n_syllables AS DOUBLE) / n_words)
          |      - 15.59e0
          |  END AS fk_grade
          |FROM m""".stripMargin) { (s, d) =>
      readability(Tables.documents(s, d))
    },

    // pass@k: one hash aggregate + a pinned-order per-row product fold.
    Op("llm_pass_at_k",
       s"""WITH g AS (
          |  SELECT user_id AS problem_id, CAST(count(*) AS BIGINT) AS n,
          |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
          |                       ELSE 0 END) AS BIGINT) AS c
          |  FROM events GROUP BY 1)
          |SELECT problem_id, n, c,
          |  CAST(c AS DOUBLE) / n AS pass_at_1,
          |  1.0e0 - list_reduce(
          |    list_prepend(1.0e0, list_transform(range(10),
          |      i -> CASE WHEN n - c - i <= 0 THEN 0.0e0
          |                ELSE CAST(n - c - i AS DOUBLE) / (n - i) END)),
          |    (acc, x) -> acc * x) AS pass_at_10
          |FROM g WHERE n >= 10""".stripMargin) { (s, d) =>
      passAtK(Tables.events(s, d), k = 10, passType = "purchase")
    },

    // BLEU over consecutive-doc pairs: integer clipped counts via
    // tok-keyed joins; log-domain score through ieee_ln.
    Op("llm_bleu_pairs",
       s"""WITH t AS MATERIALIZED (SELECT doc_id, $toksSql AS toks
          |           FROM documents),
          |pairs AS MATERIALIZED (
          |  SELECT a.doc_id, b.doc_id AS ref_id,
          |         CAST(len(a.toks) AS BIGINT) AS cand_len,
          |         CAST(len(b.toks) AS BIGINT) AS ref_len
          |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1),
          |uni AS MATERIALIZED (
          |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
          |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
          |bg AS MATERIALIZED (
          |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
          |  FROM (SELECT doc_id, unnest(
          |          CASE WHEN len(toks) < 2 THEN []
          |          ELSE list_transform(range(0, len(toks) - 1),
          |                 i -> concat_ws(' ', toks[i+1], toks[i+2])) END)
          |          AS tok
          |        FROM t) GROUP BY 1, 2),
          |m1 AS MATERIALIZED (
          |  SELECT p.doc_id, CAST(sum(least(cu.c, ru.c)) AS BIGINT) AS p1_num
          |  FROM pairs p
          |  JOIN uni cu ON cu.doc_id = p.doc_id
          |  JOIN uni ru ON ru.doc_id = p.ref_id AND ru.tok = cu.tok
          |  GROUP BY 1),
          |m2 AS MATERIALIZED (
          |  SELECT p.doc_id, CAST(sum(least(cu.c, ru.c)) AS BIGINT) AS p2_num
          |  FROM pairs p
          |  JOIN bg cu ON cu.doc_id = p.doc_id
          |  JOIN bg ru ON ru.doc_id = p.ref_id AND ru.tok = cu.tok
          |  GROUP BY 1)
          |SELECT p.doc_id, p.ref_id,
          |  coalesce(m1.p1_num, 0) AS p1_num, p.cand_len AS p1_den,
          |  coalesce(m2.p2_num, 0) AS p2_num,
          |  greatest(0, p.cand_len - 1) AS p2_den,
          |  CASE WHEN coalesce(m1.p1_num, 0) > 0
          |        AND coalesce(m2.p2_num, 0) > 0 THEN
          |    (CASE WHEN p.cand_len >= p.ref_len THEN 0.0e0
          |          ELSE 1.0e0 - CAST(p.ref_len AS DOUBLE) / p.cand_len END)
          |    + 0.5e0 * ln(CAST(m1.p1_num AS DOUBLE) / p.cand_len)
          |    + 0.5e0 * ln(CAST(m2.p2_num AS DOUBLE)
          |                 / greatest(0, p.cand_len - 1))
          |  END AS log_bleu
          |FROM pairs p
          |LEFT JOIN m1 ON m1.doc_id = p.doc_id
          |LEFT JOIN m2 ON m2.doc_id = p.doc_id""".stripMargin) { (s, d) =>
      bleuPairs(Tables.documents(s, d))
    },

    // ROUGE-L: the oracle replays the LCS DP by ANTI-DIAGONAL recursion —
    // diagonal d of the DP table depends only on diagonals d-1 and d-2,
    // so a recursive CTE carries the two previous diagonals as integer
    // lists (one row per pair per step; no within-level dependency, the
    // property that makes the DP expressible without procedural code).
    // Exact integers end-to-end; the three metric doubles are the same
    // fixed-shape divisions on both engines.
    Op("llm_rouge_l",
       s"""WITH t AS (SELECT doc_id, $toksSql AS toks
          |           FROM documents),
          |pairs AS (
          |  SELECT a.doc_id, b.doc_id AS ref_id, a.toks AS ct, b.toks AS rt,
          |         CAST(len(a.toks) AS BIGINT) AS m,
          |         CAST(len(b.toks) AS BIGINT) AS n
          |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1),
          |dp AS (
          |  WITH RECURSIVE diag(doc_id, m, n, ct, rt, d, cur, prev) AS (
          |    SELECT doc_id, m, n, ct, rt, CAST(1 AS BIGINT),
          |           list_transform(range(0, m + 1), i ->
          |             CASE WHEN 1 - i BETWEEN 0 AND n
          |                  THEN CAST(0 AS BIGINT) END),
          |           list_transform(range(0, m + 1), i ->
          |             CASE WHEN 0 - i BETWEEN 0 AND n
          |                  THEN CAST(0 AS BIGINT) END)
          |    FROM pairs WHERE m >= 1 AND n >= 1
          |    UNION ALL
          |    SELECT doc_id, m, n, ct, rt, d + 1,
          |           list_transform(range(0, m + 1), i -> CASE
          |             WHEN d + 1 - i < 0 OR d + 1 - i > n THEN NULL
          |             WHEN i = 0 OR d + 1 - i = 0 THEN CAST(0 AS BIGINT)
          |             WHEN ct[i] = rt[d + 1 - i] THEN prev[i] + 1
          |             ELSE greatest(cur[i], cur[i + 1]) END),
          |           cur
          |    FROM diag WHERE d < m + n)
          |  SELECT doc_id, cur[m + 1] AS lcs_len
          |  FROM diag WHERE d = m + n),
          |base AS (
          |  SELECT p.doc_id, p.ref_id, p.m AS cand_len, p.n AS ref_len,
          |         coalesce(dp.lcs_len, 0) AS lcs_len
          |  FROM pairs p LEFT JOIN dp ON dp.doc_id = p.doc_id),
          |pr AS (
          |  SELECT doc_id, ref_id, cand_len, ref_len, lcs_len,
          |         CASE WHEN cand_len > 0 THEN
          |           CAST(lcs_len AS DOUBLE) / CAST(cand_len AS DOUBLE)
          |         END AS rouge_p,
          |         CASE WHEN ref_len > 0 THEN
          |           CAST(lcs_len AS DOUBLE) / CAST(ref_len AS DOUBLE)
          |         END AS rouge_r
          |  FROM base)
          |SELECT doc_id, ref_id, cand_len, ref_len, lcs_len,
          |       rouge_p, rouge_r,
          |       CASE WHEN cand_len > 0 AND ref_len > 0 THEN
          |         CASE WHEN lcs_len > 0
          |              THEN (2.0e0 * rouge_p * rouge_r)
          |                   / (rouge_p + rouge_r)
          |              ELSE 0.0e0 END
          |       END AS rouge_f1
          |FROM pr""".stripMargin) { (s, d) =>
      rougeL(Tables.documents(s, d))
    },

    // Split-conformal intervals: exact integer residual quantile.
    Op("f_conformal_interval",
       """WITH e AS (
         |  SELECT event_id, event_type,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |train AS (
         |  SELECT event_type, CAST(sum(cents) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS n_train
         |  FROM e WHERE event_id % 2 = 0 GROUP BY 1),
         |calib AS (
         |  SELECT e.event_type, t.s, t.n_train,
         |         abs(e.cents * t.n_train - t.s) AS resid
         |  FROM e JOIN train t USING (event_type)
         |  WHERE e.event_id % 2 = 1),
         |ranked AS (
         |  SELECT event_type, s, n_train, resid,
         |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
         |           AS n_calib,
         |         CAST(row_number() OVER (PARTITION BY event_type
         |                                 ORDER BY resid) AS BIGINT) AS rn
         |  FROM calib)
         |SELECT event_type, n_train, n_calib, rn AS k, resid AS qhat,
         |       CAST(s AS DOUBLE) / CAST(n_train AS DOUBLE) / 100.0e0
         |         AS mean_value,
         |       CAST(resid AS DOUBLE) / CAST(n_train AS DOUBLE) / 100.0e0
         |         AS half_width
         |FROM ranked
         |WHERE rn = least(n_calib, (9 * (n_calib + 1) + 9) // 10)"""
         .stripMargin) {
      (s, d) => conformalInterval(Tables.events(s, d))
    },

    // Leave-one-source-out mixture ablation: exact integer sums, three
    // fixed-shape double columns.
    Op("mix_source_ablation",
       s"""WITH per AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |         CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY 1),
          |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
          |               CAST(sum(n_tokens) AS BIGINT) AS tt FROM per)
          |SELECT source, n_docs, n_tokens,
          |  CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) AS token_share,
          |  CASE WHEN nn > n_docs THEN
          |    CAST(tt - n_tokens AS DOUBLE) / CAST(nn - n_docs AS DOUBLE)
          |  END AS loo_mean_len,
          |  CASE WHEN nn > n_docs THEN
          |    CAST(tt - n_tokens AS DOUBLE) / CAST(nn - n_docs AS DOUBLE)
          |    - CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE)
          |  END AS delta_vs_overall
          |FROM per, tot""".stripMargin) { (s, d) =>
      sourceAblation(Tables.documents(s, d))
    },

    // Watermark detection: exact green counts; z through IEEE sqrt only.
    Op("llm_watermark_detect",
       s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |bg AS (
          |  SELECT doc_id,
          |    CASE WHEN len(toks) < 2 THEN []
          |    ELSE list_transform(range(0, len(toks) - 1),
          |           i -> concat_ws(' ', toks[i+1], toks[i+2])) END AS bgs
          |  FROM t),
          |cnt AS (
          |  SELECT doc_id, CAST(len(bgs) AS BIGINT) AS n_scored,
          |         CAST(len(list_filter(bgs,
          |                b -> strpos('01234567', substr(md5(b), 1, 1)) > 0))
          |              AS BIGINT) AS n_green
          |  FROM bg)
          |SELECT doc_id, n_scored, n_green,
          |  CASE WHEN n_scored > 0 THEN
          |    CAST(2 * n_green - n_scored AS DOUBLE)
          |      / sqrt(CAST(n_scored AS DOUBLE)) END AS z,
          |  CASE WHEN n_scored > 0 THEN
          |    CAST(CAST(2 * n_green - n_scored AS DOUBLE)
          |         / sqrt(CAST(n_scored AS DOUBLE)) > 2.0e0 AS INT)
          |  END AS flagged
          |FROM cnt""".stripMargin) { (s, d) =>
      watermarkDetect(Tables.documents(s, d))
    },

    // Greedy bigram-LM decode: the recursive CTE replays the argmax walk.
    Op("llm_greedy_completion",
       s"""WITH RECURSIVE t AS (
          |  SELECT source, $toksSql AS toks FROM documents),
          |occ AS (SELECT source, unnest(toks) AS tok FROM t),
          |starts AS (
          |  SELECT source, tok FROM (
          |    SELECT source, tok, row_number() OVER (
          |             PARTITION BY source ORDER BY c DESC, tok) AS rn
          |    FROM (SELECT source, tok, count(*) AS c FROM occ
          |          GROUP BY 1, 2))
          |  WHERE rn = 1),
          |bgp AS (
          |  SELECT toks[i+1] AS prev, toks[i+2] AS cur
          |  FROM (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
          |        FROM t WHERE len(toks) >= 2)),
          |bn AS (
          |  SELECT prev, cur AS next FROM (
          |    SELECT prev, cur, row_number() OVER (
          |             PARTITION BY prev ORDER BY c DESC, cur) AS rn
          |    FROM (SELECT prev, cur, count(*) AS c FROM bgp
          |          GROUP BY 1, 2))
          |  WHERE rn = 1),
          |walk(step, source, seq, last, n_toks) AS (
          |  SELECT 0, source, tok, tok, CAST(1 AS BIGINT) FROM starts
          |  UNION ALL
          |  SELECT w.step + 1, w.source,
          |         CASE WHEN b.next IS NULL THEN w.seq
          |              ELSE w.seq || ' ' || b.next END,
          |         b.next,
          |         CASE WHEN b.next IS NULL THEN w.n_toks
          |              ELSE w.n_toks + 1 END
          |  FROM walk w LEFT JOIN bn b ON b.prev = w.last
          |  WHERE w.step < 10)
          |SELECT source, seq AS completion, n_toks
          |FROM walk WHERE step = 10""".stripMargin) { (s, d) =>
      greedyCompletion(Tables.documents(s, d), steps = 10)
    }
  )
}
