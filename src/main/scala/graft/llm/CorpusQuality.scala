package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Repetition-based quality signals — the Gopher/MassiveText filter rules
  * (Rae et al. 2021, table A1): heavily self-repeating documents are
  * boilerplate/spam and get filtered before training. Token-level n-gram
  * variants here (the line/paragraph variants degenerate on single-line
  * corpora):
  *
  *   - top_bigram_frac: occurrences of the single most frequent bigram
  *     over all bigram occurrences (Gopher filters docs > 0.18 for 2-grams)
  *   - dup_bigram_frac: fraction of bigram occurrences whose bigram occurs
  *     more than once (the duplicate-n-gram mass)
  *
  * Plan shape: explode to (doc, gram) -> partial+final count keyed by
  * (doc, gram) -> per-doc aggregate. Two keyed shuffles, both partially
  * aggregated map-side; no driver state — scales to any corpus. All
  * outputs are single divisions of exact integer counts, so the DuckDB
  * oracle matches bit-for-bit.
  */
object CorpusQuality {

  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val grams = docs
      .select(col(idCol), TextFeatures.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        explode(TextFeatures.bigramsOfTokens(col("toks"))).as("g"))
    grams
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        (max(col("c")).cast("double") / sum(col("c"))).as("top_bigram_frac"),
        (sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double") /
          sum(col("c"))).as("dup_bigram_frac"))
  }

  /** Corpus-frequency commonness signals — the CCNet-style language-model
    * proxy computable without a model: score each document by how common
    * its tokens are in the WHOLE corpus. Documents of made-up strings,
    * mojibake, or code dumps score low-commonness/high-rarity; natural
    * prose scores high. Returns per doc:
    *   - n_tokens
    *   - mean_token_freq: mean over the doc's token OCCURRENCES of the
    *     token's corpus-wide occurrence count
    *   - rare_frac: fraction of occurrences whose token appears fewer
    *     than `rareBelow` times corpus-wide (hapax-ish mass)
    *
    * Everything stays in exact integer domain until ONE final division,
    * so the DuckDB oracle matches bit-for-bit (the log-perplexity form
    * would hinge on cross-engine ln() rounding).
    *
    * Plan shape at 100 TB: explode -> one global token-count aggregate
    * (partial+final, map-side combined) -> join occurrences back to
    * counts keyed by token -> per-doc aggregate. The token join is
    * naturally skewed ("the" dominates); AQE's skew-join splitting
    * handles the sort-merge side, and the count table per token is one
    * row, so no bucket ever explodes quadratically.
    */
  /** Bigram-LM perplexity — the CCNet-style quality signal (Wenzek et al.
    * 2020 score documents by LM perplexity; here the LM is a corpus-trained
    * add-one-smoothed bigram model, so the operator is model-free like
    * [[commonness]] but SEQUENCE-aware: a doc of common tokens in an
    * improbable order scores high-perplexity where mean token frequency
    * cannot tell the difference).
    *
    *   P(w2|w1) = (C(w1 w2) + 1) / (C(w1 ·) + V),   V = corpus vocab size
    *   log_ppl(doc) = −(Σ ln P) / n_bigrams        (ppl = e^log_ppl)
    *
    * The score is reported in the LOG domain: log_ppl is monotone in
    * perplexity, so thresholds translate directly (filter at ppl > T ⇔
    * log_ppl > ln T) — and it keeps `exp` out of the compared output,
    * which matters because DuckDB's `exp` is 1 ulp off BOTH JVM exps on
    * some arguments (see functions.IeeeLn's scaladoc), so an exp'd
    * column cannot be oracle-hash-matched at all.
    *
    * Documents with fewer than 2 tokens have no bigrams and are absent
    * from the output (no defined perplexity).
    *
    * Plan shape: explode to (doc, pos, bigram) -> two global count
    * aggregates (bigram and left-context, both partial+final) -> count
    * joins back onto occurrences (hot stopword bigrams skew these joins;
    * AQE splits them) -> per-doc fold. Scales like commonness: no driver
    * state except the 1-row vocab scalar.
    *
    * Oracle-parity: ln/exp are bit-identical between the JVM and DuckDB
    * (verified over the operand range), every division is a single
    * double op on exact integer counts, and the per-doc Σ ln P folds
    * SEQUENTIALLY in token-position order on both sides (sort_array +
    * aggregate here, list(... ORDER BY i) + list_aggregate there) — a
    * plain sum(double) would be partitioning-dependent.
    */
  def perplexity(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol), TextFeatures.tokens(col(textCol)).as("toks"))
    val occ = toks
      .select(col(idCol),
        posexplode(TextFeatures.bigramsOfTokens(col("toks"))))
      .select(col(idCol), col("pos").as("i"), col("col").as("bigram"),
        substring_index(col("col"), " ", 1).as("w1"))
    val c12 = occ.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val c1 = occ.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = toks.select(explode(col("toks")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    occ.join(c12, "bigram").join(c1, "w1")
      .crossJoin(broadcast(vocab)) // 1-row scalar attachment; the explicit
      // hint keeps it a broadcast even where the session disables
      // auto-broadcast, so it can never degrade to a cartesian
      .select(col(idCol), col("i"),
        // ieee_ln, not Spark's log: Spark codegen routes log/exp through
        // StrictMath, 1 ulp off DuckDB's libm on some operands (see
        // functions.IeeeLn) — enough to break the oracle hash compare
        graft.functions.GraftFunctions.ieeeLn(
          (col("c12") + 1).cast("double") /
            (col("c1") + col("v")).cast("double")).as("lnp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          sort_array(collect_list(struct(col("i"), col("lnp")))),
          lit(0.0),
          (acc, x) => acc + x.getField("lnp")).as("s"))
      .select(col(idCol), col("n_bigrams"),
        (-(col("s") / col("n_bigrams"))).as("log_ppl"))
  }

  /** The Gopher quality-filter rule set (Rae et al. 2021, table A1) with
    * the PUBLISHED thresholds, restricted to the token-level rules (the
    * line-level rules degenerate on a single-line corpus, as with
    * [[repetitionStats]]):
    *
    *   - g_wc:    50 ≤ word count ≤ 100,000
    *   - g_mwl:   3 ≤ mean word length ≤ 10
    *   - g_sym:   symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1
    *   - g_alpha: ≥ 80% of words contain an alphabetic character
    *   - g_stop:  ≥ 2 occurrences of Gopher's stop-word octet
    *
    * Every ratio threshold is CROSS-MULTIPLIED into an integer
    * comparison (3n ≤ Σlen ≤ 10n, 10·sym ≤ n, 5·alpha ≥ 4·n) — no float
    * exists anywhere in the operator, so the flags are hash-exact by
    * construction rather than by IEEE-order discipline. One map-side
    * pass; `gopher_pass` is the conjunction a 100 TB pre-filter would
    * push in front of model scoring.
    */
  /** The five Gopher flag expressions as plain Columns over `textCol` —
    * the single definition [[gopherRules]], [[docVerdict]] and the
    * fused pipeline gate ([[structuralPass]]) all share, so "same rule"
    * is true by construction, not by parallel maintenance. Order:
    * (g_wc, g_mwl, g_sym, g_alpha, g_stop).
    */
  private def gopherFlags(text: Column):
      (Column, Column, Column, Column, Column) = {
    val stopOct = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = TextFeatures.tokens(text)
    val n = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("long")
    val hashCnt = (length(text) -
      length(regexp_replace(text, "#", ""))).cast("long")
    val dotRuns = ((length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3).cast("long")
    val sym = hashCnt + dotRuns
    val alphaWords = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val stopHits = size(filter(toks, t => t.isin(stopOct: _*))).cast("long")
    (n >= 50L && n <= 100000L,
      sumLen >= lit(3L) * n && sumLen <= lit(10L) * n,
      lit(10L) * sym <= n,
      lit(5L) * alphaWords >= lit(4L) * n,
      stopHits >= 2L)
  }

  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val (gWc, gMwl, gSym, gAlpha, gStop) = gopherFlags(col(textCol))
    docs.select(col(idCol),
      gWc.cast("int").as("g_wc"),
      gMwl.cast("int").as("g_mwl"),
      gSym.cast("int").as("g_sym"),
      gAlpha.cast("int").as("g_alpha"),
      gStop.cast("int").as("g_stop"),
      (gWc && gMwl && gSym && gAlpha && gStop).cast("int").as("gopher_pass"))
  }

  /** The C4 cleaning heuristics (Raffel et al. 2020, "Exploring the
    * limits of transfer learning...", §2.2) — the other canonical
    * published filter set next to [[gopherRules]]:
    *
    *   - line retention: a line survives iff it ends in terminal
    *     punctuation (`.` `!` `?` `"`) AND has ≥ 5 whitespace words
    *   - c4_min_sent: ≥ 3 sentences on the page (terminal-mark count)
    *   - c4_no_lorem: no "lorem ipsum" in the lowercased text
    *   - c4_no_brace: no `{` (the code-page tell)
    *   - c4_no_js: no "javascript" token
    *   - c4_pass: ≥ 1 retained line AND every page-level flag
    *
    * Two C4 steps are deliberately NOT here: the three-sentence-span
    * dedup is its own corpus-wide operator (substringDups — C4 does it
    * across pages, not per page), and the "Dirty/Naughty" word list is an
    * external artifact — callers AND with their own list via
    * [[gopherRules]]-style token membership. Counts are integers and
    * every flag is a string-membership test — no float anywhere, so the
    * oracle is exact by construction. One map-side pass; on the
    * single-line unpunctuated synthetic corpus the line rules land in
    * their degenerate regime (0 kept lines), exactly as the Gopher
    * line-level rules do — the spec exercises both branches on real
    * multi-line text.
    */
  /** The C4 flag expressions as plain Columns over `text` — shared by
    * [[c4Rules]], [[docVerdict]] and [[structuralPass]] exactly like
    * [[gopherFlags]]. Order: (kept, lines, sents, noLorem, noBrace,
    * noJs) — kept/lines are the array columns (callers size() them).
    */
  private def c4Flags(text: Column):
      (Column, Column, Column, Column, Column, Column) = {
    val lt = graft.functions.GraftFunctions.icuLower(text)
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      substring(trim(l), -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(trim(l), " "), w => w =!= "")) >= 5)
    def marks(ch: String) =
      (length(text) - length(regexp_replace(text, s"\\$ch", ""))).cast("long")
    val sents = marks(".") + marks("!") + marks("?")
    val noLorem = !lt.contains("lorem ipsum")
    val noBrace = !text.contains("{")
    val noJs = !array_contains(TextFeatures.tokens(text), "javascript")
    (kept, lines, sents, noLorem, noBrace, noJs)
  }

  def c4Rules(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val (kept, lines, sents, noLorem, noBrace, noJs) = c4Flags(col(textCol))
    docs.select(col(idCol),
      size(kept).cast("long").as("c4_kept_lines"),
      size(lines).cast("long").as("c4_total_lines"),
      sents.as("c4_sentences"),
      (sents >= 3L).cast("int").as("c4_min_sent"),
      noLorem.cast("int").as("c4_no_lorem"),
      noBrace.cast("int").as("c4_no_brace"),
      noJs.cast("int").as("c4_no_js"),
      (size(kept) >= 1 && sents >= 3L && noLorem && noBrace && noJs)
        .cast("int").as("c4_pass"))
  }

  /** The STRUCTURAL quality-gate predicate the corpus pipelines push
    * map-side (CorpusPipeline.stageCounts stage 1): the structural
    * Gopher flags AND the C4 blocklist flags AND the length bounds, as
    * ONE Column over (text, n_chars). Built from the same
    * [[gopherFlags]]/[[c4Flags]] expressions the flag frames expose, so
    * `structuralPass` ⇔ `g_wc = 1 AND … AND c4_no_js = 1 AND bounds` by
    * construction. The gate is one filtered scan, not three scans joined
    * on doc_id: the flag frames are pure projections, so joining them
    * would re-read and re-shuffle the corpus twice for columns a single
    * select computes.
    */
  def structuralPass(text: Column, nChars: Column,
                     minChars: Long = 100L,
                     maxChars: Long = 50000L): Column = {
    val (gWc, gMwl, gSym, gAlpha, _) = gopherFlags(text)
    val (_, _, _, noLorem, noBrace, noJs) = c4Flags(text)
    gWc && gMwl && gSym && gAlpha && noLorem && noBrace && noJs &&
      nChars >= minChars && nChars <= maxChars
  }

  /** Keep/drop verdict with a REASONS BITMASK — the artifact a cleaning
    * pipeline actually materializes: not five separate flag tables but
    * one row per document saying whether it survives and exactly which
    * rule families rejected it (bit 0 = Gopher, bit 1 = C4,
    * bit 2 = length bounds on n_chars). Both rule families' flags are
    * computed in ONE map-side pass over the scan, from the same
    * [[gopherFlags]]/[[c4Flags]] expressions as the [[gopherRules]] and
    * [[c4Rules]] frames, so the verdict equals the doc_id join of those
    * frames without its two extra scans and two joins. keep =
    * reasons == 0. The bitmask is what drives drop-rate dashboards and
    * per-rule ablations without re-running the filters.
    */
  def docVerdict(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 minChars: Long = 100L, maxChars: Long = 50000L): DataFrame = {
    val (gWc, gMwl, gSym, gAlpha, gStop) = gopherFlags(col(textCol))
    val (kept, _, sents, noLorem, noBrace, noJs) = c4Flags(col(textCol))
    val gopherPass = (gWc && gMwl && gSym && gAlpha && gStop).cast("int")
    val c4Pass = (size(kept) >= 1 && sents >= 3L && noLorem && noBrace &&
      noJs).cast("int")
    val reasons =
      when(gopherPass === 0, 1L).otherwise(0L) +
        when(c4Pass === 0, 2L).otherwise(0L) +
        when(col("n_chars") < minChars || col("n_chars") > maxChars, 4L)
          .otherwise(0L)
    docs.select(col(idCol), reasons.as("reasons"),
      (reasons === 0L).cast("int").as("keep"))
  }

  /** Interpolated Kneser–Ney bigram perplexity — the smoothing that
    * actually ships in production n-gram LMs (Chen & Goodman 1999 show
    * it dominates add-one everywhere), as a second, sharper quality
    * signal next to [[perplexity]]: add-one drowns the signal in vocab
    * mass for rare contexts, KN backs off to the CONTINUATION
    * probability — how many distinct contexts a word follows — which is
    * exactly what separates natural prose from keyword-stuffed spam
    * ("the" follows everything; a spam token follows one thing, often).
    *
    *   P(w2|w1) = (c12 − D)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/B,  D = 3/4
    *
    * where N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    * left-contexts of w2, B = distinct bigram types. Every bigram scored
    * is from the corpus the counts were trained on, so c12 ≥ 1 and the
    * discounted term is positive. With D = 3/4 the whole probability is
    * ONE exact integer ratio,
    *
    *   P = ((4·c12 − 3)·B + 3·N1+(w1·)·N1+(·w2)) / (4·c1·B),
    *
    * so the score inherits the engine's oracle recipe unchanged: a
    * single double division of exact BIGINTs (valid while c12·B < 2^61 —
    * beyond ~10^9 bigram types the implementation would switch to the
    * two-term float form), ieee_ln, and a position-ordered sequential
    * fold. Reported in the log domain like [[perplexity]].
    *
    * Plan shape: the add-one plan plus two distinct-count aggregates
    * over bigram TYPES (partial+final, map-side combined) — the type
    * relation is a groupBy of the occurrence relation, never a second
    * corpus scan, and the scalar B attaches as a 1-row broadcast.
    */
  def perplexityKN(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol), TextFeatures.tokens(col(textCol)).as("toks"))
    val occ = toks
      .select(col(idCol),
        posexplode(TextFeatures.bigramsOfTokens(col("toks"))))
      .select(col(idCol), col("pos").as("i"), col("col").as("bigram"),
        substring_index(col("col"), " ", 1).as("w1"),
        substring_index(col("col"), " ", -1).as("w2"))
    val c12 = occ.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val c1 = occ.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val types = occ.select(col("bigram"), col("w1"), col("w2")).distinct()
    val nf1 = types.groupBy(col("w1")).agg(count(lit(1)).as("nf1"))
    val np2 = types.groupBy(col("w2")).agg(count(lit(1)).as("np2"))
    val b = types.agg(count(lit(1)).as("bb"))
    occ.join(c12, "bigram").join(c1, "w1").join(nf1, "w1").join(np2, "w2")
      .crossJoin(broadcast(b)) // 1-row scalar attachment (see perplexity)
      .select(col(idCol), col("i"),
        graft.functions.GraftFunctions.ieeeLn(
          ((lit(4) * col("c12") - 3) * col("bb") +
            lit(3) * col("nf1") * col("np2")).cast("double") /
            (lit(4) * col("c1") * col("bb")).cast("double")).as("lnp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          sort_array(collect_list(struct(col("i"), col("lnp")))),
          lit(0.0),
          (acc, x) => acc + x.getField("lnp")).as("s"))
      .select(col(idCol), col("n_bigrams"),
        (-(col("s") / col("n_bigrams"))).as("log_ppl"))
  }

  /** Pairwise Jensen–Shannon divergence between source token
    * distributions — corpus cartography: which sources speak the same
    * language/register (near 0) and which are foreign to each other
    * (near ln 2). Tokens hash into `nBuckets` md5 buckets (the DSIR
    * feature space); for each ordered source pair (a < b),
    *
    *   JS = 1/2 Σ_k [ p_k ln(2 p_k / (p_k+q_k)) + q_k ln(2 q_k / (p_k+q_k)) ]
    *
    * with add-one smoothing over the bucket space so every term is
    * finite. Oracle-parity by the engine's fixed-point recipe: each ln
    * is quantized to 2^-30 (glibc's ln is not correctly rounded — no
    * JVM ln matches it operand-for-operand), probabilities are single
    * exact divisions of integers, and the per-pair sum folds in bucket
    * order on both sides.
    *
    * Scale: one (source, bucket) aggregate — |sources| × nBuckets rows,
    * catalog-bounded — then a bucket-keyed self-join of that SUMMARY
    * (never the corpus) and a fold over ≤ nBuckets terms per pair.
    */
  def sourceDivergence(docs: DataFrame, textCol: String = "text",
                       strataCol: String = "source",
                       nBuckets: Int = 256): DataFrame = {
    val B = nBuckets
    val occ = docs.select(col(strataCol).as("src"),
        explode(TextFeatures.tokens(col(textCol))).as("tok"))
      .select(col("src"),
        pmod(graft.functions.GraftFunctions.md5Bits(col("tok"), 1, 6),
          lit(B.toLong)).cast("int").as("bucket"))
    val counts = occ.groupBy(col("src"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val tots = counts.groupBy(col("src")).agg(sum(col("n")).as("t"))
    // densify over the WHOLE bucket space 0..B-1 (explode of a sequence,
    // not a cross join): smoothing gives every bucket mass, and a bucket
    // one source lacks must still contribute to the divergence
    val full = tots
      .select(col("src"), col("t"),
        explode(sequence(lit(0), lit(B - 1))).as("bucket"))
      .join(counts, Seq("src", "bucket"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val a = full.select(col("src").as("src_a"), col("bucket"),
      col("n").as("na"), col("t").as("ta"))
    val b = full.select(col("src").as("src_b"), col("bucket"),
      col("n").as("nb"), col("t").as("tb"))
    // smoothed probabilities: single exact divisions of integers
    val pa = (col("na") + 1).cast("double") / (col("ta") + B)
    val pb = (col("nb") + 1).cast("double") / (col("tb") + B)
    def lnFx(x: Column): Column =
      round(graft.functions.GraftFunctions.ieeeLn(x) * lit(1073741824.0))
        .cast("long").cast("double") / lit(1073741824.0)
    val terms = a.join(b, Seq("bucket"))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("bucket"),
        ((pa * lnFx(lit(2.0) * pa / (pa + pb)) +
          pb * lnFx(lit(2.0) * pb / (pa + pb))) / 2).as("term"))
    terms.groupBy(col("src_a"), col("src_b"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("bucket"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("js"))
  }

  /** Per-source robust length outliers — median/MAD, the scale- and
    * outlier-resistant alternative to mean/stddev for flagging truncated
    * or boilerplate-bloated documents (a mean-based z-score is dragged by
    * the very outliers it is supposed to flag; the median/MAD pair has a
    * 50% breakdown point).
    *
    * Medians are EXACT lower medians picked by integer rank (`row_number
    * = (n+1) div 2`), not interpolated: the statistic is an actual data
    * value, every comparison stays in integer arithmetic, and the outlier
    * flag `|x − med| > k·max(mad, 1)` never touches a float — only the
    * reported z-score does (one exact division at the end). Windows are
    * PARTITIONED by source — parallel across strata like any keyed
    * window, never a global sort; at 100 TB per-stratum sort-and-rank is
    * the exact-median price, and a corpus with few huge strata would swap
    * in approxQuantile at the same call sites.
    */
  def lengthOutliers(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     strataCol: String = "source",
                     k: Int = 3): DataFrame = {
    val base = docs.select(col(idCol), col(strataCol),
      length(col(textCol)).cast("long").as("n_chars"))
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame =
      df.withColumn("__rn", row_number().over(
          Window.partitionBy(col(strataCol))
            .orderBy(col(valueCol), col(idCol))))
        .withColumn("__cnt",
          count(lit(1)).over(Window.partitionBy(col(strataCol))))
        .filter(col("__rn") === expr("(__cnt + 1) div 2"))
        .select(col(strataCol), col(valueCol).as(out))
    val med = lowerMedian(base, "n_chars", "med")
    val dev = base.join(med, Seq(strataCol))
      .select(col(idCol), col(strataCol),
        abs(col("n_chars") - col("med")).as("dev"))
    val mad = lowerMedian(dev, "dev", "mad")
    base.join(med, Seq(strataCol)).join(mad, Seq(strataCol))
      .select(col(idCol), col(strataCol), col("n_chars"), col("med"),
        col("mad"),
        ((col("n_chars") - col("med")).cast("double") /
          greatest(col("mad"), lit(1L)).cast("double")).as("z"),
        (abs(col("n_chars") - col("med")) >
          lit(k.toLong) * greatest(col("mad"), lit(1L))).as("is_outlier"))
  }

  /** Cross-source contamination matrix — for every source pair, the
    * count of distinct token shingles they share and the shingle-set
    * Jaccard. The corpus-assembly diagnostic for "who copies whom":
    * mirrored dumps, syndicated boilerplate, and benchmark bleed between
    * web snapshots show up as off-diagonal mass long before per-document
    * dedup finds the individual twins.
    *
    * Plan: distinct (source, shingle) — ONE keyed agg that collapses the
    * corpus to its per-source vocabulary — then a shingle-keyed self-join
    * whose per-key fanout is bounded by the SOURCE count (bounded catalog
    * cardinality, not data volume), then per-pair counts. The per-source
    * totals are a ≤ #sources-row side, broadcast back on. Integers until
    * the final Jaccard division, so the oracle matches bit-for-bit.
    */
  def sourceOverlap(docs: DataFrame, textCol: String = "text",
                    strataCol: String = "source", n: Int = 3): DataFrame = {
    val sh = docs.select(col(strataCol).as("src"),
        explode(Dedup.shinglesOfTokens(
          TextFeatures.tokens(col(textCol)), n)).as("shingle"))
      .distinct()
    val counts = sh.groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("src").as("src_a"), col("shingle"))
      .join(sh.select(col("src").as("src_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(counts.select(col("src").as("src_a"),
        col("n_sh").as("n_a"))), Seq("src_a"))
      .join(broadcast(counts.select(col("src").as("src_b"),
        col("n_sh").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  def commonness(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 rareBelow: Long = 5L): DataFrame = {
    val occurrences = docs
      .select(col(idCol), TextFeatures.tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(col("toks")).as("tok"))
    val freqs = occurrences.groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"))
    occurrences.join(freqs, "tok")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("tf")).cast("double") / count(lit(1)))
          .as("mean_token_freq"),
        (sum(when(col("tf") < rareBelow, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("rare_frac"))
  }
}
