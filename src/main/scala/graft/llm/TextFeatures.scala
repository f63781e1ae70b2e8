package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.icuLower

/** Text-analysis column builders for a training-data pipeline: tokenization,
  * token-count estimation, quality scoring, language ID, fingerprinting.
  *
  * All of these are Catalyst expressions with no UDFs: Spark built-ins
  * plus the native kernels of `graft.functions` (case mapping is
  * `icu_lower`, never Spark's `lower`). They run map-side and push no work
  * onto the driver; the higher-order-function lambdas (`filter`,
  * `transform`, `aggregate`) are interpreted per element, the rest is
  * code-generated. Each has an exact DuckDB oracle counterpart in LlmOps.
  */
object TextFeatures {

  /** Lower-cased (Spark's ICU mapping, via `icu_lower`),
    * whitespace-collapsed normal form.
    */
  def normalized(text: Column): Column =
    regexp_replace(trim(icuLower(text)), "\\s+", " ")

  /** Whitespace tokens of the normal form. */
  def tokens(text: Column): Column =
    split(normalized(text), " ")

  // DuckDB replays of `normalized` and `tokens` over the `text` column —
  // the one text normal form of every oracle (LineageOwnershipSpec fails
  // on any other spelling in src/main).
  // SCHEMA CONTRACT: documents.text is NON-NULL, declared nullable=false
  // by every generator (driver testdata, FuzzGen, ScaleGen). The text
  // tier's oracle parity leans on it: a NULL text would make Spark's
  // legacy size(NULL) yield n_words = -1 while DuckDB yields NULL, a
  // silent hash divergence. Nullable text needs coalesce(text, '') at
  // the INGEST boundary (Jsonl/Xml quarantine split), not per operator.
  val normSql: String =
    "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
  val toksSql: String = s"string_split($normSql, ' ')"

  /** Per-script codepoint counts (BMP ranges, where Spark's UTF-16
    * `length` and DuckDB's codepoint `length` agree 1:1) — the
    * script-detection census that precedes language ID at corpus scale:
    * langID models are per-script, and routing by script is a map-only
    * integer pass. Count of class C = len(text) − len(text with C
    * stripped); the dominant script takes ties in the fixed order
    * latin > cyrillic > cjk > arabic > other.
    */
  def scriptCounts(text: Column): Seq[(String, Column)] = Seq(
    "latin" -> "[a-zA-Z]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]"
  ).map { case (name, cls) =>
    name -> (length(text) -
      length(regexp_replace(text, cls, ""))).cast("long")
  }

  /** Token bigrams of an ALREADY-MATERIALIZED token array column (empty
    * for sub-2-token docs). One zip_with over two slices — per-index
    * element_at lambdas re-evaluate their way into the tokenization per
    * bigram, measured ~50x slower (see text_top_bigrams). Shared by the
    * bigram-frequency op and the repetition quality signals.
    */
  def bigramsOfTokens(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))

  /** BPE-ish subword-count estimate: runs of letters, runs of digits, and
    * single punctuation marks each count as one token — the classic
    * pre-tokenizer regex shape used by byte-pair encoders.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(icuLower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Share of non-alphanumeric, non-space characters. NULL for the empty
    * string (undefined share, and ANSI-mode Spark would otherwise abort
    * the whole job on the division — fuzz `minimal` regime).
    */
  def punctRatio(text: Column): Column =
    length(regexp_replace(icuLower(text), "[a-z0-9\\s]", "")).cast("double") /
      when(length(text) =!= 0, length(text))

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Share of tokens that are stopwords — a classic fluency signal. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks)
  }

  /** Mean token length in characters. */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("double") / size(toks)
  }

  /** Composite quality score in [0,1]: length sweet-spot, low punctuation,
    * some stopwords — the usual cheap pre-filter before expensive model
    * scoring.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = when(length(text) < 20, 0.2)
      .when(length(text) > 2000, 0.5)
      .otherwise(1.0)
    val punctScore = when(punctRatio(text) > 0.2, 0.3).otherwise(1.0)
    val stopScore = when(stopwordRatio(text) > 0.02, 1.0).otherwise(0.7)
    // No rounding: the constant arithmetic is the same IEEE sequence on the
    // Spark and oracle sides, and round() tie-handling differs between
    // engines.
    lenScore * 0.5 + punctScore * 0.25 + stopScore * 0.25
  }

  /** Marker-token language ID: count hits of each language's characteristic
    * high-frequency words and pick the first maximum in fixed language order
    * (deterministic ties); 'und' when nothing matches. Same shape as n-gram
    * language ID — per-language evidence then argmax — and exactly
    * re-expressible as a SQL CASE chain for the oracle.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es"))

  def langHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers: _*)))

  def langId(text: Column): Column = {
    val hits = langMarkers.map { case (lang, m) => lang -> langHits(text, m) }
    val maxHits = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("und")) { case ((lang, h), els) =>
      when(maxHits > 0 && h === maxHits, lang).otherwise(els)
    }
  }

  /** PII patterns for training-data redaction — the scrub every public
    * web-corpus pipeline runs before training (emails, SSNs, NANP phone
    * numbers, IPv4 addresses). Deliberately conservative regex subset:
    * no lookaround, no backreferences — valid in BOTH java.util.regex and
    * RE2, so the DuckDB oracle replays every replacement byte-for-byte.
    * Order matters and is part of the contract: e-mail first (its local
    * part may contain digit runs the later patterns would mangle), then
    * SSN (3-2-4 grouping) before phone (3-3-4), then IPv4.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Redacted text: each PII family replaced by its tag, applied in
    * piiPatterns order. A chain of codegen'd regexp_replace calls — pure
    * map-side, streams through a 100 TB scan like every other column
    * builder here.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (_, p, r)) =>
      regexp_replace(t, p, r)
    }

  /** Per-family match counts over the ORIGINAL text (each pattern counted
    * independently, before any replacement — so a phone number inside an
    * e-mail counts for both; the cascade in redactPii still replaces it
    * exactly once, as part of the e-mail).
    */
  def piiCounts(text: Column): Seq[(String, Column)] =
    piiPatterns.map { case (name, p, _) =>
      name -> size(regexp_extract_all(text, lit(p), lit(0)))
    }

  /** Content fingerprint: md5 of the normal form — the exact-dedup key. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Winnowing-style robust fingerprint: the minimum md5 over all 8-char
    * windows of the normal form (min-sampling of a rolling hash). Survives
    * local edits that move but don't rewrite most windows. Computed by the
    * native minwindow_md5 kernel (functions/MinhashExpressions.scala) —
    * byte-identical to the composed md5-per-window lambda formulation the
    * DuckDB oracle replays, without its interpreted per-window evaluation.
    */
  def minWindowFingerprintOfNorm(norm: Column, window: Int = 8): Column =
    graft.functions.GraftFunctions.minWindowMd5(norm, window)

  /** Winnowing fingerprint set (Schleimer et al. 2003; see the
    * text_winnowing op for the protocol): k = 8 char-gram md5 hashes,
    * w = 4 windows, min per window with the rightmost tie rule. Output
    * (idCol, pos, fp), distinct. Map-only per document.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    // Native winnow_fps kernel (functions/MinhashExpressions.scala): the
    // whole selection — per-gram md5, 4-wide rightmost-min frame,
    // distinct collapse — happens inside the scan projection, so only
    // the ~2/(w+1)-density fingerprint relation ever leaves the map
    // side. The exploded-gram + per-doc windowed-min formulation this
    // replaces shuffled the ENTIRE gram stream (~|text| rows per doc)
    // just to take a 4-row min: 3.5s → 0.7s warm at sf0.1, and at
    // 100 TB it removes a corpus-sized shuffle. Byte-for-byte the same
    // output (oracle hash unchanged): md5 over the char window's UTF-8
    // bytes, hex order == digest-byte order, `<=` scan = rightmost tie.
    docs
      .select(col(idCol), normalized(col(textCol)).as("norm"))
      .select(col(idCol),
        explode(graft.functions.GraftFunctions.winnowFps(col("norm"), 8, 4))
          .as("s"))
      .select(col(idCol), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /** Corpus encode under a per-WORD-TYPE encoder — the frozen-tokenizer
    * application shape shared by Bpe.encodeFrozen and
    * Wordpiece.encodeFrozen: the (pure) encoder runs once per DISTINCT
    * word type (vocabulary-sized work, Zipf-bounded), the piece
    * sequences join back to the position-carrying token relation, and
    * the global piece position is one per-document window over
    * (word index, piece index). No corpus text leaves the executors;
    * the encoder closure carries only the frozen model literals.
    * Output: (idCol, pos, piece).
    */
  def encodeByWordType(docs: DataFrame, idCol: String, textCol: String)
                      (enc: String => Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("wpos", "word")))
      .filter(col("word") =!= "")
    val pieces = tok.select(col("word")).distinct().as[String]
      .map(w => (w, enc(w)))
      .toDF("word", "syms")
    val win = Window.partitionBy(col(idCol)).orderBy(col("wpos"), col("si"))
    tok.join(pieces, Seq("word"))
      .select(col(idCol), col("wpos"),
        posexplode(col("syms")).as(Seq("si", "piece")))
      .withColumn("pos", (row_number().over(win) - 1).cast("long"))
      .select(col(idCol), col("pos"), col("piece"))
  }
}
