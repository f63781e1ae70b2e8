package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016) — trained FROM the
  * corpus, applied TO the corpus, entirely inside the engine.
  *
  * Scale shape: BPE training needs only the corpus WORD-FREQUENCY table —
  * the word histogram is a sufficient statistic for every pair count the
  * algorithm ever consults. So the distributed part is one
  * explode→groupBy→count aggregate plus a bounded distributed top-V cut
  * (Zipf: the top ~10-50k word types carry nearly all token mass), and only
  * that bounded (word, count) table ever reaches the driver — the corpus
  * text itself is never collected, the same bounded-sufficient-statistic
  * pattern as the IVF k-means sample and the bloom decontamination sketch.
  * The learned merge table (numMerges entries) is broadcast back as part of
  * the encode closure; application is embarrassingly map-side.
  *
  * Determinism: pair-count ties break lexicographically, so the merge
  * sequence is a pure function of the word histogram regardless of
  * partitioning.
  */
object Bpe {

  /** End-of-word sentinel appended to every word's symbol sequence — the
    * classic trick that lets the encoder distinguish "est" inside "west"
    * from "est" ending "low_est_".
    */
  val EndOfWord = "</w>"

  /** Symbol sequence of a word: one symbol per CODEPOINT (not UTF-16
    * unit — an astral char is one symbol, never a surrogate-half pair,
    * matching the oracle's codepoint-based substr walk), plus the
    * sentinel.
    */
  private def symbols(word: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    (out += EndOfWord).result()
  }

  /** A FROZEN merge table (rank = index) — the production deployment
    * shape: tokenizers are trained once, frozen, and applied to every
    * new batch (retraining per batch would silently shift every piece).
    * Pinned as literals so the encode walk is replayable by an external
    * engine verbatim — the llm_bpe_encode_frozen oracle embeds this very
    * table as VALUES and replays mergeGreedy's leftmost-lowest-rank walk
    * step for step.
    */
  val FrozenMerges: Seq[(String, String)] = Seq(
    ("r", "o"), ("a", "n"), ("e", "r"), ("a", "t"), ("s", "t"),
    ("h", "a"), ("j", "o"), ("l", "e"), ("e", "y"), ("o", "r"),
    ("c", "o"), ("s", "c"), ("er", "</w>"), ("an", "</w>"),
    ("ro", "w"), ("row", "</w>"), ("a", "b"), ("t", "ab"),
    ("le", "</w>"), ("tab", "le</w>"), ("k", "ey"), ("key", "</w>"),
    ("or", "d"), ("sc", "an</w>"))

  /** Learn `numMerges` merges from a (word -> count) histogram.
    * Returns merges in learned order (rank = index).
    *
    * `symbolize` maps a histogram key to its initial symbol sequence —
    * char-level + sentinel by default, UTF-8 byte alphabet in
    * byte-level mode (`ByteLevel.symbols`).
    *
    * Driver-side by design — the histogram is bounded (top-V types) and
    * each round touches only words containing the merged pair, indexed so
    * rounds are near-O(affected words).
    */
  def train(wordCounts: Map[String, Long], numMerges: Int,
            symbolize: String => Vector[String] = symbols): Seq[(String, String)] = {
    // working state: each word as a mutable symbol vector + its count
    val words = wordCounts.toArray.map { case (w, c) => (symbolize(w), c) }
    val seqs = words.map(_._1.to(mutable.ArrayBuffer))
    val counts = words.map(_._2)

    // pair -> total count, and pair -> set of word indexes containing it
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addPair(p: (String, String), wi: Int, c: Long): Unit = {
      pairCount.updateWith(p) { prev => Some(prev.getOrElse(0L) + c) }
      pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
    }
    def dropPair(p: (String, String), wi: Int, c: Long): Unit = {
      pairCount.updateWith(p) { prev =>
        val n = prev.getOrElse(0L) - c
        if (n <= 0L) None else Some(n)
      }
      // word index sets are pruned lazily: a stale index just re-scans one
      // word and finds no occurrence
    }
    for (wi <- seqs.indices; j <- 0 until seqs(wi).length - 1)
      addPair((seqs(wi)(j), seqs(wi)(j + 1)), wi, counts(wi))

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges && pairCount.nonEmpty) {
      // most frequent pair; lexicographic tie-break for determinism
      val best = pairCount.keysIterator.reduce { (a, b) =>
        val ca = pairCount(a); val cb = pairCount(b)
        if (ca > cb || (ca == cb && implicitly[Ordering[(String, String)]]
              .lt(a, b))) a
        else b
      }
      merges += best
      val merged = best._1 + best._2
      for (wi <- pairWords.getOrElse(best, mutable.Set.empty).toArray) {
        val s = seqs(wi); val c = counts(wi)
        var j = 0
        while (j < s.length - 1) {
          if (s(j) == best._1 && s(j + 1) == best._2) {
            // bookkeeping: neighbors of the merged pair change identity
            if (j > 0) {
              dropPair((s(j - 1), s(j)), wi, c)
              addPair((s(j - 1), merged), wi, c)
            }
            if (j + 2 < s.length) {
              dropPair((s(j + 1), s(j + 2)), wi, c)
              addPair((merged, s(j + 2)), wi, c)
            }
            dropPair(best, wi, c)
            s.remove(j + 1)
            s(j) = merged
          } else j += 1
        }
      }
      pairCount.remove(best)
      pairWords.remove(best)
    }
    merges.toSeq
  }

  /** Encode one word with a learned merge table (pair -> rank): repeatedly
    * apply the lowest-rank applicable merge — the standard greedy BPE
    * encoder, a pure function suitable for a broadcast closure.
    */
  def encode(word: String, ranks: Map[(String, String), Int]): Vector[String] =
    mergeGreedy(symbols(word), ranks)

  /** Frozen-tokenizer corpus encode to (idCol, pos, piece) rows — the
    * artifact a training pipeline ships, under a PINNED merge table (see
    * [[FrozenMerges]]). Scale shape: the merge walk runs once per
    * DISTINCT word type (vocabulary-sized work, Zipf-bounded), then
    * joins back to the position-carrying token relation; the global
    * piece position is one per-document window over (word index, piece
    * index) — no corpus text ever leaves the executors. Words outside
    * the frozen alphabet (non-[a-z0-9]) pass through as a single
    * sentinel-terminated piece, which keeps the walk byte-exact across
    * engines regardless of how they split astral-plane characters.
    */
  def encodeFrozen(docs: DataFrame, merges: Seq[(String, String)],
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    TextFeatures.encodeByWordType(docs, idCol, textCol) { w =>
      if (w.matches("^[a-z0-9]+$")) encode(w, ranks)
      else Vector(w + EndOfWord)
    }
  }

  /** Greedy lowest-rank merge loop shared by the char-level and byte-level
    * encoders — a pure function suitable for a broadcast closure.
    */
  private def mergeGreedy(initial: Vector[String],
                          ranks: Map[(String, String), Int]): Vector[String] = {
    var s = initial
    var done = false
    while (!done && s.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < s.length - 1) {
        val r = ranks.getOrElse((s(j), s(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) done = true
      else s = (s.take(bestAt) :+ (s(bestAt) + s(bestAt + 1))) ++
        s.drop(bestAt + 2)
    }
    s
  }

  /** Distributed word histogram, cut to the top `vocabWords` types by
    * count (ties broken by word for determinism). One explode + one
    * keyed partial/final aggregate + a distributed top-k — the only
    * shuffle-bearing stage of training.
    */
  def wordHistogram(docs: DataFrame, textCol: String,
                    vocabWords: Int): DataFrame =
    docs.select(explode(TextFeatures.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(vocabWords)

  /** Train on the corpus: histogram -> bounded driver table -> merges. */
  def trainOnCorpus(docs: DataFrame, textCol: String = "text",
                    numMerges: Int = 200,
                    vocabWords: Int = 10000): Seq[(String, String)] = {
    val hist = wordHistogram(docs, textCol, vocabWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    train(hist, numMerges)
  }

  /** Per-document BPE token count next to the whitespace token count —
    * the length statistic a sequence-packing / budget pass actually needs.
    * Merge ranks ride the encode closure (broadcast with the task); the
    * stage is map-only.
    */
  def tokenCounts(docs: DataFrame, merges: Seq[(String, String)],
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.toMap
    val toks: Dataset[(Long, Seq[String])] = docs
      .select(col(idCol).cast("long"),
        TextFeatures.tokens(col(textCol)).as("toks"))
      .as[(Long, Seq[String])]
    toks.map { case (id, ws) =>
      (id, ws.length.toLong,
        ws.iterator.map(w => encode(w, ranks).length.toLong).sum)
    }.toDF(idCol, "n_words", "n_bpe_tokens")
  }

  /** Corpus-wide top-k BPE vocabulary: encode every word occurrence,
    * count subword frequency, keep the k most frequent (ties by token).
    * explode -> map encode -> keyed agg -> distributed top-k.
    */
  def topVocab(docs: DataFrame, merges: Seq[(String, String)],
               textCol: String = "text", k: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.toMap
    docs.select(explode(TextFeatures.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .as[String]
      .flatMap(w => encode(w, ranks))
      .toDF("bpe_token")
      .groupBy("bpe_token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bpe_token"))
      .limit(k)
  }

  /** Byte-level BPE — the GPT-2/tiktoken lineage (Radford et al. 2019,
    * "Language Models are Unsupervised Multitask Learners", released
    * encoder.py): the alphabet is the 256 UTF-8 BYTES, not characters, so
    * ANY string — accents, CJK, emoji, binary junk — tokenizes without an
    * unknown-symbol escape hatch, and a regex pre-tokenizer splits text
    * into merge-bounded pretokens (leading-space words, number runs,
    * contraction suffixes) instead of the whitespace+sentinel convention.
    *
    * Bytes are carried as printable unicode chars via the published
    * reversible byte↔char table (printable latin stays itself; the 68
    * control/space bytes shift to 256+n) so a learned symbol is still a
    * plain String and the whole word-histogram sufficient-statistic
    * training path is reused unchanged. `decode` inverts the table and
    * re-assembles UTF-8 — round-trips are byte-exact by construction.
    *
    * Same scale shape as char-level: pre-tokenization is one
    * `regexp_extract_all` behind the scan (codegen'd, map-side), the
    * histogram is the only shuffle, and only the bounded (pretoken, count)
    * table reaches the driver.
    */
  object ByteLevel {

    /** GPT-2's reversible byte -> printable-char table: bytes that are
      * printable in latin-1 ('!'..'~', '¡'..'¬', '®'..'ÿ') map to
      * themselves; the remaining 68 map to 256, 257, … in byte order.
      */
    val byteToChar: Array[Char] = {
      val printable = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
      val out = new Array[Char](256)
      var shifted = 0
      for (b <- 0 until 256) {
        if (printable(b)) out(b) = b.toChar
        else { out(b) = (256 + shifted).toChar; shifted += 1 }
      }
      out
    }
    private val charToByte: Map[Char, Byte] =
      byteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

    /** GPT-2's pre-tokenization pattern: contraction suffixes, then
      * optionally-space-prefixed letter runs / digit runs / punctuation
      * runs, then trailing whitespace (kept separate from the space that
      * prefixes the next word via the lookahead).
      */
    val PretokenPattern: String =
      """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"""
    private val pretokenRe = PretokenPattern.r

    def preTokenize(text: String): Seq[String] =
      pretokenRe.findAllIn(text).toSeq

    /** Initial symbol sequence of a pretoken: one mapped char per UTF-8
      * byte, NO sentinel (the leading-space convention owns boundaries).
      */
    def symbols(pretoken: String): Vector[String] =
      pretoken.getBytes("UTF-8").toVector
        .map(b => byteToChar(b & 0xff).toString)

    /** Invert a token sequence back to the exact original string. */
    def decode(tokens: Seq[String]): String = {
      val bytes = tokens.flatMap(_.map(charToByte)).toArray
      new String(bytes, "UTF-8")
    }

    def train(pretokenCounts: Map[String, Long],
              numMerges: Int): Seq[(String, String)] =
      Bpe.train(pretokenCounts, numMerges, symbols)

    def encode(pretoken: String,
               ranks: Map[(String, String), Int]): Vector[String] =
      mergeGreedy(symbols(pretoken), ranks)

    /** Full-text encode: pre-tokenize, encode each pretoken. Concatenating
      * `decode` over the result reproduces the input byte-exactly.
      */
    def encodeText(text: String,
                   ranks: Map[(String, String), Int]): Vector[String] =
      preTokenize(text).iterator.flatMap(encode(_, ranks)).toVector

    /** Distributed pretoken histogram cut to the top `vocabWords` types.
      * The GPT-2 split regex runs as `regexp_extract_all` directly behind
      * the scan — map-side, codegen'd, no UDF.
      */
    def pretokenHistogram(docs: DataFrame, textCol: String,
                          vocabWords: Int): DataFrame =
      docs.select(explode(
          regexp_extract_all(col(textCol), lit(PretokenPattern), lit(0)))
          .as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(vocabWords)

    def trainOnCorpus(docs: DataFrame, textCol: String = "text",
                      numMerges: Int = 200,
                      vocabWords: Int = 10000): Seq[(String, String)] = {
      val hist = pretokenHistogram(docs, textCol, vocabWords)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Bpe.train(hist, numMerges, symbols)
    }

    /** GPT-2-style vocabulary over a learned merge table: ids 0..255 are
      * the byte alphabet (in byte order, via the byteToChar mapping),
      * merge products take 256 + rank. Two different merges can in
      * principle produce the same surface string (e.g. (a,bc) and (ab,c)
      * both yield "abc" when both segmentations survive in different
      * words); the FIRST id wins, which keeps encode→id→decode byte-exact
      * because equal strings decode equally.
      */
    def vocabulary(merges: Seq[(String, String)]): Map[String, Int] = {
      val base = (0 until 256).map(b => byteToChar(b).toString -> b)
      val learned = merges.zipWithIndex
        .map { case ((a, b), r) => (a + b) -> (256 + r) }
      (base ++ learned).foldLeft(Map.empty[String, Int]) {
        case (acc, (tok, id)) =>
          if (acc.contains(tok)) acc else acc + (tok -> id)
      }
    }

    /** Invert a vocabulary for decoding (first-id-wins is already applied
      * by `vocabulary`, so this is a bijection on the retained ids).
      */
    def inverse(vocab: Map[String, Int]): Map[Int, String] =
      vocab.map(_.swap)

    def encodeTextToIds(text: String, ranks: Map[(String, String), Int],
                        vocab: Map[String, Int]): Vector[Int] =
      encodeText(text, ranks).map(vocab)

    def decodeIds(ids: Seq[Int], inv: Map[Int, String]): String =
      decode(ids.map(inv))

    /** Per-document token-id sequences under a FROZEN vocabulary — the
      * artifact a training pipeline actually ships (production tokenizers
      * train once, freeze, and apply to every new batch; retraining per
      * batch would silently shift every id). Map-only; the merge ranks and
      * vocabulary ride the encode closure.
      */
    def encodeToIds(docs: DataFrame, merges: Seq[(String, String)],
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
      val spark = docs.sparkSession
      import spark.implicits._
      val ranks = merges.zipWithIndex.toMap
      val vocab = vocabulary(merges)
      docs.select(col(idCol).cast("long"), col(textCol))
        .as[(Long, String)]
        .map { case (id, text) =>
          val ids = encodeTextToIds(text, ranks, vocab)
          (id, ids.length.toLong, ids)
        }.toDF(idCol, "n_tokens", "token_ids")
    }

    /** Per-document byte-level token count next to the raw byte count —
      * the context-window statistic for a real model's tokenizer. Map-only;
      * merge ranks ride the encode closure.
      */
    def tokenCounts(docs: DataFrame, merges: Seq[(String, String)],
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
      val spark = docs.sparkSession
      import spark.implicits._
      val ranks = merges.zipWithIndex.toMap
      docs.select(col(idCol).cast("long"), col(textCol))
        .as[(Long, String)]
        .map { case (id, text) =>
          (id, text.getBytes("UTF-8").length.toLong,
            encodeText(text, ranks).length.toLong)
        }.toDF(idCol, "n_bytes", "n_byte_bpe_tokens")
    }
  }
}
