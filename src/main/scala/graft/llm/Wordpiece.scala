package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** WordPiece tokenization (Schuster & Nakajima 2012; the BERT tokenizer) —
  * the third member of the engine's subword family next to [[Bpe]]
  * (frequency-greedy merges) and [[Unigram]] (EM-pruned piece LM).
  * WordPiece differs from BPE on BOTH halves of the contract:
  *
  *   - TRAINING picks the merge maximizing the likelihood gain
  *     score(a,b) = count(ab) / (count(a)·count(b)) — pair frequency
  *     normalized by its parts' frequencies — so a pair of rare symbols
  *     that always co-occur beats a pair of common symbols that
  *     co-occur incidentally (the opposite of BPE's raw-count pick).
  *     Scores are compared as exact cross-multiplied BigInt rationals —
  *     no float ordering anywhere in training.
  *   - ENCODING ignores merge order entirely: greedy longest-match-first
  *     against the FINAL vocabulary (continuations carry the `##`
  *     prefix), emitting `[UNK]` when no prefix matches — the
  *     WordPiece/BERT inference rule.
  *
  * Scale shape is the [[Bpe]] recipe verbatim: the corpus stage is one
  * distributed word histogram (the sufficient statistic), training is
  * bounded driver work over the top-V types, and application is a
  * map-only encode with the broadcast vocabulary.
  */
object Wordpiece {

  val Unk = "[UNK]"

  /** A FROZEN WordPiece vocabulary — the production deployment shape
    * (BERT ships vocab.txt; it never retrains at inference). The full
    * [a-z0-9] alphabet (bare + `##` continuation forms) guarantees
    * alnum words never degrade to [UNK]; the multi-char pieces make the
    * longest-match walk non-trivial on this corpus. Pinned as literals
    * so the llm_wordpiece_encode_frozen oracle embeds the SAME table
    * and replays encodeWord's walk exactly.
    */
  val FrozenVocab: Seq[String] = {
    val letters = ('a' to 'z') ++ ('0' to '9')
    val base = letters.map(_.toString) ++ letters.map("##" + _)
    val multi = Seq(
      "jo", "##in", "sc", "##an", "ro", "##ow", "row", "ha", "##sh",
      "co", "##lumn", "fil", "##ter", "cust", "##omer", "ta", "##ble",
      "##er", "key", "str", "##eam", "win", "##dow", "gr", "##oup",
      "ba", "##tch", "val", "##ue", "or", "##der", "da", "##ta",
      "sma", "##ll", "me", "##rge", "sp", "##ark", "ve", "##ctor",
      "li", "##ne", "ag", "##g", "slo", "##w", "pa", "##rt")
    base ++ multi
  }

  /** WordPiece symbols: first codepoint bare, continuations
    * `##`-prefixed. Codepoint-based like [[Bpe]]'s char symbols, so an
    * astral char is one symbol — and [[encodeWord]]'s UTF-16 substring
    * walk stays codepoint-ALIGNED automatically: every vocab piece is a
    * whole-codepoint string, so a match can only end on a codepoint
    * boundary.
    */
  def symbols(word: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    var first = true
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val s = new String(Character.toChars(cp))
      out += (if (first) s else "##" + s)
      first = false
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Merge two adjacent symbols: the right side sheds its `##`. */
  private def join(a: String, b: String): String = a + b.stripPrefix("##")

  /** Learn `numMerges` merges by likelihood-gain score. Returns
    * (merges in learned order, final vocabulary = alphabet + merge
    * outputs). Tie-break: lexicographic pair — total order, so training
    * is deterministic for any histogram.
    */
  def train(wordCounts: Map[String, Long], numMerges: Int)
      : (Seq[(String, String)], Set[String]) = {
    val words = wordCounts.toArray.map { case (w, c) => (symbols(w), c) }
    val seqs = words.map(_._1.to(mutable.ArrayBuffer))
    val counts = words.map(_._2)

    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val symCount = mutable.HashMap.empty[String, Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addPair(p: (String, String), wi: Int, c: Long): Unit = {
      pairCount.updateWith(p)(prev => Some(prev.getOrElse(0L) + c))
      pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
    }
    def dropPair(p: (String, String), c: Long): Unit =
      pairCount.updateWith(p) { prev =>
        val n = prev.getOrElse(0L) - c
        if (n <= 0L) None else Some(n)
      }
    def addSym(s: String, c: Long): Unit =
      symCount.updateWith(s)(prev => Some(prev.getOrElse(0L) + c))
    def dropSym(s: String, c: Long): Unit =
      symCount.updateWith(s) { prev =>
        val n = prev.getOrElse(0L) - c
        if (n <= 0L) None else Some(n)
      }

    for (wi <- seqs.indices) {
      val s = seqs(wi); val c = counts(wi)
      s.foreach(addSym(_, c))
      for (j <- 0 until s.length - 1) addPair((s(j), s(j + 1)), wi, c)
    }
    val alphabet = symCount.keySet.toSet

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges && pairCount.nonEmpty) {
      // argmax of c(ab)/(c(a)c(b)) by exact cross-multiplication
      val best = pairCount.keysIterator.reduce { (p, q) =>
        val sp = BigInt(pairCount(p)) * symCount(q._1) * symCount(q._2)
        val sq = BigInt(pairCount(q)) * symCount(p._1) * symCount(p._2)
        if (sp > sq || (sp == sq &&
            implicitly[Ordering[(String, String)]].lt(p, q))) p
        else q
      }
      merges += best
      val merged = join(best._1, best._2)
      for (wi <- pairWords.getOrElse(best, mutable.Set.empty).toArray) {
        val s = seqs(wi); val c = counts(wi)
        var j = 0
        while (j < s.length - 1) {
          if (s(j) == best._1 && s(j + 1) == best._2) {
            if (j > 0) {
              dropPair((s(j - 1), s(j)), c)
              addPair((s(j - 1), merged), wi, c)
            }
            if (j + 2 < s.length) {
              dropPair((s(j + 1), s(j + 2)), c)
              addPair((merged, s(j + 2)), wi, c)
            }
            dropPair(best, c)
            dropSym(best._1, c); dropSym(best._2, c)
            addSym(merged, c)
            s.remove(j + 1)
            s(j) = merged
          } else j += 1
        }
      }
      pairCount.remove(best)
      pairWords.remove(best)
    }
    (merges.toSeq, alphabet ++ merges.map { case (a, b) => join(a, b) })
  }

  /** Greedy longest-match-first encode against the final vocabulary —
    * the WordPiece inference rule. A word with an uncoverable remainder
    * encodes as the single `[UNK]` token (the BERT behavior: the WHOLE
    * word degrades, not just the bad span).
    */
  def encodeWord(word: String, vocab: Set[String]): Vector[String] = {
    if (word.isEmpty) return Vector.empty
    val out = mutable.ArrayBuffer.empty[String]
    var start = 0
    while (start < word.length) {
      val prefix = if (start == 0) "" else "##"
      var end = word.length
      var found: String = null
      while (end > start && found == null) {
        val cand = prefix + word.substring(start, end)
        if (vocab.contains(cand)) found = cand else end -= 1
      }
      if (found == null) return Vector(Unk)
      out += found
      start = end
    }
    out.toVector
  }

  /** Frozen-vocabulary corpus encode to (idCol, pos, piece) rows — the
    * WordPiece member of the frozen-tokenizer family next to
    * [[Bpe.encodeFrozen]]; same word-type-encode-once scale shape
    * (TextFeatures.encodeByWordType). Engine-portable for ANY input:
    * the vocabulary is pure-ASCII, and encodeWord degrades to a
    * whole-word [UNK] on the first unmatchable position, so an engine
    * that walks UTF-16 units and one that walks codepoints emit
    * identical rows (every candidate containing a non-ASCII char misses
    * the vocab in both).
    */
  def encodeFrozen(docs: DataFrame, vocab: Seq[String],
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val vset = vocab.toSet
    TextFeatures.encodeByWordType(docs, idCol, textCol)(
      encodeWord(_, vset))
  }

  /** Train on the corpus: histogram -> bounded driver table -> merges +
    * vocabulary (the [[Bpe.trainOnCorpus]] shape).
    */
  def trainOnCorpus(docs: DataFrame, textCol: String = "text",
                    numMerges: Int = 200, vocabWords: Int = 10000)
      : (Seq[(String, String)], Set[String]) = {
    val hist = Bpe.wordHistogram(docs, textCol, vocabWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    train(hist, numMerges)
  }

  /** Per-document WordPiece token count + UNK census — map-only with the
    * broadcast vocabulary, like [[Bpe.tokenCounts]].
    */
  def tokenCounts(docs: DataFrame, vocab: Set[String],
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks: Dataset[(Long, Seq[String])] = docs
      .select(col(idCol).cast("long"),
        TextFeatures.tokens(col(textCol)).as("toks"))
      .as[(Long, Seq[String])]
    toks.map { case (id, ws) =>
      val encoded = ws.map(w => encodeWord(w, vocab))
      (id, ws.length.toLong,
        encoded.iterator.map(_.length.toLong).sum,
        encoded.count(_ == Vector(Unk)).toLong)
    }.toDF(idCol, "n_words", "n_wp_tokens", "n_unk")
  }

  /** Corpus vocabulary report: every vocab entry with its learn position
    * (alphabet entries at -1), the inventory a tokenizer artifact ships.
    */
  def vocabReport(docs: DataFrame, numMerges: Int = 200,
                  textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, vocab) = trainOnCorpus(docs, textCol, numMerges)
    val rankOf = merges.zipWithIndex
      .map { case ((a, b), i) => join(a, b) -> i }.toMap
    vocab.toSeq.sorted
      .map(t => (t, rankOf.getOrElse(t, -1)))
      .toDF("token", "merge_rank")
  }
}
