package graft.llm

import graft.{Op, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-facing LLM-data-pipeline operators over the `documents` and
  * `embeddings` testdata tables.
  *
  * Oracle-parity rules (same discipline as Relational.scala): every double
  * the oracle compares is produced by the same IEEE operation sequence on
  * both sides — sequential array folds, identical literal constants,
  * identical division order; md5 on both sides hashes UTF-8 bytes. Ops whose
  * semantics are approximate (LSH candidate generation) or engine-specific
  * (hash functions) are `noOracle` and verified structurally in the test
  * suite instead.
  */
object LlmOps {

  import TextFeatures.{normSql, toksSql}

  /** Recursive-CTE replay of [[Bpe.train]] — the TRAINING loop itself,
    * not just a frozen walk: the corpus word histogram (top `vocabWords`
    * by count desc, word asc — Bpe.wordHistogram's exact cut) seeds
    * per-word symbol states (chr(31)-joined; the engine's symbols and
    * DuckDB's substr both walk CODEPOINTS, so splits agree on any
    * valid-UTF-8 corpus — the chr(31) separator would only collide with
    * a corpus containing U+001F itself), and each recursion step
    * (a) re-derives the pair census from the CURRENT states — the same
    * numbers the engine maintains incrementally, since its add/drop
    * bookkeeping exactly tracks state contents — (b) picks the max-count
    * pair with the engine's lexicographic (a, b) tie-break, and
    * (c) applies it to every word as a left fold (faithful to the
    * engine's in-word scan because a freshly merged symbol a||b can
    * never equal a, so a fold can never re-merge its own output as a
    * left part). Ends in `bpem(rank, a, b)` — the learned merge table.
    * Recursion stops at `numMerges` or when no pair remains, like the
    * engine's while-guard.
    */
  private def bpeTrainCtes(numMerges: Int, vocabWords: Int): String =
    s"""bw AS (SELECT unnest(toks) AS word
       |      FROM (SELECT $toksSql AS toks FROM documents)),
       |bhist AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM bw
       |  WHERE word <> ''
       |  GROUP BY word ORDER BY cnt DESC, word LIMIT $vocabWords),
       |bst0 AS (
       |  SELECT word, cnt,
       |         array_to_string(list_transform(range(1, length(word) + 1),
       |                                        i -> substr(word, i, 1)),
       |                         chr(31)) || chr(31) || '</w>' AS state
       |  FROM bhist),
       |btr(step, word, cnt, state, ma, mb) AS (
       |  SELECT 0, word, cnt, state, CAST(NULL AS VARCHAR),
       |         CAST(NULL AS VARCHAR)
       |  FROM bst0
       |  UNION ALL
       |  SELECT r.step + 1, r.word, r.cnt,
       |         list_reduce(string_split(r.state, chr(31)),
       |           (acc, x) -> CASE WHEN x = b.b AND (acc = b.a OR
       |                              ends_with(acc, chr(31) || b.a))
       |                       THEN acc || x
       |                       ELSE acc || chr(31) || x END),
       |         b.a, b.b
       |  FROM btr r,
       |       (SELECT a, b FROM (
       |          SELECT syms[j] AS a, syms[j + 1] AS b, sum(cnt) AS tot
       |          FROM (SELECT syms, cnt, unnest(range(1, len(syms))) AS j
       |                FROM (SELECT string_split(state, chr(31)) AS syms,
       |                             cnt
       |                      FROM btr))
       |          GROUP BY 1, 2)
       |        ORDER BY tot DESC, a, b LIMIT 1) b
       |  WHERE r.step < $numMerges),
       |bpem AS (
       |  SELECT CAST(step - 1 AS BIGINT) AS rank, ma AS a, mb AS b
       |  FROM (SELECT DISTINCT step, ma, mb FROM btr WHERE step >= 1))"""
      .stripMargin

  /** Recursive-CTE replay of [[Wordpiece.train]] — same skeleton as
    * [[bpeTrainCtes]] (WordPiece ##-continuation symbols, join strips
    * the ##) but the per-step argmax is the LIKELIHOOD-GAIN score
    * c(ab)/(c(a)·c(b)), which the engine compares as exact BigInt
    * cross-products. SQL has no BigInt ORDER BY key, so the score is
    * keyed by its first two base-2^62 fraction digits in HUGEINT
    * (q1 = ⌊t·2^62/d⌋, q2 = the next digit): two ratios t1/d1 ≠ t2/d2
    * with d ≤ 2^40 differ by ≥ 1/(d1·d2) ≥ 2^-80 > 2^-124, so equal
    * (q1, q2) ⇔ equal ratio — the key is exact for any corpus whose
    * symbol-count products stay under 2^40 (12 orders of magnitude
    * above this one). Symbol counts are re-derived per step from the
    * states, mirroring the engine's incremental bookkeeping. Ends in
    * `wpm(rank, a, b, joined)` plus `wst0` (whose states carry the
    * alphabet).
    */
  private def wpTrainCtes(numMerges: Int, vocabWords: Int): String =
    s"""ww AS (SELECT unnest(toks) AS word
       |      FROM (SELECT $toksSql AS toks FROM documents)),
       |whist AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM ww
       |  WHERE word <> ''
       |  GROUP BY word ORDER BY cnt DESC, word LIMIT $vocabWords),
       |wst0 AS (
       |  SELECT word, cnt,
       |         array_to_string(list_transform(range(1, length(word) + 1),
       |           i -> CASE WHEN i = 1 THEN substr(word, i, 1)
       |                     ELSE '##' || substr(word, i, 1) END),
       |           chr(31)) AS state
       |  FROM whist),
       |wtr(step, word, cnt, state, ma, mb) AS (
       |  SELECT 0, word, cnt, state, CAST(NULL AS VARCHAR),
       |         CAST(NULL AS VARCHAR)
       |  FROM wst0
       |  UNION ALL
       |  SELECT r.step + 1, r.word, r.cnt,
       |         list_reduce(string_split(r.state, chr(31)),
       |           (acc, x) -> CASE WHEN x = b.b AND (acc = b.a OR
       |                              ends_with(acc, chr(31) || b.a))
       |                       THEN acc || b.bs
       |                       ELSE acc || chr(31) || x END),
       |         b.a, b.b
       |  FROM wtr r,
       |       (SELECT a, b, regexp_replace(b, '^##', '') AS bs
       |        FROM (
       |          SELECT p.a, p.b,
       |                 (p.tot::HUGEINT * 4611686018427387904)
       |                   // (sa.t::HUGEINT * sb.t) AS q1,
       |                 ((p.tot::HUGEINT * 4611686018427387904)
       |                   % (sa.t::HUGEINT * sb.t)
       |                   * 4611686018427387904)
       |                   // (sa.t::HUGEINT * sb.t) AS q2
       |          FROM (SELECT syms[j] AS a, syms[j + 1] AS b,
       |                       sum(cnt) AS tot
       |                FROM (SELECT syms, cnt,
       |                             unnest(range(1, len(syms))) AS j
       |                      FROM (SELECT string_split(state, chr(31))
       |                                     AS syms, cnt
       |                            FROM wtr))
       |                GROUP BY 1, 2) p
       |          JOIN (SELECT sym, sum(cnt) AS t
       |                FROM (SELECT cnt,
       |                             unnest(string_split(state, chr(31)))
       |                               AS sym
       |                      FROM wtr)
       |                GROUP BY 1) sa ON sa.sym = p.a
       |          JOIN (SELECT sym, sum(cnt) AS t
       |                FROM (SELECT cnt,
       |                             unnest(string_split(state, chr(31)))
       |                               AS sym
       |                      FROM wtr)
       |                GROUP BY 1) sb ON sb.sym = p.b)
       |        ORDER BY q1 DESC, q2 DESC, a, b LIMIT 1) b
       |  WHERE r.step < $numMerges),
       |wpm AS (
       |  SELECT CAST(step - 1 AS BIGINT) AS rank, ma AS a, mb AS b,
       |         ma || regexp_replace(mb, '^##', '') AS joined
       |  FROM (SELECT DISTINCT step, ma, mb FROM wtr WHERE step >= 1))"""
      .stripMargin

  /** The Viterbi DP recursion `name(word, i, sc, bk, np)`: one position
    * per step, carrying score/backpointer/piece-count lists, over the
    * words of `wordsRel` and the pieces of `model` (a relation aliased
    * `m` with columns piece, lp). `zero` is the seed score literal, which
    * fixes the score type (DOUBLE for trained models, BIGINT for the
    * integer-valued frozen model).
    */
  private def viterbiDpCte(name: String, wordsRel: String, model: String,
                           zero: String): String =
    s"""$name(word, i, sc, bk, np) AS (
       |  SELECT word, CAST(0 AS BIGINT), [$zero],
       |         [CAST('' AS VARCHAR)], [CAST(0 AS BIGINT)]
       |  FROM $wordsRel
       |  UNION ALL
       |  SELECT word, i, list_append(sc, s), list_append(bk, piece),
       |         list_append(np, k)
       |  FROM (
       |    SELECT c.word, c.i, c.sc, c.bk, c.np, c.s, c.piece, c.k,
       |           row_number() OVER (PARTITION BY c.word ORDER BY
       |             (CASE WHEN c.s IS NULL THEN 1 ELSE 0 END),
       |             c.s DESC, c.k ASC, c.piece ASC) AS rn
       |    FROM (
       |      SELECT s0.word, s0.i, s0.sc, s0.bk, s0.np,
       |             CASE WHEN s0.len = 0 THEN NULL
       |                  ELSE s0.sc[s0.i - s0.len + 1] + m.lp END AS s,
       |             CASE WHEN s0.len = 0 THEN NULL
       |                  ELSE m.piece END AS piece,
       |             CASE WHEN s0.len = 0 THEN NULL
       |                  ELSE s0.np[s0.i - s0.len + 1] + 1 END AS k
       |      FROM (
       |        SELECT word, i + 1 AS i, sc, bk, np,
       |               unnest(range(0, least(6, i + 1) + 1)) AS len,
       |               substr(word,
       |                      CAST(i + 1 AS INT) - CAST(len AS INT) + 1,
       |                      CAST(len AS INT)) AS cand
       |        FROM $name WHERE i < length(word)) s0
       |      LEFT JOIN $model ON s0.len > 0 AND m.piece = s0.cand
       |      WHERE s0.len = 0
       |         OR (m.piece IS NOT NULL
       |             AND s0.sc[s0.i - s0.len + 1] IS NOT NULL)) c) z
       |  WHERE z.rn = 1)""".stripMargin

  /** Viterbi DP + backtrack CTE group (the llm_unigram_encode_frozen
    * machinery, generalized over its inputs): best segmentation of every
    * word in `wordsRel(word, …)` under the piece scores of
    * `modelRel(piece, lp)`. Emits `uus$sfx` (the DP recursion carrying
    * score/backpointer/piece-count lists, advancing one position per
    * step), `uok$sfx(word, bk)` (words that reached the end — every
    * other word is unsegmentable, exactly viterbi's Nil), and
    * `ubt$sfx(word, pos)` (the backpointer walk: the piece consumed at
    * a row is `bk[pos + 1]`). With a FLOAT model the replay stays exact
    * because every score is a fixed-order sum of ln values DuckDB and
    * the JVM agree on bit-for-bit (java.lang.Math.log ≡ DuckDB ln — the
    * ieee_ln precedent), so even `s == score(i)` ties replay.
    */
  private def unigramViterbiCtes(sfx: String, wordsRel: String,
                                 modelRel: String): String =
    s"""${viterbiDpCte(s"uus$sfx", wordsRel, s"$modelRel m",
         "CAST(0.0 AS DOUBLE)")},
       |uok$sfx AS MATERIALIZED (
       |  SELECT word, bk FROM (
       |    SELECT word, i, sc, bk,
       |           row_number() OVER (PARTITION BY word
       |                              ORDER BY i DESC) AS rn
       |    FROM uus$sfx) WHERE rn = 1 AND i = length(word)
       |                    AND sc[length(word) + 1] IS NOT NULL),
       |ubt$sfx(word, pos) AS (
       |  SELECT word, CAST(length(word) AS BIGINT) FROM uok$sfx
       |  UNION ALL
       |  SELECT b.word, b.pos - length(f.bk[b.pos + 1])
       |  FROM ubt$sfx b JOIN uok$sfx f USING (word) WHERE b.pos > 0)"""
      .stripMargin

  /** One hard-EM round k of [[Unigram.train]]: E-step (Viterbi piece
    * counts over the histogram under model k−1 — exact integer sums in
    * DOUBLE) into `uc$k`, then the M-step renorm into `um$k` (counts
    * floored at 0.5 over the model's keyset; the total is a sum of
    * halves, exact in any order, so the engine's hash-order Map sum
    * replays as SQL sum).
    */
  private def unigramEmStep(k: Int): String =
    s"""${unigramViterbiCtes(k.toString, "uhist", s"um${k - 1}")},
       |uc$k AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS DOUBLE) AS c
       |  FROM (SELECT b.word, f.bk[b.pos + 1] AS piece
       |        FROM ubt$k b JOIN uok$k f USING (word)
       |        WHERE b.pos > 0)
       |  JOIN uhist USING (word) GROUP BY piece),
       |um$k AS MATERIALIZED (
       |  SELECT piece,
       |         ln(c / (SELECT sum(greatest(coalesce(c2.c, 0.0), 0.5))
       |                 FROM um${k - 1} m2
       |                 LEFT JOIN uc$k c2 USING (piece))) AS lp
       |  FROM (SELECT m.piece, greatest(coalesce(c.c, 0.0), 0.5) AS c
       |        FROM um${k - 1} m LEFT JOIN uc$k c USING (piece)))"""
      .stripMargin

  /** Full recursive-CTE replay of [[Unigram.train]] — seed substring
    * vocabulary, three hard-EM rounds, the prune E-step, and the final
    * renorm — ending in `umf(piece, lp)`, the trained model, plus
    * `uhist`. Everything the EM touches is either exact-integer
    * arithmetic in doubles (counts, the 0.5-floored totals) or a
    * fixed-order ln/÷/+ chain both engines execute identically, so the
    * MODEL hash-compares float-for-float.
    */
  private def unigramTrainCtes(vocabSize: Int, topWords: Int): String =
    s"""uw AS (SELECT unnest(toks) AS word
       |      FROM (SELECT $toksSql AS toks FROM documents)),
       |uhist AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM uw
       |  GROUP BY word ORDER BY cnt DESC, word LIMIT $topWords),
       |usub AS MATERIALIZED (
       |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |         CAST(sum(cnt) AS BIGINT) AS c
       |  FROM (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS i
       |        FROM uhist),
       |       (SELECT unnest(range(1, 7)) AS l)
       |  WHERE i + l <= length(word) + 1
       |  GROUP BY 1),
       |uchars AS (SELECT piece, c FROM usub WHERE length(piece) = 1),
       |umulti AS (
       |  SELECT piece, c FROM usub WHERE length(piece) > 1
       |  ORDER BY c DESC, piece
       |  LIMIT greatest(0, ${vocabSize * 4} -
       |                    (SELECT count(*) FROM uchars))),
       |useed AS MATERIALIZED (SELECT piece, c FROM uchars
       |          UNION ALL SELECT piece, c FROM umulti),
       |um0 AS MATERIALIZED (
       |  SELECT piece,
       |         ln(CAST(c AS DOUBLE) /
       |            (SELECT CAST(sum(c) AS DOUBLE) FROM useed)) AS lp
       |  FROM useed),
       |${unigramEmStep(1)},
       |${unigramEmStep(2)},
       |${unigramEmStep(3)},
       |${unigramViterbiCtes("4", "uhist", "um3")},
       |uc4 AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS DOUBLE) AS c
       |  FROM (SELECT b.word, f.bk[b.pos + 1] AS piece
       |        FROM ubt4 b JOIN uok4 f USING (word)
       |        WHERE b.pos > 0)
       |  JOIN uhist USING (word) GROUP BY piece),
       |ukeep AS MATERIALIZED (
       |  SELECT piece FROM um0 WHERE length(piece) = 1
       |  UNION
       |  SELECT piece FROM (
       |    SELECT piece FROM uc4 WHERE length(piece) > 1
       |    ORDER BY c DESC, piece
       |    LIMIT greatest(0, $vocabSize -
       |      (SELECT count(*) FROM um0 WHERE length(piece) = 1)))),
       |umf AS MATERIALIZED (
       |  SELECT piece,
       |         ln(c / (SELECT sum(greatest(coalesce(c2.c, 0.0), 0.5))
       |                 FROM ukeep k2
       |                 LEFT JOIN uc4 c2 USING (piece))) AS lp
       |  FROM (SELECT k.piece, greatest(coalesce(c.c, 0.0), 0.5) AS c
       |        FROM ukeep k LEFT JOIN uc4 c USING (piece)))"""
      .stripMargin

  /** Recursive-CTE replay of [[Bpe.ByteLevel.preTokenize]] — the GPT-2
    * pre-tokenizer. Its regex ends in a lookahead (`\\s+(?!\\S)`), which
    * RE2 (DuckDB's engine) cannot express, so the walk hand-rolls the
    * ALTERNATION ORDER instead: one pretoken per recursion step per
    * document, each alternative tried in the pattern's order
    * (contraction literals, ` ?\\p{L}+`, ` ?\\p{N}+`,
    * ` ?[^\\s\\p{L}\\p{N}]+`, then the whitespace rule: a run reaching
    * end-of-text is taken whole, an interior run of n ≥ 2 gives up its
    * last space to the next token — the lookahead's backtrack — and a
    * single interior space falls through to `\\s+`). Byte-exact for any
    * valid-UTF-8 corpus without U+000B ([[requireOracleSafeText]]):
    * DuckDB's substr/length walk codepoints, Java's regex walks
    * codepoints, and \\p{L}/\\p{N}/\\s agree for long-assigned
    * codepoints (the documented Unicode-version contract). Also carries
    * the full 256-entry GPT-2 byte↔char table as `bmap(b, ch)` (bytes
    * printable in latin-1 map to themselves, the 68 others to 256+n in
    * byte order — [[Bpe.ByteLevel.byteToChar]] verbatim) and its
    * list-indexed form `bml(m)` (m[b+1] = ch), which the symbol-init
    * expressions ([[byteSymsSql]]) consume: codepoint → UTF-8 bytes by
    * pure arithmetic → mapped chars. Ends in `ptk(doc_id, wpos, tok)`.
    */
  /** Fail-fast guard for the byte-level oracle family, now narrowed to
    * the ONE codepoint with a proven pre-tokenizer class divergence:
    * U+000B (vertical tab) is `\s` to Java's regex (ASCII `\s` =
    * `[ \t\n\x0B\f\r]`) but NOT to RE2's (`[\t\n\f\r ]`), so the
    * engine's `\s+(?!\S)` rule and the oracle walk's punctuation rule
    * can split a mixed whitespace run differently around it (e.g.
    * `" "` → one Java pretoken, two RE2 pretokens). Everything
    * else — any valid-UTF-8 text, all 256 byte values via multi-byte
    * codepoints — replays exactly: the oracle now carries the full
    * GPT-2 byte table ([[bytePretokCtes]]'s `bmap`), not just the
    * space remap. Remaining documented contract (not guarded, because
    * it is a Unicode-VERSION boundary, not a class boundary): `\p{L}`
    * / `\p{N}` membership of codepoints assigned after the JVM's
    * Unicode data (JDK 17 = Unicode 13.0) may differ from RE2's newer
    * tables; fuzz corpora use long-stable scripts.
    * Pushed-filter + limit(1) — short-circuits on first offender.
    */
  private def requireOracleSafeText(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val bad = docs.filter(col(textCol).contains("\u000B")).limit(1).count()
    require(bad == 0L,
      "byte-level BPE oracle parity excludes U+000B (vertical tab): " +
        "Java \\s includes it, RE2 \\s does not, so the pre-tokenizer " +
        s"replay can split differently. Found one in '$textCol'. The " +
        "engine itself is correct on any bytes.")
    docs
  }

  private val bytePretokCtes: String =
    s"""bmap AS MATERIALIZED (
       |  SELECT b,
       |         CASE WHEN pr THEN chr(CAST(b AS INT))
       |              ELSE chr(CAST(255 + row_number()
       |                     OVER (PARTITION BY pr ORDER BY b) AS INT))
       |         END AS ch
       |  FROM (SELECT b, (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
       |                  OR (b BETWEEN 174 AND 255) AS pr
       |        FROM range(0, 256) t(b))),
       |bml AS MATERIALIZED (SELECT list(ch ORDER BY b) AS m FROM bmap),
       |bd AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |bwk(doc_id, pos, wpos, tok) AS (
       |  SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
       |         CAST(NULL AS VARCHAR)
       |  FROM bd
       |  UNION ALL
       |  SELECT q.doc_id, q.pos + length(q.tok), q.wpos + 1, q.tok
       |  FROM (
       |    SELECT w.doc_id, w.pos, w.wpos,
       |      CASE
       |        WHEN substr(s, 1, 2) = chr(39) || 's' THEN chr(39) || 's'
       |        WHEN substr(s, 1, 2) = chr(39) || 't' THEN chr(39) || 't'
       |        WHEN substr(s, 1, 3) = chr(39) || 're' THEN chr(39) || 're'
       |        WHEN substr(s, 1, 3) = chr(39) || 've' THEN chr(39) || 've'
       |        WHEN substr(s, 1, 2) = chr(39) || 'm' THEN chr(39) || 'm'
       |        WHEN substr(s, 1, 3) = chr(39) || 'll' THEN chr(39) || 'll'
       |        WHEN substr(s, 1, 2) = chr(39) || 'd' THEN chr(39) || 'd'
       |        WHEN regexp_extract(s, '^ ?\\p{L}+') <> ''
       |          THEN regexp_extract(s, '^ ?\\p{L}+')
       |        WHEN regexp_extract(s, '^ ?\\p{N}+') <> ''
       |          THEN regexp_extract(s, '^ ?\\p{N}+')
       |        WHEN regexp_extract(s, '^ ?[^\\s\\p{L}\\p{N}]+') <> ''
       |          THEN regexp_extract(s, '^ ?[^\\s\\p{L}\\p{N}]+')
       |        WHEN w.pos + length(regexp_extract(s, '^\\s+')) > n.n
       |          THEN regexp_extract(s, '^\\s+')
       |        WHEN length(regexp_extract(s, '^\\s+')) >= 2
       |          THEN substr(regexp_extract(s, '^\\s+'), 1,
       |                 CAST(length(regexp_extract(s, '^\\s+')) - 1
       |                      AS INT))
       |        ELSE substr(s, 1, 1)
       |      END AS tok
       |    FROM bwk w
       |    JOIN bd n ON n.doc_id = w.doc_id
       |    CROSS JOIN LATERAL
       |      (SELECT substr(n.text, CAST(w.pos AS INT)) AS s) sub
       |    WHERE w.pos <= n.n
       |  ) q),
       |ptk AS MATERIALIZED (
       |  SELECT doc_id, wpos - 1 AS wpos, tok FROM bwk WHERE wpos >= 1)"""
      .stripMargin

  /** Symbol-init list of a pretoken under the FULL GPT-2 byte table:
    * each codepoint of `wordExpr` → its UTF-8 bytes by pure integer
    * arithmetic (no encode()/BLOB round-trip — byte-extraction on
    * BLOBs has no per-byte integer accessor in DuckDB SQL) → each byte
    * through `bml.m`. The enclosing FROM must include `bml`. Matches
    * [[Bpe.ByteLevel.symbols]] (`getBytes("UTF-8")` then byteToChar)
    * for every valid-UTF-8 string, non-BMP included: DuckDB's
    * substr/unicode walk codepoints, and a surrogate pair is one
    * codepoint on the JVM side too (getBytes encodes the pair as one
    * 4-byte sequence).
    */
  private def byteSymsSql(wordExpr: String): String =
    s"""list_transform(
       |  flatten(list_transform(
       |    list_transform(range(1, length($wordExpr) + 1),
       |                   i -> unicode(substr($wordExpr, CAST(i AS INT), 1))),
       |    cp -> CASE
       |      WHEN cp < 128 THEN [cp]
       |      WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
       |      WHEN cp < 65536 THEN [224 + cp // 4096,
       |                            128 + (cp // 64) % 64, 128 + cp % 64]
       |      ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64,
       |            128 + (cp // 64) % 64, 128 + cp % 64] END)),
       |  b -> m[CAST(b AS INT) + 1])""".stripMargin

  /** Byte-level BPE training replay: [[bytePretokCtes]] feeds the same
    * merge recursion as [[bpeTrainCtes]] but with the GPT-2 byte
    * alphabet — every pretoken's symbols come from the full 256-entry
    * byte table via [[byteSymsSql]] (space → U+0120 'Ġ', newline →
    * U+010A, multi-byte codepoints → one symbol per UTF-8 byte), and
    * there is NO end-of-word sentinel (the leading-space convention
    * owns boundaries). The chr(31) state separator stays collision-free
    * on any input: 0x1F is non-printable, so the mapped alphabet never
    * contains it. Merge tie-breaks compare mapped symbols — all BMP
    * chars ≤ U+0143 and concatenations thereof, where the engine's
    * UTF-16 Ordering, codepoint order, and DuckDB's UTF-8 memcmp
    * coincide. Ends in `ybm(rank, a, b)` over the top-`vocabWords`
    * pretoken histogram.
    */
  private def byteBpeTrainCtes(numMerges: Int, vocabWords: Int): String =
    s"""yhist AS MATERIALIZED (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM ptk
       |  GROUP BY tok ORDER BY cnt DESC, tok LIMIT $vocabWords),
       |yst0 AS (
       |  SELECT word, cnt,
       |         array_to_string(${byteSymsSql("word")},
       |           chr(31)) AS state
       |  FROM yhist, bml),
       |ytr(step, word, cnt, state, ma, mb) AS (
       |  SELECT 0, word, cnt, state, CAST(NULL AS VARCHAR),
       |         CAST(NULL AS VARCHAR)
       |  FROM yst0
       |  UNION ALL
       |  SELECT r.step + 1, r.word, r.cnt,
       |         list_reduce(string_split(r.state, chr(31)),
       |           (acc, x) -> CASE WHEN x = b.b AND (acc = b.a OR
       |                              ends_with(acc, chr(31) || b.a))
       |                       THEN acc || x
       |                       ELSE acc || chr(31) || x END),
       |         b.a, b.b
       |  FROM ytr r,
       |       (SELECT a, b FROM (
       |          SELECT syms[j] AS a, syms[j + 1] AS b, sum(cnt) AS tot
       |          FROM (SELECT syms, cnt, unnest(range(1, len(syms))) AS j
       |                FROM (SELECT string_split(state, chr(31)) AS syms,
       |                             cnt
       |                      FROM ytr))
       |          GROUP BY 1, 2)
       |        ORDER BY tot DESC, a, b LIMIT 1) b
       |  WHERE r.step < $numMerges),
       |ybm AS MATERIALIZED (
       |  SELECT CAST(step - 1 AS BIGINT) AS rank, ma AS a, mb AS b
       |  FROM (SELECT DISTINCT step, ma, mb FROM ytr WHERE step >= 1))"""
      .stripMargin

  /** Greedy byte-level encode walk of every DISTINCT corpus pretoken
    * under the learned merge table `ybm` (rank < `maxRank` — greedy
    * merges are prefix-stable, so one trainer serves several merge
    * budgets): the llm_bpe_encode_frozen walk with byte symbols and no
    * alphabet gate. Ends in `yfin$sfx(word, syms)`.
    */
  private def byteEncodeCtes(sfx: String, maxRank: Int): String =
    s"""yenc$sfx(step, word, syms) AS (
       |  SELECT 0, word,
       |         ${byteSymsSql("word")}
       |  FROM (SELECT DISTINCT tok AS word FROM ptk), bml
       |  UNION ALL
       |  SELECT t.step + 1, t.word,
       |         list_concat(list_concat(
       |             list_slice(t.syms, 1, t.bj - 1),
       |             [t.syms[t.bj] || t.syms[t.bj + 1]]),
       |           list_slice(t.syms, t.bj + 2, len(t.syms)))
       |  FROM (
       |    SELECT p.step, p.word, p.syms,
       |           CAST(min({'r': p.r, 'j': p.j}).j AS INT) AS bj
       |    FROM (
       |      SELECT s.step, s.word, s.syms, s.j, m.rank AS r
       |      FROM (SELECT step, word, syms,
       |                   unnest(range(1, len(syms))) AS j FROM yenc$sfx) s
       |      JOIN ybm m ON m.rank < $maxRank AND m.a = s.syms[s.j]
       |                AND m.b = s.syms[s.j + 1]) p
       |    GROUP BY p.step, p.word, p.syms) t),
       |yfin$sfx AS MATERIALIZED (
       |  SELECT word, syms FROM (
       |    SELECT word, syms,
       |           row_number() OVER (PARTITION BY word
       |                              ORDER BY step DESC) AS rn
       |    FROM yenc$sfx) WHERE rn = 1)""".stripMargin

  /** Shared DuckDB replay of CorpusQuality.perplexity — the add-one
    * bigram LM scored in the log domain; ends in
    * `ppl(doc_id, n_bigrams, log_ppl)`. text_perplexity and
    * llm_ppl_filter both build on it.
    */
  private val perplexityCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |occ AS (
       |  SELECT doc_id, i, toks[i+1] AS w1,
       |         concat_ws(' ', toks[i+1], toks[i+2]) AS bigram
       |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
       |        FROM toks WHERE len(toks) >= 2)),
       |c12 AS (SELECT bigram, count(*) AS c12 FROM occ GROUP BY 1),
       |c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY 1),
       |v AS (SELECT count(DISTINCT tok) AS v
       |      FROM (SELECT unnest(toks) AS tok FROM toks)),
       |scored AS (
       |  SELECT occ.doc_id, occ.i,
       |         ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) AS lnp
       |  FROM occ JOIN c12 USING (bigram) JOIN c1 USING (w1), v),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |         list_reduce(list_prepend(0.0, list(lnp ORDER BY i)),
       |                     (a, b) -> a + b) AS s
       |  FROM scored GROUP BY doc_id),
       |ppl AS (
       |  SELECT doc_id, n_bigrams, -(s / n_bigrams) AS log_ppl FROM agg)"""
      .stripMargin
  private val stopSql =
    "['the', 'a', 'of', 'and', 'to', 'in', 'is']"

  /** Shared DuckDB replay of TextFeatures.winnowFingerprints through
    * `m(doc_id, fp, pos)` — both winnowing entries build on it so the
    * selection rule cannot drift between them.
    */
  private val winnowCte: String =
    s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         list_transform(range(1, greatest(length(norm) - 6, 1)),
       |           i -> md5(substr(norm, i, 8))) AS hs
       |  FROM n),
       |w AS (SELECT doc_id, hs, len(hs) AS ng FROM g WHERE len(hs) >= 4),
       |f AS (SELECT doc_id, hs, unnest(range(1, ng - 2)) AS j FROM w),
       |m AS (
       |  SELECT doc_id,
       |         list_aggregate(hs[j:j+3], 'min') AS fp,
       |         j + 4 - list_position(list_reverse(hs[j:j+3]),
       |             list_aggregate(hs[j:j+3], 'min')) AS pos
       |  FROM f)""".stripMargin

  /** Shared DuckDB replay of Mixing.dsirWeights (B = 512, target =
    * lang='en'): CTEs through `agg(doc_id, n_grams, log_w)`. Both DSIR
    * entries build on it so the weight definition cannot drift between
    * them.
    */
  private val dsirAggSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang = 'en' AS is_target, $toksSql AS toks
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, is_target,
       |         unnest(list_concat(toks,
       |           list_transform(range(0, len(toks) - 1),
       |             i -> concat_ws(' ', toks[i+1], toks[i+2])))) AS gram
       |  FROM toks),
       |occ AS (
       |  SELECT doc_id, is_target,
       |         CAST(CAST('0x' || substr(md5(gram), 1, 6) AS BIGINT) % 512
       |              AS INT) AS bucket
       |  FROM grams),
       |dbuck AS (
       |  SELECT doc_id, is_target, bucket, count(*) AS n
       |  FROM occ GROUP BY 1, 2, 3),
       |bstats AS (
       |  SELECT bucket,
       |         CAST(sum(CASE WHEN is_target THEN n ELSE 0 END) AS BIGINT)
       |           AS ct,
       |         CAST(sum(n) AS BIGINT) AS cr
       |  FROM dbuck GROUP BY 1),
       |tots AS (
       |  SELECT CAST(sum(ct) AS BIGINT) AS tt,
       |         CAST(sum(cr) AS BIGINT) AS tr FROM bstats),
       |lam AS (
       |  SELECT bucket,
       |         CAST(round(ln(CAST((ct + 1) * (tr + 512) AS DOUBLE) /
       |                       CAST((cr + 1) * (tt + 512) AS DOUBLE))
       |                    * 1073741824.0) AS BIGINT) AS lam_fx
       |  FROM bstats, tots),
       |agg AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
       |         CAST(CAST(sum(n * lam_fx) AS BIGINT) AS DOUBLE)
       |           / 1073741824.0 AS log_w
       |  FROM dbuck JOIN lam USING (bucket) GROUP BY 1)""".stripMargin

  /** The toks/sh/sigs/bands CTE chain of the PORTABLE MinHash near-dup
    * pipeline (md5 string hashes — see Dedup.minhashSignatures), shared
    * by the self-join and the incremental (new-batch-vs-index) oracles.
    * Generated, not hand-written: the k signature expressions mirror the
    * Spark builder loop exactly, so the two can only drift if the
    * parameters drift.
    */
  private def minhashBandsCtes(bands: Int, rows: Int, from: String): String = {
    val k = bands * rows
    // hash h = 4-hex-char slice h%8 of md5("(h/8):shingle"), mirroring
    // the portable minhashSignatures' md5-slicing exactly
    val sigArr = (0 until k).map { h =>
      s"list_aggregate(list_transform(sh, s -> " +
        s"substr(md5(concat('${h / 8}:', s)), ${(h % 8) * 4 + 1}, 4)), 'min')"
    }.mkString("[", ",\n      ", "]")
    val bandCols = (1 to rows).map(j => s"sig[b.range*$rows+$j]").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, $toksSql AS toks FROM $from),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |      ELSE list_transform(range(0, len(toks) - 2),
       |        i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) END) AS sh
       |  FROM toks),
       |sigs AS (SELECT doc_id, sh, $sigArr AS sig FROM sh),
       |bands AS (
       |  SELECT doc_id, b.range AS band,
       |         md5(concat_ws('|', $bandCols)) AS band_sig
       |  FROM sigs, range(0, $bands) b)""".stripMargin
  }

  private def minhashOracleSql(bands: Int, rows: Int, threshold: Double,
                               from: String = "documents"): String =
    s"""WITH ${minhashBandsCtes(bands, rows, from)},
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_sig = y.band_sig
       |   AND x.doc_id < y.doc_id)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b)
       |WHERE jaccard >= $threshold""".stripMargin

  /** Incremental variant: candidates cross a NEW batch (doc_id % mod = 0)
    * against the indexed CORPUS (doc_id % mod <> 0) instead of self-joining.
    */
  private def incrementalMinhashOracleSql(bands: Int, rows: Int,
                                          threshold: Double,
                                          mod: Int): String =
    s"""WITH ${minhashBandsCtes(bands, rows, "documents")},
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_sig = y.band_sig
       |  WHERE x.doc_id % $mod = 0 AND y.doc_id % $mod <> 0)
       |SELECT new_id, corpus_id, jaccard FROM (
       |  SELECT c.new_id, c.corpus_id,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.new_id
       |  JOIN sh b ON b.doc_id = c.corpus_id)
       |WHERE jaccard >= $threshold""".stripMargin

  // --- shared hyperplane-replay SQL builders (DuckDB dialect) -----------
  // The hyperplanes are deterministic driver-side literals (splitmix64 of
  // (table, plane, dim) — Similarity.hyperplane), so the oracle embeds THE
  // SAME literal arrays; dot products are sequential folds on both sides
  // (the knn_cosine precedent proves bit-exactness), so bucket assignment,
  // candidates, cosine scores, and ranks all replay exactly.

  private def lstSql(a: Seq[Double]) =
    a.map(_.toString).mkString("[", ", ", "]")

  private def hyperDotSql(vec: String, h: Seq[Double], dim: Int) =
    s"list_aggregate(list_transform(range(1, ${dim + 1}), " +
      s"i -> CAST($vec[i] AS DOUBLE) * (${lstSql(h)})[i]), 'sum')"

  private def bucketSql(t: Int, planes: Int, dim: Int) = (0 until planes)
    .map { p =>
      s"(CASE WHEN ${hyperDotSql("embedding", Similarity.hyperplane(t, p, dim), dim)} >= 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n      + ")

  /** One row per (vector, table) with its packed bucket signature. */
  private def bucketedSql(planes: Int, tables: Int, dim: Int) =
    (0 until tables).map(t =>
      s"SELECT vec_id, $t AS tbl,\n      ${bucketSql(t, planes, dim)} AS bucket FROM embeddings")
      .mkString("\n  UNION ALL\n  ")

  private def vecNormSql(vec: String, dim: Int) =
    s"sqrt(list_aggregate(list_transform(range(1, ${dim + 1}), " +
      s"i -> CAST($vec[i] AS DOUBLE) * CAST($vec[i] AS DOUBLE)), 'sum'))"

  /** cos(a.embedding, b.embedding) as the same sequential fold the native
    * vec_cosine expression computes.
    */
  private def cosineSql(dim: Int) =
    s"list_aggregate(list_transform(range(1, ${dim + 1}), " +
      s"i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')" +
      s" / (${vecNormSql("a.embedding", dim)} * ${vecNormSql("b.embedding", dim)})"

  /** DuckDB replay of the random-hyperplane near-dup pipeline. */
  private def embedNearDupOracleSql(planes: Int, tables: Int,
                                    threshold: Double, dim: Int): String =
    s"""WITH b AS (
       |  ${bucketedSql(planes, tables, dim)}),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT c.id_a, c.id_b, ${cosineSql(dim)} AS cos
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.id_a
       |  JOIN embeddings b ON b.vec_id = c.id_b)
       |WHERE cos >= $threshold""".stripMargin

  /** DuckDB replay of the FULL pinned-planes LSH ANN pipeline: bucket
    * assignment, self-join candidates, exact-cosine scoring, and the
    * per-query top-k rank — the same hyperplane-literal trick as
    * embedNearDupOracleSql, extended through the ranking tail.
    */
  private def lshKnnOracleSql(planes: Int, tables: Int, k: Int,
                              dim: Int): String =
    s"""WITH b AS (
       |  ${bucketedSql(planes, tables, dim)}),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS vid
       |  FROM b x JOIN b y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket
       |   AND x.vec_id <> y.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.vid, ${cosineSql(dim)} AS sim
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.query_id
       |  JOIN embeddings b ON b.vec_id = c.vid)
       |SELECT query_id, neighbor_id, rank, score FROM (
       |  SELECT query_id, vid AS neighbor_id,
       |         CAST(row_number() OVER (
       |           PARTITION BY query_id ORDER BY sim DESC, vid) AS INT) AS rank,
       |         sim AS score
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** Wrapping 64-bit multiply by a constant in HUGEINT (DuckDB BIGINT
    * errors on overflow instead of wrapping): 32-bit schoolbook split,
    * every intermediate < 2^65. `a` must be a non-negative HUGEINT
    * expression < 2^64 (the unsigned image of the JVM long).
    */
  private def wrapMulSql(a: String, c: Long): String = {
    val cu = BigInt(c) & ((BigInt(1) << 64) - 1)
    val (ch, cl) = (cu >> 32, cu & 0xFFFFFFFFL)
    s"""((($a) % 4294967296) * $cl
       |      + (((($a) % 4294967296) * $ch
       |          + (($a) // 4294967296) * $cl) % 4294967296)
       |        * 4294967296) % 18446744073709551616""".stripMargin
  }

  /** DuckDB replay of the AUTO-SIZED LSH ANN pipeline — the corpus-scaled
    * production path: the plane count is re-derived from count(*) exactly
    * as Similarity.planesFor (bit-length of n/64, clamped to [4, 24]),
    * and the hyperplanes themselves are re-generated IN SQL by replaying
    * the splitmix64 recurrence over (table, plane, dim) in HUGEINT
    * (wrapping multiplies via 32-bit splits, unsigned shifts as floor
    * division, Java floorMod via double-%), so ONE static oracle is
    * exact at every sf — no pinning. Buckets, candidates, cosine scores,
    * and the top-k rank then replay as in lshKnnOracleSql; the per-plane
    * dot folds in index order through the same list_aggregate shape the
    * pinned entry proved.
    */
  private def lshAutoKnnOracleSql(tables: Int, k: Int, dim: Int): String =
    s"""WITH pl AS (
       |  SELECT CAST(least(24, greatest(4,
       |           length(bin(greatest(1, count(*) // 64))))) AS INT) AS p
       |  FROM embeddings),
       |grid AS (
       |  SELECT t.t, p.p, i.i
       |  FROM (SELECT unnest(range($tables)) AS t) t,
       |       (SELECT unnest(range(24)) AS p) p,
       |       (SELECT unnest(range($dim)) AS i) i
       |  WHERE p.p < (SELECT p FROM pl)),
       |z0 AS (
       |  SELECT t, p, i,
       |         (CAST(t AS HUGEINT) * 11400714819323198485
       |          + CAST(p AS HUGEINT) * 14029467366897019727
       |          + CAST(i AS HUGEINT) * 1609587929392839161)
       |           % 18446744073709551616 AS z
       |  FROM grid),
       |s1 AS (SELECT t, p, i, xor(z, z // 1073741824) AS z FROM z0),
       |z1 AS (SELECT t, p, i,
       |       ${wrapMulSql("z", 0xBF58476D1CE4E5B9L)} AS z FROM s1),
       |s2 AS (SELECT t, p, i, xor(z, z // 134217728) AS z FROM z1),
       |z2 AS (SELECT t, p, i,
       |       ${wrapMulSql("z", 0x94D049BB133111EBL)} AS z FROM s2),
       |z3 AS (SELECT t, p, i, xor(z, z // 2147483648) AS z FROM z2),
       |hpl AS (
       |  SELECT t, p,
       |         list((CAST((((CASE WHEN z >= 9223372036854775808
       |                        THEN z - 18446744073709551616
       |                        ELSE z END) % 2000) + 2000) % 2000
       |                    AS DOUBLE) - 1000.0) / 1000.0
       |              ORDER BY i) AS h
       |  FROM z3 GROUP BY 1, 2),
       |b AS (
       |  SELECT e.vec_id, h.t AS tbl,
       |         CAST(sum(CASE WHEN list_aggregate(
       |                  list_transform(range(1, ${dim + 1}),
       |                    i -> CAST(e.embedding[i] AS DOUBLE) * h.h[i]),
       |                  'sum') >= 0
       |               THEN CAST(1 AS BIGINT) << CAST(h.p AS INT)
       |               ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e, hpl h
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS vid
       |  FROM b x JOIN b y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket
       |   AND x.vec_id <> y.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.vid, ${cosineSql(dim)} AS sim
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.query_id
       |  JOIN embeddings b ON b.vec_id = c.vid)
       |SELECT query_id, neighbor_id, rank, score FROM (
       |  SELECT query_id, vid AS neighbor_id,
       |         CAST(row_number() OVER (
       |           PARTITION BY query_id ORDER BY sim DESC, vid) AS INT)
       |           AS rank,
       |         sim AS score
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB replay of the PINNED-CENTROID IVF pipeline plus its recall
    * measurement against the exact cosine top-k. Centroids are the first
    * `nCents` corpus vectors (vec-id order = list index — see
    * Similarity.ivfKnn centroidVecIds), so coarse assignment is an
    * argmin-of-squared-L2 against named rows: plain SQL, no k-means.
    * Distances are the same sequential i-order folds as the pq_encode /
    * pq_adc_table kernels; list ties break to the lowest list index on
    * both sides (strict `<` argmin there, `ORDER BY d, list_id` here).
    */
  /** Shared DuckDB replay of Similarity.kmeansCore (k=8, iters=5, dim=64):
    * the recursive state is (iter, k, i, ci) at dimension granularity; the
    * recursive term joins the corpus once, ranks centroids per vector by
    * (distance, k) with window functions, and aggregates the winning
    * members' integer mean per (k, i) with an any_value carry for empty
    * clusters. Inputs are shifted +2^20 so `//` (floor) and the JVM's
    * truncating division agree on every operand.
    */
  private val kmeansCte: String =
    """WITH RECURSIVE dims AS (SELECT CAST(unnest(range(64)) AS INT) AS i),
      |xq AS (
      |  SELECT vec_id, i,
      |         CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1048576.0 + 0.5)
      |              AS BIGINT) + 1048576 AS xi
      |  FROM embeddings, dims),
      |km(iter, k, i, ci) AS (
      |  SELECT 0, CAST(vec_id AS INT) AS k, i, xi FROM xq WHERE vec_id < 8
      |  UNION ALL
      |  SELECT iter + 1, k, i,
      |         CASE WHEN count(CASE WHEN rnk = 1 THEN 1 END) > 0
      |              THEN CAST(sum(CASE WHEN rnk = 1 THEN xi END) AS BIGINT)
      |                   // count(CASE WHEN rnk = 1 THEN 1 END)
      |              ELSE any_value(ci) END
      |  FROM (
      |    SELECT p.iter, p.k, p.i, p.ci, p.xi,
      |           row_number() OVER (PARTITION BY p.vec_id, p.i
      |                              ORDER BY p.d, p.k) AS rnk
      |    FROM (
      |      SELECT km.iter, km.k, km.i, km.ci, x.vec_id, x.xi,
      |             sum((x.xi - km.ci) * (x.xi - km.ci))
      |               OVER (PARTITION BY x.vec_id, km.k) AS d
      |      FROM km JOIN xq x USING (i)
      |      WHERE km.iter < 5) p)
      |  GROUP BY iter, k, i)""".stripMargin

  /** (n_true, n_found, recall) of the (query_id, neighbor_id) pairs in
    * `found` against those in `truth` — the Spark side of recallTailSql.
    */
  private def recallOf(truth: DataFrame, found: DataFrame): DataFrame = {
    def tagged(df: DataFrame, t: Int) =
      df.select(col("query_id"), col("neighbor_id"),
        lit(t).as("t"), lit(1 - t).as("f"))
    tagged(truth, 1).unionByName(tagged(found, 0))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("t")).as("t"), max(col("f")).as("f"))
      .agg(sum(col("t")).as("n_true"),
        sum(when(col("t") === 1 && col("f") === 1, 1).otherwise(0))
          .as("n_found"))
      .select(col("n_true"), col("n_found"),
        (col("n_found").cast("double") / col("n_true").cast("double"))
          .as("recall"))
  }

  /** The exact top-k neighbours of each of the first nQueries vectors
    * under `order` (an ORDER BY key with its direction; ties break by
    * vec_id), as (query_id, neighbor_id) rows.
    */
  private def topKPairsSql(order: String, nQueries: Int, k: Int): String =
    s"""  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY a.vec_id
       |                              ORDER BY $order, b.vec_id) AS rank
       |    FROM embeddings a, embeddings b
       |    WHERE a.vec_id < $nQueries AND b.vec_id <> a.vec_id)
       |  WHERE rank <= $k""".stripMargin

  /** The tail of every kNN recall oracle: the exact `truth` top-k under
    * `truthOrder`, the neighbours of relation `found` tagged against it,
    * and the (n_true, n_found, recall) row.
    */
  private def recallTailSql(truthOrder: String, found: String,
                            nQueries: Int, k: Int): String =
    s"""truth AS (
       |${topKPairsSql(truthOrder, nQueries, k)}),
       |tagged AS (
       |  SELECT query_id, neighbor_id, max(t) AS t, max(f) AS f FROM (
       |    SELECT query_id, neighbor_id, 1 AS t, 0 AS f FROM truth
       |    UNION ALL SELECT query_id, neighbor_id, 0, 1 FROM $found)
       |  GROUP BY 1, 2)
       |SELECT CAST(sum(t) AS BIGINT) AS n_true,
       |       CAST(sum(CASE WHEN t = 1 AND f = 1 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_found,
       |       CAST(sum(CASE WHEN t = 1 AND f = 1 THEN 1 ELSE 0 END)
       |            AS DOUBLE)
       |         / CAST(sum(t) AS DOUBLE) AS recall
       |FROM tagged""".stripMargin

  /** DuckDB replay of the int8-quantization recall harness: quantized
    * codes per quantizeInt8's exact recipe, exact integer-dot top-k on
    * the codes, exact cosine top-k as truth, recall of the overlap.
    */
  private def int8RecallOracleSql(k: Int, nQueries: Int, dim: Int): String = {
    val int8Dot =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), " +
        s"i -> a.qv[i] * b.qv[i]), 'sum')"
    s"""WITH v0 AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
       |  FROM embeddings),
       |v AS (
       |  SELECT vec_id, list_transform(v0, x -> x / nrm) AS v
       |  FROM (SELECT vec_id, v0,
       |               sqrt(list_aggregate(
       |                 list_transform(range(1, ${dim + 1}),
       |                                i -> v0[i] * v0[i]), 'sum')) AS nrm
       |        FROM v0)),
       |q AS (
       |  SELECT vec_id, s,
       |         list_transform(range(0, len(v)), i ->
       |           CASE WHEN s = 0 THEN 0
       |                ELSE GREATEST(-127, LEAST(127,
       |                       CAST(floor(v[i+1] * 127.0 / s + 0.5) AS INT)))
       |           END) AS qv
       |  FROM (SELECT vec_id, v,
       |               list_max(list_transform(v, x -> abs(x))) AS s FROM v)),
       |int8 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY a.vec_id
       |                              ORDER BY (CAST($int8Dot AS DOUBLE)
       |                                        * a.s) * b.s DESC, b.vec_id)
       |             AS rank
       |    FROM q a, q b
       |    WHERE a.vec_id < $nQueries AND b.vec_id <> a.vec_id)
       |  WHERE rank <= $k),
       |${recallTailSql(s"${cosineSql(dim)} DESC", "int8", nQueries, k)}""".stripMargin
  }

  private def ivfRecallOracleSql(nCents: Int, nprobe: Int, k: Int,
                                 nQueries: Int, dim: Int): String = {
    val sqDist =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), " +
        s"i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))" +
        s" * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))," +
        s" 'sum')"
    s"""WITH cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id,
       |         embedding AS ce
       |  FROM embeddings WHERE vec_id < $nCents),
       |dist AS (
       |  SELECT v.vec_id, c.list_id, $sqDist AS d
       |  FROM embeddings v, cents c),
       |assigned AS (
       |  SELECT vec_id, list_id AS list FROM (
       |    SELECT vec_id, list_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY d, list_id) AS rn
       |    FROM dist)
       |  WHERE rn = 1),
       |probed AS (
       |  SELECT vec_id AS query_id, list_id AS list FROM (
       |    SELECT vec_id, list_id,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY d, list_id) AS rn
       |    FROM dist WHERE vec_id < $nQueries)
       |  WHERE rn <= $nprobe),
       |ivf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT s.query_id, s.vid AS neighbor_id,
       |           row_number() OVER (PARTITION BY s.query_id
       |                              ORDER BY s.sim DESC, s.vid) AS rank
       |    FROM (
       |      SELECT p.query_id, n.vec_id AS vid, ${cosineSql(dim)} AS sim
       |      FROM probed p
       |      JOIN assigned n ON n.list = p.list AND n.vec_id <> p.query_id
       |      JOIN embeddings a ON a.vec_id = p.query_id
       |      JOIN embeddings b ON b.vec_id = n.vec_id) s)
       |  WHERE rank <= $k),
       |${recallTailSql(s"${cosineSql(dim)} DESC", "ivf", nQueries, k)}""".stripMargin
  }

  /** DuckDB replay of the PINNED-CODEBOOK PQ-ADC pipeline plus its recall
    * measurement against the exact squared-L2 top-k (PQ's native metric).
    * Subspace j's codewords are the j-th subvectors of corpus vectors
    * [cwLo, cwHi) in vec-id order (Similarity.pqKnn codebookVecIds), so
    * encoding is an argmin of sequential-fold squared L2 per subspace and
    * the ADC score is a j-ORDERED fold of table lookups — both mirror the
    * pq_encode/pq_adc_table/pq_adc_score kernels' accumulation order
    * bit-for-bit; codeword ties break to the lowest index on both sides.
    */
  private def pqRecallOracleSql(cwLo: Int, cwHi: Int, m: Int, k: Int,
                                nQueries: Int, dim: Int): String = {
    val dsub = dim / m
    val subDist =
      s"list_aggregate(list_transform(range(1, ${dsub + 1}), " +
        s"i -> (CAST(v.embedding[s.j * $dsub + i] AS DOUBLE)" +
        s" - CAST(c.ce[s.j * $dsub + i] AS DOUBLE))" +
        s" * (CAST(v.embedding[s.j * $dsub + i] AS DOUBLE)" +
        s" - CAST(c.ce[s.j * $dsub + i] AS DOUBLE))), 'sum')"
    val exactSq =
      s"list_aggregate(list_transform(range(1, ${dim + 1}), " +
        s"i -> (CAST(a.embedding[i] AS DOUBLE)" +
        s" - CAST(b.embedding[i] AS DOUBLE))" +
        s" * (CAST(a.embedding[i] AS DOUBLE)" +
        s" - CAST(b.embedding[i] AS DOUBLE))), 'sum')"
    s"""WITH cw AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw,
       |         embedding AS ce
       |  FROM embeddings WHERE vec_id >= $cwLo AND vec_id < $cwHi),
       |sub AS (SELECT j FROM range(0, $m) t(j)),
       |subdist AS (
       |  SELECT v.vec_id, s.j, c.cw, $subDist AS d
       |  FROM embeddings v, sub s, cw c),
       |codes AS (
       |  SELECT vec_id, j, cw AS code FROM (
       |    SELECT vec_id, j, cw,
       |           row_number() OVER (PARTITION BY vec_id, j
       |                              ORDER BY d, cw) AS rn
       |    FROM subdist)
       |  WHERE rn = 1),
       |qtab AS (
       |  SELECT vec_id AS query_id, j, cw, d
       |  FROM subdist WHERE vec_id < $nQueries),
       |adc AS (
       |  SELECT q.query_id, c.vec_id AS vid,
       |         list_reduce(list_prepend(0.0, list(q.d ORDER BY q.j)),
       |                     (a, b) -> a + b) AS d
       |  FROM codes c JOIN qtab q ON q.j = c.j AND q.cw = c.code
       |  WHERE c.vec_id <> q.query_id
       |  GROUP BY 1, 2),
       |pq AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, vid AS neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY d ASC, vid) AS rank
       |    FROM adc)
       |  WHERE rank <= $k),
       |${recallTailSql(s"$exactSq ASC", "pq", nQueries, k)}""".stripMargin
  }

  /** DuckDB replay of the PORTABLE SimHash near-dup pipeline (md5 nibble
    * bits, 8x8-bit chunk signature — see Dedup.simhash).
    */
  private def simhashOracleSql(maxHamming: Int): String = {
    val bitSums = (0 until 64).map { b =>
      val nib = s"(strpos('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1)"
      s"sum(CASE WHEN (($nib >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(",\n    ")
    val chunkArr = (0 until 8).map { c =>
      (0 until 8).map(w =>
        s"(CASE WHEN b${c * 8 + w} > 0 THEN ${1 << w} ELSE 0 END)")
        .mkString(" + ")
    }.mkString("[", ",\n      ", "]")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |chunks AS (SELECT doc_id, $chunkArr AS chunks FROM bits),
       |exploded AS (
       |  SELECT doc_id, chunks, c.range AS chunk, chunks[c.range + 1] AS chunk_val
       |  FROM chunks, range(0, 8) c),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |         x.chunks AS ca, y.chunks AS cb
       |  FROM exploded x JOIN exploded y
       |    ON x.chunk = y.chunk AND x.chunk_val = y.chunk_val
       |   AND x.doc_id < y.doc_id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT id_a, id_b,
       |    CAST(list_aggregate(list_transform(range(1, 9),
       |      i -> bit_count(xor(ca[i], cb[i]))), 'sum') AS BIGINT) AS hamming
       |  FROM cand)
       |WHERE hamming <= $maxHamming""".stripMargin
  }

  /** Distinct token n-gram shingles of the materialized `toks` list —
    * mirrors Dedup.shinglesOfTokens for any n (DuckDB dialect).
    */
  private def shSql(n: Int): String = {
    val parts = (1 to n).map(j => s"toks[i+$j]").mkString(", ")
    s"list_distinct(CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]" +
      s" ELSE list_transform(range(0, len(toks) - ${n - 1})," +
      s" i -> concat_ws(' ', $parts)) END)"
  }

  /** Shared by llm_decontaminate and llm_decontaminate_bloom — the bloom
    * path's verify join makes its output bit-identical to the exact path.
    * n = 4: the synth corpus draws from a ~40-word vocabulary where
    * 4-grams are the rare-collision signal (see the op comments).
    */
  private val decontaminateOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, ${shSql(4)} AS sh FROM toks),
       |bench AS (SELECT DISTINCT unnest(sh) AS s FROM sh
       |          WHERE doc_id % 97 = 0),
       |corpus AS (SELECT doc_id, unnest(sh) AS s FROM sh
       |           WHERE doc_id % 97 <> 0)
       |SELECT c.doc_id, count(*) AS n_contaminated
       |FROM corpus c JOIN bench b ON c.s = b.s
       |GROUP BY 1""".stripMargin

  /** DuckDB replay of CorpusPipeline.stageCounts — every stage is an
    * already-proven oracle idiom (llm_doc_verdict's rule conditions,
    * dedup_exact's fingerprint, llm_clean_corpus's nested minhash +
    * component walk, llm_decontaminate's shingle join,
    * mix_temperature_sample's threshold draw, mix_token_budget's
    * draw-ordered running sum, mix_shard_manifest's md5-byte shard),
    * composed over the same funnel. The per-doc `reach` (stages
    * survived) is exploded to its prefix exactly like the engine side,
    * so a stage with zero survivors emits no row on either side.
    */
  private val pipelineE2eOracleSql: String =
    s"""WITH RECURSIVE tt AS (
       |  SELECT doc_id, source, text, n_chars, $toksSql AS toks
       |  FROM documents),
       |d0 AS (SELECT * FROM tt WHERE doc_id % 97 <> 0),
       |bsh AS (
       |  SELECT DISTINCT unnest(${shSql(4)}) AS s FROM tt
       |  WHERE doc_id % 97 = 0),
       |m AS (
       |  SELECT doc_id, n_chars, text,
       |    CAST(len(toks) AS BIGINT) AS n,
       |    CAST(list_aggregate(list_transform(toks, x -> length(x)),
       |                        'sum') AS BIGINT) AS sumlen,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
       |      + CAST((length(text) - length(replace(text, '...', '')))
       |             // 3 AS BIGINT) AS sym,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
       |         AS BIGINT) AS alpha,
       |    list_contains(toks, 'javascript') AS has_js
       |  FROM d0),
       |q AS (
       |  SELECT doc_id FROM m
       |  WHERE n >= 50 AND n <= 100000
       |    AND sumlen >= 3 * n AND sumlen <= 10 * n
       |    AND 10 * sym <= n AND 5 * alpha >= 4 * n
       |    AND NOT contains(lower(text), 'lorem ipsum')
       |    AND NOT contains(text, '{') AND NOT has_js
       |    AND n_chars >= 100 AND n_chars <= 50000),
       |ex AS (
       |  SELECT min(doc_id) AS doc_id FROM d0
       |  WHERE doc_id IN (SELECT doc_id FROM q)
       |  GROUP BY md5($normSql)),
       |base AS (SELECT * FROM d0 WHERE doc_id IN (SELECT doc_id FROM ex)),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    ${minhashOracleSql(bands = 8, rows = 4, threshold = 0.8,
              from = "base").linesIterator.mkString("\n    ")})),
       |${Dedup.componentWalkCtes},
       |losers AS (SELECT DISTINCT node AS doc_id FROM walk
       |           WHERE reach < node),
       |nr AS (SELECT * FROM base
       |       WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
       |cont AS (
       |  SELECT DISTINCT c.doc_id FROM (
       |    SELECT doc_id, unnest(${shSql(4)}) AS s FROM nr) c
       |  JOIN bsh b ON c.s = b.s),
       |cl AS (SELECT * FROM nr
       |       WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |cnt AS (SELECT source, count(*) AS n FROM cl GROUP BY 1),
       |agg AS (
       |  SELECT CAST(sum(n) AS DOUBLE) AS n_total,
       |         list_aggregate(list_transform(
       |           list(CAST(n AS DOUBLE) ORDER BY source), x -> sqrt(x)),
       |           'sum') AS z
       |  FROM cnt),
       |th AS (
       |  SELECT source,
       |         printf('%04x', CAST(floor(
       |           least(0.9999, 0.5 * n_total / z * sqrt(CAST(n AS DOUBLE))
       |                 / CAST(n AS DOUBLE)) * 65536) AS INT)) AS thr
       |  FROM cnt, agg),
       |mx AS (
       |  SELECT cl.* FROM cl JOIN th USING (source)
       |  WHERE substr(md5(concat(cl.source, ':',
       |                          CAST(cl.doc_id AS VARCHAR))), 1, 4)
       |        < th.thr),
       |bud AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntk,
       |           CAST(sum(CAST(len(toks) AS BIGINT)) OVER (
       |             PARTITION BY source
       |             ORDER BY md5(concat(source, ':',
       |                                 CAST(doc_id AS VARCHAR))), doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |             AS BIGINT) AS cum
       |    FROM mx)
       |  WHERE cum - ntk < 200),
       |fin AS (SELECT * FROM mx
       |        WHERE doc_id IN (SELECT doc_id FROM bud)),
       |rch AS (
       |  SELECT d0.doc_id, CAST(len(d0.toks) AS BIGINT) AS nt,
       |    CASE WHEN d0.doc_id NOT IN (SELECT doc_id FROM q) THEN 0
       |         WHEN d0.doc_id NOT IN (SELECT doc_id FROM ex) THEN 1
       |         WHEN d0.doc_id IN (SELECT doc_id FROM losers) THEN 2
       |         WHEN d0.doc_id IN (SELECT doc_id FROM cont) THEN 3
       |         WHEN d0.doc_id NOT IN (SELECT doc_id FROM mx) THEN 4
       |         WHEN d0.doc_id NOT IN (SELECT doc_id FROM bud) THEN 5
       |         ELSE 6 END AS reach
       |  FROM d0),
       |stg AS (
       |  SELECT unnest(range(0, reach + 1)) AS ord, nt FROM rch)
       |SELECT ['0_ingest','1_quality','2_exact_dedup','3_near_dedup',
       |        '4_decontaminate','5_mix','6_budget'][ord + 1] AS stage,
       |       count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM stg GROUP BY 1
       |UNION ALL
       |SELECT concat('7_shard_', CAST(
       |    ((strpos('0123456789abcdef',
       |             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |     + strpos('0123456789abcdef',
       |              substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 8
       |    AS VARCHAR)) AS stage,
       |  count(*) AS n_docs,
       |  CAST(sum(CAST(len(toks) AS BIGINT)) AS BIGINT) AS n_tokens
       |FROM fin GROUP BY 1""".stripMargin

  /** DuckDB replay of CorpusPipeline.incrementalStageCounts — the
    * daily-increment funnel. The near-vs-corpus stage nests the minhash
    * band CTEs over the union of batch survivors and corpus exactly as
    * incrementalMinhashOracleSql does over the mod split (the sides
    * separate on doc_id % batchMod inside `base`).
    */
  private val pipelineIncrOracleSql: String =
    s"""WITH RECURSIVE tt AS (
       |  SELECT doc_id, source, text, n_chars, $toksSql AS toks
       |  FROM documents),
       |bsh AS (
       |  SELECT DISTINCT unnest(${shSql(4)}) AS s FROM tt
       |  WHERE doc_id % 97 = 0),
       |cp AS (SELECT * FROM tt
       |       WHERE doc_id % 97 <> 0 AND doc_id % 10 <> 0),
       |bt AS (SELECT * FROM tt
       |       WHERE doc_id % 97 <> 0 AND doc_id % 10 = 0),
       |m AS (
       |  SELECT doc_id, n_chars, text,
       |    CAST(len(toks) AS BIGINT) AS n,
       |    CAST(list_aggregate(list_transform(toks, x -> length(x)),
       |                        'sum') AS BIGINT) AS sumlen,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
       |      + CAST((length(text) - length(replace(text, '...', '')))
       |             // 3 AS BIGINT) AS sym,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
       |         AS BIGINT) AS alpha,
       |    list_contains(toks, 'javascript') AS has_js
       |  FROM bt),
       |q AS (
       |  SELECT doc_id FROM m
       |  WHERE n >= 50 AND n <= 100000
       |    AND sumlen >= 3 * n AND sumlen <= 10 * n
       |    AND 10 * sym <= n AND 5 * alpha >= 4 * n
       |    AND NOT contains(lower(text), 'lorem ipsum')
       |    AND NOT contains(text, '{') AND NOT has_js
       |    AND n_chars >= 100 AND n_chars <= 50000),
       |cfp AS (SELECT DISTINCT md5($normSql) AS fp FROM cp),
       |ex AS (
       |  SELECT min(doc_id) AS doc_id FROM (
       |    SELECT doc_id, md5($normSql) AS fp FROM bt
       |    WHERE doc_id IN (SELECT doc_id FROM q))
       |  WHERE fp NOT IN (SELECT fp FROM cfp)
       |  GROUP BY fp),
       |base AS (
       |  SELECT doc_id, text FROM bt
       |  WHERE doc_id IN (SELECT doc_id FROM ex)
       |  UNION ALL SELECT doc_id, text FROM cp),
       |hits AS (
       |  SELECT DISTINCT new_id AS doc_id FROM (
       |    WITH ${minhashBandsCtes(bands = 8, rows = 4, from = "base")
                .linesIterator.mkString("\n    ")},
       |    cand AS (
       |      SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
       |      FROM bands x JOIN bands y
       |        ON x.band = y.band AND x.band_sig = y.band_sig
       |      WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0)
       |    SELECT new_id, corpus_id, jaccard FROM (
       |      SELECT c.new_id, c.corpus_id,
       |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |      FROM cand c
       |      JOIN sh a ON a.doc_id = c.new_id
       |      JOIN sh b ON b.doc_id = c.corpus_id)
       |    WHERE jaccard >= 0.8)),
       |nr AS (SELECT doc_id FROM ex
       |       WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
       |nrb AS (SELECT * FROM bt
       |        WHERE doc_id IN (SELECT doc_id FROM nr)),
       |cont AS (
       |  SELECT DISTINCT c.doc_id FROM (
       |    SELECT doc_id, unnest(${shSql(4)}) AS s FROM nrb) c
       |  JOIN bsh b ON c.s = b.s),
       |cl AS (SELECT doc_id FROM nr
       |       WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |rch AS (
       |  SELECT bt.doc_id, CAST(len(bt.toks) AS BIGINT) AS nt,
       |    CASE WHEN bt.doc_id NOT IN (SELECT doc_id FROM q) THEN 0
       |         WHEN bt.doc_id NOT IN (SELECT doc_id FROM ex) THEN 1
       |         WHEN bt.doc_id IN (SELECT doc_id FROM hits) THEN 2
       |         WHEN bt.doc_id IN (SELECT doc_id FROM cont) THEN 3
       |         ELSE 4 END AS reach
       |  FROM bt),
       |stg AS (
       |  SELECT unnest(range(0, reach + 1)) AS ord, nt FROM rch)
       |SELECT ['0_batch','1_quality','2_exact_vs_corpus',
       |        '3_near_vs_corpus','4_decontaminate'][ord + 1] AS stage,
       |       count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM stg GROUP BY 1
       |UNION ALL
       |SELECT concat('5_append_', source) AS stage,
       |       count(*) AS n_docs,
       |       CAST(sum(CAST(len(toks) AS BIGINT)) AS BIGINT) AS n_tokens
       |FROM bt WHERE doc_id IN (SELECT doc_id FROM cl)
       |GROUP BY 1""".stripMargin

  /** Shared DuckDB replay of ContentChunks.chunks (gear-hash CDC) —
    * ends in `cdc(doc_id, chunk_idx, off, len, chunk_md5)`. One byte
    * per recursion step per document; only the low avgBits of the gear
    * state are carried (see the llm_cdc_chunks op comment).
    */
  private def cdcChunkCtes(minLen: Int = 16, avgBits: Int = 6,
                           maxLen: Int = 256): String = {
    val rows = ContentChunks.gearMod(avgBits).zipWithIndex
      .map { case (gv, b) => s"($b, $gv)" }
      .grouped(8).map(_.mkString(", ")).mkString(",\n       |    ")
    val half = 1L << (avgBits - 1)
    val modv = 1L << avgBits
    s"""gg(b, g6) AS (VALUES
       |    $rows),
       |dd AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |wsc(doc_id, i, strt, h6, off, clen) AS (
       |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |         CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
       |         CAST(NULL AS BIGINT)
       |  FROM dd
       |  UNION ALL
       |  SELECT t.doc_id, t.i,
       |         CASE WHEN t.boundary THEN t.i ELSE t.strt END,
       |         CASE WHEN t.boundary THEN 0 ELSE t.h6n END,
       |         CASE WHEN t.boundary THEN t.strt ELSE NULL END,
       |         CASE WHEN t.boundary THEN t.len ELSE NULL END
       |  FROM (
       |    SELECT z.doc_id, z.i, z.strt, z.h6n, z.len,
       |           (z.len >= $minLen AND z.h6n = 0)
       |             OR z.len >= $maxLen AS boundary
       |    FROM (
       |      SELECT s.doc_id, s.i + 1 AS i, s.strt,
       |             ((s.h6 % $half) * 2 + gg.g6) % $modv AS h6n,
       |             s.i + 1 - s.strt AS len
       |      FROM wsc s
       |      JOIN dd ON dd.doc_id = s.doc_id AND s.i < dd.n
       |      JOIN gg ON gg.b =
       |        ascii(substr(dd.text, CAST(s.i + 1 AS INT), 1))) z) t),
       |bnd AS (
       |  SELECT doc_id, off, clen FROM wsc WHERE off IS NOT NULL
       |  UNION ALL
       |  SELECT w.doc_id, w.strt, dd.n - w.strt
       |  FROM (SELECT doc_id, strt,
       |               row_number() OVER (PARTITION BY doc_id
       |                                  ORDER BY i DESC) AS rn
       |        FROM wsc) w
       |  JOIN dd USING (doc_id)
       |  WHERE w.rn = 1 AND w.strt < dd.n),
       |cdc AS (
       |  SELECT b.doc_id,
       |         CAST(row_number() OVER (PARTITION BY b.doc_id
       |                                 ORDER BY b.off) - 1
       |              AS INT) AS chunk_idx,
       |         CAST(b.off AS INT) AS off, CAST(b.clen AS INT) AS len,
       |         md5(substr(dd.text, CAST(b.off + 1 AS INT),
       |                    CAST(b.clen AS INT))) AS chunk_md5
       |  FROM bnd b JOIN dd USING (doc_id))""".stripMargin
  }

  val ops: Seq[Op] = Seq(

    // --- dedup -----------------------------------------------------------

    // Exact dedup: min doc_id per content fingerprint + multiplicity. One
    // hash aggregate; the md5 key is uniform so the shuffle cannot skew.
    Op("dedup_exact",
       s"""SELECT min(doc_id) AS doc_id, md5($normSql) AS fp,
          |       count(*) AS n_copies
          |FROM documents GROUP BY 2""".stripMargin) { (s, d) =>
      Dedup.exact(Tables.documents(s, d))
    },

    // MinHash-LSH near-dup pairs (banding join, no cross join anywhere in
    // the plan) in the PORTABLE md5 hash family, so candidate generation
    // itself replays in DuckDB and the whole pipeline hash-matches at any
    // LSH recall. 8 bands x 4 rows, like dedup_minhash_fast.
    Op("dedup_minhash", minhashOracleSql(bands = 8, rows = 4,
        threshold = 0.8)) { (s, d) =>
      Dedup.minHashNearDups(Tables.documents(s, d), bands = 8, rows = 4,
        threshold = 0.8, portable = true)
    },

    // SimHash near-dup pairs (8-bit chunk pigeonhole join, lossless to
    // hamming <= 7 + exact popcount verify) in the portable md5-nibble
    // family. The oracle's hamming is BIGINT, so the entry widens it.
    Op("dedup_simhash", simhashOracleSql(maxHamming = 6)) { (s, d) =>
      Dedup.simHashNearDups(Tables.documents(s, d), maxHamming = 6,
          portable = true)
        .withColumn("hamming", col("hamming").cast("long"))
    },

    // Incremental ingest dedup: the newest tenth of the corpus (doc_id %
    // 10 = 0) banded and joined against the band INDEX of the other nine
    // tenths — the stored-index shape a growing corpus runs daily. Same
    // portable signature family as dedup_minhash, so candidates, verify,
    // and Jaccard all replay in DuckDB.
    Op("dedup_incremental", incrementalMinhashOracleSql(bands = 8, rows = 4,
        threshold = 0.8, mod = 10)) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val index = Dedup.bandIndex(corpus, bands = 8, rows = 4,
        portable = true)
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 10 === 0), corpus, index,
        bands = 8, rows = 4, threshold = 0.8, portable = true)
    },

    // The `_fast` twins: the same bodies in the xxhash64 family, the one
    // a production corpus run pays. Their candidates depend on the hash
    // family, so they are rows-only; DedupSpec asserts that both families
    // find the same pairs on planted fixtures.
    Op.noOracle("dedup_minhash_fast") { (s, d) =>
      Dedup.minHashNearDups(Tables.documents(s, d), bands = 8, rows = 4,
        threshold = 0.8)
    },

    Op.noOracle("dedup_simhash_fast") { (s, d) =>
      Dedup.simHashNearDups(Tables.documents(s, d), maxHamming = 6)
    },

    // EXACT n-gram Jaccard similarity join (prefix-filtered AllPairs).
    // The oracle computes the EXACT Jaccard of every pair sharing at
    // least one shingle, via the inverted index: the shingle lists are
    // distinct sets, so the per-pair match count over the index IS
    // |A∩B| and the union follows by inclusion-exclusion — the same
    // integers the all-pairs list_intersect form divided, through the
    // same single IEEE division (equality of the two forms verified at
    // sf0.001/sf0.01, r11). Restricting to shared-shingle pairs is
    // LOSSLESS at any threshold > 0 (it prunes only jaccard = 0), and
    // the candidates come from EVERY shared shingle, not the engine's
    // prefix — so the hash-match still proves the engine's prefix
    // filter lossless, while the replay stays tractable at sf1 (the
    // unrestricted a x b form timed DuckDB out at 6M rows).
    Op("dedup_jaccard",
       s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |sh AS (SELECT doc_id, ${shSql(3)} AS sh FROM toks),
          |occ AS (SELECT doc_id, unnest(sh) AS g FROM sh),
          |sizes AS (SELECT doc_id, len(sh) AS ns FROM sh),
          |ic AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |         CAST(count(*) AS BIGINT) AS c
          |  FROM occ a JOIN occ b ON a.g = b.g AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT id_a, id_b, jaccard FROM (
          |  SELECT ic.id_a, ic.id_b,
          |    CAST(ic.c AS DOUBLE) / (x.ns + y.ns - ic.c) AS jaccard
          |  FROM ic
          |  JOIN sizes x ON x.doc_id = ic.id_a
          |  JOIN sizes y ON y.doc_id = ic.id_b)
          |WHERE jaccard >= 0.8""".stripMargin) { (s, d) =>
      Dedup.jaccardNearDups(Tables.documents(s, d), threshold = 0.8)
    },

    // Directional containment join (quote/subset detection): ordered
    // pairs with |Sa∩Sb|/|Sa| >= 0.9 — the asymmetric derivative-content
    // relation Jaccard misses. Probe-prefix-filtered, exact; the oracle
    // counts shared shingles over the inverted index (exact |Sa∩Sb| on
    // distinct shingle sets — the dedup_jaccard note; containment >=
    // 0.9 > 0 requires a shared shingle, so the restriction is
    // lossless), proving the probe-prefix filter lossless.
    Op("dedup_containment",
       s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |sh AS (SELECT doc_id, ${shSql(3)} AS sh FROM toks),
          |occ AS (SELECT doc_id, unnest(sh) AS g FROM sh),
          |sizes AS (SELECT doc_id, len(sh) AS ns FROM sh),
          |ic AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |         CAST(count(*) AS BIGINT) AS c
          |  FROM occ a JOIN occ b ON a.g = b.g AND a.doc_id != b.doc_id
          |  GROUP BY 1, 2)
          |SELECT id_a, id_b, containment FROM (
          |  SELECT ic.id_a, ic.id_b,
          |    CAST(ic.c AS DOUBLE) / x.ns AS containment
          |  FROM ic
          |  JOIN sizes x ON x.doc_id = ic.id_a)
          |WHERE containment >= 0.9""".stripMargin) { (s, d) =>
      Dedup.containmentDups(Tables.documents(s, d), threshold = 0.9)
    },

    // MinHash recall self-evaluation: the LSH pair set measured against
    // the exact-Jaccard ground truth (the lossless prefix-filtered join
    // above) — n_true / n_lsh / n_missed in ONE row. This is the harness
    // a pipeline runs on a sample before trusting banding parameters at
    // full scale (recall = 1 - n_missed/n_true; b=8,r=4 at 0.8 recovers
    // everything on this corpus, asserted bit-exactly by the oracle).
    // Shape: tag both pair sets, one keyed max-aggregate, one global
    // sum — no cross join, no scalar attachments.
    Op("dedup_minhash_recall",
       s"""WITH truth AS (
          |  SELECT id_a, id_b FROM (
          |    WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |    sh AS (SELECT doc_id, ${shSql(3)} AS sh FROM toks),
          |    occ AS (SELECT doc_id, unnest(sh) AS g FROM sh),
          |    sizes AS (SELECT doc_id, len(sh) AS ns FROM sh),
          |    ic AS (
          |      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |             CAST(count(*) AS BIGINT) AS c
          |      FROM occ a JOIN occ b ON a.g = b.g AND a.doc_id < b.doc_id
          |      GROUP BY 1, 2)
          |    SELECT id_a, id_b FROM (
          |      SELECT ic.id_a, ic.id_b,
          |        CAST(ic.c AS DOUBLE) / (x.ns + y.ns - ic.c) AS jaccard
          |      FROM ic
          |      JOIN sizes x ON x.doc_id = ic.id_a
          |      JOIN sizes y ON y.doc_id = ic.id_b)
          |    WHERE jaccard >= 0.8)),
          |lsh AS (
          |  SELECT id_a, id_b FROM (
          |    ${minhashOracleSql(bands = 8, rows = 4, threshold = 0.8)
               .linesIterator.mkString("\n    ")})),
          |tagged AS (
          |  SELECT id_a, id_b, max(t) AS t, max(l) AS l FROM (
          |    SELECT id_a, id_b, 1 AS t, 0 AS l FROM truth
          |    UNION ALL SELECT id_a, id_b, 0, 1 FROM lsh)
          |  GROUP BY 1, 2)
          |SELECT CAST(sum(t) AS BIGINT) AS n_true,
          |       CAST(sum(l) AS BIGINT) AS n_lsh,
          |       CAST(sum(CASE WHEN t = 1 AND l = 0 THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_missed
          |FROM tagged""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val truth = Dedup.jaccardNearDups(docs, threshold = 0.8)
        .select(col("id_a"), col("id_b"),
          lit(1).as("t"), lit(0).as("l"))
      val lsh = Dedup.minHashNearDups(docs, bands = 8, rows = 4,
          threshold = 0.8, portable = true)
        .select(col("id_a"), col("id_b"),
          lit(0).as("t"), lit(1).as("l"))
      truth.unionByName(lsh)
        .groupBy(col("id_a"), col("id_b"))
        .agg(max(col("t")).as("t"), max(col("l")).as("l"))
        .agg(sum(col("t")).as("n_true"), sum(col("l")).as("n_lsh"),
          sum(when(col("t") === 1 && col("l") === 0, 1).otherwise(0))
            .as("n_missed"))
    },

    // End-to-end corpus cleaning: quality floor -> exact dedup -> near-dup
    // CONNECTED-COMPONENTS removal (one min-id survivor per duplicate
    // cluster), all portable pieces, so the WHOLE pipeline hash-checks. The
    // oracle nests the minhash replay over the cleaned base relation and
    // replays the component rule with a recursive CTE (min reachable id
    // over the undirected pair graph) — the exact fixpoint the engine's
    // iterated label propagation converges to.
    Op("llm_clean_corpus", {
      val qualitySql =
        s"""(CASE WHEN length(text) < 20 THEN 0.2e0
           |      WHEN length(text) > 2000 THEN 0.5e0 ELSE 1.0e0 END) * 0.5e0
           |+ (CASE WHEN CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
           |          / NULLIF(length(text), 0) > 0.2 THEN 0.3e0 ELSE 1.0e0 END) * 0.25e0
           |+ (CASE WHEN CAST(len(list_filter($toksSql, t -> list_contains($stopSql, t))) AS DOUBLE)
           |          / len($toksSql) > 0.02 THEN 1.0e0 ELSE 0.7e0 END) * 0.25e0""".stripMargin
      s"""WITH RECURSIVE q AS (
         |  SELECT doc_id, source, text FROM documents
         |  WHERE $qualitySql >= 0.5),
         |ex AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5($normSql)),
         |base AS (SELECT * FROM q WHERE doc_id IN (SELECT doc_id FROM ex)),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    ${minhashOracleSql(bands = 8, rows = 4, threshold = 0.8,
                from = "base").linesIterator.mkString("\n    ")})),
         |${Dedup.componentWalkCtes},
         |losers AS (SELECT DISTINCT node AS doc_id FROM walk WHERE reach < node)
         |SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
         |FROM base WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin
    }) { (s, d) =>
      Dedup.cleanCorpus(Tables.documents(s, d), portable = true)
    },

    // The PRODUCTION clean-corpus path: identical pipeline and survivor
    // semantics, xxhash64 signatures instead of the md5-portable family
    // (DedupSpec asserts fast/portable survivor-set equality on planted
    // fixtures; hash-family-specific LSH candidates make a DuckDB replay
    // inexpressible, hence rows-only here).
    Op.noOracle("llm_clean_corpus_fast") { (s, d) =>
      Dedup.cleanCorpus(Tables.documents(s, d))
    },

    // Duplication-structure analytics: how big are the near-dup clusters?
    // (The corpus-health number dedup reports lead with — a few huge
    // boilerplate clusters vs many small twins need different remedies.)
    // Same component machinery as clean_corpus; the oracle replays the
    // label propagation with the recursive-CTE walk and aggregates
    // cluster sizes identically.
    Op("llm_dup_clusters",
       s"""WITH RECURSIVE pairs AS (
          |  SELECT id_a, id_b FROM (
          |    ${minhashOracleSql(bands = 8, rows = 4, threshold = 0.8)
                 .linesIterator.mkString("\n    ")})),
          |${Dedup.componentLabelsCtes},
          |sizes AS (
          |  SELECT label, count(*) AS cluster_size FROM labels GROUP BY 1)
          |SELECT cluster_size, count(*) AS n_clusters
          |FROM sizes GROUP BY 1""".stripMargin) { (s, d) =>
      val pairs = Dedup.minHashNearDups(Tables.documents(s, d),
        bands = 8, rows = 4, threshold = 0.8, portable = true)
      Dedup.componentMinLabels(pairs)
        .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    },

    // Quality-aware survivorship: per near-dup cluster keep the BEST
    // document — the canonicalization a production dedup actually ships
    // (min-id keep loses the longest/cleanest copy; CCNet and friends
    // keep by quality). Reward here is (n_chars, ties → smaller doc_id),
    // encoded as one min-struct over (−reward, doc_id) so the keeper is
    // total-order unique and the oracle replays it with the same struct
    // min. Output: every doc with its cluster, the cluster's keeper,
    // and the drop flag — singletons keep themselves. Same banding +
    // component-walk substrate as mix_kfold; the survivor pick adds one
    // cluster-keyed aggregate.
    Op("llm_dup_keep_best",
       s"""WITH RECURSIVE pairs AS (
          |  SELECT id_a, id_b FROM (
          |    ${minhashOracleSql(bands = 8, rows = 4, threshold = 0.8)
                 .linesIterator.mkString("\n    ")})),
          |${Dedup.componentLabelsCtes},
          |clustered AS (
          |  SELECT d.doc_id, d.n_chars,
          |         coalesce(l.label, d.doc_id) AS cluster
          |  FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
          |keepers AS (
          |  SELECT cluster,
          |         (min(struct_pack(nr := -n_chars, id := doc_id))).id
          |           AS keeper
          |  FROM clustered GROUP BY 1)
          |SELECT c.doc_id, c.cluster, k.keeper,
          |       CAST(c.doc_id <> k.keeper AS INT) AS dropped
          |FROM clustered c JOIN keepers k USING (cluster)""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minHashNearDups(docs, bands = 8, rows = 4,
          threshold = 0.8, portable = true)
        val clustered = docs.select(col("doc_id"), col("n_chars"))
          .join(Dedup.componentMinLabels(pairs)
            .select(col("node").as("doc_id"), col("label")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("label"), col("doc_id")).as("cluster"))
        val keepers = clustered.groupBy(col("cluster"))
          .agg(min(struct((-col("n_chars")).as("nr"),
            col("doc_id").as("id"))).as("k"))
          .select(col("cluster"), col("k.id").as("keeper"))
        clustered.join(keepers, Seq("cluster"))
          .select(col("doc_id"), col("cluster"), col("keeper"),
            (col("doc_id") =!= col("keeper")).cast("int").as("dropped"))
    },

    // Benchmark decontamination: corpus docs sharing any n-gram with the
    // benchmark set (deterministic stand-in: every 97th doc). Exact string
    // shingle join — no hashing — so the oracle replays it verbatim.
    // n = 4 here: real pipelines use 8-13 on natural text, but the synth
    // corpus draws from a ~40-word vocabulary, where 4-grams are the
    // equivalent rare-collision signal (8-grams never collide -> a
    // vacuously empty check; 3-grams flag a third of the corpus).
    Op("llm_decontaminate", decontaminateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), n = 4)
    },

    // The bloom-prefiltered scale path: benchmark shingles -> bounded
    // sketch -> map-side might_contain prune -> exact verify join. False
    // positives are removed by the verify join, so the output is
    // bit-identical to llm_decontaminate and the SAME oracle applies —
    // the strongest possible check that the prefilter loses nothing.
    Op("llm_decontaminate_bloom", decontaminateOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), n = 4)
    },

    // Substring/passage-level exact dedup: document pairs sharing any
    // contiguous n-token window, with the earliest shared-window offset on
    // each side. Exact string windows — no hashing — so the oracle replays
    // candidates, counts, and positions verbatim. n = 10 here (the planted
    // near-dup passages are 10-100 tokens; production default is 50) and
    // the df cap = 100 is structurally in both plans (max window df in the
    // synth corpus is 3, so it prunes nothing at this SF — the hot-window
    // DedupSpec fixture exercises it).
    Op("llm_substring_dedup", {
      val winSql = (1 to 10).map(j => s"toks[pos+$j]").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, toks,
         |        unnest(range(0, greatest(len(toks) - 9, 0))) AS pos
         |      FROM toks),
         |dw AS (SELECT doc_id, concat_ws(' ', $winSql) AS w,
         |         CAST(min(pos) AS INT) AS pos
         |       FROM p GROUP BY 1, 2),
         |keep AS (SELECT w FROM (SELECT w, count(*) AS df FROM dw GROUP BY 1)
         |         WHERE df BETWEEN 2 AND 100),
         |sw AS (SELECT dw.* FROM dw JOIN keep USING (w))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared,
         |       min(a.pos) AS a_pos, min(b.pos) AS b_pos
         |FROM sw a JOIN sw b ON a.w = b.w AND a.doc_id < b.doc_id
         |GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
      Dedup.substringDups(Tables.documents(s, d), n = 10, maxDocFreq = 100)
    },

    // Intra-document line dedup: boilerplate lines planted around every
    // document (nav chrome repeated top and bottom, plus a full duplicate
    // of the body) are dropped down to their first occurrence, in order.
    // Exact string splitting/joining — the oracle replays with an
    // index-based min-position collapse + ordered string_agg.
    Op("llm_dedup_lines",
       """WITH aug AS (
         |  SELECT doc_id,
         |    concat('nav home about', chr(10), text, chr(10),
         |           'nav home about', chr(10), text, chr(10),
         |           'c 2024 example corp') AS text
         |  FROM documents),
         |l AS (
         |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
         |         generate_subscripts(string_split(text, chr(10)), 1) AS i
         |  FROM aug),
         |firsts AS (
         |  SELECT doc_id, line, min(i) AS i FROM l GROUP BY 1, 2),
         |tot AS (
         |  SELECT doc_id, CAST(count(*) AS INT) AS n_lines FROM l GROUP BY 1)
         |SELECT f.doc_id,
         |       string_agg(f.line, chr(10) ORDER BY f.i) AS text,
         |       CAST(any_value(t.n_lines) - count(*) AS INT) AS n_dropped
         |FROM firsts f JOIN tot t ON t.doc_id = f.doc_id
         |GROUP BY f.doc_id""".stripMargin) { (s, d) =>
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("nav home about\n"), col("text"),
          lit("\nnav home about\n"), col("text"),
          lit("\nc 2024 example corp")).as("text"))
      Dedup.dedupLines(aug)
    },

    // Passage scrubbing: cut-the-span remediation over the substring-dedup
    // pairs (same n = 10, cap = 100). Exact integer/string surgery — span
    // arithmetic, gaps-and-islands merge, and the token-filter rebuild all
    // replay verbatim in the oracle, which re-derives the pairs with the
    // llm_substring_dedup SQL and re-cuts the spans with an unnest +
    // anti-range-join + ordered string_agg.
    Op("llm_scrub_passages", {
      val winSql = (1 to 10).map(j => s"toks[pos+$j]").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, toks,
         |        unnest(range(0, greatest(len(toks) - 9, 0))) AS pos
         |      FROM toks),
         |dw AS (SELECT doc_id, concat_ws(' ', $winSql) AS w,
         |         CAST(min(pos) AS INT) AS pos
         |       FROM p GROUP BY 1, 2),
         |keep AS (SELECT w FROM (SELECT w, count(*) AS df FROM dw GROUP BY 1)
         |         WHERE df BETWEEN 2 AND 100),
         |sw AS (SELECT dw.* FROM dw JOIN keep USING (w)),
         |dups AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |           count(*) AS n_shared, min(b.pos) AS b_pos
         |         FROM sw a JOIN sw b ON a.w = b.w AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |spans AS (SELECT id_b AS doc_id, CAST(b_pos AS INT) AS s,
         |            CAST(b_pos + n_shared + 9 AS INT) AS e FROM dups),
         |isl AS (SELECT doc_id, s, e,
         |          CASE WHEN s > coalesce(max(e) OVER (
         |            PARTITION BY doc_id ORDER BY s, e
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |          THEN 1 ELSE 0 END AS ni
         |        FROM spans),
         |merged AS (SELECT doc_id, min(s) AS s, max(e) AS e
         |           FROM (SELECT doc_id, s, e, sum(ni) OVER (
         |                   PARTITION BY doc_id ORDER BY s, e
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                   AS island FROM isl)
         |           GROUP BY doc_id, island),
         |tokrows AS (SELECT doc_id, unnest(toks) AS t,
         |              generate_subscripts(toks, 1) - 1 AS i
         |            FROM toks
         |            WHERE doc_id IN (SELECT doc_id FROM merged)),
         |rebuilt AS (SELECT tr.doc_id,
         |              string_agg(tr.t, ' ' ORDER BY tr.i) AS text,
         |              count(*) AS n_kept
         |            FROM tokrows tr
         |            WHERE NOT EXISTS (SELECT 1 FROM merged m
         |              WHERE m.doc_id = tr.doc_id
         |                AND tr.i >= m.s AND tr.i < m.e)
         |            GROUP BY 1),
         |flagged AS (SELECT DISTINCT doc_id FROM merged)
         |SELECT t.doc_id,
         |  CASE WHEN f.doc_id IS NULL THEN t.text
         |       ELSE coalesce(r.text, '') END AS text,
         |  CAST(CASE WHEN f.doc_id IS NULL THEN 0
         |       ELSE len(t.toks) - coalesce(r.n_kept, 0) END AS BIGINT)
         |    AS n_cut
         |FROM toks t
         |LEFT JOIN flagged f ON f.doc_id = t.doc_id
         |LEFT JOIN rebuilt r ON r.doc_id = t.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.scrubPassages(docs,
        Dedup.substringDups(docs, n = 10, maxDocFreq = 100), n = 10)
    },

    // Gopher-style repetition signals: top-bigram mass + duplicate-bigram
    // mass per document. Single divisions of exact counts -> bit-identical.
    Op("text_repetition",
       s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |bg AS (
          |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
          |    ELSE list_transform(range(0, len(toks) - 1),
          |      i -> concat_ws(' ', toks[i+1], toks[i+2])) END) AS g
          |  FROM toks),
          |counts AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
          |SELECT doc_id,
          |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac,
          |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
          |    / CAST(sum(c) AS DOUBLE) AS dup_bigram_frac
          |FROM counts GROUP BY 1""".stripMargin) { (s, d) =>
      CorpusQuality.repetitionStats(Tables.documents(s, d))
    },

    // Corpus-frequency commonness: each doc scored by how common its
    // tokens are corpus-wide (mean occurrence count + rare-token mass) —
    // the model-free CCNet-style quality proxy. Integer sums with one
    // final division -> bit-identical in DuckDB.
    Op("text_commonness",
       s"""WITH occ AS (
          |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
          |freqs AS (SELECT tok, count(*) AS tf FROM occ GROUP BY 1)
          |SELECT o.doc_id,
          |       count(*) AS n_tokens,
          |       CAST(sum(f.tf) AS DOUBLE) / count(*) AS mean_token_freq,
          |       CAST(sum(CASE WHEN f.tf < 5 THEN 1 ELSE 0 END) AS DOUBLE)
          |         / count(*) AS rare_frac
          |FROM occ o JOIN freqs f ON f.tok = o.tok
          |GROUP BY 1""".stripMargin) { (s, d) =>
      CorpusQuality.commonness(Tables.documents(s, d))
    },

    // Bigram-LM perplexity (log domain): CCNet-style quality scoring with
    // a corpus-trained add-one bigram model. ln goes through the ieee_ln
    // kernel (Spark's StrictMath log is 1 ulp off DuckDB); the per-doc
    // log-prob sum folds sequentially in token-position order on both
    // sides (a plain double sum would be partitioning-dependent); the
    // score stays un-exp'd because DuckDB's exp matches no JVM exp.
    Op("text_perplexity",
       s"""WITH $perplexityCtes
          |SELECT doc_id, n_bigrams, log_ppl FROM ppl""".stripMargin) {
      (s, d) => CorpusQuality.perplexity(Tables.documents(s, d))
    },

    // CCNet's perplexity-percentile language filter (Wenzek et al.
    // 2020): rank every document by LM perplexity, cut the corpus into
    // head/middle/tail thirds at the 33rd/67th percentiles, keep
    // head+middle — the recipe behind most public web-corpus quality
    // splits. The thresholds are DISCRETE percentiles (an existing
    // log_ppl value, no interpolation), so bucketing replays exactly;
    // log_ppl itself is the proven text_perplexity chain. The scored
    // table is materialized once (localCheckpoint) before feeding both
    // the 1-row threshold aggregate and the bucket projection.
    Op("llm_ppl_filter",
       s"""WITH $perplexityCtes,
          |cuts AS (
          |  SELECT quantile_disc(log_ppl, 0.33) AS p33,
          |         quantile_disc(log_ppl, 0.67) AS p67
          |  FROM ppl)
          |SELECT p.doc_id, p.n_bigrams, p.log_ppl,
          |       CASE WHEN p.log_ppl <= c.p33 THEN 'head'
          |            WHEN p.log_ppl <= c.p67 THEN 'middle'
          |            ELSE 'tail' END AS bucket,
          |       p.log_ppl <= c.p67 AS kept
          |FROM ppl p, cuts c""".stripMargin) { (s, d) =>
      val ppl = CorpusQuality.perplexity(Tables.documents(s, d))
        .transform(graft.Ckpt.cut(_))
      val cuts = ppl.agg(
        expr("percentile_disc(0.33) WITHIN GROUP (ORDER BY log_ppl)")
          .as("p33"),
        expr("percentile_disc(0.67) WITHIN GROUP (ORDER BY log_ppl)")
          .as("p67"))
      ppl.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_bigrams"), col("log_ppl"),
          when(col("log_ppl") <= col("p33"), "head")
            .when(col("log_ppl") <= col("p67"), "middle")
            .otherwise("tail").as("bucket"),
          (col("log_ppl") <= col("p67")).as("kept"))
    },

    // Gopher filter rules at the published thresholds; every ratio is an
    // integer cross-multiplication, so there is NO float to keep in IEEE
    // lockstep — the cheapest kind of oracle-exact operator.
    Op("text_gopher_rules",
       s"""WITH t AS (
          |  SELECT doc_id, text, $toksSql AS toks FROM documents),
          |m AS (
          |  SELECT doc_id,
          |    CAST(len(toks) AS BIGINT) AS n,
          |    CAST(list_aggregate(list_transform(toks, x -> length(x)),
          |                        'sum') AS BIGINT) AS sumlen,
          |    CAST(length(text) - length(replace(text, '#', ''))
          |         AS BIGINT)
          |      + CAST((length(text) - length(replace(text, '...', '')))
          |             // 3 AS BIGINT) AS sym,
          |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
          |         AS BIGINT) AS alpha,
          |    CAST(len(list_filter(toks, x -> list_contains(
          |      ['the','be','to','of','and','that','have','with'], x)))
          |         AS BIGINT) AS stops
          |  FROM t)
          |SELECT doc_id,
          |  CAST(n >= 50 AND n <= 100000 AS INT) AS g_wc,
          |  CAST(sumlen >= 3 * n AND sumlen <= 10 * n AS INT) AS g_mwl,
          |  CAST(10 * sym <= n AS INT) AS g_sym,
          |  CAST(5 * alpha >= 4 * n AS INT) AS g_alpha,
          |  CAST(stops >= 2 AS INT) AS g_stop,
          |  CAST(n >= 50 AND n <= 100000
          |       AND sumlen >= 3 * n AND sumlen <= 10 * n
          |       AND 10 * sym <= n
          |       AND 5 * alpha >= 4 * n
          |       AND stops >= 2 AS INT) AS gopher_pass
          |FROM m""".stripMargin) { (s, d) =>
      CorpusQuality.gopherRules(Tables.documents(s, d))
    },

    // C4 cleaning rules (Raffel et al. 2020 §2.2): line retention +
    // page flags, all integer counts and string membership — the same
    // oracle-exact-by-construction class as text_gopher_rules.
    Op("text_c4_rules",
       s"""WITH m AS (
          |  SELECT doc_id, text, lower(text) AS lt,
          |    list_filter(string_split(text, chr(10)), l ->
          |      right(trim(l), 1) IN ('.', '!', '?', '"')
          |      AND len(list_filter(string_split(trim(l), ' '),
          |              w -> w <> '')) >= 5) AS kept,
          |    len(string_split(text, chr(10))) AS total_lines,
          |    CAST(length(text) - length(replace(text, '.', ''))
          |       + length(text) - length(replace(text, '!', ''))
          |       + length(text) - length(replace(text, '?', ''))
          |       AS BIGINT) AS sents
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(len(kept) AS BIGINT) AS c4_kept_lines,
          |  CAST(total_lines AS BIGINT) AS c4_total_lines,
          |  sents AS c4_sentences,
          |  CAST(sents >= 3 AS INT) AS c4_min_sent,
          |  CAST(NOT contains(lt, 'lorem ipsum') AS INT) AS c4_no_lorem,
          |  CAST(NOT contains(text, '{') AS INT) AS c4_no_brace,
          |  CAST(NOT list_contains($toksSql, 'javascript') AS INT)
          |    AS c4_no_js,
          |  CAST(len(kept) >= 1 AND sents >= 3
          |       AND NOT contains(lt, 'lorem ipsum')
          |       AND NOT contains(text, '{')
          |       AND NOT list_contains($toksSql, 'javascript') AS INT)
          |    AS c4_pass
          |FROM m""".stripMargin) { (s, d) =>
      CorpusQuality.c4Rules(Tables.documents(s, d))
    },

    // One verdict row per document: keep + WHY-dropped bitmask
    // (bit 0 Gopher, bit 1 C4, bit 2 length bounds) — the composition
    // a cleaning pipeline materializes instead of five flag tables.
    // The oracle re-derives both rule families' pass bits and the
    // bounds check, so the composed bitmask hash-compares end-to-end.
    Op("llm_doc_verdict",
       s"""WITH t AS (
          |  SELECT doc_id, text, n_chars, $toksSql AS toks FROM documents),
          |m AS (
          |  SELECT doc_id, n_chars, text,
          |    CAST(len(toks) AS BIGINT) AS n,
          |    CAST(list_aggregate(list_transform(toks, x -> length(x)),
          |                        'sum') AS BIGINT) AS sumlen,
          |    CAST(length(text) - length(replace(text, '#', ''))
          |         AS BIGINT)
          |      + CAST((length(text) - length(replace(text, '...', '')))
          |             // 3 AS BIGINT) AS sym,
          |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
          |         AS BIGINT) AS alpha,
          |    CAST(len(list_filter(toks, x -> list_contains(
          |      ['the','be','to','of','and','that','have','with'], x)))
          |         AS BIGINT) AS stops,
          |    len(list_filter(string_split(text, chr(10)), l ->
          |      right(trim(l), 1) IN ('.', '!', '?', '"')
          |      AND len(list_filter(string_split(trim(l), ' '),
          |              w -> w <> '')) >= 5)) AS kept,
          |    CAST(length(text) - length(replace(text, '.', ''))
          |       + length(text) - length(replace(text, '!', ''))
          |       + length(text) - length(replace(text, '?', ''))
          |       AS BIGINT) AS sents,
          |    list_contains(toks, 'javascript') AS has_js
          |  FROM t),
          |v AS (
          |  SELECT doc_id,
          |    CASE WHEN n >= 50 AND n <= 100000
          |       AND sumlen >= 3 * n AND sumlen <= 10 * n
          |       AND 10 * sym <= n AND 5 * alpha >= 4 * n
          |       AND stops >= 2 THEN 0 ELSE 1 END
          |    + CASE WHEN kept >= 1 AND sents >= 3
          |       AND NOT contains(lower(text), 'lorem ipsum')
          |       AND NOT contains(text, '{')
          |       AND NOT has_js THEN 0 ELSE 2 END
          |    + CASE WHEN n_chars < 100 OR n_chars > 50000
          |            THEN 4 ELSE 0 END AS reasons
          |  FROM m)
          |SELECT doc_id, CAST(reasons AS BIGINT) AS reasons,
          |       CAST(reasons = 0 AS INT) AS keep
          |FROM v""".stripMargin) { (s, d) =>
      CorpusQuality.docVerdict(Tables.documents(s, d))
    },

    // Interpolated Kneser-Ney bigram perplexity: with D = 3/4 the whole
    // smoothed probability is one exact integer ratio, so the oracle
    // replays the discount, the continuation back-off, the ieee ln, and
    // the position-ordered fold bit-for-bit (see CorpusQuality
    // .perplexityKN for the factoring).
    Op("text_perplexity_kn",
       s"""WITH toks AS (
          |  SELECT doc_id, $toksSql AS toks FROM documents),
          |occ AS MATERIALIZED (
          |  SELECT doc_id, i, toks[i+1] AS w1, toks[i+2] AS w2,
          |         concat_ws(' ', toks[i+1], toks[i+2]) AS bigram
          |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
          |        FROM toks WHERE len(toks) >= 2)),
          |c12 AS MATERIALIZED (SELECT bigram, count(*) AS c12 FROM occ GROUP BY 1),
          |c1 AS MATERIALIZED (SELECT w1, count(*) AS c1 FROM occ GROUP BY 1),
          |types AS MATERIALIZED (SELECT DISTINCT bigram, w1, w2 FROM occ),
          |nf1 AS MATERIALIZED (SELECT w1, count(*) AS nf1 FROM types GROUP BY 1),
          |np2 AS MATERIALIZED (SELECT w2, count(*) AS np2 FROM types GROUP BY 1),
          |b AS (SELECT count(*) AS bb FROM types),
          |scored AS (
          |  SELECT occ.doc_id, occ.i,
          |         ln(CAST((4 * c12 - 3) * bb + 3 * nf1 * np2 AS DOUBLE)
          |            / CAST(4 * c1 * bb AS DOUBLE)) AS lnp
          |  FROM occ JOIN c12 USING (bigram) JOIN c1 USING (w1)
          |           JOIN nf1 USING (w1) JOIN np2 USING (w2), b),
          |agg AS (
          |  SELECT doc_id, count(*) AS n_bigrams,
          |         list_reduce(list_prepend(0.0, list(lnp ORDER BY i)),
          |                     (a, b) -> a + b) AS s
          |  FROM scored GROUP BY doc_id)
          |SELECT doc_id, n_bigrams, -(s / n_bigrams) AS log_ppl
          |FROM agg""".stripMargin) { (s, d) =>
      CorpusQuality.perplexityKN(Tables.documents(s, d))
    },

    // Pairwise Jensen–Shannon divergence between source token
    // distributions (corpus cartography). The oracle replays the md5
    // bucket space, the range-densified smoothed probabilities, the
    // 2^-30-quantized lns, and the bucket-order fold.
    Op("text_source_divergence",
       s"""WITH occ AS (
          |  SELECT source AS src,
          |         CAST(CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT) % 256
          |              AS INT) AS bucket
          |  FROM (SELECT source, unnest($toksSql) AS tok FROM documents)),
          |counts AS (
          |  SELECT src, bucket, count(*) AS n FROM occ GROUP BY 1, 2),
          |tots AS (
          |  SELECT src, CAST(sum(n) AS BIGINT) AS t FROM counts GROUP BY 1),
          |fullv AS (
          |  SELECT s.src, s.t, r.bucket, coalesce(c.n, 0) AS n
          |  FROM tots s
          |  CROSS JOIN (SELECT CAST(unnest(range(256)) AS INT) AS bucket) r
          |  LEFT JOIN counts c ON c.src = s.src AND c.bucket = r.bucket),
          |terms AS (
          |  SELECT a.src AS src_a, b.src AS src_b, a.bucket,
          |         (CAST(a.n + 1 AS DOUBLE) / (a.t + 256)
          |            * (CAST(round(ln(2.0 * (CAST(a.n + 1 AS DOUBLE) / (a.t + 256))
          |                / (CAST(a.n + 1 AS DOUBLE) / (a.t + 256)
          |                   + CAST(b.n + 1 AS DOUBLE) / (b.t + 256)))
          |                * 1073741824.0) AS BIGINT) / 1073741824.0)
          |          + CAST(b.n + 1 AS DOUBLE) / (b.t + 256)
          |            * (CAST(round(ln(2.0 * (CAST(b.n + 1 AS DOUBLE) / (b.t + 256))
          |                / (CAST(a.n + 1 AS DOUBLE) / (a.t + 256)
          |                   + CAST(b.n + 1 AS DOUBLE) / (b.t + 256)))
          |                * 1073741824.0) AS BIGINT) / 1073741824.0)) / 2
          |           AS term
          |  FROM fullv a JOIN fullv b
          |    ON a.bucket = b.bucket AND a.src < b.src)
          |SELECT src_a, src_b,
          |       list_reduce(list_prepend(0.0, list(term ORDER BY bucket)),
          |                   (x, y) -> x + y) AS js
          |FROM terms GROUP BY 1, 2""".stripMargin) { (s, d) =>
      CorpusQuality.sourceDivergence(Tables.documents(s, d),
        "text", "source", nBuckets = 256)
    },

    // Compression-ratio quality signal (RedPajama-v2 / Dolma per-doc
    // feature): deflated bytes / raw bytes — boilerplate deflates far
    // below natural prose. Map-side native kernel (per-thread Deflater
    // reuse), rows-only: the deflated size depends on the zlib build, so
    // no engine-portable oracle exists; monotonicity is asserted in
    // VectorExpressionsSpec.
    Op.noOracle("text_compression_ratio") { (s, d) =>
      val dl = graft.functions.GraftFunctions.deflateLen(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          dl.as("deflated_bytes"),
          (dl.cast("double") / octet_length(col("text")))
            .as("compression_ratio"))
    },

    // Trained quality model (CCNet/DCLM shape): logistic regression over
    // the engineered text features, trained driver-side on a bounded
    // deterministic CONTRASTIVE sample (corpus docs vs their deterministic
    // corruption — the no-labeled-pool recipe), applied map-side with
    // frozen literal weights. The entry scores originals AND corruptions
    // so the separation is driver-visible. Rows-only: gradient-descent
    // training is not SQL-expressible; separation/determinism asserted in
    // QualityModelSpec.
    Op.noOracle("text_quality_model") { (s, d) =>
      val docs = Tables.documents(s, d)
      val scorer = QualityModel.trainContrastive(docs, "doc_id", "text")
      val both = docs.select(col("doc_id"), col("text"),
          lit(true).as("is_clean"))
        .unionByName(docs.select((col("doc_id") + 10000000L).as("doc_id"),
          QualityModel.corrupt(col("text")).as("text"),
          lit(false).as("is_clean")))
      QualityModel.score(both, "text", scorer)
        .select(col("doc_id"), col("is_clean"), col("quality_logit"))
    },

    // FROZEN-weights quality scoring, ORACLE-EXACT (the production path:
    // the classifier is trained once, frozen, and applied to every shard
    // — exactly Bpe.FrozenMerges' discipline applied to model weights).
    // Scoring is one map-side projection: z = b + Σ wᵢ·(fᵢ−μᵢ)/σᵢ in the
    // scorer's FIXED feature order, every step a single correctly-rounded
    // IEEE op (subtract, divide, multiply, left-assoc adds), and every
    // feature an integer-derived ratio — so DuckDB replays the identical
    // fold bit-for-bit. The SQL is GENERATED from the same FrozenScorer
    // literals the engine scores with, so the two sides cannot drift.
    Op("text_quality_score_frozen", {
      val sc = QualityModel.FrozenScorer
      // DuckDB parses bare decimal literals as DECIMAL(38,17) and its
      // decimal->double conversion DOUBLE-ROUNDS (a 17-digit mantissa
      // exceeds 2^53, measured 1-ULP drift on 3/500 docs); exponent
      // form forces a direct strtod DOUBLE parse, which is correctly
      // rounded and bit-identical to the JVM literal.
      def dlit(x: Double): String = {
        val s = x.toString
        if (s.contains('E') || s.contains('e')) s.toLowerCase else s + "e0"
      }
      val fSql = Map(
        "n_chars" -> "CAST(length(text) AS DOUBLE)",
        "n_tokens" -> s"CAST(len($toksSql) AS DOUBLE)",
        "avg_tok_len" ->
          (s"(CAST(list_aggregate(list_transform($toksSql, " +
            s"t -> length(t)), 'sum') AS DOUBLE) / len($toksSql))"),
        "punct_ratio" ->
          ("(CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', " +
            "'', 'g')) AS DOUBLE) / NULLIF(length(text), 0))"),
        "stop_ratio" ->
          (s"(CAST(len(list_filter($toksSql, " +
            s"t -> list_contains($stopSql, t))) AS DOUBLE) / " +
            s"len($toksSql))"),
        "digit_ratio" ->
          ("(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) " +
            "AS DOUBLE) / NULLIF(length(text), 0))"))
      val terms = sc.features.zipWithIndex.map { case (n, i) =>
        s"(${fSql(n)} - ${dlit(sc.mu(i))}) / ${dlit(sc.sigma(i))} * " +
          dlit(sc.weights(i))
      }
      s"""SELECT doc_id,
         |  ${(dlit(sc.bias) +: terms).mkString("\n  + ")}
         |  AS quality_logit
         |FROM documents""".stripMargin
    }) { (s, d) =>
      QualityModel.score(Tables.documents(s, d), "text",
          QualityModel.FrozenScorer)
        .select(col("doc_id"), col("quality_logit"))
    },

    // --- similarity search ----------------------------------------------

    // Brute-force cosine top-10 for the 20 lowest-id query vectors:
    // broadcast nested loop + custom TopK aggregate. The oracle mirrors the
    // sequential-fold cosine bit-for-bit, so ranks match exactly (ties break
    // on neighbor_id on both sides).
    Op("knn_cosine",
       """SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(row_number() OVER (
         |           PARTITION BY q.vec_id
         |           ORDER BY list_aggregate(
         |             list_transform(range(1, len(c.embedding) + 1),
         |               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)),
         |             'sum')
         |           / (sqrt(list_aggregate(list_transform(range(1, len(q.embedding) + 1),
         |                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum'))
         |            * sqrt(list_aggregate(list_transform(range(1, len(c.embedding) + 1),
         |                i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')))
         |           DESC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         |WHERE rank <= 10""".stripMargin) { (s, d) =>
      Similarity.bruteForceKnn(Tables.embeddings(s, d))
    },

    // Metadata-FILTERED exact kNN: neighbors must share the query's
    // label (the vector-DB tenant/metadata predicate). The label
    // equality makes the broadcast a HASH join — candidates are pruned
    // before any dot product — and the oracle replays the same
    // restricted candidate set, so pre-filter semantics (not
    // post-filter truncation) are what hash-compares.
    Op("knn_filtered",
       """SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(row_number() OVER (
         |           PARTITION BY q.vec_id
         |           ORDER BY list_aggregate(
         |             list_transform(range(1, len(c.embedding) + 1),
         |               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)),
         |             'sum')
         |           / (sqrt(list_aggregate(list_transform(range(1, len(q.embedding) + 1),
         |                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), 'sum'))
         |            * sqrt(list_aggregate(list_transform(range(1, len(c.embedding) + 1),
         |                i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')))
         |           DESC, c.vec_id) AS INT) AS rank
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
         |    AND c.label = q.label)
         |WHERE rank <= 10""".stripMargin) { (s, d) =>
      Similarity.filteredKnn(Tables.embeddings(s, d))
    },

    // MMR diversified re-ranking over each query's top-20 cosine
    // candidates (lam=0.7, mu=0.3 as literals on both engines). The
    // recursive CTE's working table carries one row per query per step
    // with the selected-set list; the correlated max-pair-sim subquery
    // and the (score DESC, vid) argmax replay the greedy exactly, so the
    // whole diversity trade-off — not just the candidate stage — is
    // hash-compared.
    Op("knn_mmr", {
      val cos = (a: String, b: String) =>
        s"""(list_aggregate(list_transform(range(1, len($a) + 1),
           |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')
           |  / (sqrt(list_aggregate(list_transform(range(1, len($a) + 1),
           |       i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), 'sum'))
           |   * sqrt(list_aggregate(list_transform(range(1, len($b) + 1),
           |       i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum'))))"""
          .stripMargin
      s"""WITH RECURSIVE
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |scored AS (
         |  SELECT qid, vec_id AS vid, ${cos("qe", "embedding")} AS sim,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY ${cos("qe", "embedding")} DESC, vec_id) AS rn
         |  FROM embeddings JOIN q ON vec_id <> qid),
         |cand AS (SELECT qid, vid, sim FROM scored WHERE rn <= 20),
         |pairs AS (
         |  SELECT c1.qid, c1.vid AS a, c2.vid AS b,
         |         ${cos("va.embedding", "vb.embedding")} AS psim
         |  FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.vid <> c2.vid
         |  JOIN embeddings va ON va.vec_id = c1.vid
         |  JOIN embeddings vb ON vb.vec_id = c2.vid),
         |mmr(step, qid, vid, score, sel) AS (
         |  SELECT 1, qid, vid, 0.7 * sim, [vid] FROM (
         |    SELECT qid, vid, sim, row_number() OVER (PARTITION BY qid
         |             ORDER BY sim DESC, vid) AS rn
         |    FROM cand) WHERE rn = 1
         |  UNION ALL
         |  SELECT step + 1, qid, vid, 0.7 * sim - 0.3 * ms,
         |         list_append(sel, vid) FROM (
         |    SELECT m.step AS step, m.qid AS qid, c.vid AS vid,
         |           c.sim AS sim, m.sel AS sel,
         |           (SELECT max(p.psim) FROM pairs p
         |            WHERE p.qid = m.qid AND p.a = c.vid
         |              AND list_contains(m.sel, p.b)) AS ms,
         |           row_number() OVER (PARTITION BY m.qid ORDER BY
         |             0.7 * c.sim - 0.3 * (SELECT max(p.psim) FROM pairs p
         |               WHERE p.qid = m.qid AND p.a = c.vid
         |                 AND list_contains(m.sel, p.b)) DESC, c.vid) AS rn
         |    FROM mmr m JOIN cand c
         |      ON c.qid = m.qid AND NOT list_contains(m.sel, c.vid)
         |    WHERE m.step < 8) WHERE rn = 1)
         |SELECT qid AS query_id, step AS rank, vid AS neighbor_id,
         |       score AS mmr_score
         |FROM mmr""".stripMargin
    }) { (s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d))
    },

    // LSH-bucketed ANN: sublinear scale path. Planes pinned (7 — what
    // planesFor picks at the sf0.1 bench corpus) so the static oracle can
    // embed the identical hyperplane literals and replay buckets,
    // candidates, cosine scores, AND the per-query top-k rank exactly;
    // recall vs brute force and the auto corpus-scaled mode stay asserted
    // in SimilaritySpec.
    Op("knn_lsh", lshKnnOracleSql(planes = 7, tables = 8, k = 10,
        dim = 64)) { (s, d) =>
      Similarity.lshKnn(Tables.embeddings(s, d), planes = 7, tables = 8)
    },

    // The AUTO-sized LSH path: planes derived from the corpus size
    // (planesFor), i.e. the bucket space that actually scales — pinning 7
    // is right only where planesFor would pick 7, and a bigger sf under a
    // fixed 2^7 bucket space grows candidate pairs quadratically per
    // bucket. ORACLE-EXACT now (r10) with NO pinning: the oracle
    // re-derives the plane count from count(*) and re-generates the
    // splitmix64 hyperplanes in SQL (see lshAutoKnnOracleSql), so the
    // corpus-scaled sizing is hash-verified at every sf.
    Op("knn_lsh_auto", lshAutoKnnOracleSql(tables = 8, k = 10,
        dim = 64)) { (s, d) =>
      Similarity.lshKnn(Tables.embeddings(s, d), tables = 8)
    },

    // IVF ANN: k-means coarse quantizer + nprobe list search — the
    // data-adaptive scale path next to LSH. Rows-only; recall asserted vs
    // brute force in SimilaritySpec.
    Op.noOracle("knn_ivf") { (s, d) =>
      Similarity.ivfKnn(Tables.embeddings(s, d))
    },

    // PQ-ADC ANN: product-quantized codes (m bytes per vector) scanned
    // with per-query distance lookup tables — the memory scale path.
    // Rows-only (k-means codebooks are not SQL-expressible); recall vs
    // exact L2 and the compression contract asserted in SimilaritySpec.
    Op.noOracle("knn_pq") { (s, d) =>
      Similarity.pqKnn(Tables.embeddings(s, d))
    },

    // IVF recall, ORACLE-MEASURED: the pinned-centroid IVF variant
    // (centroids = corpus vectors 0..15, no k-means — the same pinning
    // trick as knn_lsh's planes=7) searched for the 20 knn_cosine query
    // vectors, scored against the exact cosine top-10 ground truth. One
    // row: (n_true, n_found, recall), hash-matched — DuckDB replays
    // coarse assignment, probing, candidate scoring, ranking, AND the
    // truth list, so the recall number itself is verified, not
    // self-reported. The production (k-means-trained) path stays knn_ivf;
    // both quantizers' recall floors are asserted in SimilaritySpec.
    Op("knn_ivf_recall", ivfRecallOracleSql(nCents = 16, nprobe = 4,
        k = 10, nQueries = 20, dim = 64)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val truth = Similarity.bruteForceKnn(emb)
      val ivf = Similarity.ivfKnn(emb, nprobe = 4, k = 10,
          centroidVecIds = 0L until 16L, nQueries = 20)
      recallOf(truth, ivf)
    },

    // PQ recall, ORACLE-MEASURED: pinned-codebook PQ-ADC (subspace
    // codewords = subvectors of corpus vectors 20..51, no k-means)
    // searched for the 20 query vectors, scored against the exact
    // squared-L2 top-10 (PQ's native metric). Same verified-recall
    // contract as knn_ivf_recall; the trained-codebook production path
    // stays knn_pq with its SimilaritySpec recall floor.
    Op("knn_pq_recall", pqRecallOracleSql(cwLo = 20, cwHi = 52, m = 16,
        k = 10, nQueries = 20, dim = 64)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val vecs = emb.select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("v"))
      val queries = vecs.filter(col("vid") < 20).toDF("query_id", "qv")
      // exact squared L2 as the same sequential fold the oracle replays;
      // negated so TopK's descending order yields nearest-first
      val sq = aggregate(
        zip_with(col("qv"), col("v"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
      val truth = Similarity.topKPerGroup(
          vecs.join(broadcast(queries), col("vid") =!= col("query_id"))
            .select(col("query_id"), col("vid"), (-sq).as("sim")),
          "query_id", "vid", "sim", 10)
      val found = Similarity.pqKnn(emb, codebookVecIds = 20L until 52L)
      recallOf(truth, found)
    },

    // Embedding-cosine near-dup pairs via random-hyperplane buckets
    // (self-equi-join candidates). Planes pinned (not auto) so the static
    // oracle can embed the identical hyperplane literals and replay bucket
    // assignment + threshold bit-for-bit; the auto-scaled path is the
    // lshKnn entry.
    Op("embed_near_dup", embedNearDupOracleSql(planes = 8, tables = 4,
        threshold = 0.4, dim = 64)) { (s, d) =>
      Similarity.cosineNearDups(Tables.embeddings(s, d),
        planes = 8, tables = 4, threshold = 0.4)
    },

    // SemDeDup: the near-dup pair graph above, collapsed to connected
    // components with one (min-id) survivor per component. Same pinned
    // hyperplane literals as embed_near_dup, so the oracle replays pairs
    // verbatim and walks components with the same recursive CTE the
    // clean-corpus oracle uses.
    Op("embed_semantic_dedup",
       s"""WITH RECURSIVE pairs AS MATERIALIZED (
          |  SELECT id_a, id_b FROM (
          |    ${embedNearDupOracleSql(planes = 8, tables = 4,
                  threshold = 0.4, dim = 64)
                  .linesIterator.mkString("\n    ")})),
          |edges AS MATERIALIZED (
          |  SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION ALL SELECT id_b, id_a FROM pairs),
          |${Dedup.walkCte},
          |lab AS (
          |  SELECT node, least(node, min(reach)) AS label FROM walk
          |  GROUP BY node),
          |cl AS (SELECT label, count(*) - 1 AS dups_removed FROM lab
          |       GROUP BY label)
          |SELECT e.vec_id, coalesce(c.dups_removed, 0) AS dups_removed
          |FROM embeddings e
          |LEFT JOIN lab l ON l.node = e.vec_id
          |LEFT JOIN cl c ON c.label = e.vec_id
          |WHERE l.node IS NULL OR l.label = e.vec_id""".stripMargin) { (s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d),
        planes = 8, tables = 4, threshold = 0.4)
    },

    // Fixed-point distributed k-means (k=8, 5 Lloyd rounds, seeds =
    // vectors 0..7): the recursive CTE replays init, every assignment
    // round (ties to lowest k), every integer centroid update, and the
    // empty-cluster carry — an oracle-checked CLUSTERING TRAINER.
    Op("embed_kmeans", kmeansCte + """
       |SELECT k, i, ci - 1048576 AS c FROM km WHERE iter = 5""".stripMargin) {
      (s, d) => Similarity.kmeansCentroids(Tables.embeddings(s, d))
    },

    // The distributed half of the same model: final hard assignment of
    // every vector to its nearest trained centroid.
    Op("embed_kmeans_assign", kmeansCte + """,
       |fin AS (SELECT k, i, ci FROM km WHERE iter = 5),
       |dist AS (
       |  SELECT x.vec_id, f.k,
       |         sum((x.xi - f.ci) * (x.xi - f.ci)) AS d
       |  FROM xq x JOIN fin f USING (i) GROUP BY 1, 2)
       |SELECT vec_id, k FROM (
       |  SELECT vec_id, k,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
       |  FROM dist)
       |WHERE rn = 1""".stripMargin) { (s, d) =>
      Similarity.kmeansAssignments(Tables.embeddings(s, d))
    },

    // Davies-Bouldin index of the trained clustering — the internal
    // quality readout, exact end to end: integer moments in the kmeans
    // fixed-point space, then only correctly-rounded sqrt/divide (and
    // the ordered-fold mean convention), so even the D_i maxima and the
    // final scalar hash-compare. See Similarity.kmeansDaviesBouldin.
    Op("embed_db_index", kmeansCte + """,
       |cent AS (SELECT k, i, ci FROM km WHERE iter = 5),
       |dist AS (
       |  SELECT x.vec_id, c.k,
       |         CAST(sum((x.xi - c.ci) * (x.xi - c.ci)) AS BIGINT) AS d
       |  FROM xq x JOIN cent c USING (i)
       |  GROUP BY 1, 2),
       |asg AS (
       |  SELECT vec_id, k, d FROM (
       |    SELECT vec_id, k, d,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY d, k) AS rnk
       |    FROM dist) WHERE rnk = 1),
       |ks AS (SELECT DISTINCT k FROM cent),
       |st AS (
       |  SELECT ks.k,
       |         CAST(count(a.vec_id) AS BIGINT) AS n,
       |         CAST(coalesce(sum(a.d), 0) AS BIGINT) AS ss
       |  FROM ks LEFT JOIN asg a USING (k) GROUP BY 1),
       |sv AS (
       |  SELECT k, n, ss,
       |         CASE WHEN n = 0 THEN 0.0
       |              ELSE sqrt(CAST(ss AS DOUBLE) / n) END AS s_i
       |  FROM st),
       |gap AS (
       |  SELECT a.k AS ki, b.k AS kj,
       |         CAST(sum((a.ci - b.ci) * (a.ci - b.ci)) AS BIGINT) AS g
       |  FROM cent a JOIN cent b ON a.i = b.i AND a.k <> b.k
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT g.ki AS k,
       |         max((si.s_i + sj.s_i) / sqrt(CAST(g.g AS DOUBLE))) AS d_i
       |  FROM gap g
       |  JOIN sv si ON si.k = g.ki
       |  JOIN sv sj ON sj.k = g.kj
       |  GROUP BY 1),
       |dbv AS (
       |  SELECT list_reduce(list_prepend(0.0, list(d_i ORDER BY k)),
       |                     (a, b) -> a + b)
       |         / (SELECT count(*) FROM ks) AS db
       |  FROM r)
       |SELECT sv.k, sv.n, sv.ss, sv.s_i, r.d_i, dbv.db
       |FROM sv JOIN r USING (k), dbv""".stripMargin) { (s, d) =>
      Similarity.kmeansDaviesBouldin(Tables.embeddings(s, d))
    },

    // JL random projection 64 -> 16 on 2^20-quantized inputs: every
    // output component is a pure BIGINT sum against a ±1 literal matrix,
    // and the oracle embeds the SAME driver-generated literals, so the
    // projection is hash-exact end to end.
    Op("embed_random_projection", {
      val rows = (0 until 16).map { j =>
        val s = (0 until 64).map(i => Similarity.rpSign(j, i))
          .mkString("[", ", ", "]")
        s"($j, $s)"
      }.mkString(",\n       |    ")
      s"""WITH xq AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x ->
         |           CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
         |                AS BIGINT)) AS xq
         |  FROM embeddings),
         |m(j, s) AS (VALUES
         |    $rows)
         |SELECT vec_id, CAST(j AS INT) AS j,
         |       CAST(list_aggregate(
         |              list_transform(range(1, 65), i -> xq[i] * s[i]),
         |              'sum') AS BIGINT) AS y
         |FROM xq, m""".stripMargin
    }) { (s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d))
    },

    // PCA whitening: distributed one-pass covariance, driver-side Jacobi
    // on the d×d matrix, broadcast matmul applied map-side. Eigensolving
    // is not SQL-expressible and the moment sums are partition-order
    // float accumulations -> rows-only; the whitening identity (output
    // covariance == I), the canonical basis, and anisotropy removal are
    // asserted to tight tolerances in SimilaritySpec.
    // Exploded to (vec_id, i, value) like embed_quantize_int8 so every
    // row is scalar-typed and the driver harness can sort/hash it.
    Op.noOracle("embed_pca_whiten") { (s, d) =>
      Similarity.pcaWhiten(Tables.embeddings(s, d))
        .select(col("vec_id"), posexplode(col("white")))
        .select(col("vec_id"), col("pos").as("i"), col("col").as("value"))
    },

    // Symmetric int8 quantization codes, exploded to (vec_id, i, q) so
    // the integer codes hash-compare exactly. The round is floor(x + 1/2)
    // on both sides — a plain `round` is bankers' in one engine and
    // half-away in the other.
    Op("embed_quantize_int8",
       """WITH v AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sv AS (
         |  SELECT vec_id, v,
         |         list_max(list_transform(v, x -> abs(x))) AS s FROM v),
         |occ AS (
         |  SELECT vec_id, v, s, unnest(range(0, len(v))) AS i FROM sv)
         |SELECT vec_id, CAST(i AS INT) AS i,
         |       CASE WHEN s = 0 THEN 0
         |            ELSE GREATEST(-127, LEAST(127,
         |                   CAST(floor(v[i+1] * 127.0 / s + 0.5) AS INT)))
         |       END AS q
         |FROM occ""".stripMargin) { (s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), posexplode(col("qv")))
        .select(col("vec_id"), col("pos").as("i"), col("col").as("q"))
    },

    // Int8 recall, ORACLE-MEASURED like knn_ivf_recall: exact top-10
    // under the integer dot product of the quantized codes, scored
    // against the exact float cosine top-10 for the same 20 queries.
    // Every ranking and the recall ratio replay in SQL.
    Op("embed_quantize_recall", int8RecallOracleSql(k = 10, nQueries = 20,
        dim = 64)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val truth = Similarity.bruteForceKnn(emb)
      val found = Similarity.int8Knn(emb)
      recallOf(truth, found)
    },

    // Matryoshka truncation recall (Kusupati et al. 2022, MRL): rank by
    // cosine over only the FIRST 32 of 64 dimensions — the
    // half-storage/half-FLOPs serving mode matryoshka-trained embedding
    // models advertise — and measure top-10 recall against the
    // full-dimension exact truth, same oracle-measured protocol as
    // embed_quantize_recall / knn_ivf_recall. (These synthetic vectors
    // are not MRL-trained, so the measured recall is the honest
    // baseline a pipeline would see BEFORE adopting an MRL model — the
    // eval harness is the operator.) Truncation is a map-side slice;
    // both rankings are the broadcast nested-loop knn_cosine shape.
    Op("embed_mrl_recall",
       s"""WITH trunc AS (
          |${topKPairsSql(s"${cosineSql(32)} DESC", 20, 10)}),
          |${recallTailSql(s"${cosineSql(64)} DESC", "trunc", 20, 10)}""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val truncated = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding"))
      val truth = Similarity.bruteForceKnn(emb)
      val found = Similarity.bruteForceKnn(truncated)
      recallOf(truth, found)
    },

    // Hard-negative mining (DPR/SimCSE-style contrastive data prep):
    // per anchor, top-5 most-similar vectors inside cos [0.2, 0.9) —
    // hard enough to teach, below the near-dup ceiling so unlabeled
    // positives are excluded. knn_cosine's exact broadcast shape with a
    // window filter; ranks replay bit-for-bit like knn_cosine.
    Op("embed_hard_negatives",
       s"""SELECT query_id, neighbor_id, rank, cos FROM (
          |  SELECT query_id, neighbor_id,
          |         CAST(row_number() OVER (
          |           PARTITION BY query_id
          |           ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
          |         cos
          |  FROM (
          |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |           ${cosineSql(64)} AS cos
          |    FROM embeddings a, embeddings b
          |    WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id)
          |  WHERE cos >= 0.2 AND cos < 0.9)
          |WHERE rank <= 5""".stripMargin) { (s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d),
        nAnchors = 20, k = 5, floor = 0.2, ceiling = 0.9)
    },

    // Fused contamination report — the audit a pipeline actually files:
    // BOTH detection modalities per document, n-gram (lexical overlap
    // with the benchmark split) and embedding-cosine (semantic overlap,
    // catching paraphrases the n-grams miss), full-outer-joined on the
    // doc/vec id correspondence. Each side is its own oracle-verified
    // operator; the fusion is one join over two hit-sized (not
    // corpus-sized) inputs.
    Op("llm_contamination_report",
       s"""WITH ngram AS (
          |  ${decontaminateOracleSql.linesIterator.mkString("\n  ")}),
          |sem AS (
          |  SELECT a.vec_id AS bench_id, b.vec_id AS vec_id,
          |         ${cosineSql(64)} AS cos
          |  FROM embeddings a, embeddings b
          |  WHERE a.vec_id % 97 = 0 AND b.vec_id % 97 <> 0),
          |semhits AS (
          |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_semantic,
          |         max(cos) AS max_cos
          |  FROM sem WHERE cos >= 0.3 GROUP BY 1)
          |SELECT coalesce(n.doc_id, s.vec_id) AS doc_id,
          |       CAST(coalesce(n.n_contaminated, 0) AS BIGINT) AS n_ngram,
          |       CAST(coalesce(s.n_semantic, 0) AS BIGINT) AS n_semantic,
          |       s.max_cos
          |FROM ngram n FULL OUTER JOIN semhits s ON n.doc_id = s.vec_id""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val ngram = Dedup.decontaminate(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0), n = 4)
          .select(col("doc_id"), col("n_contaminated"))
        val sem = Similarity.semanticDecontaminate(Tables.embeddings(s, d),
            benchPred = col("vec_id") % 97 === 0, threshold = 0.3)
          .select(col("vec_id"), col("n_bench_hits"), col("max_cos"))
        ngram.join(sem, col("doc_id") === col("vec_id"), "full_outer")
          .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_ngram"),
            coalesce(col("n_bench_hits"), lit(0L)).as("n_semantic"),
            col("max_cos"))
    },

    // Semantic decontamination: corpus vectors embedding-close to any
    // benchmark vector (vec_id % 97 = 0 — the same held-out convention as
    // llm_decontaminate's n-gram path). EXACT brute force against a
    // broadcast of the small bench side — deliberately not LSH-bucketed:
    // at cos ~0.3 hyperplane-banding recall collapses, and a missed
    // contamination is a benchmark leak. Corpus scanned map-side, never
    // shuffled; only above-threshold hits reach the keyed aggregate.
    // max() and count() are order-independent-exact, so the row hashes.
    Op("embed_decontaminate",
       s"""WITH pairs AS (
          |  SELECT a.vec_id AS bench_id, b.vec_id AS vec_id,
          |         ${cosineSql(64)} AS cos
          |  FROM embeddings a, embeddings b
          |  WHERE a.vec_id % 97 = 0 AND b.vec_id % 97 <> 0)
          |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
          |       max(cos) AS max_cos
          |FROM pairs WHERE cos >= 0.3
          |GROUP BY 1""".stripMargin) { (s, d) =>
      Similarity.semanticDecontaminate(Tables.embeddings(s, d),
        benchPred = col("vec_id") % 97 === 0, threshold = 0.3)
    },

    // Incremental SEMANTIC dedup — the embedding-space member of the
    // daily-increment family next to dedup_incremental and
    // llm_pipeline_incremental: the new batch (vec_id % 10 = 0) is
    // LSH-bucketed and joined against the STORED corpus bucket index,
    // exact cosine verifies candidates only, and each flagged batch
    // vector reports its store-duplicate census. The oracle replays
    // bucket assignment with the same pinned hyperplane literals, so
    // the hash-match proves the index join lossless w.r.t. its own
    // candidates (the embed_semantic_dedup recall contract).
    Op("embed_semantic_dedup_incr",
       s"""WITH b AS (
          |  ${bucketedSql(planes = 4, tables = 8, dim = 64)
              .linesIterator.mkString("\n  ")}),
          |cand AS (
          |  SELECT DISTINCT x.vec_id AS new_id, y.vec_id AS corpus_id
          |  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
          |  WHERE x.vec_id % 10 = 0 AND y.vec_id % 10 <> 0),
          |hits AS (
          |  SELECT new_id, corpus_id, cos FROM (
          |    SELECT c.new_id, c.corpus_id, ${cosineSql(64)} AS cos
          |    FROM cand c
          |    JOIN embeddings a ON a.vec_id = c.new_id
          |    JOIN embeddings b ON b.vec_id = c.corpus_id)
          |  WHERE cos >= 0.4)
          |SELECT new_id, CAST(count(*) AS BIGINT) AS n_corpus_dups,
          |       max(cos) AS max_cos, min(corpus_id) AS dup_of
          |FROM hits GROUP BY 1""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val index = Similarity.lshBuckets(
          corpus.select(col("vec_id").as("vid"),
            col("embedding").cast("array<double>").as("v")),
          planes = 4, tables = 8, dim = 64)
        .select("vid", "table", "bucket")
      Similarity.incrementalSemanticDedup(batch, corpus, index,
        planes = 4, tables = 8, threshold = 0.4, dim = 64)
    },

    // --- text analysis ---------------------------------------------------

    // Per-source robust length outliers: exact lower-median and MAD by
    // integer rank (keyed windows, parallel across sources), flag by pure
    // integer comparison, z-score as one exact division — the oracle
    // replays every rank pick and the final arithmetic bit-for-bit.
    Op("text_length_outliers",
       """WITH base AS (
         |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents),
         |med AS (
         |  SELECT source, n_chars AS med FROM (
         |    SELECT source, n_chars,
         |           row_number() OVER (PARTITION BY source
         |             ORDER BY n_chars, doc_id) AS rn,
         |           count(*) OVER (PARTITION BY source) AS cnt
         |    FROM base)
         |  WHERE rn = (cnt + 1) // 2),
         |dev AS (
         |  SELECT b.doc_id, b.source, abs(b.n_chars - m.med) AS dev
         |  FROM base b JOIN med m USING (source)),
         |mad AS (
         |  SELECT source, dev AS mad FROM (
         |    SELECT source, dev,
         |           row_number() OVER (PARTITION BY source
         |             ORDER BY dev, doc_id) AS rn,
         |           count(*) OVER (PARTITION BY source) AS cnt
         |    FROM dev)
         |  WHERE rn = (cnt + 1) // 2)
         |SELECT b.doc_id, b.source, b.n_chars, m.med, d.mad,
         |       CAST(b.n_chars - m.med AS DOUBLE)
         |         / CAST(greatest(d.mad, 1) AS DOUBLE) AS z,
         |       abs(b.n_chars - m.med) > 3 * greatest(d.mad, 1) AS is_outlier
         |FROM base b JOIN med m USING (source) JOIN mad d USING (source)"""
         .stripMargin) { (s, d) =>
      CorpusQuality.lengthOutliers(Tables.documents(s, d))
    },

    // Cross-source contamination matrix: distinct shared shingles and
    // shingle-set Jaccard per source pair. The per-key join fanout is
    // bounded by the source count; integers until the final division.
    Op("text_source_overlap",
       s"""WITH toks AS (
          |  SELECT source, $toksSql AS toks FROM documents),
          |sh0 AS (
          |  SELECT source,
          |    unnest(CASE WHEN len(toks) < 3
          |      THEN [array_to_string(toks, ' ')]
          |      ELSE list_transform(range(0, len(toks) - 2),
          |        i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) END)
          |      AS shingle
          |  FROM toks),
          |sh AS (SELECT DISTINCT source, shingle FROM sh0),
          |counts AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
          |inter AS (
          |  SELECT a.source AS src_a, b.source AS src_b,
          |         count(*) AS n_shared
          |  FROM sh a JOIN sh b
          |    ON a.shingle = b.shingle AND a.source < b.source
          |  GROUP BY 1, 2)
          |SELECT src_a, src_b, n_shared, ca.n_sh AS n_a, cb.n_sh AS n_b,
          |       CAST(n_shared AS DOUBLE)
          |         / CAST(ca.n_sh + cb.n_sh - n_shared AS DOUBLE) AS jaccard
          |FROM inter JOIN counts ca ON ca.source = src_a
          |           JOIN counts cb ON cb.source = src_b""".stripMargin) {
      (s, d) => CorpusQuality.sourceOverlap(Tables.documents(s, d))
    },

    // Per-document token/char statistics; all doubles are single divisions
    // of exact ints -> bit-identical.
    // The dataset card's quantitative table (Gebru et al. 2021
    // "Datasheets for datasets" brought to corpus ops): per source —
    // document and character volume, whitespace-token volume, English
    // share in truncating ppm, and distinct-text count (n_docs minus it
    // is the exact-dup surplus a cleaning pass would remove). One keyed
    // aggregate over one corpus scan; every column integer, so the
    // whole card hash-compares. This is the first table a 100 TB
    // ingest run publishes and the regression gate later runs diff
    // against.
    Op("llm_dataset_card",
       s"""SELECT source,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
          |       CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens,
          |       CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS n_en,
          |       CAST(count(*) FILTER (lang = 'en') * 1000000 // count(*)
          |            AS BIGINT) AS en_ppm,
          |       CAST(count(DISTINCT md5(text)) AS BIGINT)
          |         AS n_distinct_texts
          |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          sum(size(TextFeatures.tokens(col("text"))).cast("long"))
            .as("n_tokens"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
        .select(col("source"), col("n_docs"), col("n_chars"),
          col("n_tokens"), col("n_en"),
          expr("n_en * 1000000 div n_docs").as("en_ppm"),
          col("n_distinct_texts"))
    },

    // Per-document n-gram NOVELTY — the memorization/boilerplate lens:
    // what fraction of a document's 4-gram positions carry a gram seen
    // in NO other document (df = 1 ⟺ unique to this doc, since df
    // counts distinct docs). Low novelty = assembled from corpus-common
    // material; high = genuinely new text — the per-doc complement of
    // the corpus-level dedup/decontamination family. One gram-keyed
    // census (keyed shuffle with map-side partials) + one join back;
    // novelty is integer ppm.
    Op("llm_ngram_novelty",
       s"""WITH toks AS (
          |  SELECT doc_id, $toksSql AS toks FROM documents),
          |occ AS (
          |  SELECT doc_id, concat_ws(' ', toks[i+1], toks[i+2], toks[i+3],
          |                           toks[i+4]) AS gram
          |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 3)) AS i
          |        FROM toks WHERE len(toks) >= 4)),
          |df AS (
          |  SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          |  FROM occ GROUP BY 1)
          |SELECT o.doc_id,
          |       CAST(count(*) AS BIGINT) AS n_grams,
          |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_unique,
          |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |         * 1000000 // CAST(count(*) AS BIGINT) AS novelty_ppm
          |FROM occ o JOIN df USING (gram)
          |GROUP BY 1""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextFeatures.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 4)
      val occ = toks.select(col("doc_id"),
          explode(sequence(lit(0), size(col("toks")) - 4)).as("i"),
          col("toks"))
        .select(col("doc_id"), concat_ws(" ",
          expr("toks[i]"), expr("toks[i+1]"), expr("toks[i+2]"),
          expr("toks[i+3]")).as("gram"))
        .transform(graft.Ckpt.cut(_)) // feeds the census AND the join back
      val df = occ.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val out = occ.join(df, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_grams"), col("n_unique"),
          expr("n_unique * 1000000 div n_grams").as("novelty_ppm"))
        .transform(graft.Ckpt.cut(_))
      graft.Ckpt.release(occ)
      out
    },

    // Unicode-script census per document — the routing pass that
    // PRECEDES language ID at corpus scale (langID models are
    // per-script; script is a map-only integer census). Counts are
    // codepoint-class strip-differences over BMP ranges, where Spark's
    // UTF-16 length and DuckDB's codepoint length agree 1:1; the
    // dominant-script label takes ties in a fixed order. The synthetic
    // corpus is ASCII (latin dominates everywhere) — the spec exercises
    // CJK/Cyrillic/Arabic branches on constructed text.
    Op("text_script_census",
       """SELECT doc_id,
         |  length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
         |    AS n_latin,
         |  length(text) - length(regexp_replace(text,
         |    '[\x{0400}-\x{04FF}]', '', 'g')) AS n_cyrillic,
         |  length(text) - length(regexp_replace(text,
         |    '[\x{4E00}-\x{9FFF}]', '', 'g')) AS n_cjk,
         |  length(text) - length(regexp_replace(text,
         |    '[\x{0600}-\x{06FF}]', '', 'g')) AS n_arabic,
         |  CASE greatest(
         |      length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')),
         |      length(text) - length(regexp_replace(text,
         |        '[\x{0400}-\x{04FF}]', '', 'g')),
         |      length(text) - length(regexp_replace(text,
         |        '[\x{4E00}-\x{9FFF}]', '', 'g')),
         |      length(text) - length(regexp_replace(text,
         |        '[\x{0600}-\x{06FF}]', '', 'g')))
         |    WHEN 0 THEN 'other'
         |    WHEN length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
         |      THEN 'latin'
         |    WHEN length(text) - length(regexp_replace(text,
         |      '[\x{0400}-\x{04FF}]', '', 'g')) THEN 'cyrillic'
         |    WHEN length(text) - length(regexp_replace(text,
         |      '[\x{4E00}-\x{9FFF}]', '', 'g')) THEN 'cjk'
         |    ELSE 'arabic' END AS script
         |FROM documents""".stripMargin) { (s, d) =>
      val counts = TextFeatures.scriptCounts(col("text"))
      val Seq(la, cy, cj, ar) = counts.map(_._2)
      val mx = greatest(la, cy, cj, ar)
      Tables.documents(s, d).select(col("doc_id") +:
        counts.map { case (n, c) => c.as(s"n_$n") } :+
        when(mx === 0L, "other")
          .when(mx === la, "latin")
          .when(mx === cy, "cyrillic")
          .when(mx === cj, "cjk")
          .otherwise("arabic").as("script"): _*)
    },

    Op("text_stats",
       s"""SELECT doc_id,
          |       len($toksSql) AS n_tokens,
          |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
          |       length(text) AS n_chars_measured,
          |       CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
          |         / NULLIF(length(text), 0) AS punct_ratio,
          |       CAST(list_aggregate(list_transform($toksSql, t -> length(t)), 'sum') AS DOUBLE)
          |         / len($toksSql) AS avg_token_len,
          |       CAST(len(list_filter($toksSql, t -> list_contains($stopSql, t))) AS DOUBLE)
          |         / len($toksSql) AS stopword_ratio
          |FROM documents""".stripMargin) { (s, d) =>
      val t = col("text")
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextFeatures.tokens(t)).cast("long").as("n_tokens"),
        TextFeatures.bpeTokenCount(t).cast("long").as("n_bpe_tokens"),
        length(t).cast("long").as("n_chars_measured"),
        TextFeatures.punctRatio(t).as("punct_ratio"),
        TextFeatures.avgTokenLen(t).as("avg_token_len"),
        TextFeatures.stopwordRatio(t).as("stopword_ratio"))
    },

    // Language ID + quality score per document. The oracle replays the same
    // marker-hit argmax CASE chain and the same constant arithmetic.
    Op("text_lang_quality",
       s"""WITH hits AS (
          |  SELECT doc_id, lang, text,
          |    len(list_filter($toksSql, t -> list_contains(['the','a','of','and','is'], t))) AS h_en,
          |    len(list_filter($toksSql, t -> list_contains(['der','die','das','und','ist'], t))) AS h_de,
          |    len(list_filter($toksSql, t -> list_contains(['le','la','les','et','est'], t))) AS h_fr,
          |    len(list_filter($toksSql, t -> list_contains(['el','la','los','y','es'], t))) AS h_es,
          |    CAST(len(list_filter($toksSql, t -> list_contains($stopSql, t))) AS DOUBLE)
          |      / len($toksSql) AS stop_ratio,
          |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
          |      / NULLIF(length(text), 0) AS p_ratio
          |  FROM documents)
          |SELECT doc_id, lang AS lang_label,
          |  CASE WHEN greatest(h_en, h_de, h_fr, h_es) > 0 AND h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
          |       WHEN greatest(h_en, h_de, h_fr, h_es) > 0 AND h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
          |       WHEN greatest(h_en, h_de, h_fr, h_es) > 0 AND h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
          |       WHEN greatest(h_en, h_de, h_fr, h_es) > 0 AND h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
          |       ELSE 'und' END AS lang_pred,
          |  (CASE WHEN length(text) < 20 THEN 0.2e0
          |        WHEN length(text) > 2000 THEN 0.5e0 ELSE 1.0e0 END)
          |    * 0.5e0
          |  + (CASE WHEN p_ratio > 0.2 THEN 0.3e0 ELSE 1.0e0 END) * 0.25e0
          |  + (CASE WHEN stop_ratio > 0.02 THEN 1.0e0 ELSE 0.7e0 END)
          |    * 0.25e0
          |    AS quality
          |FROM hits""".stripMargin) { (s, d) =>
      val t = col("text")
      Tables.documents(s, d).select(
        col("doc_id"),
        col("lang").as("lang_label"),
        TextFeatures.langId(t).as("lang_pred"),
        TextFeatures.qualityScore(t).as("quality"))
    },

    // Language-ID evaluation: the confusion matrix of the n-gram
    // heuristic against the gold `lang` column, with per-gold-label
    // cell shares in truncating ppm — the accept/reject evidence a
    // pipeline needs BEFORE trusting text_lang_quality's predictions as
    // a filter. Same marker-hit argmax as the classifier itself (the
    // hits CTE is copied verbatim so the definitions cannot drift);
    // everything integer, one bounded |langs|^2 aggregate after one
    // corpus scan.
    Op("text_lang_confusion",
       s"""WITH hits AS (
          |  SELECT doc_id, lang, text,
          |    len(list_filter($toksSql, t -> list_contains(['the','a','of','and','is'], t))) AS h_en,
          |    len(list_filter($toksSql, t -> list_contains(['der','die','das','und','ist'], t))) AS h_de,
          |    len(list_filter($toksSql, t -> list_contains(['le','la','les','et','est'], t))) AS h_fr,
          |    len(list_filter($toksSql, t -> list_contains(['el','la','los','y','es'], t))) AS h_es
          |  FROM documents),
          |p AS (
          |  SELECT lang AS lang_label,
          |  CASE WHEN greatest(h_en, h_de, h_fr, h_es) > 0 AND h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
          |       WHEN greatest(h_en, h_de, h_fr, h_es) > 0 AND h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
          |       WHEN greatest(h_en, h_de, h_fr, h_es) > 0 AND h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
          |       WHEN greatest(h_en, h_de, h_fr, h_es) > 0 AND h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
          |       ELSE 'und' END AS lang_pred
          |  FROM hits),
          |cells AS (
          |  SELECT lang_label, lang_pred, CAST(count(*) AS BIGINT) AS n
          |  FROM p GROUP BY 1, 2),
          |tot AS (SELECT lang_label, CAST(sum(n) AS BIGINT) AS n_label
          |        FROM cells GROUP BY 1)
          |SELECT c.lang_label, c.lang_pred, c.n, t.n_label,
          |       c.n * 1000000 // t.n_label AS cell_ppm
          |FROM cells c JOIN tot t USING (lang_label)""".stripMargin) {
      (s, d) =>
        val cells = Tables.documents(s, d)
          .select(col("lang").as("lang_label"),
            TextFeatures.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang_label"), col("lang_pred"))
          .agg(count(lit(1)).as("n"))
        val tot = cells.groupBy(col("lang_label"))
          .agg(sum(col("n")).as("n_label"))
        cells.join(broadcast(tot), Seq("lang_label"))
          .select(col("lang_label"), col("lang_pred"), col("n"),
            col("n_label"),
            expr("n * 1000000 div n_label").as("cell_ppm"))
    },

    // Per-source corpus rollup: counts and exact-int sums only (no
    // cross-partition double sums -> order-independent, oracle-exact).
    Op("text_source_rollup",
       s"""SELECT source, count(*) AS n_docs,
          |       CAST(sum(len($toksSql)) AS BIGINT) AS total_tokens,
          |       CAST(min(length(text)) AS BIGINT) AS min_chars,
          |       CAST(max(length(text)) AS BIGINT) AS max_chars
          |FROM documents GROUP BY source""".stripMargin) { (s, d) =>
      val t = col("text")
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(TextFeatures.tokens(t))).as("total_tokens"),
          min(length(t)).cast("long").as("min_chars"),
          max(length(t)).cast("long").as("max_chars"))
    },

    // Content fingerprints: exact (md5 of normal form) and winnowing-style
    // min-window hash; md5 hex strings compare byte-for-byte across engines.
    Op("text_fingerprint",
       s"""SELECT doc_id, md5($normSql) AS fp,
          |       CASE WHEN length($normSql) < 8 THEN md5($normSql)
          |            ELSE list_aggregate(
          |              list_transform(range(1, length($normSql) - 6),
          |                i -> md5(substr($normSql, i, 8))), 'min') END
          |         AS minwin_fp
          |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFeatures.normalized(col("text")).as("norm"))
        .select(
          col("doc_id"),
          md5(col("norm")).as("fp"),
          TextFeatures.minWindowFingerprintOfNorm(col("norm")).as("minwin_fp"))
    },

    // FULL winnowing (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    // algorithm), upgrading text_fingerprint's single global min-hash
    // to the guarantee-bearing fingerprint SET: k-gram hashes (k = 8
    // chars over the normal form), then in every window of w = 4
    // consecutive grams keep the minimum hash, rightmost on ties.
    // Guarantees: any match of length >= w + k - 1 = 11 chars shares a
    // fingerprint, and density is ~2/(w+1) of the grams — the knob that
    // makes plagiarism/near-copy detection storage-bounded. Both the
    // selection and the tie rule replay exactly: rightmost-min is
    // j + w - position-in-reversed-window, the same expression on both
    // engines.
    //
    // Scale shape: entirely MAP-SIDE per document (transform over the
    // gram array; no shuffle until the consumer joins fingerprints),
    // the same map-only contract as substring dedup's window kernel —
    // at 100 TB the fingerprint relation is what ships, ~L/2.5 rows per
    // doc instead of every gram.
    Op("text_winnowing",
       s"""$winnowCte
          |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, fp
          |FROM m""".stripMargin) { (s, d) =>
      TextFeatures.winnowFingerprints(Tables.documents(s, d), "doc_id",
        "text")
    },

    // Near-copy pairs from the winnowed fingerprint relation — the MOSS
    // overlap report: pairs of documents sharing >= 5 distinct
    // fingerprints, via an equi-join ON the fingerprint (never
    // all-pairs). Fingerprints appearing in > 50 documents are dropped
    // first (boilerplate grams — the substringDups maxDocFreq rule):
    // a hot fingerprint contributes pair-count quadratically while
    // carrying no copy signal, and the cap bounds every join group. The
    // hash match proves both the selection and the overlap census.
    Op("text_winnow_dups",
       s"""$winnowCte,
          |fpset AS (SELECT DISTINCT doc_id, fp FROM m),
          |df AS (SELECT fp, count(*) AS nd FROM fpset GROUP BY 1),
          |keep AS (
          |  SELECT fpset.doc_id, fpset.fp FROM fpset
          |  JOIN df USING (fp) WHERE df.nd <= 50)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(count(*) AS BIGINT) AS n_shared
          |FROM keep a JOIN keep b
          |  ON a.fp = b.fp AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin) { (s, d) =>
      // ONE exchange keyed on fp drives the whole op (r14): the old
      // `.distinct()` hash-shuffled on (doc_id, fp), so the df count,
      // the keep join and BOTH self-join sides each re-ran the winnow
      // md5 scan AND paid their own exchange. Repartitioning by fp
      // FIRST (hash(fp) clusters (doc_id, fp) groups, so the dedup
      // aggregate plans exchange-free — the r13 graph-builder shape)
      // leaves every downstream fp-keyed consumer partition-aligned:
      // the df aggregate, the keep join, and the self-join all reuse
      // the single exchange (ReusedExchange — the fingerprint scan runs
      // once), and the only other shuffle is the (id_a, id_b) pair agg.
      val fpset = TextFeatures.winnowFingerprints(
          Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("fp"))
        .repartition(col("fp"))
        .dropDuplicates(Seq("doc_id", "fp"))
      val df = fpset.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      val keep = fpset.join(df.filter(col("nd") <= 50), Seq("fp"))
        .select(col("doc_id"), col("fp"))
      keep.select(col("doc_id").as("id_a"), col("fp"))
        .join(keep.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
    },

    // T5-style span corruption (Raffel et al. 2020, the pretraining
    // objective transform): ~15% of each document's tokens are masked by
    // a deterministic md5 draw per (doc, position), adjacent masked
    // positions merge into spans (gaps-and-islands over the masked
    // stream), and the pair (input-with-sentinels, target-of-spans) is
    // rebuilt as strings — <extra_id_k> replaces span k in the input
    // and introduces it in the target, exactly the seq2seq example
    // format a denoising trainer consumes. Every piece of the surgery
    // (draws, span ids, both concatenations) is deterministic, so the
    // whole corrupted corpus hash-compares.
    //
    // Scale shape: one posexplode + two keyed windows per document + one
    // grouped rebuild — map-side except the per-doc sort, the
    // sessionize shuffle shape; no span state leaves its document.
    Op("llm_span_corruption",
       s"""WITH t AS (
          |  SELECT doc_id, tok, p,
          |         CAST('0x' || substr(md5(concat('span:',
          |             CAST(doc_id AS VARCHAR), ':', CAST(p AS VARCHAR))),
          |             1, 4) AS BIGINT) < 9830 AS masked
          |  FROM (SELECT doc_id, unnest($toksSql) AS tok,
          |               unnest(range(1, len($toksSql) + 1)) AS p
          |        FROM documents)),
          |m AS (
          |  SELECT doc_id, tok, p, masked,
          |         CASE WHEN masked THEN p - row_number() OVER (
          |             PARTITION BY doc_id, masked ORDER BY p) END AS grp
          |  FROM t),
          |sid AS (
          |  SELECT doc_id, tok, p, masked, grp,
          |         CASE WHEN masked THEN dense_rank() OVER (
          |             PARTITION BY doc_id, masked ORDER BY grp) - 1 END
          |           AS k,
          |         masked AND (p = 1 OR NOT lag(masked) OVER (
          |             PARTITION BY doc_id ORDER BY p)) AS is_start
          |  FROM m)
          |SELECT doc_id,
          |       CAST(count(DISTINCT grp) AS BIGINT) AS n_spans,
          |       coalesce(string_agg(CASE WHEN NOT masked THEN tok
          |                       WHEN is_start
          |                       THEN '<extra_id_' || k || '>' END,
          |                  ' ' ORDER BY p), '') AS input_text,
          |       coalesce(string_agg(CASE WHEN NOT masked THEN NULL
          |                       WHEN is_start
          |                       THEN '<extra_id_' || k || '> ' || tok
          |                       ELSE tok END, ' ' ORDER BY p), '')
          |         AS target_text
          |FROM sid GROUP BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(TextFeatures.tokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
          col("col").as("tok"))
        .withColumn("masked", graft.functions.GraftFunctions.md5Bits(
          concat(lit("span:"), col("doc_id").cast("string"), lit(":"),
            col("p").cast("string")), 1, 4) < 9830)
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val byMask = Window.partitionBy(col("doc_id"), col("masked"))
        .orderBy(col("p"))
      val m = t.withColumn("grp",
        when(col("masked"), col("p") - row_number().over(byMask)))
      val sid = m
        .withColumn("k", when(col("masked"),
          dense_rank().over(Window.partitionBy(col("doc_id"), col("masked"))
            .orderBy(col("grp"))) - 1))
        .withColumn("is_start", col("masked") &&
          (col("p") === 1 || !lag(col("masked"), 1).over(byDoc)))
      val sentinel = concat(lit("<extra_id_"), col("k"), lit(">"))
      sid.groupBy(col("doc_id"))
        .agg(count_distinct(col("grp")).as("n_spans"),
          concat_ws(" ", transform(sort_array(collect_list(struct(col("p"),
              when(!col("masked"), col("tok"))
                .when(col("is_start"), sentinel).as("piece")))),
            x => x.getField("piece"))).as("input_text"),
          concat_ws(" ", transform(sort_array(collect_list(struct(col("p"),
              when(!col("masked"), lit(null).cast("string"))
                .when(col("is_start"), concat(sentinel, lit(" "), col("tok")))
                .otherwise(col("tok")).as("piece")))),
            x => x.getField("piece"))).as("target_text"))
    },

    // Fill-in-the-middle transform (Bavarian et al. 2022 "Efficient
    // training of language models to fill in the middle"): two
    // deterministic md5 cut points split each document into
    // prefix/middle/suffix and the example is re-serialized in PSM
    // order — <PRE> prefix <SUF> suffix <MID> middle — teaching a
    // causal LM to infill. Cuts are draws mod (n_tokens + 1), so empty
    // segments occur at their natural rate and replay exactly; the
    // whole transform is one map-side array-slice pass, the cheapest
    // possible shape (no shuffle at all — only the parquet scan).
    // SFT chat-template rendering — the format surgery between a
    // curated corpus and a supervised-finetuning trainer: each document
    // becomes a ChatML-style example (system + user turn from the first
    // 12 tokens, assistant turn from the remainder) with the ASSISTANT
    // SPAN OFFSETS a trainer needs for loss masking (everything before
    // `asst_start` is context, not target). Offsets are computed from
    // the same concat that builds the string, so they cannot drift from
    // the rendering; docs too short to split into a nonempty prompt and
    // response are dropped (the production filter). Pure map-side
    // string assembly — the oracle replays template, split, and both
    // offsets byte-for-byte.
    Op("llm_chat_render",
       s"""WITH t AS (
          |  SELECT doc_id, $toksSql AS toks, len($toksSql) AS n
          |  FROM documents WHERE len($toksSql) > 12),
          |p AS (
          |  SELECT doc_id,
          |         array_to_string(toks[1:12], ' ') AS instr,
          |         array_to_string(toks[13:n], ' ') AS resp
          |  FROM t),
          |r AS (
          |  SELECT doc_id,
          |         '<|im_start|>system' || chr(10)
          |           || 'You are a helpful assistant.<|im_end|>' || chr(10)
          |           || '<|im_start|>user' || chr(10) || instr
          |           || '<|im_end|>' || chr(10)
          |           || '<|im_start|>assistant' || chr(10) AS prefix,
          |         resp || '<|im_end|>' AS target
          |  FROM p)
          |SELECT doc_id, prefix || target AS rendered,
          |       CAST(length(prefix) AS BIGINT) AS asst_start,
          |       CAST(length(prefix || target) AS BIGINT) AS n_chars
          |FROM r""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), TextFeatures.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 12)
      val p = t.select(col("doc_id"),
        concat_ws(" ", slice(col("toks"), 1, 12)).as("instr"),
        concat_ws(" ", expr("slice(toks, 13, size(toks) - 12)")).as("resp"))
      val r = p.select(col("doc_id"),
        concat(lit("<|im_start|>system\n"),
          lit("You are a helpful assistant.<|im_end|>\n"),
          lit("<|im_start|>user\n"), col("instr"),
          lit("<|im_end|>\n"),
          lit("<|im_start|>assistant\n")).as("prefix"),
        concat(col("resp"), lit("<|im_end|>")).as("target"))
      r.select(col("doc_id"),
        concat(col("prefix"), col("target")).as("rendered"),
        length(col("prefix")).cast("long").as("asst_start"),
        length(concat(col("prefix"), col("target"))).cast("long")
          .as("n_chars"))
    },

    Op("llm_fim_transform",
       s"""WITH t AS (
          |  SELECT doc_id, $toksSql AS toks, len($toksSql) AS n
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, toks, n,
          |         CAST('0x' || substr(md5(concat('fim1:',
          |             CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT)
          |           % (n + 1) AS c1,
          |         CAST('0x' || substr(md5(concat('fim2:',
          |             CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT)
          |           % (n + 1) AS c2
          |  FROM t)
          |SELECT doc_id,
          |       CAST(least(c1, c2) AS BIGINT) AS cut_lo,
          |       CAST(greatest(c1, c2) AS BIGINT) AS cut_hi,
          |       array_to_string(
          |         ['<PRE>'] || toks[1:least(c1, c2)]
          |         || ['<SUF>'] || toks[greatest(c1, c2) + 1:n]
          |         || ['<MID>']
          |         || toks[least(c1, c2) + 1:greatest(c1, c2)], ' ')
          |         AS fim_text
          |FROM c""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), TextFeatures.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("c1", graft.functions.GraftFunctions.md5Bits(
          concat(lit("fim1:"), col("doc_id").cast("string")), 1, 8)
          % (col("n") + 1))
        .withColumn("c2", graft.functions.GraftFunctions.md5Bits(
          concat(lit("fim2:"), col("doc_id").cast("string")), 1, 8)
          % (col("n") + 1))
        .withColumn("lo", least(col("c1"), col("c2")))
        .withColumn("hi", greatest(col("c1"), col("c2")))
      t.select(col("doc_id"), col("lo").as("cut_lo"), col("hi").as("cut_hi"),
        concat_ws(" ", concat(
          array(lit("<PRE>")),
          expr("slice(toks, 1, CAST(lo AS INT))"),
          array(lit("<SUF>")),
          expr("slice(toks, CAST(hi AS INT) + 1, CAST(n - hi AS INT))"),
          array(lit("<MID>")),
          expr("slice(toks, CAST(lo AS INT) + 1, CAST(hi - lo AS INT))")))
          .as("fim_text"))
    },

    // --- data mixing -----------------------------------------------------

    // Deterministic stratified sampling (data mixing): per-source keep
    // rates from an md5-derived 16-bit draw; the oracle replays the hash
    // and the CASE rate table exactly.
    Op("mix_stratified_sample",
       """SELECT doc_id, source FROM documents
         |WHERE substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 4) <
         |  CASE WHEN source = 'src0' THEN 'c000'
         |       WHEN source = 'src1' THEN '8000'
         |       WHEN source = 'src2' THEN '4000'
         |       ELSE '2000' END""".stripMargin) { (s, d) =>
      Mixing.stratifiedSample(Tables.documents(s, d), "doc_id", "source",
          Map("src0" -> 0.75, "src1" -> 0.5, "src2" -> 0.25),
          defaultRate = 0.125)
        .select(col("doc_id"), col("source"))
    },

    // Sequence packing: per-source cumulative token count assigns docs to
    // fixed-capacity packs (sequential-fill approximation). Keyed window +
    // integer arithmetic -> exact in both engines.
    Op("mix_pack_sequences",
       s"""SELECT doc_id, source, n_tokens,
          |       CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
          |FROM (
          |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens,
          |         sum(CAST(len($toksSql) AS BIGINT)) OVER (
          |           PARTITION BY source ORDER BY doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM documents)""".stripMargin) { (s, d) =>
      Mixing.packSequences(Tables.documents(s, d), "doc_id", "text",
        "source", capacity = 2048)
    },

    // Sliding-window chunking: documents cut into context-window-sized
    // token chunks with boundary overlap (stride shape). Map-only plan;
    // starts/slices are integer-exact so the oracle replays every chunk
    // string byte-for-byte.
    Op("mix_chunk_docs",
       s"""WITH toks AS (
          |  SELECT doc_id, $toksSql AS toks FROM documents),
          |w AS (
          |  SELECT doc_id, toks, len(toks) AS n,
          |         unnest(generate_series(0, greatest(len(toks) - 9, 0), 56))
          |           AS start_tok
          |  FROM toks)
          |SELECT doc_id,
          |       CAST(start_tok // 56 AS INT) AS chunk_id,
          |       CAST(start_tok AS INT) AS start_tok,
          |       CAST(least(64, n - start_tok) AS INT) AS n_tokens,
          |       array_to_string(list_slice(toks, start_tok + 1,
          |                                  start_tok + 64), ' ')
          |         AS chunk_text
          |FROM w""".stripMargin) { (s, d) =>
      Mixing.chunkDocs(Tables.documents(s, d), "doc_id", "text",
        chunkSize = 64, overlap = 8)
    },

    // Temperature-scaled mixing (alpha = 0.5 square-root temperature,
    // target half the corpus): per-source rates derive from the corpus
    // counts — so the SAME static SQL stays correct at every scale factor
    // — via a SEQUENTIAL sqrt-sum fold in sorted-source order on both
    // sides (sqrt is correctly rounded in both engines; list_aggregate
    // 'sum' folds in list order like the driver's loop), making every
    // 1/65536-quantized threshold bit-identical.
    Op("mix_temperature_sample",
       """WITH counts AS (
         |  SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |agg AS (
         |  SELECT CAST(sum(n) AS DOUBLE) AS n_total,
         |         list_aggregate(list_transform(
         |           list(CAST(n AS DOUBLE) ORDER BY source), x -> sqrt(x)),
         |           'sum') AS z
         |  FROM counts),
         |th AS (
         |  SELECT source,
         |         printf('%04x', CAST(floor(
         |           least(0.9999, 0.5 * n_total / z * sqrt(CAST(n AS DOUBLE))
         |                 / CAST(n AS DOUBLE)) * 65536) AS INT)) AS t
         |  FROM counts, agg)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN th USING (source)
         |WHERE substr(md5(concat(d.source, ':', CAST(d.doc_id AS VARCHAR))),
         |             1, 4) < th.t""".stripMargin) { (s, d) =>
      Mixing.temperatureSample(Tables.documents(s, d), "doc_id", "source",
          alpha = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), col("source"))
    },

    // Per-source token budget: keep documents (in md5-draw order) while
    // the stratum's running token total is under budget — the final cut of
    // a weighted corpus mix. The oracle replays the draw ordering and the
    // integer running sum exactly.
    Op("mix_token_budget",
       s"""SELECT doc_id, source, n_tokens, cum_tokens FROM (
          |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens,
          |         CAST(sum(CAST(len($toksSql) AS BIGINT)) OVER (
          |           PARTITION BY source
          |           ORDER BY md5(concat(source, ':', CAST(doc_id AS VARCHAR))),
          |                    doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS cum_tokens
          |  FROM documents)
          |WHERE cum_tokens - n_tokens < 700""".stripMargin) { (s, d) =>
      Mixing.tokenBudget(Tables.documents(s, d), "doc_id", "text",
        "source", budget = 700L)
    },

    // Deterministic output sharding: per-shard manifest (docs/tokens/chars)
    // from an md5-byte shard assignment. The oracle recomputes the hash
    // byte from its hex digits; all aggregates are integer-exact.
    Op("mix_shard_manifest",
       s"""SELECT shard_id, count(*) AS n_docs,
          |       CAST(sum(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS n_tokens,
          |       CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS n_chars
          |FROM (
          |  SELECT text, CAST(
          |    ((strpos('0123456789abcdef',
          |             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          |     + strpos('0123456789abcdef',
          |              substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 16
          |    AS INT) AS shard_id
          |  FROM documents)
          |GROUP BY 1""".stripMargin) { (s, d) =>
      Mixing.shardManifest(Tables.documents(s, d), "doc_id", "text",
        nShards = 16)
    },

    // Best-fit-decreasing packing, now ORACLE-EXACT (the last mixing
    // entry to convert): the greedy bin state IS SQL-expressible after
    // all — one item per recursion step per stratum (strata advance in
    // lockstep), the open-bin set carried as a LIST of (rem, pack)
    // structs, the tightest-fit pick replayed as
    // list_sort(list_filter(bins, rem >= n))[1] — struct sort is
    // (rem, pack) lexicographic, exactly the engine's
    // ceilingEntry-then-lowest-pack-id rule — with full/overfull bins
    // never re-offered and new packs numbered by a per-stratum counter.
    // The no-overflow guarantee and fill advantage stay asserted in
    // MixingSpec; every (doc, pack) assignment now hash-compares.
    Op("mix_pack_tight",
       s"""WITH RECURSIVE items AS (
          |  SELECT source AS stratum, CAST(doc_id AS BIGINT) AS id,
          |         CAST(len($toksSql) AS BIGINT) AS n,
          |         CAST(row_number() OVER (PARTITION BY source
          |                ORDER BY len($toksSql) DESC, doc_id)
          |              AS BIGINT) AS rk
          |  FROM documents),
          |st AS (SELECT DISTINCT stratum FROM items),
          |ws(stratum, i, bins, npacks, id, pack) AS (
          |  SELECT stratum, CAST(0 AS BIGINT),
          |         CAST([] AS STRUCT(rem BIGINT, pack BIGINT)[]),
          |         CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
          |         CAST(NULL AS BIGINT)
          |  FROM st
          |  UNION ALL
          |  SELECT t.stratum, t.i,
          |         CASE WHEN t.newrem > 0 THEN
          |           list_append(
          |             CASE WHEN t.hit
          |                  THEN list_filter(t.bins, b -> b.pack <> t.cpack)
          |                  ELSE t.bins END,
          |             {rem: t.newrem, pack: t.cpack})
          |         ELSE
          |           CASE WHEN t.hit
          |                THEN list_filter(t.bins, b -> b.pack <> t.cpack)
          |                ELSE t.bins END
          |         END, t.np, t.id, t.cpack
          |  FROM (
          |    SELECT z.stratum, z.i, z.bins, z.id, z.n,
          |           len(z.cand) > 0 AS hit,
          |           CASE WHEN len(z.cand) > 0
          |                THEN list_sort(z.cand)[1].pack
          |                ELSE z.npacks END AS cpack,
          |           CASE WHEN len(z.cand) > 0
          |                THEN list_sort(z.cand)[1].rem - z.n
          |                ELSE 512 - z.n END AS newrem,
          |           CASE WHEN len(z.cand) > 0 THEN z.npacks
          |                ELSE z.npacks + 1 END AS np
          |    FROM (
          |      SELECT s.stratum, s.i + 1 AS i, s.bins, s.npacks,
          |             it.id, it.n,
          |             list_filter(s.bins, b -> b.rem >= it.n) AS cand
          |      FROM ws s JOIN items it ON it.stratum = s.stratum
          |                             AND it.rk = s.i + 1) z) t)
          |SELECT w.id AS doc_id, w.stratum AS source,
          |       it.n AS n_tokens, w.pack AS pack_id
          |FROM ws w JOIN items it ON it.stratum = w.stratum
          |                       AND it.id = w.id
          |WHERE w.i >= 1""".stripMargin) { (s, d) =>
      Mixing.packSequencesTight(Tables.documents(s, d), "doc_id", "text",
        "source", capacity = 512)
    },

    // Epoch upsampling: src0 at 2.5 epochs, src1 at 1.25, the rest
    // subsampled at 0.75 — the >1x half of mixture weighting that
    // rate-capped sampling defers to epoch counts. The oracle replays
    // floor + fractional-draw + lateral range expansion verbatim.
    Op("mix_epoch_upsample",
       """SELECT doc_id, source,
         |       CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
         |FROM (
         |  SELECT doc_id, source,
         |    CASE WHEN source = 'src0' THEN 2
         |         WHEN source = 'src1' THEN 1 ELSE 0 END
         |    + CASE WHEN substr(md5(concat('epoch:', source, ':',
         |          CAST(doc_id AS VARCHAR))), 1, 4) <
         |        CASE WHEN source = 'src0' THEN '8000'
         |             WHEN source = 'src1' THEN '4000' ELSE 'c000' END
         |      THEN 1 ELSE 0 END AS n_copies
         |  FROM documents)""".stripMargin) { (s, d) =>
      Mixing.epochUpsample(Tables.documents(s, d), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 1.25), defaultEpochs = 0.75)
        .select(col("doc_id"), col("source"), col("epoch"))
    },

    // Per-source cap: at most N docs per stratum in md5-draw order — the
    // per-domain guard against boilerplate-heavy sources dominating the
    // mixture. The oracle replays the draw hash and rank verbatim.
    Op("mix_source_cap",
       """SELECT doc_id, source, cap_rank FROM (
         |  SELECT doc_id, source,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY md5(concat('cap:', source, ':',
         |                               CAST(doc_id AS VARCHAR))), doc_id)
         |           AS BIGINT) AS cap_rank
         |  FROM documents)
         |WHERE cap_rank <= 15""".stripMargin) { (s, d) =>
      Mixing.perSourceCap(Tables.documents(s, d), "doc_id", "source",
          cap = 15)
        .select(col("doc_id"), col("source"), col("cap_rank"))
    },

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // bag-of-buckets log-likelihood ratio between a target slice (here
    // lang='en') and the whole pool. The oracle replays bucket hashing
    // (24 md5 bits mod B) and the FIXED-POINT λ quantization — glibc's
    // ln is not correctly rounded, so no JVM ln matches it on every
    // operand; round(ln·2^30) absorbs the ulp and keeps the per-doc
    // score in exact integer arithmetic (see Mixing.dsirWeights).
    Op("mix_dsir_weights",
       s"""$dsirAggSql
          |SELECT doc_id, n_grams, log_w FROM agg""".stripMargin) { (s, d) =>
      Mixing.dsirWeights(Tables.documents(s, d), "doc_id", "text",
        targetPred = col("lang") === "en", nBuckets = 512)
    },

    // Gumbel top-k resampling over the DSIR weights — without-replacement
    // draws proportional to softmax(log_w) using only log-domain math
    // (DuckDB's exp matches no JVM exp; the Gumbel noise -ln(-ln(u)) is
    // quantized to 2^-20 so ln-ulp divergence can't reach the key, and
    // the key sum of two dyadic rationals is exact). Spark plans the
    // order-by+limit as TakeOrderedAndProject: per-partition top-k,
    // k-row driver merge.
    Op("mix_dsir_resample",
       s"""$dsirAggSql
          |SELECT doc_id, log_w,
          |       log_w + CAST(round(-ln(-ln(
          |         (CAST('0x' || substr(md5(concat('dsir:',
          |            CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT) + 0.5)
          |         / 4294967296.0)) * 1048576.0) AS BIGINT) / 1048576.0
          |         AS sel_key
          |FROM agg ORDER BY sel_key DESC, doc_id LIMIT 100""".stripMargin) {
      (s, d) =>
        Mixing.dsirResample(
          Mixing.dsirWeights(Tables.documents(s, d), "doc_id", "text",
            targetPred = col("lang") === "en", nBuckets = 512),
          "doc_id", k = 100)
    },

    // Length-proportional sample without replacement (Efraimidis-
    // Spirakis exponential keys, quantized like the Gumbel resample):
    // 200 documents drawn with probability proportional to n_chars, one
    // map-side pass + TakeOrderedAndProject. See Mixing.weightedSample.
    Op("mix_weighted_sample",
       """SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         |       CAST(round(ln(
         |           (CAST('0x' || substr(md5(concat('wsample:',
         |              CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT) + 0.5)
         |           / 4294967296.0)
         |         / CAST(n_chars AS DOUBLE) * 1048576.0) AS BIGINT)
         |         / 1048576.0 AS sel_key
         |FROM documents ORDER BY sel_key DESC, doc_id LIMIT 200""".stripMargin) {
      (s, d) =>
        Mixing.weightedSample(Tables.documents(s, d), "doc_id",
          col("n_chars"), k = 200)
    },

    // Contiguous global ids in md5-shuffled order — dense 0..n−1 without
    // a global window: range partition on the key, rank per partition,
    // broadcast cumulative offsets (the zipWithIndex-without-collect
    // pattern; MixingSpec asserts the plan has no single-partition
    // exchange on the data path). The oracle is the naive global
    // row_number the plan provably equals.
    Op("mix_assign_ids",
       """SELECT doc_id, source,
         |       CAST(row_number() OVER (
         |         ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1 AS BIGINT)
         |         AS seq_id
         |FROM documents""".stripMargin) { (s, d) =>
      Mixing.assignContiguousIds(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          md5(col("doc_id").cast("string")))
        .select(col("doc_id"), col("source"), col("seq_id"))
    },

    // Systematic sampling: every 25th document of the md5-shuffled
    // order — the fixed-interval design (evenly spaced coverage of the
    // shuffle order, one draw decides the whole sample). Built on the
    // same rangepartition+offset id assignment as mix_assign_ids, so no
    // global window; the oracle replays the naive ranked filter the
    // distributed form provably equals.
    Op("mix_systematic_sample",
       """WITH ranked AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
         |  FROM documents)
         |SELECT doc_id, CAST(r AS BIGINT) AS r
         |FROM ranked WHERE (r - 1) % 25 = 0""".stripMargin) { (s, d) =>
      Mixing.assignContiguousIds(
          Tables.documents(s, d).select(col("doc_id")),
          struct(md5(col("doc_id").cast("string")), col("doc_id")))
        .filter(col("seq_id") % 25 === 0)
        .select(col("doc_id"), (col("seq_id") + 1).as("r"))
    },

    // Stride-interleaved mixture schedule: src1 upweighted 3x, src2
    // halved, everything else at 1. The oracle replays the within-source
    // md5 shuffle ranks, the (rank + 1/2)/w virtual times (one IEEE
    // division), and the global order — the full data-loader schedule
    // hash-compared row by row.
    Op("mix_interleave",
       """WITH r AS (
         |  SELECT doc_id, source,
         |         CAST(row_number() OVER (PARTITION BY source
         |             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mix'),
         |                      doc_id) - 1 AS BIGINT) AS src_rank
         |  FROM documents),
         |v AS (
         |  SELECT doc_id, source, src_rank,
         |         (CAST(src_rank AS DOUBLE) + 0.5) /
         |         (CASE source WHEN 'src1' THEN 3.0 WHEN 'src2' THEN 0.5
         |               ELSE 1.0 END) AS vt
         |  FROM r)
         |SELECT doc_id, source, src_rank, vt,
         |       CAST(row_number() OVER (ORDER BY vt, source, src_rank) - 1
         |            AS BIGINT) AS train_pos
         |FROM v""".stripMargin) { (s, d) =>
      Mixing.strideInterleave(Tables.documents(s, d), "doc_id", "source",
          Map("src1" -> 3.0, "src2" -> 0.5))
        .select(col("doc_id"), col("source"), col("src_rank"), col("vt"),
          col("train_pos"))
    },

    // Competence-based curriculum: rank by token-count difficulty, gate
    // behind sqrt competence (integer cross-multiplied), shuffle within
    // unlock cohorts by an md5 draw. The oracle replays both global
    // ranks, the gate arithmetic, and the cohort shuffle exactly — so
    // the distributed two-pass rank assignment is hash-proven equal to
    // the naive global row_number formulation.
    Op("mix_curriculum",
       s"""WITH t AS (
          |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS difficulty,
          |         md5(CAST(doc_id AS VARCHAR)) AS tb
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, difficulty,
          |         CAST(row_number() OVER (ORDER BY difficulty, tb, doc_id)
          |              AS BIGINT) AS diff_rank,
          |         CAST(count(*) OVER () AS BIGINT) AS n
          |  FROM t),
          |u AS (
          |  SELECT doc_id, difficulty, diff_rank,
          |         CAST((100 * diff_rank * diff_rank + n * n - 1) // (n * n)
          |              AS BIGINT) AS unlock_step,
          |         md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS sk
          |  FROM r)
          |SELECT doc_id, difficulty, diff_rank, unlock_step,
          |       CAST(row_number() OVER (ORDER BY unlock_step, sk, doc_id)
          |            AS BIGINT) AS train_pos
          |FROM u""".stripMargin) { (s, d) =>
      Mixing.curriculum(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("difficulty"), col("diff_rank"),
          col("unlock_step"), col("train_pos"))
    },

    // Leakage-safe train/val/test split: the split draw hashes the
    // near-dup CLUSTER label (minhash components, singletons = own id),
    // so duplicates can never straddle the eval boundary. The oracle
    // replays the banding candidates, the recursive-CTE component walk,
    // and the md5 threshold CASE verbatim — per-document rows, so any
    // cluster/split divergence hash-fails.
    Op("mix_split_leakage_safe",
       s"""WITH RECURSIVE pairs AS (
          |  SELECT id_a, id_b FROM (
          |    ${minhashOracleSql(bands = 8, rows = 4, threshold = 0.8)
                 .linesIterator.mkString("\n    ")})),
          |${Dedup.componentLabelsCtes},
          |clustered AS (
          |  SELECT d.doc_id, d.source,
          |         coalesce(l.label, d.doc_id) AS cluster
          |  FROM documents d LEFT JOIN labels l ON l.node = d.doc_id)
          |SELECT doc_id, source, cluster,
          |       CASE WHEN substr(md5(concat('split:',
          |                    CAST(cluster AS VARCHAR))), 1, 4) < 'cccc'
          |              THEN 'train'
          |            WHEN substr(md5(concat('split:',
          |                    CAST(cluster AS VARCHAR))), 1, 4) < 'e666'
          |              THEN 'val'
          |            ELSE 'test' END AS split
          |FROM clustered""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashNearDups(docs, bands = 8, rows = 4,
        threshold = 0.8, portable = true)
      Mixing.leakageSafeSplit(docs.select(col("doc_id"), col("source")),
        "doc_id", pairs, valFrac = 0.1, testFrac = 0.1)
    },

    // Leakage-safe k-fold cross-validation assignment: fold = md5 of
    // the near-dup CLUSTER label mod k, so near-duplicates always land
    // in the SAME fold and no fold's held-out slice leaks into another
    // fold's training set — the CV companion to mix_split_leakage_safe
    // (same cluster substrate, same oracle replay of the banding
    // candidates + component walk; the fold draw is one md5 mod).
    Op("mix_kfold",
       s"""WITH RECURSIVE pairs AS (
          |  SELECT id_a, id_b FROM (
          |    ${minhashOracleSql(bands = 8, rows = 4, threshold = 0.8)
                 .linesIterator.mkString("\n    ")})),
          |${Dedup.componentLabelsCtes},
          |clustered AS (
          |  SELECT d.doc_id, d.source,
          |         coalesce(l.label, d.doc_id) AS cluster
          |  FROM documents d LEFT JOIN labels l ON l.node = d.doc_id)
          |SELECT doc_id, source, cluster,
          |       CAST('0x' || substr(md5(concat('fold:',
          |              CAST(cluster AS VARCHAR))), 1, 8) AS BIGINT) % 5
          |         AS fold
          |FROM clustered""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashNearDups(docs, bands = 8, rows = 4,
        threshold = 0.8, portable = true)
      val labels = Dedup.componentMinLabels(pairs)
        .select(col("node").as("doc_id"), col("label"))
      docs.select(col("doc_id"), col("source"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("label"), col("doc_id")))
        .select(col("doc_id"), col("source"), col("cluster"),
          (graft.functions.GraftFunctions.md5Bits(
            concat(lit("fold:"), col("cluster").cast("string")), 1, 8) % 5)
            .as("fold"))
    },

    // DPO preference pairs (Rafailov et al. 2023): within each
    // (lang, source) prompt group, rank by the integer reward (n_chars
    // stands in for a scored reward; the pairing logic only sees the
    // rank), pair rank i with rank n−i+1 for i ≤ n/2, and keep pairs
    // with reward gap ≥ 1 — max-gap extremes pairing, deterministic
    // tiebreak by doc_id, middle element of odd groups unpaired. All
    // columns integer/string → the whole pair table hash-compares. See
    // Mixing.dpoPairs for the scale shape (keyed window + rank-pruned
    // keyed self-join, no driver state).
    Op("mix_dpo_pairs",
       """WITH r AS (
         |  SELECT lang, source, doc_id, n_chars AS reward,
         |         CAST(row_number() OVER (PARTITION BY lang, source
         |               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk,
         |         CAST(count(*) OVER (PARTITION BY lang, source)
         |              AS BIGINT) AS n
         |  FROM documents),
         |t AS (SELECT lang, source, rk AS pair_id, doc_id AS chosen_id,
         |             reward AS chosen_reward
         |      FROM r WHERE rk <= n // 2),
         |b AS (SELECT lang, source, n - rk + 1 AS pair_id,
         |             doc_id AS rejected_id, reward AS rejected_reward
         |      FROM r WHERE rk > n - n // 2)
         |SELECT t.lang, t.source, t.pair_id, chosen_id, rejected_id,
         |       chosen_reward, rejected_reward,
         |       chosen_reward - rejected_reward AS gap
         |FROM t JOIN b USING (lang, source, pair_id)
         |WHERE chosen_reward - rejected_reward >= 1""".stripMargin) {
      (s, d) =>
        Mixing.dpoPairs(
          Tables.documents(s, d)
            .select(col("lang"), col("source"), col("doc_id"),
              col("n_chars").as("reward")),
          Seq("lang", "source"), "doc_id", "reward")
          .select(col("lang"), col("source"), col("pair_id"),
            col("chosen_id"), col("rejected_id"), col("chosen_reward"),
            col("rejected_reward"), col("gap"))
    },

    // Bradley–Terry preference-strength ratings (Bradley & Terry 1952;
    // Hunter 2004 MM fit) — the model behind reward-model eval and
    // arena leaderboards, fit here over deterministic cross-source
    // document "matches": consecutive docs in each md5 bucket play one
    // match, more chars wins (doc_id tiebreak), players are sources.
    // The pair stream and the K x K win matrix are distributed; the MM
    // solve is a bounded driver model (Mixing.btRatings) replayed
    // integer-for-integer by the recursive CTE: denominator terms
    // (n_ij * 1e12) // (r_i + r_j) summed exactly, one more floor-div
    // for the update, mean-1e6 normalization per round, 12 rounds.
    Op("mix_bt_ratings",
       """WITH RECURSIVE d0 AS (
         |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS reward,
         |         CAST(CAST('0x' || substr(md5(concat('bt:',
         |              CAST(doc_id AS VARCHAR))), 1, 6) AS BIGINT) % 256
         |           AS INT) AS bucket
         |  FROM documents),
         |p AS (
         |  SELECT bucket, doc_id, source, reward,
         |         lag(source) OVER win AS psrc,
         |         lag(reward) OVER win AS prew,
         |         lag(doc_id) OVER win AS pid
         |  FROM d0 WINDOW win AS (PARTITION BY bucket ORDER BY doc_id)),
         |m AS (
         |  SELECT CASE WHEN reward > prew OR (reward = prew AND doc_id < pid)
         |              THEN source ELSE psrc END AS w,
         |         CASE WHEN reward > prew OR (reward = prew AND doc_id < pid)
         |              THEN psrc ELSE source END AS l,
         |         CAST(count(*) AS HUGEINT) AS n
         |  FROM p WHERE psrc IS NOT NULL AND psrc <> source
         |  GROUP BY 1, 2),
         |games AS (
         |  SELECT a, b, CAST(sum(n) AS HUGEINT) AS g FROM (
         |    SELECT w AS a, l AS b, n FROM m
         |    UNION ALL SELECT l, w, n FROM m)
         |  GROUP BY 1, 2),
         |players AS (SELECT DISTINCT a AS s FROM games),
         |wins AS (
         |  SELECT pl.s, CAST(coalesce(mw.nn, 0) AS HUGEINT) AS wins
         |  FROM players pl LEFT JOIN (
         |    SELECT w, CAST(sum(n) AS HUGEINT) AS nn FROM m GROUP BY 1) mw
         |  ON mw.w = pl.s),
         |nk AS (SELECT CAST(count(*) AS HUGEINT) AS k FROM players),
         |it AS (
         |  SELECT 0 AS iter, s, CAST(1000000 AS HUGEINT) AS r FROM players
         |  UNION ALL
         |  SELECT iter + 1, s,
         |         GREATEST(CAST(1 AS HUGEINT),
         |           (raw * (SELECT k FROM nk) * 1000000)
         |             // (sum(raw) OVER ())) AS r
         |  FROM (
         |    SELECT d.iter, d.s,
         |           GREATEST(CAST(1 AS HUGEINT),
         |             (w.wins * CAST(1000000000000 AS HUGEINT)) // d.denom)
         |             AS raw
         |    FROM (
         |      SELECT i.iter, i.s,
         |             sum((g.g * CAST(1000000000000 AS HUGEINT))
         |                 // (i.r + j.r)) AS denom
         |      FROM it i
         |      JOIN games g ON g.a = i.s
         |      JOIN it j ON j.iter = i.iter AND j.s = g.b
         |      WHERE i.iter < 12
         |      GROUP BY 1, 2) d
         |    JOIN wins w ON w.s = d.s))
         |SELECT it.s AS source, CAST(it.r AS BIGINT) AS rating,
         |       CAST(w.wins AS BIGINT) AS wins, CAST(gt.g AS BIGINT) AS games
         |FROM it
         |JOIN wins w ON w.s = it.s
         |JOIN (SELECT a AS s, CAST(sum(g) AS HUGEINT) AS g FROM games
         |      GROUP BY 1) gt ON gt.s = it.s
         |WHERE it.iter = 12""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("reward"))
        .withColumn("bucket",
          pmod(graft.functions.GraftFunctions.md5Bits(
            concat(lit("bt:"), col("doc_id").cast("string")), 1, 6),
            lit(256L)).cast("int"))
      val win = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      val p = b.select(col("bucket"), col("doc_id"), col("source"),
          col("reward"),
          lag(col("source"), 1).over(win).as("psrc"),
          lag(col("reward"), 1).over(win).as("prew"),
          lag(col("doc_id"), 1).over(win).as("pid"))
        .filter(col("psrc").isNotNull && col("psrc") =!= col("source"))
      val curWins = col("reward") > col("prew") ||
        (col("reward") === col("prew") && col("doc_id") < col("pid"))
      val pairs = p.select(
        when(curWins, col("source")).otherwise(col("psrc")).as("w"),
        when(curWins, col("psrc")).otherwise(col("source")).as("l"))
      Mixing.btRatings(pairs, "w", "l", iters = 12)
        .select(col("player").as("source"), col("rating"), col("wins"),
          col("games"))
    },

    // Best-of-n rejection sampling (Stiennon et al. 2020; the BoN
    // baseline every RLHF paper reports): per prompt group, keep ONLY
    // the top-reward candidate (deterministic doc_id tiebreak) plus the
    // margin over the runner-up — the margin is the selection-confidence
    // signal a distillation pipeline filters on. One keyed window (rank
    // + lead over the same sort — a single shuffle and sort, groups are
    // prompt-sized); all columns integer/string so the table
    // hash-compares.
    Op.sql("mix_best_of_n",
       """WITH r AS (
         |  SELECT lang, source, doc_id, CAST(n_chars AS BIGINT) AS reward,
         |         row_number() OVER (PARTITION BY lang, source
         |           ORDER BY n_chars DESC, doc_id) AS rk,
         |         lead(CAST(n_chars AS BIGINT)) OVER (
         |           PARTITION BY lang, source
         |           ORDER BY n_chars DESC, doc_id) AS runner_up,
         |         CAST(count(*) OVER (PARTITION BY lang, source)
         |              AS BIGINT) AS n_candidates
         |  FROM documents)
         |SELECT lang, source, n_candidates, doc_id AS best_id,
         |       reward AS best_reward,
         |       reward - runner_up AS margin
         |FROM r WHERE rk = 1""".stripMargin),

    // GRPO group-relative advantage (Shao et al. 2024 "DeepSeekMath"):
    // the PPO-free policy-gradient weight — each sample's reward
    // standardized against its own prompt group, no value network.
    // Exactness: with integer rewards, (r − mean)/std rearranges to
    // (n·r − S) / sqrt(n·Q − S²) — an exact BIGINT numerator and the
    // sqrt of an exact BIGINT (population std; the n's cancel), so the
    // advantage is one IEEE division of two correctly-rounded values.
    // Degenerate groups (zero variance, e.g. n = 1) yield NULL via the
    // same CASE on both engines.
    //
    // Scale shape: one keyed window computes (n, S, Q) alongside the
    // rows — a single shuffle on the prompt key, no join-back; groups
    // are prompt-sized so no window ever exceeds a prompt's samples.
    Op.sql("mix_grpo_advantage",
       """WITH g AS (
         |  SELECT lang, source, doc_id, CAST(n_chars AS BIGINT) AS reward,
         |         CAST(count(*) OVER (PARTITION BY lang, source)
         |              AS BIGINT) AS n,
         |         CAST(sum(CAST(n_chars AS BIGINT)) OVER (
         |              PARTITION BY lang, source) AS BIGINT) AS s,
         |         CAST(sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
         |              OVER (PARTITION BY lang, source) AS BIGINT) AS q
         |  FROM documents)
         |SELECT lang, source, doc_id, reward, n,
         |       n * reward - s AS adv_num,
         |       CASE WHEN n * q - s * s > 0 THEN
         |         CAST(n * reward - s AS DOUBLE) /
         |           sqrt(CAST(n * q - s * s AS DOUBLE))
         |       END AS advantage
         |FROM g""".stripMargin),

    // PII redaction: the scrub every public-corpus pipeline runs before
    // training. Synthetic PII (email/IP/phone/SSN derived from doc_id) is
    // appended to every document so the replacement chain is exercised on
    // every row; patterns are the RE2-and-java.util.regex-compatible
    // subset, applied in the same order on both sides, so the redacted
    // text and per-family counts replay exactly.
    Op("llm_redact_pii", {
      val Seq(email, ssn, phone, ip) = TextFeatures.piiPatterns.map(_._2)
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
         |           '@example.com on 10.0.', CAST(doc_id % 256 AS VARCHAR),
         |           '.7 or 555-867-',
         |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
         |           ' ssn 123-45-6789') AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    text, '$email', '<EMAIL>', 'g'),
         |    '$ssn', '<SSN>', 'g'),
         |    '$phone', '<PHONE>', 'g'),
         |    '$ip', '<IP>', 'g') AS text,
         |  CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$ssn')) AS INT) AS n_ssn,
         |  CAST(len(regexp_extract_all(text, '$phone')) AS INT) AS n_phone,
         |  CAST(len(regexp_extract_all(text, '$ip')) AS INT) AS n_ip
         |FROM aug""".stripMargin
    }) { (s, d) =>
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com on 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".7 or 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ssn 123-45-6789")).as("text"))
      val counts = TextFeatures.piiCounts(col("text"))
        .map { case (name, c) => c.as(s"n_$name") }
      aug.select(col("doc_id") +:
        TextFeatures.redactPii(col("text")).as("text") +: counts: _*)
    },

    // --- multimodal ------------------------------------------------------

    // Binary media column + typed metadata through the batched per-partition
    // decode (STUBBED codec, real plumbing). Engine-specific checksum ->
    // rows-only; exact values asserted in MultimodalSpec.
    Op.noOracle("multimodal_features") { (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, d))).toDF()
    },

    // Metadata-only twin of multimodal_features, ORACLE-EXACT: the
    // synthetic media table derives every header field deterministically
    // from the document's byte length (mediaFromDocuments), and the
    // decode chain (RawMedia / javax.imageio / javax.sound / MediaHeaders
    // sniffers) recovers exactly those fields — so kind/format/width/
    // height replay in DuckDB as pure integer CASE arithmetic on
    // octet_length(text), while the binary payload (n_bytes, checksum —
    // codec-dependent) stays on the rows-only entry. This oracle-pins
    // the REAL container round-trip: a PNG/GIF/WAV/MP3 writer bug or a
    // sniffer regression breaks the hash.
    Op("multimodal_features_meta",
       """WITH m AS (
         |  SELECT doc_id AS media_id,
         |         greatest(strlen(text), 1) AS rl
         |  FROM documents)
         |SELECT media_id,
         |  CASE WHEN media_id % 4 IN (0, 1) THEN 'image'
         |       WHEN media_id % 4 = 2 THEN 'video'
         |       ELSE 'audio' END AS kind,
         |  CASE WHEN media_id % 4 = 0 THEN 'raw/image-3ch'
         |       WHEN media_id % 4 = 1 THEN 'image/png'
         |       WHEN media_id % 8 = 2
         |         THEN 'raw/video-' || CAST(4 + rl % 8 AS VARCHAR) || 'f'
         |       WHEN media_id % 4 = 2 THEN 'image/gif'
         |       WHEN media_id % 8 = 3 THEN 'audio/wav'
         |       ELSE 'audio/mpeg' END AS format,
         |  CAST(CASE WHEN media_id % 4 IN (0, 1) THEN 8 + rl % 24
         |            WHEN media_id % 4 = 2 THEN 12
         |            WHEN media_id % 8 = 3 THEN rl
         |            ELSE 2 + rl % 6 END AS INT) AS width,
         |  CAST(CASE WHEN media_id % 4 IN (0, 1) THEN 8 + (rl // 2) % 24
         |            WHEN media_id % 4 = 2 THEN 8
         |            ELSE 1 END AS INT) AS height
         |FROM m""".stripMargin) { (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, d))).toDF()
        .select(col("media_id"), col("kind"), col("format"),
          col("width"), col("height"))
    },

    // Resize + frame-sample over the same media table (stub codecs, real
    // per-partition batch shapes).
    Op.noOracle("multimodal_resize") { (s, d) =>
      Multimodal.resize(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, d)), maxSide = 256)
        .toDF().select(col("media_id"), col("kind"), col("width"),
          col("height"), length(col("bytes")).as("n_bytes"))
    },

    Op.noOracle("multimodal_frame_sample") { (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, d)), n = 4).toDF()
    },

    // Video near-dup dedup: byte-identical twins planted for every 4th
    // video row; position-wise frame-hash banding surfaces each twin
    // pair with all sampled slots matching at hamming 0, while the
    // slot-keyed join keeps re-cut/reversed videos apart (asserted in
    // MultimodalSpec). Binary media — no DuckDB oracle.
    Op.noOracle("multimodal_video_dedup") { (s, d) =>
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, d))
      // video rows are the id%4==2 residue; twin every other one (the
      // %8==2 half — the REAL animated GIFs)
      val twins = media.filter(m => m.kind == "video" && m.media_id % 8 == 2)
        .map(m => Multimodal.MediaRow(m.media_id + 1000000L, "video",
          m.bytes))
      Multimodal.videoNearDups(
        Multimodal.videoFrameHashes(media.union(twins), n = 4).toDF())
    },

    // Amplitude-invariant audio dedup: every decodable audio row gets a
    // HALF-VOLUME twin (same samples scaled 0.5, re-encoded WAV); the
    // loudness-envelope hash is built on comparisons, so each twin pair
    // surfaces through the banding join at a small hamming distance.
    // Binary media — no DuckDB oracle; invariances asserted in
    // MultimodalSpec.
    Op.noOracle("multimodal_audio_dedup") { (s, d) =>
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, d))
      val twins = media.filter(_.kind == "audio")
        .flatMap { m =>
          graft.llm.CompressedMedia.decodeSamples(m.bytes).map { samples =>
            val scaled = samples.map(v =>
              (v * 0.5 * 128 + 128).toInt.max(0).min(255).toByte)
            Multimodal.MediaRow(m.media_id + 1000000L, "audio",
              graft.llm.CompressedMedia.encodeWav(scaled))
          }
        }
      Multimodal.hammingNearDups(
        Multimodal.audioHashes(media.union(twins)).toDF())
    },

    // Cross-container image dedup: every raw image gets a PNG twin
    // (same pixels, different encoding, shifted id) planted into the
    // corpus; dHash is container-invariant so each twin pair surfaces at
    // hamming 0 through the pigeonhole banding join. Binary media — no
    // DuckDB oracle; hash/banding semantics asserted in MultimodalSpec.
    Op.noOracle("multimodal_image_dedup") { (s, d) =>
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, d))
      val twins = media
        .filter(m => m.kind == "image" && m.media_id % 4 == 0)
        .map(m => Multimodal.MediaRow(m.media_id + 1000000L, "image",
          graft.llm.CompressedMedia.encodePng(
            graft.llm.RawMedia.decodeImage(m.bytes).get)))
      Multimodal.imageNearDups(
        Multimodal.imageHashes(media.union(twins)).toDF())
    },

    // DCT perceptual hash dedup (pHash): same banding/verify path as the
    // dHash entry but hashing the 8x8 low-frequency DCT block — the
    // fingerprint that survives resampling (robustness asserted on a
    // smooth gradient in MultimodalSpec; planted twins here are
    // re-encoded copies, surfacing at hamming 0). Binary media — no
    // DuckDB oracle.
    Op.noOracle("multimodal_phash_dedup") { (s, d) =>
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, d))
      val twins = media
        .filter(m => m.kind == "image" && m.media_id % 4 == 0)
        .map(m => Multimodal.MediaRow(m.media_id + 1000000L, "image",
          graft.llm.CompressedMedia.encodePng(
            graft.llm.RawMedia.decodeImage(m.bytes).get)))
      Multimodal.imageNearDups(
        Multimodal.imageHashes(media.union(twins), Multimodal.pHash64).toDF())
    },

    // REAL PCM decode (javax.sound) + RMS/peak per audio row; signal
    // values are engine-specific floats -> rows-only, exact RMS asserted
    // against a synthesized sine wave in MultimodalSpec.
    Op.noOracle("multimodal_audio_stats") { (s, d) =>
      Multimodal.audioFeatures(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, d))).toDF()
    },

    // Global top-20 token BIGRAMS by frequency (multiset, not the distinct
    // shingles dedup uses): n-gram profile of the corpus, same
    // explode -> partial count -> distributed top-k shape as text_top_words.
    Op("text_top_bigrams",
       s"""SELECT bigram, n FROM (
          |  SELECT bigram, count(*) AS n FROM (
          |    SELECT unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
          |      ELSE list_transform(range(0, len(toks) - 1),
          |        i -> concat_ws(' ', toks[i+1], toks[i+2])) END) AS bigram
          |    FROM (SELECT $toksSql AS toks FROM documents))
          |  GROUP BY bigram)
          |ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(TextFeatures.tokens(col("text")).as("toks"))
        .select(TextFeatures.bigramsOfTokens(col("toks")).as("bg"))
        .select(explode(col("bg")).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },

    // TextRank keyword scoring (Mihalcea & Tarau 2004): PageRank over the
    // adjacent-token co-occurrence graph — a direct composition of the
    // tokenizer with the fixed-point integer pageRank operator, string
    // nodes and all. Ten exact rounds; the recursive CTE replays every
    // truncating division, so corpus-level keyword salience is a fully
    // hash-compared iterative computation.
    // RAKE keyword extraction (Rose et al. 2010 "Automatic keyword
    // extraction from individual documents"): candidate phrases are the
    // maximal stopword-free token runs (gaps-and-islands over token
    // positions — the r_interval_merge shape per document), each word
    // scores deg/freq where deg sums the lengths of every phrase the
    // occurrence sits in, and a phrase scores the sum of its member
    // word scores. The whole statistic is INTEGER: word scores are
    // truncating fixed point (deg * 2^20 div freq), phrase scores exact
    // sums of those — so the top-20 ranking (score desc, phrase asc)
    // hash-compares with no transcendental anywhere, unlike TextRank's
    // iterated float walk.
    //
    // Scale shape: tokens explode map-side; the island assignment is
    // one keyed window per doc; word stats are a vocabulary-keyed agg;
    // the score attach is an equi-join on the word; top-20 is
    // TakeOrderedAndProject.
    Op("text_rake",
       s"""WITH t AS (
          |  SELECT doc_id, tok, p
          |  FROM (SELECT doc_id, unnest($toksSql) AS tok,
          |               unnest(range(1, len($toksSql) + 1)) AS p
          |        FROM documents)),
          |ns AS (
          |  SELECT doc_id, tok, p,
          |         p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
          |           AS grp
          |  FROM t WHERE NOT list_contains($stopSql, tok)),
          |occ AS (
          |  SELECT doc_id, tok, p, grp,
          |         CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT)
          |           AS plen
          |  FROM ns),
          |ws AS (
          |  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
          |         CAST(sum(plen) AS BIGINT) AS deg
          |  FROM occ GROUP BY 1),
          |sc AS (SELECT tok, deg * 1048576 // freq AS s_fx FROM ws),
          |ph AS (
          |  SELECT occ.doc_id, occ.grp,
          |         string_agg(occ.tok, ' ' ORDER BY occ.p) AS phrase,
          |         CAST(sum(sc.s_fx) AS BIGINT) AS score_fx
          |  FROM occ JOIN sc USING (tok)
          |  GROUP BY 1, 2)
          |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
          |       max(score_fx) AS score_fx,
          |       CAST(max(score_fx) AS DOUBLE) / 1048576.0 AS score
          |FROM ph GROUP BY 1
          |ORDER BY score_fx DESC, phrase LIMIT 20""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextFeatures.tokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).as("p"),
          col("col").as("tok"))
      val ns = t.filter(!col("tok").isin(stop: _*))
        .withColumn("grp", col("p") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      val occ = ns.withColumn("plen", count(lit(1)).over(
        Window.partitionBy(col("doc_id"), col("grp"))).cast("long"))
      val sc = occ.groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("tok"), expr("deg * 1048576 div freq").as("s_fx"))
      val ph = occ.join(sc, Seq("tok"))
        .groupBy(col("doc_id"), col("grp"))
        .agg(concat_ws(" ", transform(
            sort_array(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok"))).as("phrase"),
          sum(col("s_fx")).as("score_fx"))
      ph.groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occurrences"),
          max(col("score_fx")).as("score_fx"))
        .select(col("phrase"), col("n_occurrences"), col("score_fx"),
          (col("score_fx").cast("double") / lit(1048576.0)).as("score"))
        .orderBy(col("score_fx").desc, col("phrase"))
        .limit(20)
    },

    Op("text_textrank",
       s"""WITH RECURSIVE t AS (
          |  SELECT $toksSql AS toks FROM documents),
          |raw AS (
          |  SELECT DISTINCT toks[i+1] AS src, toks[i+2] AS dst
          |  FROM (SELECT toks, unnest(range(0, len(toks) - 1)) AS i
          |        FROM t WHERE len(toks) >= 2)
          |  WHERE toks[i+1] <> toks[i+2]),
          |edges AS (
          |  -- explicit DISTINCT over UNION ALL: inside WITH RECURSIVE,
          |  -- DuckDB 1.0 fails to deduplicate a plain `a UNION b` CTE
          |  -- (the word graph has reciprocal bigram pairs, unlike the
          |  -- bipartite trade-graph oracles where the branches are
          |  -- disjoint and the quirk is invisible)
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT src, dst FROM raw
          |    UNION ALL
          |    SELECT dst, src FROM raw)),
          |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
          |nodes AS (SELECT DISTINCT src AS node FROM edges),
          |nn AS (SELECT count(*) AS n FROM nodes),
          |pr AS (
          |  SELECT 0 AS iter, node, CAST(${1L << 40} // n AS BIGINT) AS r
          |  FROM nodes, nn
          |  UNION ALL
          |  SELECT iter + 1, dst AS node,
          |         CAST((SELECT (${1L << 40} * 15 // 100) // n FROM nn)
          |              + (85 * s) // 100 AS BIGINT) AS r
          |  FROM (
          |    SELECT p.iter AS iter, e.dst AS dst,
          |           CAST(sum(p.r // d.deg) AS BIGINT) AS s
          |    FROM pr p
          |    JOIN edges e ON e.src = p.node
          |    JOIN deg d ON d.src = p.node
          |    WHERE p.iter < 10
          |    GROUP BY 1, 2))
          |SELECT node AS word, r FROM pr WHERE iter = 10""".stripMargin) {
      (s, d) =>
        val toks = Tables.documents(s, d)
          .select(TextFeatures.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        val edges = toks.select(explode(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graft.operators.Graphs.pageRank(edges, iters = 10)
          .select(col("node").as("word"), col("r"))
    },

    // PMI collocation mining (Church & Hanks 1990; the scoring behind
    // word2vec-style phrase detection): bigrams whose co-occurrence beats
    // the unigram-independence expectation,
    //   pmi = ln( (c12/Nb) / ((c1/N)(c2/N)) ),
    // min-count-filtered (rare pairs otherwise dominate PMI), top-25 by
    // (pmi desc, bigram). Two keyed counts (partial-aggregated), two
    // 1-row totals broadcast, a vocab-keyed join per side, and a
    // distributed top-k. Hash parity: every factor is an exact BIGINT
    // cast to double, the multiply/divide sequence is written identically
    // on both engines, and ln routes through ieee_ln.
    Op("text_pmi_collocations",
       s"""WITH toks AS (SELECT $toksSql AS toks FROM documents),
          |uni AS (
          |  SELECT tok, count(*) AS c FROM (
          |    SELECT unnest(toks) AS tok FROM toks)
          |  GROUP BY tok),
          |bg AS (
          |  SELECT bigram, count(*) AS c12 FROM (
          |    SELECT unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
          |      ELSE list_transform(range(0, len(toks) - 1),
          |        i -> concat_ws(' ', toks[i+1], toks[i+2])) END) AS bigram
          |    FROM toks)
          |  GROUP BY bigram),
          |stats AS (
          |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n,
          |         (SELECT CAST(sum(c12) AS BIGINT) FROM bg) AS nb)
          |SELECT bigram, c12, pmi FROM (
          |  SELECT b.bigram, b.c12,
          |         ln((CAST(b.c12 AS DOUBLE) * CAST(s.n AS DOUBLE)
          |             * CAST(s.n AS DOUBLE))
          |            / (CAST(s.nb AS DOUBLE) * CAST(u1.c AS DOUBLE)
          |               * CAST(u2.c AS DOUBLE))) AS pmi
          |  FROM bg b
          |  JOIN uni u1 ON u1.tok = split_part(b.bigram, ' ', 1)
          |  JOIN uni u2 ON u2.tok = split_part(b.bigram, ' ', 2)
          |  CROSS JOIN stats s
          |  WHERE b.c12 >= 5)
          |ORDER BY pmi DESC, bigram LIMIT 25""".stripMargin) { (s, d) =>
      import graft.functions.GraftFunctions.ieeeLn
      val toks = Tables.documents(s, d)
        .select(TextFeatures.tokens(col("text")).as("toks"))
      val uni = toks.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val bg = toks
        .select(explode(TextFeatures.bigramsOfTokens(col("toks")))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c12"))
      val stats = uni.agg(sum(col("c")).as("n"))
        .crossJoin(bg.agg(sum(col("c12")).as("nb")))
      val u1 = uni.toDF("w1", "c1")
      val u2 = uni.toDF("w2", "c2")
      bg.filter(col("c12") >= 5)
        .withColumn("w1", element_at(split(col("bigram"), " "), 1))
        .withColumn("w2", element_at(split(col("bigram"), " "), 2))
        .join(u1, Seq("w1"))
        .join(u2, Seq("w2"))
        .crossJoin(broadcast(stats)) // 1-row totals attach
        .select(col("bigram"), col("c12"),
          ieeeLn((col("c12").cast("double") * col("n").cast("double")
              * col("n").cast("double"))
            / (col("nb").cast("double") * col("c1").cast("double")
              * col("c2").cast("double"))).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(25)
    },

    // Log-likelihood-ratio collocations (Dunning 1993, "Accurate methods
    // for the statistics of surprise and coincidence") — the significance
    // test that fixed PMI's rare-pair bias and remains the default
    // collocation scorer in NLP pipelines: G2 over the bigram
    // contingency table (first-position vs second-position margins drawn
    // from the bigram relation itself, so rows and columns sum exactly),
    //   llr = 2 * sum_ij k_ij * ln(k_ij * N / (R_i * C_j)),
    // zero cells contributing zero. Same scale shape as PMI: two keyed
    // margins, one 1-row broadcast total, a keyed join per side, and a
    // distributed top-25 (TakeOrderedAndProject). Hash parity: every
    // count is an exact BIGINT cast to double (products stay under
    // 2^53), each term is one IEEE division + ieee_ln + multiply, and
    // the four terms fold in the same written order on both engines.
    Op("text_llr_collocations",
       s"""WITH toks AS (SELECT $toksSql AS toks FROM documents),
          |bg AS (
          |  SELECT bigram, CAST(count(*) AS BIGINT) AS c12 FROM (
          |    SELECT unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
          |      ELSE list_transform(range(0, len(toks) - 1),
          |        i -> concat_ws(' ', toks[i+1], toks[i+2])) END) AS bigram
          |    FROM toks)
          |  GROUP BY bigram),
          |w AS (
          |  SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1,
          |         split_part(bigram, ' ', 2) AS w2
          |  FROM bg),
          |r1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM w GROUP BY 1),
          |r2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM w GROUP BY 1),
          |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM w)
          |SELECT bigram, k11, llr FROM (
          |  SELECT w.bigram, w.c12 AS k11,
          |    2.0 * (((CASE WHEN w.c12 = 0 THEN 0.0 ELSE
          |        CAST(w.c12 AS DOUBLE) * ln((CAST(w.c12 AS DOUBLE)
          |          * CAST(t.nb AS DOUBLE))
          |          / (CAST(r1.c1 AS DOUBLE) * CAST(r2.c2 AS DOUBLE))) END
          |      + CASE WHEN r1.c1 - w.c12 = 0 THEN 0.0 ELSE
          |        CAST(r1.c1 - w.c12 AS DOUBLE)
          |          * ln((CAST(r1.c1 - w.c12 AS DOUBLE)
          |          * CAST(t.nb AS DOUBLE))
          |          / (CAST(r1.c1 AS DOUBLE)
          |             * CAST(t.nb - r2.c2 AS DOUBLE))) END)
          |      + CASE WHEN r2.c2 - w.c12 = 0 THEN 0.0 ELSE
          |        CAST(r2.c2 - w.c12 AS DOUBLE)
          |          * ln((CAST(r2.c2 - w.c12 AS DOUBLE)
          |          * CAST(t.nb AS DOUBLE))
          |          / (CAST(t.nb - r1.c1 AS DOUBLE)
          |             * CAST(r2.c2 AS DOUBLE))) END)
          |      + CASE WHEN t.nb - r1.c1 - r2.c2 + w.c12 = 0 THEN 0.0 ELSE
          |        CAST(t.nb - r1.c1 - r2.c2 + w.c12 AS DOUBLE)
          |          * ln((CAST(t.nb - r1.c1 - r2.c2 + w.c12 AS DOUBLE)
          |          * CAST(t.nb AS DOUBLE))
          |          / (CAST(t.nb - r1.c1 AS DOUBLE)
          |             * CAST(t.nb - r2.c2 AS DOUBLE))) END) AS llr
          |  FROM w
          |  JOIN r1 USING (w1)
          |  JOIN r2 USING (w2)
          |  CROSS JOIN tot t
          |  WHERE w.c12 >= 5)
          |ORDER BY llr DESC, bigram LIMIT 25""".stripMargin) { (s, d) =>
      import graft.functions.GraftFunctions.ieeeLn
      def term(k: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column,
               c: org.apache.spark.sql.Column,
               n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(k === 0, lit(0.0)).otherwise(
          k.cast("double") * ieeeLn((k.cast("double") * n.cast("double"))
            / (r.cast("double") * c.cast("double"))))
      val bg = Tables.documents(s, d)
        .select(TextFeatures.tokens(col("text")).as("toks"))
        .select(explode(TextFeatures.bigramsOfTokens(col("toks")))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c12"))
      val w = bg
        .withColumn("w1", element_at(split(col("bigram"), " "), 1))
        .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      val r1 = w.groupBy("w1").agg(sum(col("c12")).as("c1"))
      val r2 = w.groupBy("w2").agg(sum(col("c12")).as("c2"))
      val tot = w.agg(sum(col("c12")).as("nb"))
      val k11 = col("c12")
      val k12 = col("c1") - col("c12")
      val k21 = col("c2") - col("c12")
      val k22 = col("nb") - col("c1") - col("c2") + col("c12")
      w.join(r1, Seq("w1"))
        .join(r2, Seq("w2"))
        .crossJoin(broadcast(tot)) // 1-row total attach
        .filter(col("c12") >= 5)
        .select(col("bigram"), col("c12").as("k11"),
          (lit(2.0) * (((term(k11, col("c1"), col("c2"), col("nb"))
            + term(k12, col("c1"), col("nb") - col("c2"), col("nb")))
            + term(k21, col("nb") - col("c1"), col("c2"), col("nb")))
            + term(k22, col("nb") - col("c1"), col("nb") - col("c2"),
                col("nb")))).as("llr"))
        .orderBy(col("llr").desc, col("bigram"))
        .limit(25)
    },

    // Global top-20 tokens by frequency: explode -> count -> distributed
    // top-k (TakeOrderedAndProject — no global sort). Deterministic via the
    // (count desc, token asc) tie-break, so it oracle-checks exactly.
    Op("text_top_words",
       s"""SELECT tok, n FROM (
          |  SELECT tok, count(*) AS n FROM (
          |    SELECT unnest($toksSql) AS tok FROM documents)
          |  GROUP BY tok)
          |ORDER BY n DESC, tok LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(TextFeatures.tokens(col("text")).as("toks"))
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },

    // Zipf rank-frequency readout: the top-50 tokens with rank and the
    // n*rank product whose flatness IS the Zipf diagnostic (natural text
    // holds it near-constant; word salad or boilerplate floods break
    // it). Ranks come from one orderBy-limit (TakeOrderedAndProject);
    // the window ranks only the k survivors. n*rank is one exact double
    // product per row.
    Op("text_zipf",
       s"""SELECT tok, n,
          |       CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
          |         AS rank,
          |       CAST(n AS DOUBLE) *
          |         CAST(row_number() OVER (ORDER BY n DESC, tok) AS DOUBLE)
          |         AS zipf_product
          |FROM (
          |  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
          |    SELECT unnest($toksSql) AS tok FROM documents)
          |  GROUP BY tok)
          |QUALIFY rank <= 50""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(TextFeatures.tokens(col("text")).as("toks"))
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(50)
        .withColumn("rank", row_number()
          .over(org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("tok"))).cast("long"))
        .withColumn("zipf_product",
          col("n").cast("double") * col("rank").cast("double"))
    },

    // Heaps' law (Herdan 1960; Heaps 1978) — vocabulary growth V(N) ≈
    // K·N^β, text_zipf's dual and the statistic that predicts how a
    // tokenizer's vocabulary saturates as a corpus grows (the answer to
    // "how much new text until we see mostly known words?"). The curve
    // is measured at GEOMETRIC checkpoints (doc ranks 1, 2, 4, … , n):
    // that keeps the curve table log-sized no matter the corpus, which
    // is the whole scale story — a per-doc cumulative curve would be a
    // corpus-sized global window. β and ln K come from an OLS fit of
    // ln V on ln N over the checkpoints, folded in checkpoint order
    // through ieee_ln so the doubles hash-compare.
    //
    // Scale shape: doc ranks via the assignContiguousIds zipWithIndex
    // idiom (range partition + per-partition rank, never one
    // partition); first-occurrence rank per token is one keyed agg;
    // each token/doc fans out to at most log2(n) checkpoints through a
    // broadcast theta-join; the fit folds ~log2(n) points.
    Op("text_heaps_law",
       s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |ranked AS (
          |  SELECT row_number() OVER (ORDER BY doc_id) AS r, toks
          |  FROM toks),
          |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
          |cps AS (
          |  SELECT DISTINCT least(CAST(1 << g AS BIGINT), n) AS cp
          |  FROM range(0, 31) t(g), nd),
          |firstocc AS (
          |  SELECT tok, min(r) AS fr FROM (
          |    SELECT r, unnest(toks) AS tok FROM ranked) GROUP BY 1),
          |vcum AS (
          |  SELECT cp, CAST(count(*) AS BIGINT) AS vocab
          |  FROM firstocc, cps WHERE fr <= cp GROUP BY 1),
          |ncum AS (
          |  SELECT cp, CAST(sum(len(toks)) AS BIGINT) AS n_toks
          |  FROM ranked, cps WHERE r <= cp GROUP BY 1),
          |curve AS (SELECT cp, n_toks, vocab FROM vcum JOIN ncum USING (cp)),
          |pts AS (
          |  SELECT CAST(len(a) AS DOUBLE) AS k,
          |         list_reduce(list_prepend(0.0,
          |           list_transform(a, p -> p.x)), (u, v) -> u + v) AS sx,
          |         list_reduce(list_prepend(0.0,
          |           list_transform(a, p -> p.y)), (u, v) -> u + v) AS sy,
          |         list_reduce(list_prepend(0.0,
          |           list_transform(a, p -> p.x * p.y)), (u, v) -> u + v)
          |           AS sxy,
          |         list_reduce(list_prepend(0.0,
          |           list_transform(a, p -> p.x * p.x)), (u, v) -> u + v)
          |           AS sxx
          |  FROM (SELECT list(struct_pack(
          |                 x := ln(CAST(n_toks AS DOUBLE)),
          |                 y := ln(CAST(vocab AS DOUBLE))) ORDER BY cp) AS a
          |        FROM curve)),
          |fit AS (
          |  SELECT (k * sxy - sx * sy) / (k * sxx - sx * sx) AS beta,
          |         (sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
          |           / k AS ln_k
          |  FROM pts)
          |SELECT cp, n_toks, vocab, beta, ln_k FROM curve, fit""".stripMargin) {
      (s, d) =>
        val ranked = Mixing.assignContiguousIds(
            Tables.documents(s, d).select(col("doc_id"),
              TextFeatures.tokens(col("text")).as("toks")),
            col("doc_id"))
          .select((col("seq_id") + 1).as("r"), col("toks"))
        val nd = ranked.agg(count(lit(1)).as("n"))
        val cps = nd
          .select(explode(sequence(lit(0), lit(30))).as("g"), col("n"))
          .select(least(expr("shiftleft(CAST(1 AS BIGINT), g)"), col("n"))
            .as("cp"))
          .distinct()
        val firstocc = ranked
          .select(col("r"), explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(min(col("r")).as("fr"))
        val vcum = firstocc.join(broadcast(cps), col("fr") <= col("cp"))
          .groupBy(col("cp")).agg(count(lit(1)).as("vocab"))
        val ncum = ranked
          .select(col("r"), size(col("toks")).cast("long").as("nt"))
          .join(broadcast(cps), col("r") <= col("cp"))
          .groupBy(col("cp")).agg(sum(col("nt")).as("n_toks"))
        val curve = vcum.join(ncum, "cp")
        import graft.functions.GraftFunctions.ieeeLn
        def xOf(p: org.apache.spark.sql.Column) = ieeeLn(p.getField("n_toks").cast("double"))
        def yOf(p: org.apache.spark.sql.Column) = ieeeLn(p.getField("vocab").cast("double"))
        def fold(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
          aggregate(col("a"), lit(0.0), (acc, p) => acc + f(p))
        val sums = curve
          .agg(sort_array(collect_list(
            struct(col("cp"), col("n_toks"), col("vocab")))).as("a"))
          .select(size(col("a")).cast("double").as("k"),
            fold(xOf).as("sx"), fold(yOf).as("sy"),
            fold(p => xOf(p) * yOf(p)).as("sxy"),
            fold(p => xOf(p) * xOf(p)).as("sxx"))
        val beta = (col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))
        val fit = sums.select(beta.as("beta"),
          ((col("sy") - beta * col("sx")) / col("k")).as("ln_k"))
        curve.crossJoin(broadcast(fit))
          .select(col("cp"), col("n_toks"), col("vocab"),
            col("beta"), col("ln_k"))
    },

    // TF-IDF top terms per document — the IR-standard salience score,
    // and the keyword-extraction step of corpus exploration. Two keyed
    // aggregates (term frequency per (doc, tok); document frequency per
    // tok — both partial-aggregate before their shuffles), a broadcast
    // 1-row corpus count, and a per-doc top-3 window. Float parity: the
    // score is ONE double multiply of an exact bigint tf against
    // ieee_ln(n_docs/df) — Spark's codegen log is StrictMath (1 ulp off
    // DuckDB's ln), so ln routes through the ieee_ln kernel; both
    // engines then sort bit-identical doubles, so the rank — and the
    // hash — match exactly.
    Op("text_tfidf",
       s"""WITH occ AS (
          |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
          |tf AS (SELECT doc_id, tok, count(*) AS tf FROM occ GROUP BY 1, 2),
          |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |scored AS (
          |  SELECT doc_id, tok,
          |         CAST(tf AS DOUBLE)
          |           * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
          |           AS tfidf
          |  FROM tf JOIN df USING (tok), n)
          |SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, tfidf FROM (
          |  SELECT doc_id, tok, tfidf,
          |         row_number() OVER (PARTITION BY doc_id
          |           ORDER BY tfidf DESC, tok) AS rank
          |  FROM scored)
          |WHERE rank <= 3""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"),
          explode(TextFeatures.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "tok")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"),
          (col("tf").cast("double") *
            graft.functions.GraftFunctions.ieeeLn(
              col("n_docs").cast("double") / col("df").cast("double")))
            .as("tfidf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("tok"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok"), col("tfidf"))
    },

    // --- BPE tokenizer ---------------------------------------------------

    // Corpus-trained byte-pair encoding — the TRAINING loop itself is
    // ORACLE-EXACT now (r10): the entry emits the learned merge table
    // (rank, a, b) — the artifact a tokenizer ships — and the oracle
    // re-learns it from scratch with a recursive CTE that performs ONE
    // histogram-argmax merge selection per step (the frozen-encode
    // discipline applied to training; see bpeTrainCtes). Every merge
    // decision over 100 rounds hash-compares, pinning histogram cut,
    // pair census, tie-breaks, and the in-word merge application order.
    Op("llm_bpe_vocab",
       s"""WITH RECURSIVE ${bpeTrainCtes(100, 5000)}
          |SELECT rank, a, b FROM bpem""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      Bpe.trainOnCorpus(Tables.documents(s, d), numMerges = 100,
          vocabWords = 5000)
        .zipWithIndex.map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "a", "b")
    },

    // WordPiece (BERT family) TRAINING, ORACLE-EXACT (r10): the
    // likelihood-gain argmax c(ab)/(c(a)·c(b)) — which the engine
    // compares as exact BigInt cross-products — replays via HUGEINT
    // base-2^62 fraction digits (see wpTrainCtes), so the full vocab
    // report (alphabet at merge_rank -1, every learned piece at its
    // rank, last-producing merge winning duplicate joins, exactly like
    // the engine's zipWithIndex.toMap) hash-compares.
    Op("llm_wordpiece_vocab",
       s"""WITH RECURSIVE ${wpTrainCtes(100, 10000)},
          |alpha AS (
          |  SELECT DISTINCT unnest(string_split(state, chr(31))) AS token
          |  FROM wst0),
          |mt AS (
          |  SELECT joined AS token, CAST(max(rank) AS INT) AS mr
          |  FROM wpm GROUP BY 1),
          |voc AS (SELECT token FROM alpha UNION SELECT token FROM mt)
          |SELECT token, coalesce(mr, CAST(-1 AS INT)) AS merge_rank
          |FROM voc LEFT JOIN mt USING (token)""".stripMargin) { (s, d) =>
      Wordpiece.vocabReport(Tables.documents(s, d), numMerges = 100)
    },

    // Per-document WordPiece token counts under the CORPUS-TRAINED
    // vocabulary — ORACLE-EXACT (r10) by composing the training replay
    // (wpTrainCtes) with the longest-match walk the frozen-encode entry
    // proved: every distinct word walks once against the LEARNED vocab
    // (alphabet ∪ merge joins), a stuck walk degrades to the whole-word
    // [UNK] (never a real piece: vocab tokens are lowercase, '[UNK]'
    // is not), and per-document sums are exact integers. Empty words
    // (empty documents' single token) count 1 word / 0 pieces / 0 UNK,
    // exactly like the engine's encodeWord("") = Vector.empty.
    Op("llm_wordpiece_token_counts",
       s"""WITH RECURSIVE ${wpTrainCtes(100, 5000)},
          |v(piece) AS (
          |  SELECT DISTINCT unnest(string_split(state, chr(31)))
          |  FROM wst0
          |  UNION
          |  SELECT DISTINCT joined FROM wpm),
          |t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |tk2 AS (
          |  SELECT doc_id, CAST(wpos AS BIGINT) AS wpos,
          |         toks[wpos+1] AS word
          |  FROM (SELECT doc_id, unnest(range(0, len(toks))) AS wpos,
          |               toks
          |        FROM t0)),
          |wd AS (SELECT DISTINCT word FROM tk2),
          |ws(word, pos, np) AS (
          |  SELECT word, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM wd
          |  UNION ALL
          |  SELECT t.word, t.pos + t.blen, t.np + 1
          |  FROM (
          |    SELECT c.word, c.pos, c.np, max(c.len) AS blen
          |    FROM (
          |      SELECT s.word, s.pos, s.np, s.len,
          |             CASE WHEN s.pos = 1
          |                  THEN substr(s.word, 1, CAST(s.len AS INT))
          |                  ELSE '##' || substr(s.word,
          |                         CAST(s.pos AS INT),
          |                         CAST(s.len AS INT)) END AS piece
          |      FROM (SELECT word, pos, np,
          |                   unnest(range(1, length(word) - pos + 2))
          |                     AS len
          |            FROM ws) s) c
          |    JOIN v ON v.piece = c.piece
          |    GROUP BY c.word, c.pos, c.np) t),
          |fin AS (
          |  SELECT word,
          |         CASE WHEN pos = length(word) + 1 THEN np
          |              ELSE CAST(1 AS BIGINT) END AS n_pieces,
          |         CASE WHEN pos = length(word) + 1 THEN 0
          |              ELSE 1 END AS is_unk
          |  FROM (SELECT word, pos, np,
          |               row_number() OVER (PARTITION BY word
          |                                  ORDER BY pos DESC) AS rn
          |        FROM ws) WHERE rn = 1),
          |fin2 AS (
          |  SELECT word,
          |         CASE WHEN word = '' THEN CAST(0 AS BIGINT)
          |              ELSE n_pieces END AS n_pieces,
          |         CASE WHEN word = '' THEN 0 ELSE is_unk END AS is_unk
          |  FROM fin)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
          |       CAST(sum(n_pieces) AS BIGINT) AS n_wp_tokens,
          |       CAST(sum(is_unk) AS BIGINT) AS n_unk
          |FROM tk2 JOIN fin2 USING (word)
          |GROUP BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (_, vocab) = Wordpiece.trainOnCorpus(docs, numMerges = 100,
        vocabWords = 5000)
      Wordpiece.tokenCounts(docs, vocab)
    },

    // Content-defined chunking (FastCDC gear hash): storage-level dedup,
    // the fourth dedup family (token-shingle / bit-sampling / suffix-
    // window / CHUNK). ORACLE now (r9): the boundary test reads only
    // (h & mask), and the low avgBits bits of the gear recurrence close
    // over themselves under modular arithmetic — Java's 64-bit overflow
    // wrap never reaches the replay — so a recursive CTE walks one BYTE
    // per step per document (this corpus is pure ASCII, so DuckDB's
    // char positions ARE byte offsets; verified octet_length == length
    // corpus-wide), emitting a boundary row when (len >= minLen AND
    // low-bits hit zero) OR len >= maxLen, plus each document's
    // trailing partial chunk. Chunk hashes replay as md5 of the
    // substring. Shift-resistance/coverage/determinism stay in
    // ContentChunksSpec.
    Op("llm_cdc_chunks", s"WITH RECURSIVE ${cdcChunkCtes()}\n" +
       "SELECT doc_id, chunk_idx, off, len, chunk_md5 FROM cdc") {
      (s, d) => ContentChunks.chunks(Tables.documents(s, d))
    },
    // The storage-dedup census over those chunks: exact integer sums +
    // one pinned division (stored_fraction) — all oracle-exact.
    Op("llm_cdc_dedup", s"""WITH RECURSIVE ${cdcChunkCtes()},
       |pc AS (
       |  SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n,
       |         CAST(max(len) AS BIGINT) AS len
       |  FROM cdc GROUP BY 1)
       |SELECT CAST(sum(n) AS BIGINT) AS total_chunks,
       |       CAST(count(*) AS BIGINT) AS distinct_chunks,
       |       CAST(sum(n * len) AS BIGINT) AS total_bytes,
       |       CAST(sum(len) AS BIGINT) AS distinct_bytes,
       |       CAST(sum(len) AS DOUBLE) / CAST(sum(n * len) AS DOUBLE)
       |         AS stored_fraction
       |FROM pc""".stripMargin) { (s, d) =>
      ContentChunks.dedupStats(Tables.documents(s, d))
    },

    // Unigram-LM (SentencePiece-family) tokenizer — the EM TRAINING
    // loop is ORACLE-EXACT now (r10), the hardest member of the trained
    // triad because the model is FLOAT: the replay works because every
    // quantity EM touches is either an exact integer/half-integer in
    // doubles (Viterbi piece counts, the 0.5-floored renorm totals —
    // so even the engine's hash-order Map sums are order-independent)
    // or a fixed-order ln/÷/+ chain DuckDB executes bit-identically
    // (java.lang.Math.log ≡ DuckDB ln). Four chained Viterbi-DP
    // recursions (3 EM rounds + the prune E-step) rebuild the model;
    // the top-30 multi-char pieces hash-compare INCLUDING their float
    // log-probs. See unigramTrainCtes.
    Op("llm_unigram_vocab",
       s"""WITH RECURSIVE ${unigramTrainCtes(256, 4096)}
          |SELECT piece, lp AS logprob FROM umf
          |WHERE length(piece) > 1
          |ORDER BY lp DESC, piece LIMIT 30""".stripMargin) { (s, d) =>
      val spark = s
      import spark.implicits._
      val model = Unigram.trainOnCorpus(Tables.documents(s, d),
        vocabSize = 256, topWords = 4096)
      model.toSeq.filter(p => p._1.codePointCount(0, p._1.length) > 1)
        .sortBy { case (p, lp) => (-lp, p) }.take(30)
        .toDF("piece", "logprob")
    },

    // Per-document unigram piece counts + model log-prob — the fertility
    // statistic next to llm_bpe_token_counts, from the competing family.
    // ORACLE-EXACT (r10): the trained model (unigramTrainCtes) feeds a
    // fifth Viterbi walk over the corpus' distinct words; per-word
    // log-probs fold in segmentation order and per-document totals fold
    // in word order — the engine's exact two-level foldLeft — while
    // unsegmentable words fall back to length × the model's floor
    // log-prob (a float min, order-independent). Empty documents emit
    // (0, 0.0) on both sides.
    Op("llm_unigram_token_counts",
       s"""WITH RECURSIVE ${unigramTrainCtes(256, 4096)},
          |dt0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |dtk AS (
          |  SELECT doc_id, CAST(wpos AS BIGINT) AS wpos,
          |         toks[wpos+1] AS word
          |  FROM (SELECT doc_id, unnest(range(0, len(toks))) AS wpos,
          |               toks
          |        FROM dt0)
          |  WHERE toks[wpos+1] <> ''),
          |uwd AS MATERIALIZED (SELECT DISTINCT word FROM dtk),
          |${unigramViterbiCtes("w", "uwd", "umf")},
          |wstat AS MATERIALIZED (
          |  SELECT b.word, CAST(count(*) AS BIGINT) AS nw,
          |         list_reduce(list_prepend(0.0,
          |             list(m.lp ORDER BY b.pos)), (a, x) -> a + x)
          |           AS wlp
          |  FROM ubtw b JOIN uokw f USING (word)
          |  JOIN umf m ON m.piece = f.bk[b.pos + 1]
          |  WHERE b.pos > 0
          |  GROUP BY b.word),
          |allw AS MATERIALIZED (
          |  SELECT uwd.word,
          |         coalesce(ws.nw, CAST(length(uwd.word) AS BIGINT))
          |           AS nw,
          |         coalesce(ws.wlp, (SELECT min(lp) FROM umf)
          |                          * length(uwd.word)) AS wlp
          |  FROM uwd LEFT JOIN wstat ws USING (word)),
          |perdoc AS (
          |  SELECT dtk.doc_id,
          |         CAST(sum(a.nw) AS INT) AS n_pieces,
          |         list_reduce(list_prepend(0.0,
          |             list(a.wlp ORDER BY dtk.wpos)),
          |           (acc, x) -> acc + x) AS log_prob
          |  FROM dtk JOIN allw a USING (word)
          |  GROUP BY dtk.doc_id)
          |SELECT d.doc_id,
          |       coalesce(p.n_pieces, CAST(0 AS INT)) AS n_pieces,
          |       coalesce(p.log_prob, 0.0) AS log_prob
          |FROM (SELECT doc_id FROM documents) d
          |LEFT JOIN perdoc p USING (doc_id)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = Unigram.trainOnCorpus(docs, vocabSize = 256,
        topWords = 4096)
      Unigram.tokenCounts(docs, model)
    },

    // Per-document whitespace-vs-BPE token counts — the length statistic
    // a packing/budget pass consumes. ORACLE-EXACT (r10): the training
    // replay (bpeTrainCtes) feeds its LEARNED merge table into the same
    // greedy leftmost-lowest-rank walk llm_bpe_encode_frozen proved,
    // with no alphabet gate (the engine's tokenCounts encodes every
    // token, merges just never fire outside the learned alphabet), and
    // per-document sums are exact integers. The empty token of an empty
    // document encodes to the lone sentinel — 1 piece — on both sides.
    Op("llm_bpe_token_counts",
       s"""WITH RECURSIVE ${bpeTrainCtes(100, 5000)},
          |t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
          |tk2 AS (
          |  SELECT doc_id, CAST(wpos AS BIGINT) AS wpos,
          |         toks[wpos+1] AS word
          |  FROM (SELECT doc_id, unnest(range(0, len(toks))) AS wpos,
          |               toks
          |        FROM t0)),
          |wd AS (SELECT DISTINCT word FROM tk2),
          |est0 AS (
          |  SELECT word,
          |         list_append(list_transform(range(1, length(word) + 1),
          |                                    i -> substr(word, i, 1)),
          |                     '</w>') AS syms
          |  FROM wd),
          |enc(step, word, syms) AS (
          |  SELECT 0, word, syms FROM est0
          |  UNION ALL
          |  SELECT t.step + 1, t.word,
          |         list_concat(list_concat(
          |             list_slice(t.syms, 1, t.bj - 1),
          |             [t.syms[t.bj] || t.syms[t.bj + 1]]),
          |           list_slice(t.syms, t.bj + 2, len(t.syms)))
          |  FROM (
          |    SELECT p.step, p.word, p.syms,
          |           CAST(min({'r': p.r, 'j': p.j}).j AS INT) AS bj
          |    FROM (
          |      SELECT s.step, s.word, s.syms, s.j, m.rank AS r
          |      FROM (SELECT step, word, syms,
          |                   unnest(range(1, len(syms))) AS j FROM enc) s
          |      JOIN bpem m ON m.a = s.syms[s.j]
          |                 AND m.b = s.syms[s.j + 1]) p
          |    GROUP BY p.step, p.word, p.syms) t),
          |fin AS (
          |  SELECT word, CAST(len(syms) AS BIGINT) AS n_pieces FROM (
          |    SELECT word, syms,
          |           row_number() OVER (PARTITION BY word
          |                              ORDER BY step DESC) AS rn
          |    FROM enc) WHERE rn = 1)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
          |       CAST(sum(n_pieces) AS BIGINT) AS n_bpe_tokens
          |FROM tk2 JOIN fin USING (word)
          |GROUP BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = Bpe.trainOnCorpus(docs, numMerges = 100,
        vocabWords = 5000)
      Bpe.tokenCounts(docs, merges)
    },

    // Byte-level (GPT-2/tiktoken lineage) BPE: UTF-8 byte alphabet +
    // regexp pre-tokenization, trained on the corpus pretoken histogram,
    // applied map-side — the context-window statistic for a REAL model's
    // tokenizer (any string tokenizes; no unknown-symbol escape).
    // ORACLE-EXACT (r10; r12 extends parity from printable-ASCII to any
    // valid-UTF-8 corpus via the full 256-entry byte table in SQL): the
    // GPT-2 pre-tokenizer replays as a hand-rolled alternation walk
    // (bytePretokCtes — RE2 has no lookahead), training as the same
    // one-merge-per-step recursion as the char-level trainer over byte
    // symbols (byteBpeTrainCtes), and the per-document count composes
    // the greedy walk over distinct pretokens with exact integer sums.
    Op("llm_bpe_byte_counts",
       s"""WITH RECURSIVE $bytePretokCtes,
          |${byteBpeTrainCtes(100, 5000)},
          |${byteEncodeCtes("", 100)},
          |ycnt AS (
          |  SELECT word, CAST(len(syms) AS BIGINT) AS np FROM yfin)
          |SELECT d.doc_id,
          |       CAST(any_value(strlen(d.text)) AS BIGINT) AS n_bytes,
          |       CAST(coalesce(sum(c.np), 0) AS BIGINT)
          |         AS n_byte_bpe_tokens
          |FROM documents d
          |LEFT JOIN ptk p ON p.doc_id = d.doc_id
          |LEFT JOIN ycnt c ON c.word = p.tok
          |GROUP BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = requireOracleSafeText(Tables.documents(s, d))
      val merges = Bpe.ByteLevel.trainOnCorpus(docs, numMerges = 100,
        vocabWords = 5000)
      Bpe.ByteLevel.tokenCounts(docs, merges)
    },

    // Token-id sequences under the CORPUS-TRAINED GPT-2-style
    // vocabulary (bytes 0..255 + merge products at 256+rank, first id
    // winning duplicate surfaces) — the artifact a training pipeline
    // ships. ORACLE-EXACT now (r10; full byte table r12): pre-tokenizer
    // walk + training recursion + greedy encode walk + the id map in
    // SQL (a single-char piece's id is its BYTE value — the inverse of
    // the bmap table, joined on the mapped char; multi-char pieces take
    // 256 + the LOWEST producing rank, the engine's foldLeft
    // first-wins).
    Op("llm_bpe_encode",
       s"""WITH RECURSIVE $bytePretokCtes,
          |${byteBpeTrainCtes(100, 5000)},
          |${byteEncodeCtes("", 100)},
          |lid AS (
          |  SELECT a || b AS piece, CAST(256 + min(rank) AS INT) AS id
          |  FROM ybm GROUP BY 1),
          |pieces AS (
          |  SELECT u.word, u.si, u.piece,
          |         CASE WHEN length(u.piece) = 1
          |              THEN CAST(bm.b AS INT)
          |              ELSE lid.id END AS token_id
          |  FROM (SELECT word, si, syms[CAST(si AS INT) + 1] AS piece
          |        FROM (SELECT word, syms,
          |                     unnest(range(0, len(syms))) AS si
          |              FROM yfin)) u
          |  LEFT JOIN lid ON lid.piece = u.piece
          |  LEFT JOIN bmap bm ON bm.ch = u.piece)
          |SELECT p.doc_id,
          |       CAST(row_number() OVER (PARTITION BY p.doc_id
          |                               ORDER BY p.wpos, x.si) - 1
          |            AS INT) AS pos,
          |       x.token_id
          |FROM ptk p JOIN pieces x ON x.word = p.tok""".stripMargin) {
      (s, d) =>
      val docs = requireOracleSafeText(Tables.documents(s, d))
      val merges = Bpe.ByteLevel.trainOnCorpus(docs, numMerges = 100,
        vocabWords = 5000)
      Bpe.ByteLevel.encodeToIds(docs, merges)
        .select(col("doc_id"), posexplode(col("token_ids")))
        .select(col("doc_id"), col("pos"), col("col").as("token_id"))
    },

    // Tokenizer fertility report — the curve a team reads to pick vocab
    // size: bytes-per-token per language at several merge counts (more
    // merges -> fewer tokens per byte, at diminishing returns; languages
    // whose scripts the merges underserve stand out as high-fertility
    // rows). ORACLE-EXACT now (r10): greedy merges are PREFIX-STABLE
    // (the first 50 selections of a 200-merge run ARE the 50-merge
    // table), so ONE training recursion to 200 serves both budgets and
    // two encode walks (rank < 50, rank < 200) feed exact per-language
    // integer sums + one pinned IEEE division.
    Op("llm_bpe_fertility", {
      def leg(sfx: String, m: Int): String =
        s"""SELECT $m AS n_merges, d.lang,
           |       CAST(sum(d.n_bytes) AS BIGINT) AS bytes,
           |       CAST(sum(coalesce(d.np, 0)) AS BIGINT) AS toks,
           |       CAST(sum(d.n_bytes) AS DOUBLE)
           |         / CAST(sum(coalesce(d.np, 0)) AS DOUBLE)
           |         AS bytes_per_token
           |FROM (
           |  SELECT dd.doc_id, dd.lang,
           |         CAST(strlen(dd.text) AS BIGINT) AS n_bytes,
           |         (SELECT sum(len(f.syms))
           |          FROM ptk p JOIN yfin$sfx f ON f.word = p.tok
           |          WHERE p.doc_id = dd.doc_id) AS np
           |  FROM documents dd) d
           |GROUP BY d.lang""".stripMargin
      s"""WITH RECURSIVE $bytePretokCtes,
         |${byteBpeTrainCtes(200, 5000)},
         |${byteEncodeCtes("a", 50)},
         |${byteEncodeCtes("b", 200)}
         |${leg("a", 50)}
         |UNION ALL
         |${leg("b", 200)}""".stripMargin
    }) { (s, d) =>
      val docs = requireOracleSafeText(Tables.documents(s, d))
      val hist = Bpe.ByteLevel.pretokenHistogram(docs, "text", 5000)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq(50, 200).map { m =>
        val merges = Bpe.train(hist, m, Bpe.ByteLevel.symbols)
        Bpe.ByteLevel.tokenCounts(docs, merges)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(sum(col("n_bytes")).as("bytes"),
            sum(col("n_byte_bpe_tokens")).as("toks"))
          .select(lit(m).as("n_merges"), col("lang"),
            col("bytes"), col("toks"),
            (col("bytes").cast("double") / col("toks").cast("double"))
              .as("bytes_per_token"))
      }.reduce(_ unionByName _)
    },

    // Frozen-tokenizer encode, ORACLE-EXACT: the merge table is pinned
    // (Bpe.FrozenMerges — the production shape: train once, freeze,
    // apply), so the greedy leftmost-lowest-rank walk replays in DuckDB
    // as a recursive CTE that performs ONE merge per step per word type
    // and stops when no learned pair remains. The engine encodes each
    // DISTINCT word type once and joins back (vocabulary-sized walk,
    // corpus-sized map work); the oracle encodes the same distinct
    // types and reassembles positions with the same (word index, piece
    // index) window. Every (doc_id, pos, piece) row hash-compares.
    Op("llm_bpe_encode_frozen", {
      val rows = Bpe.FrozenMerges.zipWithIndex
        .map { case ((a, b), r) => s"('$a', '$b', $r)" }
        .mkString(",\n         |    ")
      s"""WITH RECURSIVE m(a, b, r) AS (VALUES
         |    $rows),
         |t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tk AS (SELECT doc_id, unnest(range(0, len(toks))) AS wpos, toks
         |       FROM t0),
         |tk2 AS (SELECT doc_id, CAST(wpos AS BIGINT) AS wpos,
         |               toks[wpos+1] AS word
         |        FROM tk WHERE toks[wpos+1] <> ''),
         |wd AS (SELECT DISTINCT word FROM tk2),
         |st0 AS (
         |  SELECT word,
         |         list_append(list_transform(range(1, length(word) + 1),
         |                                    i -> substr(word, i, 1)),
         |                     '</w>') AS syms
         |  FROM wd WHERE regexp_matches(word, '^[a-z0-9]+$$')),
         |enc(step, word, syms) AS (
         |  SELECT 0, word, syms FROM st0
         |  UNION ALL
         |  SELECT t.step + 1, t.word,
         |         list_concat(list_concat(
         |             list_slice(t.syms, 1, t.bj - 1),
         |             [t.syms[t.bj] || t.syms[t.bj + 1]]),
         |           list_slice(t.syms, t.bj + 2, len(t.syms)))
         |  FROM (
         |    SELECT p.step, p.word, p.syms,
         |           CAST(min({'r': p.r, 'j': p.j}).j AS INT) AS bj
         |    FROM (
         |      SELECT s.step, s.word, s.syms, s.j, m.r
         |      FROM (SELECT step, word, syms,
         |                   unnest(range(1, len(syms))) AS j FROM enc) s
         |      JOIN m ON m.a = s.syms[s.j] AND m.b = s.syms[s.j + 1]) p
         |    GROUP BY p.step, p.word, p.syms) t),
         |fin AS (
         |  SELECT word, syms FROM (
         |    SELECT word, syms,
         |           row_number() OVER (PARTITION BY word
         |                              ORDER BY step DESC) AS rn
         |    FROM enc) WHERE rn = 1),
         |pieces AS (
         |  SELECT word, syms FROM fin
         |  UNION ALL
         |  SELECT word, [word || '</w>'] AS syms FROM wd
         |  WHERE NOT regexp_matches(word, '^[a-z0-9]+$$')),
         |ex AS (
         |  SELECT doc_id, wpos, unnest(range(0, len(syms))) AS si, syms
         |  FROM tk2 JOIN pieces USING (word)),
         |ex2 AS (SELECT doc_id, wpos, si, syms[si + 1] AS piece FROM ex)
         |SELECT doc_id,
         |       CAST(row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY wpos, si) - 1
         |            AS BIGINT) AS pos, piece
         |FROM ex2""".stripMargin
    }) { (s, d) =>
      Bpe.encodeFrozen(Tables.documents(s, d), Bpe.FrozenMerges)
    },

    // Frozen-vocabulary WordPiece encode, ORACLE-EXACT — the BERT
    // deployment shape (vocab.txt ships frozen) and the second member
    // of the frozen-tokenizer family. encodeWord's longest-match walk
    // replays as a recursive CTE: per word type, each step tries every
    // remaining prefix length against the vocabulary literals and
    // extends by the LONGEST hit; a stuck walk (max pos short of the
    // word end) collapses to the whole-word [UNK], exactly like the
    // engine. Positions reassemble with the same (word index, piece
    // index) window as llm_bpe_encode_frozen.
    Op("llm_wordpiece_encode_frozen", {
      val rows = Wordpiece.FrozenVocab
        .map(p => s"('$p')").mkString(",\n         |    ")
      s"""WITH RECURSIVE v(piece) AS (VALUES
         |    $rows),
         |t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tk AS (SELECT doc_id, unnest(range(0, len(toks))) AS wpos, toks
         |       FROM t0),
         |tk2 AS (SELECT doc_id, CAST(wpos AS BIGINT) AS wpos,
         |               toks[wpos+1] AS word
         |        FROM tk WHERE toks[wpos+1] <> ''),
         |wd AS (SELECT DISTINCT word FROM tk2),
         |ws(word, pos, pieces) AS (
         |  SELECT word, CAST(1 AS BIGINT), CAST([] AS VARCHAR[]) FROM wd
         |  UNION ALL
         |  SELECT t.word, t.pos + t.blen, list_append(t.pieces, t.bpiece)
         |  FROM (
         |    SELECT c.word, c.pos, c.pieces,
         |           max(c.len) AS blen, max_by(c.piece, c.len) AS bpiece
         |    FROM (
         |      SELECT s.word, s.pos, s.pieces, s.len,
         |             CASE WHEN s.pos = 1
         |                  THEN substr(s.word, 1, CAST(s.len AS INT))
         |                  ELSE '##' || substr(s.word, CAST(s.pos AS INT),
         |                                      CAST(s.len AS INT)) END
         |               AS piece
         |      FROM (SELECT word, pos, pieces,
         |                   unnest(range(1, length(word) - pos + 2)) AS len
         |            FROM ws) s) c
         |    JOIN v ON v.piece = c.piece
         |    GROUP BY c.word, c.pos, c.pieces) t),
         |fin AS (
         |  SELECT word, CASE WHEN pos = length(word) + 1 THEN pieces
         |                    ELSE ['[UNK]'] END AS syms
         |  FROM (SELECT word, pos, pieces,
         |               row_number() OVER (PARTITION BY word
         |                                  ORDER BY pos DESC) AS rn
         |        FROM ws) WHERE rn = 1),
         |ex AS (
         |  SELECT doc_id, wpos, unnest(range(0, len(syms))) AS si, syms
         |  FROM tk2 JOIN fin USING (word)),
         |ex2 AS (SELECT doc_id, wpos, si, syms[si + 1] AS piece FROM ex)
         |SELECT doc_id,
         |       CAST(row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY wpos, si) - 1
         |            AS BIGINT) AS pos, piece
         |FROM ex2""".stripMargin
    }) { (s, d) =>
      Wordpiece.encodeFrozen(Tables.documents(s, d), Wordpiece.FrozenVocab)
    },

    // Frozen-model Unigram encode, ORACLE-EXACT — the SentencePiece
    // deployment shape and the third member of the frozen-tokenizer
    // family, completing the subword triad: BPE replays a greedy merge
    // walk, WordPiece a longest-match walk, and this one the OPTIMAL
    // segmentation (Viterbi DP). Integer-valued frozen scores make
    // every path sum exact on both engines; the recursive CTE carries
    // the per-word score/backpointer/piece-count arrays as lists,
    // advances one position per step (a NULL len-0 sentinel keeps
    // unreachable positions moving), replays the (score desc, pieces
    // asc, piece asc) tie-break with a window rank, and a second
    // recursion walks the backpointers into the piece sequence.
    Op("llm_unigram_encode_frozen", {
      val mrows = Unigram.FrozenModel.toSeq.sortBy(_._1)
        .map { case (p, lp) => s"('$p', ${lp.toLong})" }
        .mkString(",\n         |    ")
      s"""WITH RECURSIVE m(piece, lp) AS (VALUES
         |    $mrows),
         |t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tk AS (SELECT doc_id, unnest(range(0, len(toks))) AS wpos, toks
         |       FROM t0),
         |tk2 AS (SELECT doc_id, CAST(wpos AS BIGINT) AS wpos,
         |               toks[wpos+1] AS word
         |        FROM tk WHERE toks[wpos+1] <> ''),
         |wd AS (SELECT DISTINCT word FROM tk2),
         |${viterbiDpCte("us", "wd", "m", "CAST(0 AS BIGINT)")},
         |fin AS (
         |  SELECT word, sc, bk FROM (
         |    SELECT word, i, sc, bk,
         |           row_number() OVER (PARTITION BY word
         |                              ORDER BY i DESC) AS rn
         |    FROM us) WHERE rn = 1 AND i = length(word)
         |              AND sc[length(word) + 1] IS NOT NULL),
         |bt(word, pos, pieces) AS (
         |  SELECT word, CAST(length(word) AS BIGINT),
         |         CAST([] AS VARCHAR[])
         |  FROM fin
         |  UNION ALL
         |  SELECT b.word, b.pos - length(f.bk[b.pos + 1]),
         |         list_prepend(f.bk[b.pos + 1], b.pieces)
         |  FROM bt b JOIN fin f USING (word)
         |  WHERE b.pos > 0),
         |syms AS (
         |  SELECT word, pieces AS syms FROM bt WHERE pos = 0),
         |ex AS (
         |  SELECT doc_id, wpos, unnest(range(0, len(syms))) AS si, syms
         |  FROM tk2 JOIN syms USING (word)),
         |ex2 AS (SELECT doc_id, wpos, si, syms[si + 1] AS piece FROM ex)
         |SELECT doc_id,
         |       CAST(row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY wpos, si) - 1
         |            AS BIGINT) AS pos, piece
         |FROM ex2""".stripMargin
    }) { (s, d) =>
      Unigram.encodeFrozen(Tables.documents(s, d), Unigram.FrozenModel)
    },

    // THE PIPELINE PRESET: the whole cleaning inventory composed
    // end-to-end in production order — ingest -> quality verdict ->
    // exact dedup -> near dedup -> decontaminate -> temperature mix ->
    // token budget -> shard — reported as the per-stage funnel
    // (stage, n_docs, n_tokens) plus one row per output shard. Every
    // stage reuses an oracle-proven operator, so the ENTIRE funnel
    // hash-compares end to end (see CorpusPipeline.stageCounts for the
    // one-pass reach/explode shape that avoids re-executing a stage's
    // lineage per funnel row).
    Op("llm_pipeline_e2e", pipelineE2eOracleSql) { (s, d) =>
      CorpusPipeline.stageCounts(Tables.documents(s, d))
    },

    // THE DAILY INCREMENT: the ingest job a growing corpus runs — the
    // new batch gated, exact- and near-deduped AGAINST THE STORED
    // CORPUS (band index, never corpus-vs-corpus), decontaminated, and
    // appended with a per-source manifest. The funnel plus manifest
    // hash-compare end-to-end (see CorpusPipeline.incrementalStageCounts
    // for the index/semi-join scale shape).
    Op("llm_pipeline_incremental", pipelineIncrOracleSql) { (s, d) =>
      CorpusPipeline.incrementalStageCounts(Tables.documents(s, d))
    }
  )
}
