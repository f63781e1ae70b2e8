package graft.llm

import graft.{Op, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed topic modeling — probabilistic latent semantic analysis
  * (Hofmann, SIGIR 1999), the EM ancestor of LDA and the classic
  * "what is this corpus about" readout a curation pipeline runs before
  * deciding mixture weights. The reference has nothing like it; this is
  * LLM-pipeline surface (corpus exploration / mixture design).
  *
  * Why PLSA and not LDA here: PLSA's EM is DETERMINISTIC given an
  * initialization — no Dirichlet sampling — so a fixed-point integer
  * formulation replays bit-for-bit in the DuckDB oracle, giving an
  * ITERATIVE ML trainer a full hash compare (the graph_pagerank
  * contract applied to EM). The md5-seeded φ init breaks topic
  * symmetry; θ starts uniform.
  *
  * Fixed-point scheme (S = 2^20, all BIGINT, truncating div — Spark
  * `div` and DuckDB `//` agree on negatives, and nothing here is
  * negative):
  *
  *   E:  u_z   = θ_dz · φ_zw            (≤ S², safe)
  *       q_z   = S·u_z div Σ_z u_z      (≤ S)
  *       c_dwz = n_dw · q_z             (topic-allocated counts)
  *   M:  φ_zw  = max(1, S·Σ_d c div Σ_dw c)   per topic z
  *       θ_dz  = max(1, S·Σ_w c div Σ_zw c)   per doc d
  *
  * The max(1, ·) floor keeps every parameter strictly positive so Σu
  * can never hit zero (the EM analog of Laplace smoothing; replayed
  * identically by the oracle). Magnitudes: S·Σc ≤ S²·total_tokens ≈
  * 2^40·T — BIGINT-safe through T ≈ 2^22 tokens ON THE TOP-V VOCAB at
  * this S; a web-scale run would drop S to 2^16 or normalize per
  * shard first.
  *
  * Scale shape: the corpus collapses to (doc, word, count) postings
  * over the top-V vocabulary (two keyed aggs + a broadcast vocab
  * semi-join); each EM round is occ ⋈ θ (keyed by doc) ⋈ φ (broadcast
  * — V·K rows) with one (doc,word)-keyed window for the posterior
  * normalization and two keyed aggregates for the M-step. θ lives on
  * the doc key and NEVER leaves it — the round's only corpus-sized
  * shuffles are the doc-keyed join and the (doc,word) window, exactly
  * one exchange each. Rounds cut lineage per the componentMinLabels
  * localCheckpoint protocol.
  */
object Topics {

  private val S = 1048576L

  import TextFeatures.toksSql

  val ops: Seq[Op] = Seq(
    // K = 3 topics, top-50 vocabulary, two unrolled EM rounds: the
    // oracle replays init and both rounds bit-for-bit (all integer).
    Op("text_plsa_topics", plsaOracleSql(toksSql)) { (s, d) =>
      plsaTopics(Tables.documents(s, d))
    },

    // UMass coherence of the trained topics — the replay covers the
    // whole chain: the EM rounds, the top-word selection, the pruned
    // co-document census, and the rank-ordered coherence fold.
    Op("text_topic_coherence",
       s"""WITH ${plsaCtes(toksSql)},
          |dw AS (
          |  SELECT DISTINCT doc_id, tok FROM toks
          |  WHERE tok IN (SELECT tok FROM topw)),
          |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
          |          FROM dw GROUP BY 1),
          |prs AS (
          |  SELECT a.z, a.rank AS ri, a.tok AS wi, b.rank AS rj, b.tok AS wj
          |  FROM topw a JOIN topw b ON a.z = b.z AND a.rank > b.rank),
          |cod AS (
          |  SELECT x.tok AS wi, y.tok AS wj, CAST(count(*) AS BIGINT) AS dij
          |  FROM dw x JOIN dw y ON x.doc_id = y.doc_id AND x.tok <> y.tok
          |  GROUP BY 1, 2),
          |terms AS (
          |  SELECT p.z, p.ri, p.rj,
          |         ln(CAST(coalesce(c.dij, 0) + 1 AS DOUBLE)
          |            / CAST(f.df AS DOUBLE)) AS t
          |  FROM prs p
          |  LEFT JOIN cod c ON c.wi = p.wi AND c.wj = p.wj
          |  JOIN dfreq f ON f.tok = p.wj)
          |SELECT z, CAST(count(*) AS BIGINT) AS n_pairs,
          |       list_reduce(list_prepend(0.0, list(t ORDER BY ri, rj)),
          |                   (a, b) -> a + b) AS coherence
          |FROM terms GROUP BY 1""".stripMargin) { (s, d) =>
      topicCoherence(Tables.documents(s, d))
    })

  /** UMass topic coherence (Mimno et al., EMNLP 2011) of the PLSA
    * topics — the standard intrinsic "are these topics real" score:
    * for each topic's rank-ordered top words, sum over ordered pairs
    * (m > l) of ln((D(w_m, w_l) + 1) / D(w_l)), where D counts
    * co-occurring documents and the conditioning word w_l is the
    * higher-ranked (more probable) one. Higher (less negative) =
    * more coherent. The fold runs in (rank_m, rank_l) order through
    * ieee_ln so the double hash-compares.
    *
    * Scale shape: document frequencies and co-document counts are
    * computed ONLY for the ≤ k·topWords top words (a broadcast
    * semi-join prunes the corpus scan map-side); the co-occurrence
    * self-join fans out ≤ (k·topWords)² per document. The pair table
    * is k·topWords²-sized — driver-negligible.
    */
  def topicCoherence(docs: DataFrame, k: Int = 3, vocabSize: Int = 50,
                     rounds: Int = 2, topWords: Int = 10,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    import graft.functions.GraftFunctions.ieeeLn
    val (topw, occ) = plsaTopicsWithPostings(docs, k, vocabSize, rounds,
      topWords, idCol, textCol)
    val words = topw.select(col("tok")).distinct()
    // the co-document census reads the EM's own vocab-pruned postings
    // (top words ⊆ vocab, and occ's key set IS the distinct (doc, tok)
    // relation) — no second corpus tokenization pass
    val dw = occ.select(col("doc_id"), col("tok"))
      .join(broadcast(words), "tok")
      .transform(graft.Ckpt.cut(_)) // feeds dfreq AND both sides of the pair join
    graft.Ckpt.release(occ)
    val dfreq = dw.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prs = topw.select(col("z"), col("rank").as("ri"),
        col("tok").as("wi"))
      .join(topw.select(col("z"), col("rank").as("rj"),
        col("tok").as("wj")), "z")
      .filter(col("ri") > col("rj"))
    val cod = dw.select(col("doc_id"), col("tok").as("wi"))
      .join(dw.select(col("doc_id"), col("tok").as("wj")), "doc_id")
      .filter(col("wi") =!= col("wj"))
      .groupBy(col("wi"), col("wj")).agg(count(lit(1)).as("dij"))
    val terms = prs
      .join(cod, Seq("wi", "wj"), "left")
      .join(dfreq.withColumnRenamed("tok", "wj"), "wj")
      .select(col("z"), col("ri"), col("rj"),
        ieeeLn((coalesce(col("dij"), lit(0L)) + 1).cast("double") /
          col("df").cast("double")).as("t"))
    val out = terms.groupBy(col("z"))
      .agg(count(lit(1)).as("n_pairs"),
        aggregate(
          sort_array(collect_list(struct(col("ri"), col("rj"), col("t")))),
          lit(0.0),
          (acc, x) => acc + x.getField("t")).as("coherence"))
      .transform(graft.Ckpt.cut(_))
    graft.Ckpt.release(dw)
    out
  }

  /** PLSA via fixed-point EM. Returns the per-topic top-`topWords`
    * word table: (z, rank, tok, phi_fx).
    */
  def plsaTopics(docs: DataFrame, k: Int = 3, vocabSize: Int = 50,
                 rounds: Int = 2, topWords: Int = 10,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val (topw, occ) = plsaTopicsWithPostings(docs, k, vocabSize, rounds,
      topWords, idCol, textCol)
    graft.Ckpt.release(occ)
    topw
  }

  /** [[plsaTopics]] that also hands back the checkpointed
    * vocab-pruned postings (doc_id, tok, n) — [[topicCoherence]]
    * derives its co-document census from them instead of re-tokenizing
    * the corpus. Caller owns releasing BOTH checkpoints.
    */
  def plsaTopicsWithPostings(
      docs: DataFrame, k: Int = 3, vocabSize: Int = 50,
      rounds: Int = 2, topWords: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    require(k >= 2 && vocabSize >= k && rounds >= 1 && topWords >= 1)
    val spark = docs.sparkSession
    // ONE corpus tokenization (r14): the raw postings are cut before
    // anything else reads them. The old shape evaluated occ0 (a full
    // corpus tokenize + aggregate) THREE times — under vocab inside the
    // occ cut, as occ's own child, and again under vocab when phi's
    // initialization re-planned — because vocab/occ/phi each re-derived
    // it. vocab is cut too (≤ vocabSize rows) so its postings-wide
    // aggregate also runs once, not once per consumer.
    val post = graft.Ckpt.cut(docs
      .select(col(idCol).as("doc_id"),
        explode(TextFeatures.tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n")))
    val vocab = graft.Ckpt.cut(post.groupBy(col("tok"))
      .agg(sum(col("n")).as("cn"))
      .orderBy(col("cn").desc, col("tok")).limit(vocabSize)
      .select(col("tok")))
    val occ0 = post
    // postings on the pinned vocabulary — scanned every round. Cut
    // PARTITIONED ON doc_id (r14): every EM round joins occ ⋈ theta on
    // doc_id and theta is itself a groupBy(doc_id, z) over the round's
    // hash(doc_id)-clustered responsibilities, so with this layout the
    // whole round body — join, (doc_id, tok) window, theta aggregate —
    // plans with NO exchange over the postings; only the k×vocab-sized
    // phi aggregate shuffles. The old hash(doc_id, tok) layout
    // re-exchanged the full postings relation every round.
    val occ = graft.Ckpt.cut(occ0.join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("tok"), col("n"))
      .repartition(col("doc_id")))
    graft.Ckpt.release(post) // occ is materialized; raw postings die
    // k topic rows (a constant at any corpus scale): one partition — the
    // default 32-slice range layout drags 32-task stages through every
    // plan that inherits its partitioning (phi init measured 2.0 s of
    // task overhead for 0.19 s of CPU at sf0.1)
    val zdf = spark.range(0, k, 1, 1).select(col("id").as("z"))
    val byZ = Window.partitionBy(col("z"))
    // phi/theta are NOT checkpointed (r14): each is a shallow aggregate
    // over the round's cut responsibilities `c` (or, for the initial
    // pair, over tiny/constant frames), so re-deriving them inside the
    // next round's single materialization costs one aggregate — while
    // cutting them cost one driver action + job each, 3 actions per
    // round. One cut per round (c) keeps plan depth bounded exactly as
    // before; every integer recurrence is unchanged.
    var phi = zdf.crossJoin(broadcast(vocab))
      .select(col("z"), col("tok"),
        (graft.functions.GraftFunctions.md5Bits(
          concat(lit("plsa:"), col("z").cast("string"), lit(":"),
            col("tok")), 1, 8) % 1000 + 1).as("r"))
      .withColumn("sr", sum(col("r")).over(byZ))
      .withColumn("phi", greatest(expr(s"r * $S div sr"), lit(1L)))
      .select(col("z"), col("tok"), col("phi"))
    var theta = occ.select(col("doc_id")).distinct()
      .crossJoin(broadcast(zdf))
      .select(col("doc_id"), col("z"), lit(S / k).as("theta"))
    val byDW = Window.partitionBy(col("doc_id"), col("tok"))
    val byD = Window.partitionBy(col("doc_id"))
    var cPrev: Option[DataFrame] = None
    var r = 0
    while (r < rounds) {
      val u = occ
        .join(theta, "doc_id")
        .join(broadcast(phi), Seq("tok", "z"))
        .select(col("doc_id"), col("tok"), col("z"), col("n"),
          (col("theta") * col("phi")).as("u"))
      val c = graft.Ckpt.cut(u
        .withColumn("su", sum(col("u")).over(byDW))
        .withColumn("q", expr(s"$S * u div su"))
        .select(col("doc_id"), col("tok"), col("z"),
          (col("n") * col("q")).as("c")))
      cPrev.foreach(graft.Ckpt.release)
      cPrev = Some(c)
      phi = c.groupBy(col("z"), col("tok"))
        .agg(sum(col("c")).as("sc"))
        .withColumn("sz", sum(col("sc")).over(byZ))
        .withColumn("phi", greatest(expr(s"$S * sc div sz"), lit(1L)))
        .select(col("z"), col("tok"), col("phi"))
      theta = c.groupBy(col("doc_id"), col("z"))
        .agg(sum(col("c")).as("sd"))
        .withColumn("st", sum(col("sd")).over(byD))
        .withColumn("theta", greatest(expr(s"$S * sd div st"), lit(1L)))
        .select(col("doc_id"), col("z"), col("theta"))
      r += 1
    }
    val out = phi
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("z")).orderBy(col("phi").desc, col("tok"))))
      .filter(col("rank") <= topWords)
      .select(col("z"), col("rank").cast("long").as("rank"),
        col("tok"), col("phi").as("phi_fx"))
      .transform(graft.Ckpt.cut(_))
    cPrev.foreach(graft.Ckpt.release)
    graft.Ckpt.release(vocab)
    (out, occ)
  }

  /** One EM round of the oracle replay: CTEs u$o/c$o/phi$o/theta$o
    * derived from phi$i/theta$i. Kept textually parallel to the Spark
    * round above so the recurrences cannot drift.
    */
  private def roundSql(i: Int, o: Int): String =
    s"""u$o AS (
       |  SELECT oc.doc_id, oc.tok, t.z, oc.n, t.theta * p.phi AS u
       |  FROM occ oc
       |  JOIN theta$i t ON t.doc_id = oc.doc_id
       |  JOIN phi$i p ON p.tok = oc.tok AND p.z = t.z),
       |c$o AS (
       |  SELECT doc_id, tok, z,
       |         CAST(n * ($S * u // CAST(sum(u) OVER (
       |           PARTITION BY doc_id, tok) AS BIGINT)) AS BIGINT) AS c
       |  FROM u$o),
       |phi$o AS (
       |  SELECT z, tok,
       |         CAST(greatest($S * sc // CAST(sum(sc) OVER (
       |           PARTITION BY z) AS BIGINT), 1) AS BIGINT) AS phi
       |  FROM (SELECT z, tok, CAST(sum(c) AS BIGINT) AS sc
       |        FROM c$o GROUP BY 1, 2)),
       |theta$o AS (
       |  SELECT doc_id, z,
       |         CAST(greatest($S * sd // CAST(sum(sd) OVER (
       |           PARTITION BY doc_id) AS BIGINT), 1) AS BIGINT) AS theta
       |  FROM (SELECT doc_id, z, CAST(sum(c) AS BIGINT) AS sd
       |        FROM c$o GROUP BY 1, 2))"""
      .stripMargin

  /** The shared CTE chain of the PLSA replay (through phi2/theta2) —
    * plsaOracleSql and the coherence oracle both build on it so the EM
    * text exists once.
    */
  private def plsaCtes(toksSql: String): String =
    s"""toks AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |occ0 AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
       |  FROM toks GROUP BY 1, 2),
       |vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, sum(n) AS cn FROM occ0 GROUP BY 1)
       |  ORDER BY cn DESC, tok LIMIT 50),
       |occ AS (SELECT o.doc_id, o.tok, o.n FROM occ0 o JOIN vocab USING (tok)),
       |zt AS (SELECT unnest(range(0, 3)) AS z),
       |phi0 AS (
       |  SELECT z, tok,
       |         CAST(greatest(r * $S // CAST(sum(r) OVER (
       |           PARTITION BY z) AS BIGINT), 1) AS BIGINT) AS phi
       |  FROM (
       |    SELECT z, tok,
       |           CAST('0x' || substr(md5(concat('plsa:',
       |               CAST(z AS VARCHAR), ':', tok)), 1, 8) AS BIGINT)
       |             % 1000 + 1 AS r
       |    FROM zt, vocab)),
       |theta0 AS (
       |  SELECT doc_id, z, CAST($S // 3 AS BIGINT) AS theta
       |  FROM (SELECT DISTINCT doc_id FROM occ), zt),
       |${roundSql(0, 1)},
       |${roundSql(1, 2)},
       |topw AS (
       |  SELECT z, rank, tok, phi FROM (
       |    SELECT z, tok, phi,
       |           row_number() OVER (PARTITION BY z
       |                              ORDER BY phi DESC, tok) AS rank
       |    FROM phi2)
       |  WHERE rank <= 10)""".stripMargin

  /** DuckDB replay of plsaTopics(k = 3, vocabSize = 50, rounds = 2,
    * topWords = 10) — init plus two unrolled EM rounds.
    */
  def plsaOracleSql(toksSql: String): String =
    s"""WITH ${plsaCtes(toksSql)}
       |SELECT z, CAST(rank AS BIGINT) AS rank, tok, phi AS phi_fx
       |FROM topw""".stripMargin
}
