package graft.llm

import graft.{Op, Tables}
import graft.functions.GraftFunctions.ieeeLn
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over a document corpus — Okapi BM25 (Robertson &
  * Zaragoza 2009), the scoring function behind Lucene/Elasticsearch and
  * the standard sparse half of hybrid (BM25 + dense kNN) retrieval
  * pipelines. Complements the dense side the engine already ships
  * (Similarity.bruteForceKnn / lshKnn / ivfKnn): a training-data
  * pipeline uses exactly this pair for contamination audits ("which
  * corpus docs answer this benchmark question either lexically or
  * semantically?") and for RAG-corpus curation.
  *
  * Scale shape at 100 TB: the query-term `isin` filter runs MAP-SIDE
  * directly behind the scan, so only postings of the query's terms ever
  * enter a shuffle — the classic inverted-index access path expressed
  * declaratively (the full corpus is never re-keyed). Document length
  * and corpus stats ride along as (a) a grouping column and (b) one
  * broadcast 1-row aggregate; per-term document frequencies are a
  * |terms|-row broadcast. The final top-k is TakeOrderedAndProject —
  * per-partition heaps, no global sort — and the row_number window runs
  * AFTER the limit, over k rows.
  *
  * Hash-compare contract (see Verify gotchas): ln routes through the
  * `ieee_ln` kernel; the per-document score folds the per-term partial
  * scores in TOKEN order on both engines (a plain sum(double) is
  * partitioning-dependent); constants that are not exactly
  * representable (k1 = 1.2) are combined in the DOUBLE domain on both
  * sides — `lit(k1) + lit(1.0)` here, `CAST(1.2 AS DOUBLE) + 1.0` in
  * the oracle — because folding them in Scala (`lit(k1 + 1.0)`) and in
  * DuckDB's exact DECIMAL domain (`1.2 + 1.0`) yields different bits.
  */
object Retrieval {

  import TextFeatures.toksSql

  /** The inputs of BM25 scoring: postings (id, dl, tok, tf) of `terms`
    * ONLY — the isin filter sits behind the explode, so non-matching
    * tokens die map-side before any shuffle — their document frequencies
    * (tok, df), and the 1-row corpus stats (n_docs, total_len).
    */
  private def bm25Postings(docs: DataFrame, terms: Seq[String],
                           idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol),
      TextFeatures.tokens(col(textCol)).as("toks"))
    val lens = toks.select(col(idCol), size(col("toks")).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    val tf = toks
      .select(col(idCol), size(col("toks")).as("dl"),
        explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    (tf, dfreq, stats)
  }

  /** BM25 weight idf(df) * tf-saturation(tf, dl) of one posting joined
    * with its df and the corpus stats — the Spark side of bm25TermScore.
    */
  private def bm25Weight(k1: Double, b: Double): Column = {
    val avgdl: Column =
      col("total_len").cast("double") / col("n_docs").cast("double")
    val idf: Column = ieeeLn(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfWeight: Column =
      (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * (col("dl").cast("double") / avgdl)))
    idf * tfWeight
  }

  /** Top-k documents by BM25 score for one bag-of-terms query.
    * Returns (doc_id, rank, score) — rank 1 = best, ties broken by id.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "query needs at least one term")
    require(k >= 1, s"k must be positive, got $k")
    val (tf, dfreq, stats) = bm25Postings(docs, terms, idCol, textCol)
    val perTerm = tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats)) // 1-row scalar attachment
      .select(col(idCol), col("tok"), bm25Weight(k1, b).as("s"))
    val scored = perTerm.groupBy(col(idCol))
      .agg(aggregate(
        sort_array(collect_list(struct(col("tok"), col("s")))),
        lit(0.0),
        (acc, x) => acc + x.getField("s")).as("score"))
    // TakeOrderedAndProject does the distributed top-k; the window only
    // ranks the k survivors
    scored.orderBy(col("score").desc, col(idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(idCol))))
      .select(col(idCol), col("rank"), col("score"))
  }

  /** BATCH BM25 — the production shape: retrieval runs thousands of
    * queries (a benchmark suite, a contamination audit), not one. One
    * corpus pass serves the whole batch: the map-side postings filter
    * admits the UNION of all query terms, document frequencies are
    * computed once per term, and a broadcast (query_id, term) table fans
    * each posting out to the queries that want it — so corpus cost is
    * O(matched postings), independent of how many queries share a term.
    * Per-(query, doc) scores fold in token order (the single-query
    * hash-parity contract); ranking is a query-partitioned window, k
    * rows surviving per query.
    */
  def bm25TopKBatch(docs: DataFrame, queries: Seq[(Long, Seq[String])],
                    k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "every query needs at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val queryTerms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    val (tf, dfreq, stats) = bm25Postings(docs, allTerms, idCol, textCol)
    val perTerm = tf.join(broadcast(dfreq), "tok")
      .join(broadcast(queryTerms), "tok")
      .crossJoin(broadcast(stats)) // 1-row scalar attachment
      .select(col("query_id"), col(idCol), col("tok"),
        bm25Weight(k1, b).as("s"))
    val scored = perTerm.groupBy(col("query_id"), col(idCol))
      .agg(aggregate(
        sort_array(collect_list(struct(col("tok"), col("s")))),
        lit(0.0),
        (acc, x) => acc + x.getField("s")).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"), col("score"))
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio 1971 lineage;
    * the RM-style loop every Lucene/Terrier stack ships): run the query,
    * treat the top `fbDocs` documents as relevant, mine `fbTerms`
    * expansion terms from them, and re-run the widened query. Term
    * selection is INTEGER-exact — candidate score (ff << 20) div df, a
    * fixed-point feedback-tf-idf — so the expansion set (and therefore
    * the whole second round, which is the proven BM25 replay) is
    * deterministic and oracle-comparable; candidates are scored by
    * feedback frequency damped by corpus document frequency, ties to the
    * lexicographically first term.
    *
    * Scale shape: round 1 is bm25TopK (map-side postings filter); the
    * feedback set is `fbDocs` rows broadcast; candidate df is a keyed
    * aggregate over postings pre-filtered by the broadcast feedback
    * vocabulary; the expansion collect is bounded by `fbTerms` (the
    * bounded-by-k exception). Round 2 reuses bm25TopK with the widened
    * literal term set.
    */
  def bm25Prf(docs: DataFrame, terms: Seq[String], fbDocs: Int = 5,
              fbTerms: Int = 3, k: Int = 10, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1, "feedback sizes must be positive")
    val toks = docs.select(col(idCol),
      TextFeatures.tokens(col(textCol)).as("toks"))
    val fb = bm25TopK(docs, terms, k = fbDocs, idCol = idCol,
      textCol = textCol).select(col(idCol))
    val fbVocab = toks.join(broadcast(fb), idCol)
      .select(explode(col("toks")).as("tok"))
      .filter(!col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("ff"))
    val candDf = toks
      .select(col(idCol), explode(col("toks")).as("tok"))
      .join(broadcast(fbVocab.select(col("tok"))), "tok")
      .distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val expansion = fbVocab.join(candDf, "tok")
      .select(col("tok"), expr("(ff * 1048576) div df").as("cs"))
      .orderBy(col("cs").desc, col("tok")).limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
    bm25TopK(docs, terms ++ expansion, k, idCol = idCol, textCol = textCol)
  }

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack et al., SIGIR'09)
    * of a lexical BM25 list and a dense cosine-kNN list for one query:
    *
    *   rrf(d) = Σ_lists 1 / (c + rank_list(d)),   c = 60
    *
    * the standard way production search fuses sparse and dense scores
    * without calibrating their incomparable scales. The dense query is a
    * corpus vector (`queryVecId`); documents and vectors correlate by
    * id. Both candidate lists are top-`kCand`; a document missing from a
    * list contributes 0 from it. RRF works on RANKS (integers), so the
    * fused double is a sum of two exactly-determined terms — no
    * accumulation-order hazard, bit-replayable in DuckDB.
    *
    * Scale shape: each side is its own already-scale-shaped operator
    * (BM25's map-side postings filter; a 1-row broadcast of the query
    * vector against the embedding table — at production scale the dense
    * side swaps in lshKnn/ivfKnn for the same (id, rank) contract); the
    * fusion join is kCand × kCand rows — driver-negligible.
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame, terms: Seq[String],
                queryVecId: Long, kCand: Int = 20, k: Int = 10,
                c: Double = 60.0,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.GraftFunctions.vecCosine
    val lex = bm25TopK(docs, terms, kCand, idCol = idCol, textCol = textCol)
      .select(col(idCol), col("rank").as("r_lex"))
    val qv = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").cast("array<double>").as("q"))
    val dense = embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qv)) // 1-row query-vector attachment
      .select(col("vec_id"),
        vecCosine(col("embedding").cast("array<double>"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(kCand)
      .withColumn("r_dense",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as(idCol), col("r_dense"))
    lex.join(dense, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(lit(1.0) / (lit(c) + col("r_lex").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("r_dense").cast("double")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col(idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col(idCol))))
      .select(col(idCol), col("rank"), col("rrf"))
  }

  /** BATCH hybrid retrieval: RRF fusion for a whole query set — the
    * lexical lists come from ONE bm25TopKBatch corpus pass, the dense
    * lists from ONE broadcast of all query vectors against the embedding
    * scan (the knn_cosine shape batched), and the fusion joins two
    * |queries|×kCand-sized lists on (query_id, doc_id). Queries correlate
    * to their dense vector by id (`queryVec` maps query_id -> vec_id).
    * Same rank-integer exactness contract as the single-query operator.
    */
  def hybridRrfBatch(docs: DataFrame, embeddings: DataFrame,
                     queries: Seq[(Long, Seq[String])],
                     queryVec: Map[Long, Long],
                     kCand: Int = 20, k: Int = 10,
                     c: Double = 60.0,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(queries.forall(q => queryVec.contains(q._1)),
      "every query needs a dense vector id")
    val spark = docs.sparkSession
    import spark.implicits._
    val lex = bm25TopKBatch(docs, queries, kCand,
        idCol = idCol, textCol = textCol)
      .select(col("query_id"), col(idCol), col("rank").as("r_lex"))
    val vecByQuery = queryVec.toSeq.toDF("query_id", "qvec_id")
    val qv = embeddings
      .join(broadcast(vecByQuery), col("vec_id") === col("qvec_id"))
      .select(col("query_id"), col("qvec_id"),
        col("embedding").cast("array<double>").as("qv"))
    // TopK partial aggregate, not a raw window: the shuffle after scoring
    // carries kCand rows per query per partition, not the whole scored
    // corpus (the bruteForceKnn scale contract, batched)
    val denseScored = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(broadcast(qv), col("vec_id") =!= col("qvec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.vecCosine(col("v"), col("qv"))
          .as("cos"))
    val dense = Similarity.topKPerGroup(denseScored,
        "query_id", "vec_id", "cos", kCand)
      .select(col("query_id"), col("neighbor_id").as(idCol),
        col("rank").as("r_dense"))
    lex.join(dense, Seq("query_id", idCol), "full_outer")
      .select(col("query_id"), col(idCol),
        (coalesce(lit(1.0) / (lit(c) + col("r_lex").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("r_dense").cast("double")), lit(0.0)))
          .as("rrf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"), col("rrf"))
  }

  // The bench/oracle query: three corpus-vocabulary terms of differing
  // document frequency, k = 10.
  private val Terms = Seq("spark", "vector", "hash")
  private val termsSql = Terms.map(t => s"'$t'").mkString("[", ", ", "]")

  // The batch-oracle query set: three queries over corpus vocabulary,
  // overlapping terms so the shared-postings path is exercised.
  private val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "vector", "hash"),
    1L -> Seq("data", "table", "join"),
    2L -> Seq("stream", "batch", "spark"))

  /** The BM25 weight of one posting (tf, dl) joined with its df and the
    * corpus stats (n_docs, total_len), as column `s` — ONE definition of
    * the formula for every oracle entry, so it cannot drift between them.
    */
  private val bm25TermScore =
    """ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5)
      |                  / (CAST(df AS DOUBLE) + 0.5))
      |         * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |            / (CAST(tf AS DOUBLE)
      |               + 1.2 * (1.0 - 0.75
      |                        + 0.75 * (CAST(dl AS DOUBLE)
      |                                  / (CAST(total_len AS DOUBLE)
      |                                     / CAST(n_docs AS DOUBLE))))))
      |           AS s""".stripMargin

  /** `toks` (the shared token normal form) and the 1-row corpus `stats`
    * (n_docs, total_len) every BM25 oracle starts from.
    */
  private val bm25CorpusCtes =
    s"""toks AS (
       |  SELECT doc_id,
       |         $toksSql AS toks
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS total_len
       |  FROM toks)""".stripMargin

  /** Postings `tf$sfx(doc_id, dl, tok, tf)` of the tokens `tfFilter`
    * admits, and their document frequencies `dfreq$sfx(tok, df)`.
    */
  private def bm25TfCtes(sfx: String, tfFilter: String): String =
    s"""tf$sfx AS (
       |  SELECT doc_id, dl, tok, count(*) AS tf
       |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM toks)
       |  WHERE $tfFilter
       |  GROUP BY 1, 2, 3),
       |dfreq$sfx AS (SELECT tok, count(*) AS df FROM tf$sfx GROUP BY 1)""".stripMargin

  /** BM25 scoring CTE chain (tf/dfreq/per_term/scored, optionally
    * suffixed) with a pluggable postings filter, shared by the
    * single-query entries and the PRF second round.
    */
  private def bm25ScoreCtes(sfx: String, tfFilter: String): String =
    s"""${bm25TfCtes(sfx, tfFilter)},
       |per_term$sfx AS (
       |  SELECT doc_id,
       |         tok,
       |         $bm25TermScore
       |  FROM tf$sfx JOIN dfreq$sfx USING (tok), stats),
       |scored$sfx AS (
       |  SELECT doc_id,
       |         list_reduce(list_prepend(0.0, list(s ORDER BY tok)),
       |                     (a, b) -> a + b) AS score
       |  FROM per_term$sfx GROUP BY doc_id)""".stripMargin

  /** The batch oracles' shared prefix: corpus CTEs, the (query_id, tok)
    * table `qt`, union-term postings, and `per_term` — one BM25 weight per
    * (query, doc, term). The fan-out to queries through `qt` is the only
    * difference from bm25ScoreCtes.
    */
  private val bm25BatchCtes: String = {
    val allTerms = BatchQueries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString("[", ", ", "]")
    val qvals = BatchQueries
      .flatMap { case (q, ts) => ts.distinct.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""$bm25CorpusCtes,
       |qt(query_id, tok) AS (VALUES $qvals),
       |${bm25TfCtes("", s"list_contains($allTerms, tok)")},
       |per_term AS (
       |  SELECT q.query_id, t.doc_id, t.tok,
       |         $bm25TermScore
       |  FROM tf t JOIN dfreq USING (tok) JOIN qt q USING (tok), stats)""".stripMargin
  }

  /** BM25 ranking CTEs (DuckDB dialect) for the pinned query set. Yields
    * a relation `lexranked(doc_id, score, rank)` over all matching docs.
    */
  private def bm25Cte: String =
    s"""$bm25CorpusCtes,
       |${bm25ScoreCtes("", s"list_contains($termsSql, tok)")},
       |lexranked AS (
       |  SELECT doc_id, score,
       |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("text_bm25_topk",
       s"""WITH $bm25Cte
          |SELECT doc_id, CAST(rank AS INTEGER) AS rank, score
          |FROM lexranked WHERE rank <= 10""".stripMargin) { (s, d) =>
      bm25TopK(Tables.documents(s, d), Terms, k = 10)
    },

    // PRF query expansion: round-1 BM25 -> integer-exact expansion-term
    // mining from the top-5 feedback docs -> round-2 BM25 over the
    // widened term set. The oracle replays the feedback ranking, the
    // (ff << 20) div df candidate scores, the top-3 selection, and the
    // full second scoring round — both retrieval rounds AND the term
    // mining hash-compare.
    Op("text_bm25_prf",
       s"""WITH $bm25Cte,
          |fb AS (SELECT doc_id FROM lexranked WHERE rank <= 5),
          |fbtok AS (
          |  SELECT tok, count(*) AS ff FROM (
          |    SELECT unnest(toks) AS tok FROM toks JOIN fb USING (doc_id))
          |  WHERE NOT list_contains($termsSql, tok) GROUP BY 1),
          |canddf AS (
          |  SELECT tok, count(*) AS df FROM (
          |    SELECT DISTINCT doc_id, tok FROM (
          |      SELECT doc_id, unnest(toks) AS tok FROM toks)
          |    WHERE tok IN (SELECT tok FROM fbtok))
          |  GROUP BY 1),
          |expt AS (
          |  SELECT f.tok FROM fbtok f JOIN canddf c USING (tok)
          |  ORDER BY (f.ff * 1048576) // c.df DESC, f.tok LIMIT 3),
          |t2 AS (SELECT unnest($termsSql) AS tok
          |       UNION ALL SELECT tok FROM expt),
          |${bm25ScoreCtes("2", "tok IN (SELECT tok FROM t2)")}
          |SELECT doc_id,
          |       CAST(row_number() OVER (ORDER BY score DESC, doc_id)
          |            AS INTEGER) AS rank,
          |       score
          |FROM scored2
          |QUALIFY rank <= 10""".stripMargin) { (s, d) =>
      bm25Prf(Tables.documents(s, d), Terms)
    },

    // Batch BM25 for a 3-query set with overlapping terms: one corpus
    // pass serves all queries. The oracle recomputes the same union-term
    // postings, per-term scores, (query_id, term) fan-out, token-ordered
    // fold, and per-query ranking.
    Op("text_bm25_batch", {
      s"""WITH $bm25BatchCtes,
         |scored AS (
         |  SELECT query_id, doc_id,
         |         list_reduce(list_prepend(0.0, list(s ORDER BY tok)),
         |                     (a, b) -> a + b) AS score
         |  FROM per_term GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |       CAST(rank AS INTEGER) AS rank, score
         |FROM (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |WHERE rank <= 10""".stripMargin
    }) { (s, d) =>
      bm25TopKBatch(Tables.documents(s, d), BatchQueries, k = 10)
    },

    // Retrieval evaluation: the TREC metric suite (recall@10, MRR, AP,
    // DCG@10, NDCG@10) for the 3-query batch ranking against
    // conjunctive-term relevance judgments. The oracle replays the
    // whole chain — batch BM25 ranking, qrels derivation, and every
    // metric — with rank-ordered folds and ieee_ln'd log2, so the
    // hash match proves the evaluation arithmetic end to end.
    Op("retrieval_eval", {
      s"""WITH $bm25BatchCtes,
         |scored AS (
         |  SELECT query_id, doc_id,
         |         list_reduce(list_prepend(0.0, list(s ORDER BY tok)),
         |                     (a, b) -> a + b) AS score
         |  FROM per_term GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY score DESC, doc_id) AS rank
         |    FROM scored)
         |  WHERE rank <= 10),
         |nq AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
         |qdt AS (
         |  SELECT qt.query_id, dt.doc_id, count(DISTINCT dt.tok) AS nmatch
         |  FROM (SELECT DISTINCT doc_id, tok FROM (
         |          SELECT doc_id, unnest(toks) AS tok FROM toks)) dt
         |  JOIN qt ON qt.tok = dt.tok
         |  GROUP BY 1, 2),
         |qrels AS (
         |  SELECT q.query_id, q.doc_id FROM qdt q JOIN nq USING (query_id)
         |  WHERE q.nmatch = n_terms),
         |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
         |         FROM qrels GROUP BY 1),
         |h AS (
         |  SELECT r.query_id, r.rank,
         |         row_number() OVER (PARTITION BY r.query_id
         |                            ORDER BY r.rank) AS hit_idx
         |  FROM ranked r JOIN qrels USING (query_id, doc_id)),
         |perq AS (
         |  SELECT query_id,
         |         CAST(count(*) AS BIGINT) AS hits,
         |         min(rank) AS first_rank,
         |         list_reduce(list_prepend(0.0,
         |             list(CAST(hit_idx AS DOUBLE) / CAST(rank AS DOUBLE)
         |                  ORDER BY rank)),
         |           (a, b) -> a + b) AS ap_num,
         |         list_reduce(list_prepend(0.0,
         |             list(1.0 / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
         |                  ORDER BY rank)),
         |           (a, b) -> a + b) AS dcg
         |  FROM h GROUP BY 1),
         |ideal AS (
         |  SELECT n.query_id,
         |         list_reduce(list_prepend(0.0,
         |             list_transform(range(1, least(n.n_rel, 10) + 1),
         |               r -> 1.0 / (ln(CAST(r AS DOUBLE) + 1.0) / ln(2.0)))),
         |           (a, b) -> a + b) AS idcg
         |  FROM nrel n)
         |SELECT CAST(n.query_id AS BIGINT) AS query_id, n.n_rel,
         |       coalesce(p.hits, 0) AS hits,
         |       coalesce(CAST(p.hits AS DOUBLE) / CAST(n.n_rel AS DOUBLE),
         |                0.0) AS recall,
         |       coalesce(1.0 / CAST(p.first_rank AS DOUBLE), 0.0) AS mrr,
         |       coalesce(p.ap_num / CAST(n.n_rel AS DOUBLE), 0.0) AS ap,
         |       coalesce(p.dcg, 0.0) AS dcg,
         |       coalesce(p.dcg / i.idcg, 0.0) AS ndcg
         |FROM nrel n LEFT JOIN perq p USING (query_id)
         |JOIN ideal i ON i.query_id = n.query_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      evalRanking(bm25TopKBatch(docs, BatchQueries, k = 10),
        conjunctiveQrels(docs, BatchQueries), k = 10)
    },

    // Batch hybrid: RRF for the 3-query set — lexical lists from the
    // batch BM25 pass, dense lists from one broadcast of query vectors
    // 0..2 (query_id == vec_id here), fusion per (query, doc). The
    // oracle recomputes every stage for all queries at once.
    Op("hybrid_rrf_batch", {
      val qids = BatchQueries.map(_._1).mkString(", ")
      s"""WITH $bm25BatchCtes,
         |lex AS (
         |  SELECT query_id, doc_id, rank AS r_lex FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY score DESC, doc_id) AS rank
         |    FROM (
         |      SELECT query_id, doc_id,
         |             list_reduce(list_prepend(0.0, list(s ORDER BY tok)),
         |                         (a, b) -> a + b) AS score
         |      FROM per_term GROUP BY 1, 2))
         |  WHERE rank <= 20),
         |qv AS (SELECT vec_id AS query_id, embedding AS qe
         |       FROM embeddings WHERE vec_id IN ($qids)),
         |dense AS (
         |  SELECT query_id, doc_id, r_dense FROM (
         |    SELECT q.query_id, c.vec_id AS doc_id,
         |           row_number() OVER (PARTITION BY q.query_id ORDER BY
         |             list_aggregate(list_transform(range(1, len(c.embedding) + 1),
         |               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')
         |             / (sqrt(list_aggregate(list_transform(range(1, len(c.embedding) + 1),
         |                  i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))
         |              * sqrt(list_aggregate(list_transform(range(1, len(qe) + 1),
         |                  i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')))
         |             DESC, c.vec_id) AS r_dense
         |    FROM embeddings c, qv q WHERE c.vec_id <> q.query_id)
         |  WHERE r_dense <= 20),
         |fused AS (
         |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         |         coalesce(l.doc_id, d.doc_id) AS doc_id,
         |         coalesce(1.0 / (60.0 + CAST(r_lex AS DOUBLE)), 0.0)
         |         + coalesce(1.0 / (60.0 + CAST(r_dense AS DOUBLE)), 0.0) AS rrf
         |  FROM lex l FULL OUTER JOIN dense d
         |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |       CAST(rank AS INTEGER) AS rank, rrf FROM (
         |  SELECT query_id, doc_id, rrf,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused)
         |WHERE rank <= 10""".stripMargin
    }) { (s, d) =>
      hybridRrfBatch(Tables.documents(s, d), Tables.embeddings(s, d),
        BatchQueries, queryVec = BatchQueries.map(q => q._1 -> q._1).toMap,
        kCand = 20, k = 10)
    },

    // Sparse+dense fusion for one query: BM25 list (the terms above) and
    // cosine-kNN list around corpus vector 0, RRF with c = 60. Ranks are
    // integers and each RRF term is one exact division, so the fused
    // score hash-compares; the cosine replays as the same sequential
    // fold knn_cosine proved bit-exact.
    Op("hybrid_rrf",
       s"""WITH $bm25Cte,
          |lex AS (SELECT doc_id, rank AS r_lex FROM lexranked WHERE rank <= 20),
          |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          |dense AS (
          |  SELECT doc_id, r_dense FROM (
          |    SELECT vec_id AS doc_id,
          |           row_number() OVER (ORDER BY cos DESC, vec_id) AS r_dense
          |    FROM (
          |      SELECT c.vec_id,
          |             list_aggregate(list_transform(range(1, len(c.embedding) + 1),
          |               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')
          |             / (sqrt(list_aggregate(list_transform(range(1, len(c.embedding) + 1),
          |                  i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum'))
          |              * sqrt(list_aggregate(list_transform(range(1, len(qe) + 1),
          |                  i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum'))) AS cos
          |      FROM embeddings c, q WHERE c.vec_id <> 0))
          |  WHERE r_dense <= 20),
          |fused AS (
          |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
          |         coalesce(1.0 / (60.0 + CAST(r_lex AS DOUBLE)), 0.0)
          |         + coalesce(1.0 / (60.0 + CAST(r_dense AS DOUBLE)), 0.0) AS rrf
          |  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
          |SELECT doc_id, CAST(rank AS INTEGER) AS rank, rrf FROM (
          |  SELECT doc_id, rrf,
          |         row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
          |  FROM fused)
          |WHERE rank <= 10""".stripMargin) { (s, d) =>
      hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
        Terms, queryVecId = 0L, kCand = 20, k = 10)
    },

    // Dirichlet-smoothed query-likelihood retrieval (mu = 2000) for the
    // pinned query: the language-modeling alternative to BM25's
    // probabilistic-relevance scoring. Scores stay in the log domain
    // (the exp gotcha), the per-term smoothed probabilities replay via
    // ln on both engines, and the fold is token-ordered — the whole
    // ranking hash-compares.
    Op("text_qld_topk",
       s"""WITH toks AS (
          |  SELECT doc_id,
          |         $toksSql AS toks
          |  FROM documents),
          |stats AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS total FROM toks),
          |post AS (
          |  SELECT doc_id, dl, tok, count(*) AS tf
          |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM toks)
          |  WHERE list_contains($termsSql, tok)
          |  GROUP BY 1, 2, 3),
          |cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM post GROUP BY 1),
          |cand AS (SELECT DISTINCT doc_id, dl FROM post),
          |qt AS (SELECT unnest($termsSql) AS tok),
          |sterm AS (
          |  SELECT p.doc_id, p.tok,
          |         ln((CAST(coalesce(po.tf, 0) AS DOUBLE)
          |             + 2000.0 * (CAST(cf.cf AS DOUBLE)
          |                         / CAST(s.total AS DOUBLE)))
          |            / (CAST(p.dl AS DOUBLE) + 2000.0)) AS sc
          |  FROM (SELECT c.doc_id, c.dl, q.tok FROM cand c CROSS JOIN qt q) p
          |  LEFT JOIN post po ON po.doc_id = p.doc_id AND po.tok = p.tok
          |  JOIN cf ON cf.tok = p.tok, stats s),
          |scored AS (
          |  SELECT doc_id,
          |         list_reduce(list_prepend(0.0, list(sc ORDER BY tok)),
          |                     (a, b) -> a + b) AS score
          |  FROM sterm GROUP BY 1)
          |SELECT doc_id,
          |       CAST(row_number() OVER (ORDER BY score DESC, doc_id)
          |            AS INTEGER) AS rank,
          |       score
          |FROM scored QUALIFY rank <= 10""".stripMargin) { (s, d) =>
      qldTopK(Tables.documents(s, d), Terms, k = 10)
    }
  )

  /** Binary relevance judgments by term conjunction: document d is
    * relevant to query q iff d's token set contains EVERY term of q —
    * the deterministic qrels a synthetic-corpus evaluation needs (real
    * pipelines join human/LLM judgment files with the same (query_id,
    * doc_id) shape). Map-side explode + broadcast term join + keyed
    * count-distinct: the corpus is scanned once, never re-keyed beyond
    * the (query, doc) aggregate.
    */
  def conjunctiveQrels(docs: DataFrame, queries: Seq[(Long, Seq[String])],
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty))
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries
      .flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("query_id", "tok")
    val nq = qt.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
    docs
      .select(col(idCol),
        explode(array_distinct(TextFeatures.tokens(col(textCol)))).as("tok"))
      .join(broadcast(qt), "tok")
      .groupBy(col("query_id"), col(idCol))
      .agg(countDistinct(col("tok")).as("nmatch"))
      .join(broadcast(nq), "query_id")
      .filter(col("nmatch") === col("n_terms"))
      .select(col("query_id"), col(idCol))
  }

  /** Ranking-quality evaluation — the TREC protocol metrics every
    * retrieval stack reports (Manning, Raghavan & Schütze, IR ch. 8):
    * per query, against a binary relevance set `qrels(query_id, doc_id)`:
    *
    *   recall@k   hits_k / n_rel
    *   MRR        1 / rank of the first relevant hit
    *   AP         (Σ_i  i / rank_i) / n_rel over hits i = 1.. in order
    *   DCG@k      Σ_hits 1 / log2(rank + 1)
    *   NDCG@k     DCG / IDCG,  IDCG = Σ_{r=1..min(n_rel,k)} 1/log2(r+1)
    *
    * Every metric hash-compares: AP terms are ratios of two BIGINTs
    * (hit index / rank), DCG terms route log2 through ieee_ln
    * (ln(r+1)/ln 2 — the Verify ln contract), and both sums fold in
    * RANK order on both engines. Queries with no relevant hit in the
    * top k report 0.0 (not NULL) so the metric row never vanishes.
    *
    * Scale shape: `rankings` is already ≤ k rows per query, so the
    * whole evaluation is a qrels semi-join plus per-query aggregates
    * over ≤ k-element lists — the only corpus-sized work is counting
    * n_rel, one keyed aggregate over the judgment relation.
    */
  def evalRanking(rankings: DataFrame, qrels: DataFrame,
                  k: Int = 10, idCol: String = "doc_id"): DataFrame = {
    require(k >= 1)
    val ln2 = ieeeLn(lit(2.0))
    def dcgTerm(rank: Column): Column =
      lit(1.0) / (ieeeLn(rank.cast("double") + lit(1.0)) / ln2)
    val nrel = qrels.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    val hits = rankings.filter(col("rank") <= k)
      .join(qrels.select(col("query_id"), col(idCol)),
        Seq("query_id", idCol), "left_semi")
      .withColumn("hit_idx", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("rank"))))
    val perq = hits.groupBy(col("query_id"))
      .agg(count(lit(1)).as("hits"),
        min(col("rank")).as("first_rank"),
        aggregate(
          sort_array(collect_list(struct(col("rank"), col("hit_idx")))),
          lit(0.0),
          (acc, x) => acc + x.getField("hit_idx").cast("double") /
            x.getField("rank").cast("double")).as("ap_num"),
        aggregate(
          sort_array(collect_list(col("rank"))),
          lit(0.0),
          (acc, r) => acc + dcgTerm(r)).as("dcg"))
    val idcg = aggregate(
      sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
      lit(0.0), (acc, r) => acc + dcgTerm(r))
    nrel.join(perq, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("hits").cast("double") / col("n_rel").cast("double"),
          lit(0.0)).as("recall"),
        coalesce(lit(1.0) / col("first_rank").cast("double"), lit(0.0))
          .as("mrr"),
        coalesce(col("ap_num") / col("n_rel").cast("double"), lit(0.0))
          .as("ap"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        coalesce(col("dcg") / idcg, lit(0.0)).as("ndcg"))
  }

  /** Top-k documents under the Dirichlet-smoothed query-likelihood model
    * (Zhai & Lafferty 2001): score(q, d) = sum_t ln((tf + mu*cf_t/|C|) /
    * (dl + mu)) over the query terms, tf = 0 terms included via the
    * collection background. Candidates are docs matching >= 1 term (the
    * background-only tail is rank-irrelevant and pruned map-side, same
    * postings access path as BM25); each candidate is fanned out to the
    * FULL term set by a broadcast cross join so absent terms contribute
    * their smoothed background probability. Collection frequencies are a
    * |terms|-row broadcast; |C| a 1-row broadcast. Log domain throughout.
    */
  def qldTopK(docs: DataFrame, terms: Seq[String], k: Int = 10,
              mu: Double = 2000.0, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "query needs at least one term")
    require(k >= 1 && mu > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(idCol),
      TextFeatures.tokens(col(textCol)).as("toks"))
    val stats = toks.agg(sum(size(col("toks"))).cast("long").as("total"))
    val post = toks
      .select(col(idCol), size(col("toks")).as("dl"),
        explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val cf = post.groupBy(col("tok")).agg(sum(col("tf")).as("cf"))
    val cand = post.select(col(idCol), col("dl")).distinct()
    val pairs = cand.crossJoin(broadcast(terms.toDF("tok")))
    val bg = lit(mu) *
      (col("cf").cast("double") / col("total").cast("double"))
    val sc = ieeeLn(
      (coalesce(col("tf"), lit(0L)).cast("double") + bg) /
        (col("dl").cast("double") + lit(mu)))
    val scored = pairs
      .join(post.withColumnRenamed("dl", "__pdl"),
        Seq(idCol, "tok"), "left")
      .join(broadcast(cf), "tok")
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("tok"), sc.as("sc"))
      .groupBy(col(idCol))
      .agg(aggregate(
        sort_array(collect_list(struct(col("tok"), col("sc")))),
        lit(0.0), (acc, x) => acc + x.getField("sc")).as("score"))
    scored.orderBy(col("score").desc, col(idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(idCol))))
      .select(col(idCol), col("rank"), col("score"))
  }
}
