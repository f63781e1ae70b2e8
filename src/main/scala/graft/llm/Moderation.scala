package graft.llm

import graft.{Op, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-moderation primitives of the C4/Gopher cleaning stack that
  * act on PHRASES rather than token statistics: multi-phrase blocklist
  * matching (C4's badwords filter; Raffel et al. 2020 §2.2 drops any
  * page containing a listed phrase) and keyword-in-context extraction
  * (the reviewer-facing concordance view of why a document matched).
  *
  * Scale shape: both ops are map-side over the corpus — the phrase set
  * is a broadcast literal array evaluated per document (linear scan per
  * phrase; right for the dozens-to-hundreds-of-phrases regime of
  * real blocklists — a >10^4-pattern set would want an Aho-Corasick
  * automaton compiled into a native expression, the documented upgrade
  * path), and KWIC explodes token positions with the context window
  * sliced from the SAME materialized token array, no re-tokenization.
  */
object Moderation {

  /** (doc_id, pat) for every document whose normalized text contains a
    * blocklisted phrase — one row per (doc, phrase) hit so downstream
    * policy can distinguish single- from multi-phrase offenders.
    */
  def blocklistHits(docs: DataFrame, phrases: Seq[String],
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty, "blocklist must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol), TextFeatures.normalized(col(textCol)).as("t"))
      .crossJoin(broadcast(phrases.toDF("pat")))
      .filter(col("t").contains(col("pat")))
      .select(col(idCol), col("pat"))
  }

  /** Keyword-in-context: every occurrence of `term` with its ±`window`
    * token context, 1-based positions. One tokenization, positions via
    * posexplode, context sliced from the already-materialized array.
    */
  def kwic(docs: DataFrame, term: String, window: Int = 2,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 0)
    docs.select(col(idCol), TextFeatures.tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        posexplode(col("toks")).as(Seq("p0", "tok")))
      .filter(col("tok") === term)
      .select(col(idCol), (col("p0") + 1).cast("long").as("pos"),
        concat_ws(" ", slice(col("toks"),
          greatest(lit(1), col("p0") + 1 - window),
          least(size(col("toks")), col("p0") + 1 + window) -
            greatest(lit(1), col("p0") + 1 - window) + 1)).as("context"))
  }

  private val Blocklist = Seq("spark vector", "hash join", "stream batch")
  private val blSql = Blocklist.map(p => s"'$p'").mkString("[", ", ", "]")

  val ops: Seq[Op] = Seq(
    Op("text_blocklist",
       s"""WITH pats AS (SELECT unnest($blSql) AS pat),
          |norm AS (
          |  SELECT doc_id,
          |         ${TextFeatures.normSql} AS t
          |  FROM documents)
          |SELECT n.doc_id, p.pat
          |FROM norm n JOIN pats p ON contains(n.t, p.pat)""".stripMargin) {
      (s, d) => blocklistHits(Tables.documents(s, d), Blocklist)
    },

    Op("text_kwic",
       s"""WITH toks AS (
         |  SELECT doc_id,
         |         ${TextFeatures.toksSql} AS toks
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
         |  FROM toks)
         |SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |       array_to_string(
         |         toks[greatest(1, i - 2):least(len(toks), i + 2)], ' ')
         |         AS context
         |FROM pos WHERE toks[i] = 'vector'""".stripMargin) {
      (s, d) => kwic(Tables.documents(s, d), "vector", window = 2)
    }
  )
}
