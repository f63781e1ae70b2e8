package graft.operators

import graft.{Op, Tables}
import graft.llm.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage — the canonical dedup shape for
  * OPERATIONAL records (customers, suppliers) rather than documents:
  *
  *   1. BLOCKING: candidate pairs only within a cheap equality block
  *     (here nation × market segment), never the full cross product.
  *     The quadratic term is per-block; block cardinality is the knob a
  *     100 TB run tunes (add blocking keys until the largest block's
  *     pair count fits a task; skewed blocks split under AQE).
  *   2. VERIFY: an edit-distance predicate on the name inside the block
  *     join — Spark's codegen'd `levenshtein`, identical to DuckDB's, so
  *     the oracle replays candidate selection exactly.
  *   3. CLUSTER: verified pairs feed the same pointer-jumping
  *     connected-components fixpoint the document pipeline uses
  *     (Dedup.componentMinLabels) — transitive matches collapse to one
  *     entity (A~B, B~C ⇒ one cluster even when A!~C).
  *
  * Output: every source record with its canonical entity id (the minimum
  * member key — records with no fuzzy match are their own entity).
  */
object Linkage {

  /** The blocked deletion-neighborhood candidate generation + banded
    * verify shared by [[linkCustomers]] and [[goldenRecords]] (r14
    * factor-out; the pair set is exactly what linkCustomers always
    * computed). Returns the verified (id_a, id_b) match pairs.
    */
  private def matchPairs(customers: DataFrame): DataFrame = {
    // DELETION-NEIGHBORHOOD candidate generation (the FastSS / SymSpell
    // family, public since Bocek et al. 2007): every name emits itself
    // plus each delete-one-character variant; any two strings within
    // levenshtein 1 PROVABLY share a variant (substitution at i → both
    // i-deletions equal; insert/delete → the longer side's deletion IS
    // the shorter string), so an equi-join on (block, variant) yields a
    // candidate superset with EXACT recall for the lev≤1 verify — and
    // the quadratic in-block enumeration is gone. Work is Σ(|name|+1)
    // key rows and per-key groups are tiny, so cost is LINEAR in data
    // at any block-size distribution: the r10 sf1 probe measured the
    // old (nation × segment)-block join at 44× for 10× rows (Σ block²,
    // as its contract predicted) and this formulation at ~linear.
    // The blocking keys still scope candidates (nk, seg must match),
    // they just no longer own the complexity.
    val named = customers.select(col("c_custkey").as("id"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      col("c_name").as("name"))
    // within-row duplicate variants collapse map-side (array_distinct,
    // r14): fewer exploded rows into the candidate join; the pair-level
    // distinct below already made them irrelevant to the result
    val keys = named.select(col("id"), col("nk"), col("seg"), col("name"),
      explode(array_distinct(concat(array(col("name")),
        transform(sequence(lit(1), length(col("name"))),
          i => concat(col("name").substr(lit(1), i - lit(1)),
            col("name").substr(i + lit(1), length(col("name"))))))))
        .as("variant"))
    val a = keys.select(col("id").as("id_a"), col("nk"), col("seg"),
        col("name").as("name_a"), col("variant"))
      .repartition(col("nk"), col("seg"), col("variant"))
    val b = keys.select(col("id").as("id_b"), col("nk"), col("seg"),
      col("name").as("name_b"), col("variant"))
    // Banded edit distance verify: the 3-arg levenshtein computes only
    // the ±threshold diagonal (O(len·k) per pair, -1 past the bound) —
    // needed because sharing a deletion variant is necessary, not
    // sufficient, for lev ≤ 1. Same final pair set as the block-join
    // formulation (`levenshtein(x,y) <= 1` inside nk×seg), which is
    // what the DuckDB oracle replays.
    a.join(b, Seq("nk", "seg", "variant"))
      .filter(col("id_a") < col("id_b") &&
        levenshtein(col("name_a"), col("name_b"), 1) =!= -1)
      .select("id_a", "id_b").distinct()
  }

  def linkCustomers(customers: DataFrame): DataFrame = {
    val labels = Dedup.componentMinLabels(matchPairs(customers))
    customers.select(col("c_custkey").as("customer_id"))
      .join(labels.select(col("node").as("customer_id"),
        col("label")), Seq("customer_id"), "left")
      .select(col("customer_id"),
        coalesce(col("label"), col("customer_id")).as("entity_id"))
  }

  /** Survivorship — the step after linking that makes ER useful: collapse
    * each entity cluster to ONE golden record by per-column rules, the
    * classic MDM recipe (each rule is deliberately a different shape):
    *   - `name`: oldest-record-wins (`min_by` on the lowest member key);
    *   - `acctbal`: best-value-wins (max);
    *   - `mktsegment`: most-frequent-wins, ties to the lexicographically
    *     smallest (mode via a keyed count + row_number window).
    * One keyed aggregate + one bounded window over (entity, segment)
    * groups — nothing beyond the linking cost at 100 TB.
    */
  def goldenRecords(customers: DataFrame): DataFrame = {
    // Attach the (checkpointed) labels to ONE customer scan that already
    // carries every survivorship column, instead of joining customers
    // against linkCustomers' two-column output — one scan and one join
    // fewer (r14). The explicit repartition(entity_id) below `linked`
    // is the load-bearing exchange: both aggregates cluster on
    // entity_id (hash(entity_id) satisfies groupBy(entity_id) AND
    // groupBy(entity_id, seg) AND the mode window's partitionBy), so
    // the two consumers plan over ONE reused exchange with no further
    // shuffle — the old shape shuffled `linked` twice (hash(entity_id)
    // and hash(entity_id, seg)) and re-evaluated its join per consumer.
    val labels = Dedup.componentMinLabels(matchPairs(customers))
    val linked = customers.select(col("c_custkey").as("customer_id"),
        col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .join(labels.select(col("node").as("customer_id"),
        col("label")), Seq("customer_id"), "left")
      .select(col("customer_id"),
        coalesce(col("label"), col("customer_id")).as("entity_id"),
        col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(col("entity_id"))
    val base = linked.groupBy(col("entity_id")).agg(
      count(lit(1)).as("n_records"),
      min_by(col("c_name"), col("customer_id")).as("name"),
      max(col("c_acctbal")).as("acctbal"))
    val segMode = linked
      .groupBy(col("entity_id"), col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("entity_id"))
          .orderBy(col("cnt").desc, col("c_mktsegment"))))
      .filter(col("rn") === 1)
      .select(col("entity_id"), col("c_mktsegment").as("mktsegment"))
    base.join(segMode, Seq("entity_id"))
  }

  // Fellegi–Sunter model parameters: m = P(agree | match), u = P(agree |
  // non-match) per comparison field — in production these come from EM
  // (the Splink recipe); here they are pinned literals so the scorer
  // itself is verifiable. The log-odds weights are computed ONCE here and
  // embedded as double literals in BOTH the Spark plan and the oracle SQL
  // (Double.toString round-trips, so the engines parse the same IEEE
  // value) — no runtime transcendentals, every score is a fixed-order sum
  // of three literal doubles, hence hash-exact.
  private val fsParams = Seq(
    ("name", 0.95, 0.001), // banded levenshtein <= 1
    ("bal", 0.7, 0.02),    // |acctbal diff| <= 100
    ("sign", 0.9, 0.5))    // same acctbal sign
  private val fsW: Map[String, (Double, Double)] = fsParams.map {
    case (f, m, u) => f -> (math.log(m / u), math.log((1 - m) / (1 - u)))
  }.toMap
  private val fsThreshold = 1.0

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter 1969;
    * the model behind Splink/RecordLinkage): per candidate pair, each
    * comparison field contributes its agreement or disagreement log-odds
    * weight; the summed match weight ranks pair quality and thresholds at
    * log prior odds. Complements [[linkCustomers]]'s boolean verify with
    * GRADED evidence — a pair can miss on name and still surface on
    * strong agreement elsewhere.
    *
    * Same blocking scale shape as linkCustomers: candidate enumeration
    * is per-(nation, segment) block, the quadratic term never leaves a
    * block, and scoring is a map-side fixed-order sum of literals over
    * the pair stream — no extra shuffle beyond the block join.
    */
  def fellegiSunterPairs(customers: DataFrame): DataFrame = {
    val a = customers.select(col("c_custkey").as("id_a"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      col("c_name").as("name_a"), col("c_acctbal").as("bal_a"))
      .repartition(col("nk"), col("seg"))
    val b = customers.select(col("c_custkey").as("id_b"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      col("c_name").as("name_b"), col("c_acctbal").as("bal_b"))
    val gName = levenshtein(col("name_a"), col("name_b"), 1) =!= -1
    val gBal = abs(col("bal_a") - col("bal_b")) <= 100.0
    val gSign = (col("bal_a") >= 0.0) === (col("bal_b") >= 0.0)
    def w(field: String, agree: org.apache.spark.sql.Column) =
      when(agree, lit(fsW(field)._1)).otherwise(lit(fsW(field)._2))
    a.join(b, Seq("nk", "seg"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        gName.cast("int").as("gamma_name"),
        gBal.cast("int").as("gamma_bal"),
        gSign.cast("int").as("gamma_sign"),
        (w("name", gName) + w("bal", gBal) + w("sign", gSign)).as("score"))
      .filter(col("score") >= fsThreshold)
  }

  private val fsOracle: String = {
    def c(field: String) = {
      val (wa, wd) = fsW(field)
      val cond = field match {
        case "name" => "levenshtein(a.c_name, b.c_name) <= 1"
        case "bal"  => "abs(a.c_acctbal - b.c_acctbal) <= 100.0"
        case "sign" => "(a.c_acctbal >= 0.0) = (b.c_acctbal >= 0.0)"
      }
      // STRING-cast, not a bare numeric literal: DuckDB types a decimal
      // literal as DECIMAL and reaches DOUBLE via a lossy decimal hop
      // (verified 2 ulp off on these weights); CAST('…' AS DOUBLE)
      // parses straight to the same IEEE value Double.toString encoded.
      (cond, s"CASE WHEN $cond THEN CAST('$wa' AS DOUBLE) " +
        s"ELSE CAST('$wd' AS DOUBLE) END")
    }
    val (nc, nw) = c("name"); val (bc, bw) = c("bal"); val (sc, sw) = c("sign")
    s"""SELECT * FROM (
       |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       |         CAST($nc AS INT) AS gamma_name,
       |         CAST($bc AS INT) AS gamma_bal,
       |         CAST($sc AS INT) AS gamma_sign,
       |         $nw + $bw + $sw AS score
       |  FROM customer a JOIN customer b
       |    ON a.c_nationkey = b.c_nationkey
       |   AND a.c_mktsegment = b.c_mktsegment
       |   AND a.c_custkey < b.c_custkey)
       |WHERE score >= $fsThreshold""".stripMargin
  }

  /** DuckDB candidate CTE for the edit-distance-1 truth sets: the same
    * deletion-neighborhood theorem [[editJoinBySignature]] cites (FastSS,
    * Bocek et al. 2007 — dist(s,t) <= 1 implies a shared deletion
    * variant), written independently in DuckDB's list dialect. LOSSLESS
    * by the theorem, so restricting the levenshtein verify to `cand`
    * changes nothing — and keeps the replay sf1-tractable (r11: the
    * unrestricted customer x customer form, 11G pairs at 150k rows,
    * timed DuckDB out). The all-pairs form remains proven at sf <= 0.01
    * by the committed r10 records and the fuzz sweep's generated names.
    */
  private val sigCandCtes: String =
    """sigs AS (
      |  SELECT c_custkey AS id, c_name AS name,
      |         unnest(list_distinct(list_transform(
      |           range(0, len(c_name) + 1),
      |           i -> substr(c_name, 1, i) || substr(c_name, i + 2))))
      |           AS sig
      |  FROM customer),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
      |         a.name AS na, b.name AS nb
      |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.id < b.id)""".stripMargin

  /** Shared DuckDB replay of the blocking + verify + component walk,
    * through `labels(node, label)` — both linkage oracles build on it.
    */
  private val linkCte: String =
    s"""WITH RECURSIVE $sigCandCtes,
      |pairs AS (
      |  SELECT c.id_a, c.id_b
      |  FROM cand c
      |  JOIN customer a ON a.c_custkey = c.id_a
      |  JOIN customer b ON b.c_custkey = c.id_b
      |  WHERE a.c_nationkey = b.c_nationkey
      |    AND a.c_mktsegment = b.c_mktsegment
      |    AND levenshtein(c.na, c.nb) <= 1),
      |${Dedup.componentLabelsCtes}""".stripMargin

  private val linkOracle: String =
    s"""$linkCte
      |SELECT c.c_custkey AS customer_id,
      |       coalesce(l.label, c.c_custkey) AS entity_id
      |FROM customer c LEFT JOIN labels l ON l.node = c.c_custkey""".stripMargin

  private val goldenOracle: String =
    s"""$linkCte,
      |linked AS (
      |  SELECT c.c_custkey AS customer_id,
      |         coalesce(l.label, c.c_custkey) AS entity_id,
      |         c.c_name, c.c_acctbal, c.c_mktsegment
      |  FROM customer c LEFT JOIN labels l ON l.node = c.c_custkey),
      |base AS (
      |  SELECT entity_id, count(*) AS n_records,
      |         min_by(c_name, customer_id) AS name,
      |         max(c_acctbal) AS acctbal
      |  FROM linked GROUP BY 1),
      |segmode AS (
      |  SELECT entity_id, mktsegment FROM (
      |    SELECT entity_id, mktsegment,
      |           row_number() OVER (PARTITION BY entity_id
      |             ORDER BY cnt DESC, mktsegment) AS rn
      |    FROM (SELECT entity_id, c_mktsegment AS mktsegment,
      |                 count(*) AS cnt
      |          FROM linked GROUP BY 1, 2))
      |  WHERE rn = 1)
      |SELECT b.entity_id, b.n_records, b.name, b.acctbal, s.mktsegment
      |FROM base b JOIN segmode s USING (entity_id)""".stripMargin

  /** Blocking-FREE edit-distance self-join via deletion-neighborhood
    * signatures (the FastSS / SymSpell candidate scheme; Bocek et al.
    * 2007 "Fast similarity search in large dictionaries"): for
    * threshold 1, dist(s,t) <= 1 implies D(s) ∩ D(t) ≠ ∅ where
    * D(x) = {x} ∪ {x with one character deleted} — so candidates come
    * from an EQUI-join on exploded signatures, and the banded
    * levenshtein verify removes the distance-2 false positives the
    * triangle inequality allows.
    *
    * This is the complement of [[linkCustomers]]'s blocked join: when no
    * clean blocking key exists (free-text names, IDs with typos), the
    * per-block quadratic term is unavailable, but signatures keep the
    * pipeline at O(n·L) generated rows plus a hash join on the
    * signature — no cross product at any scale, and signature group
    * sizes are bounded by how many strings share a deletion variant
    * (skewed groups split under AQE like any hot hash key). At 100 TB
    * the explode factor L+1 (~19 here) is the knob: it trades shuffle
    * volume for zero blocking assumptions.
    */
  def editJoinBySignature(customers: DataFrame): DataFrame = {
    val c = customers.select(col("c_custkey").as("id"),
      col("c_name").as("name"))
    // i = 0..len-1 deletes character i+1; i = len is the identity
    // variant, so s itself participates (catches exact dups and the
    // insert/delete direction). Within-row duplicate variants collapse
    // MAP-SIDE via array_distinct before the explode (r14) — the old
    // `.distinct()` on (id, name, sig) shuffled the whole exploded
    // relation, names included, just to do the same per-row dedup
    // ((id, name) is unique, so cross-row collisions cannot exist).
    val sigs = c.select(col("id"), col("name"),
      explode(array_distinct(expr(
        "transform(sequence(0, length(name))," +
          " i -> concat(substring(name, 1, i), substring(name, i + 2)))")))
        .as("sig"))
    // explicit repartition on the probe side, keyed by the join key
    // (the linkCustomers pattern): the old `.distinct()`'s exchange was
    // incidentally providing ALL of the downstream join's parallelism —
    // without some exchange the scan's file-split count (ONE small
    // file at test scale) caps the join+verify pipeline at one task.
    val a = sigs.select(col("id").as("id_a"), col("name").as("name_a"),
      col("sig"))
      .repartition(col("sig"))
    val b = sigs.select(col("id").as("id_b"), col("name").as("name_b"),
      col("sig"))
    // ONE banded levenshtein per distinct pair: its return value IS the
    // true distance whenever <= the bound, so the old second, unbanded
    // evaluation is gone.
    a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        levenshtein(col("name_a"), col("name_b"), 1).as("dist"))
      .filter(col("dist") =!= -1)
  }

  val ops: Seq[Op] = Seq(
    Op("er_edit_join_sig",
      s"""WITH $sigCandCtes
        |SELECT id_a, id_b,
        |       CAST(levenshtein(na, nb) AS INT) AS dist
        |FROM cand WHERE levenshtein(na, nb) <= 1""".stripMargin) {
      (s, d) => editJoinBySignature(Tables.customer(s, d))
    },
    // Blocking-quality evaluation (Christen 2012's two standard
    // metrics): PAIRS COMPLETENESS — what fraction of the true
    // edit-distance-1 matches land inside the nation x segment blocks
    // linkCustomers trusts — and REDUCTION RATIO — what fraction of the
    // n^2/2 comparison space the blocking discards. The truth set comes
    // from the blocking-free signature join, so the evaluation never
    // assumes what it is measuring. This is the census an ER pipeline
    // runs before committing to a blocking key at 100 TB: completeness
    // says what recall the key costs, reduction says what compute it
    // buys; both counts are keyed aggregates (the candidate-pair count
    // is per-block n*(n-1)/2 summed, never materialized pairs).
    Op("er_blocking_quality",
       s"""WITH $sigCandCtes,
         |truth AS (
         |  SELECT c.id_a, c.id_b,
         |         CAST(a.c_nationkey = b.c_nationkey
         |              AND a.c_mktsegment = b.c_mktsegment AS INT) AS blocked
         |  FROM cand c
         |  JOIN customer a ON a.c_custkey = c.id_a
         |  JOIN customer b ON b.c_custkey = c.id_b
         |  WHERE levenshtein(c.na, c.nb) <= 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
         |             CAST(sum(blocked) AS BIGINT) AS n_caught FROM truth),
         |bl AS (
         |  SELECT CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS n_blocked
         |  FROM (SELECT count(*) AS cnt FROM customer
         |        GROUP BY c_nationkey, c_mktsegment)),
         |nn AS (
         |  SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT)
         |           AS n_possible
         |  FROM customer)
         |SELECT t.n_true, t.n_caught, bl.n_blocked, nn.n_possible,
         |       CAST(t.n_caught AS DOUBLE) / CAST(t.n_true AS DOUBLE)
         |         AS completeness,
         |       1.0 - CAST(bl.n_blocked AS DOUBLE)
         |             / CAST(nn.n_possible AS DOUBLE) AS reduction
         |FROM t, bl, nn""".stripMargin) { (s, d) =>
      val customers = Tables.customer(s, d)
      val attrs = customers.select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"))
      val truth = editJoinBySignature(customers)
        .join(attrs.select(col("c_custkey").as("id_a"),
          col("c_nationkey").as("nk_a"), col("c_mktsegment").as("seg_a")),
          Seq("id_a"))
        .join(attrs.select(col("c_custkey").as("id_b"),
          col("c_nationkey").as("nk_b"), col("c_mktsegment").as("seg_b")),
          Seq("id_b"))
      val t = truth.agg(count(lit(1)).as("n_true"),
        sum((col("nk_a") === col("nk_b") &&
          col("seg_a") === col("seg_b")).cast("long")).as("n_caught"))
      val bl = customers.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
        .agg(sum(expr("cnt * (cnt - 1) div 2")).as("n_blocked"))
      val nn = customers.agg(
        expr("CAST(count(1) * (count(1) - 1) div 2 AS BIGINT)")
          .as("n_possible"))
      t.crossJoin(broadcast(bl)).crossJoin(broadcast(nn))
        .select(col("n_true"), col("n_caught"), col("n_blocked"),
          col("n_possible"),
          (col("n_caught").cast("double") / col("n_true").cast("double"))
            .as("completeness"),
          (lit(1.0) - col("n_blocked").cast("double") /
            col("n_possible").cast("double")).as("reduction"))
    },

    Op("er_link_entities", linkOracle) { (s, d) =>
      linkCustomers(Tables.customer(s, d))
    },
    Op("er_golden_record", goldenOracle) { (s, d) =>
      goldenRecords(Tables.customer(s, d))
    },
    Op("er_fellegi_sunter", fsOracle) { (s, d) =>
      fellegiSunterPairs(Tables.customer(s, d))
    })
}
