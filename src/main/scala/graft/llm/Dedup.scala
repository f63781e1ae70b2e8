package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, each designed
  * around its shuffle shape at 100 TB:
  *
  *   - exact: one hash-aggregate on the content fingerprint (min-id wins) —
  *     a single keyed shuffle, the cheapest possible dedup.
  *   - MinHash-LSH: shingle -> k minhashes -> b bands; candidate pairs come
  *     from an equi-join on (band, band-signature) — NEVER an all-pairs
  *     cross join. Expected cost is sum of bucket sizes squared, which LSH
  *     theory keeps near-linear for sensible (b, r).
  *   - SimHash: one 64-bit signature per doc; near-dup candidates share one
  *     of four 16-bit chunks (pigeonhole: hamming distance <= 3 implies an
  *     identical chunk), again an equi-join.
  *
  * Candidates are then verified with the exact n-gram Jaccard (MinHash) or
  * hamming distance (SimHash) — the two-phase candidate/verify pattern every
  * large-scale dedup paper uses. Everything is pure SQL expressions: no
  * UDFs, no driver-side state, fully whole-stage-codegen'd.
  */
object Dedup {

  /** Exact dedup: keep the smallest doc_id per normalized-content
    * fingerprint. A single partial+final hash aggregate — at 100 TB this is
    * one shuffle keyed by a 128-bit hash, no skew (hashes are uniform).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(TextFeatures.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("fp"), col("n_copies"))

  /** Distinct token n-gram shingles (first-occurrence order), with the
    * whole-doc fallback for documents shorter than n tokens. Computed by
    * the NATIVE token_shingles kernel
    * (functions/MinhashExpressions.scala): tokens joined into one byte
    * buffer, each window an O(1) offset-range view, distinct collapsed in
    * a local hash set — map-only, no interpreter. The composed
    * array_distinct(transform(sequence(...), i => concat_ws(" ",
    * element_at(toks, i+1) ... element_at(toks, i+n)))) formulation this
    * replaces ran n interpreted element_at calls per window (the measured
    * text_top_bigrams anti-pattern) and sat under EVERY shingle consumer —
    * both LSH join sides, both Jaccard verify sides. Shingle strings are
    * byte-identical (parity asserted in DedupSpec), so every DuckDB
    * oracle replay is untouched.
    */
  def shinglesOfTokens(toks: Column, n: Int = 3): Column =
    graft.functions.GraftFunctions.tokenShingles(toks, n)

  /** (id, sh): distinct shingle array per doc. One projection: the
    * token_shingles kernel references its input exactly once, so the
    * tokenization expression can be inlined (the old lambda formulation
    * needed the token array in its own projection — a HOF lambda
    * re-evaluates its argument per element).
    */
  def withShingles(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame =
    docs.select(col(idCol),
      shinglesOfTokens(TextFeatures.tokens(col(textCol)), n).as("sh"))

  /** (id, sig): k minhashes per doc, computed in one pass over the
    * shingle array by a NATIVE kernel (functions/MinhashExpressions.scala)
    * as a single map-only projection — no explode, no shuffle.
    *   - fast (`portable = false`, minhash_xx): each shingle is XXH64'd
    *     once and the k hashes are splitmix64 remixes of that base, an
    *     array<bigint> (splitmix's modular arithmetic is unexpressible in
    *     SQL under ANSI overflow checking).
    *   - portable (minhash_md5): hash h of a shingle is the 4-hex-char
    *     slice h%8 of md5("(h/8):shingle") and the entry is the
    *     lexicographic min over shingles (fixed-width hex, so string
    *     order == numeric order). Both engines md5 identical UTF-8 bytes
    *     and compare ASCII hex identically, so the whole near-dup
    *     pipeline — candidates included — replays in the DuckDB oracle
    *     byte-for-byte.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 64, portable: Boolean = false): DataFrame = {
    val sig =
      if (portable) graft.functions.GraftFunctions.minhashMd5(col("sh"), k)
      else graft.functions.GraftFunctions.minhashXx(col("sh"), k)
    withShingles(docs, idCol, textCol).select(col(idCol), sig.as("sig"))
  }

  /** (doc_id, band, band_sig) — one row per band of the signature array.
    * b bands of r rows, k = b * r; `sig` is a physical column here, so the
    * band hashes are cheap slices. `portable = true` uses the md5 signature
    * mode (band_sig = md5 of the joined band slice) so the DuckDB oracle
    * can reproduce the buckets.
    */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
               bands: Int, rows: Int,
               portable: Boolean = false): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, bands * rows, portable)
    def bandSig(b: Column): Column = {
      val bandSlice = slice(col("sig"), b * rows + 1, lit(rows))
      if (portable) md5(concat_ws("|", bandSlice)) else xxhash64(bandSlice)
    }
    sigs.select(
      col(idCol),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)), b => bandSig(b)))
        .as(Seq("band", "band_sig")))
  }

  /** Candidate pairs from LSH banding, verified with exact shingle Jaccard.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * Plan shape: an equi-join of the banded signatures on (band, band_sig)
    * produces candidates. The signature subtree is evaluated once per join
    * side (Spark does not reuse a self-joined aggregate's exchange), but
    * that cost is pure map-side CPU — embarrassingly parallel, no extra
    * shuffle. The bucket-collect alternative (collect_list per bucket +
    * in-expression pair generation) computes signatures once but
    * materializes m^2 pair structs of an m-member bucket inside single
    * rows — a straggler/OOM on corpora with large duplicate clusters
    * (measured 1.7x slower at sf0.1, unboundedly worse as buckets grow);
    * the join distributes exactly the same pair count across tasks, which
    * is why every candidate generator in this engine uses the join form.
    * Duplicate candidates from multiple matching bands are collapsed by the
    * distinct before verification.
    */
  def minHashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      bands: Int = 16, rows: Int = 4,
                      threshold: Double = 0.8,
                      portable: Boolean = false): DataFrame = {
    // ONE explicit exchange on the join key, shared by both self-join
    // sides (r14): with the repartition BELOW the per-side renames, the
    // two sides are the same Exchange subtree, so the planner reuses
    // one shuffle (ReusedExchange) and the signature scan — the md5
    // pipeline in portable mode — runs ONCE, not once per side. The
    // rename-above-planner-inserted-exchange shape this replaces
    // canonicalized differently per side and was never reused.
    val b = lshBands(docs, idCol, textCol, bands, rows, portable)
      .repartition(col("band"), col("band_sig"))
    val candidates = b.toDF("id_a", "band", "band_sig")
      .join(b.toDF("id_b", "band", "band_sig"), Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val withSh = withShingles(docs, idCol, textCol)
    candidates
      .join(withSh.toDF("id_a", "sh_a"), "id_a")
      .join(withSh.toDF("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The persistent MinHash band index of a corpus — (idCol, band,
    * band_sig), one row per (doc, band). THIS is the state an incremental
    * corpus pipeline stores (parquet/table, partitioned or bucketed by
    * (band, band_sig)): ~bands rows of a few dozen bytes per document,
    * instead of re-deriving signatures for the full corpus on every
    * ingest. Alias of [[lshBands]] under the name that says what it is.
    */
  def bandIndex(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text",
                bands: Int = 16, rows: Int = 4,
                portable: Boolean = false): DataFrame =
    lshBands(docs, idCol, textCol, bands, rows, portable)

  /** Incremental near-dup detection: flag each document of a NEW batch
    * whose Jaccard against any ALREADY-INDEXED corpus document reaches
    * `threshold`. Returns (new_id, corpus_id, jaccard).
    *
    * This is the shape a growing corpus actually runs at 100 TB: the daily
    * ingest (small) is banded and equi-joined against the STORED band
    * index — never against the corpus text — and the exact-Jaccard verify
    * re-reads only the corpus documents that produced a candidate (a
    * semi-join prune BEFORE shingling, so corpus shingle CPU is
    * proportional to candidates, not corpus size). Cost per ingest:
    * O(batch) signature work + one index equi-join + verify on the touched
    * fraction. Re-running [[minHashNearDups]] over corpus+batch would pay
    * the full-corpus signature scan every day.
    *
    * `bands`/`rows`/`portable` must match what built `corpusIndex` — band
    * signatures are only comparable within one (k, hash-family) config.
    */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
                          corpusIndex: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          bands: Int = 16, rows: Int = 4,
                          threshold: Double = 0.8,
                          portable: Boolean = false): DataFrame = {
    val nb = lshBands(newDocs, idCol, textCol, bands, rows, portable)
      .toDF("new_id", "band", "band_sig")
    val candidates = nb
      .join(corpusIndex.toDF("corpus_id", "band", "band_sig"),
        Seq("band", "band_sig"))
      .select("new_id", "corpus_id").distinct()
    // shingle ONLY the corpus docs that produced a candidate: the semi-join
    // must run before the shingle projection, or every corpus row pays the
    // shingle CPU just to be dropped by the verify join
    val touched = corpus.join(
      candidates.select(col("corpus_id").as(idCol)),
      Seq(idCol), "left_semi")
    candidates
      .join(withShingles(newDocs, idCol, textCol).toDF("new_id", "sh_a"),
        "new_id")
      .join(withShingles(touched, idCol, textCol).toDF("corpus_id", "sh_b"),
        "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT n-gram Jaccard similarity join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al., WWW'08).
    * Returns every pair (id_a < id_b) whose shingle-set Jaccard >=
    * threshold, with recall 1.0 at the threshold — the deterministic
    * counterpart of the probabilistic MinHash/SimHash candidate
    * generators, for pipelines that need a guarantee rather than an
    * expectation. Complements minHashNearDups: same verify stage, a
    * different (exact, slightly costlier) candidate stage.
    *
    * Plan shape at 100 TB: prefix filtering is what makes an exact
    * similarity join subquadratic. Under a global "rare-first" total
    * order (document frequency asc, shingle asc), any two sets with
    * J >= t share at least one shingle among their first
    * |S| - ceil(t*|S|) + 1 shingles, so ONLY those prefix shingles enter
    * the self-equi-join — and because the order puts RARE shingles
    * (df ~ 1) in the prefix, join bucket sizes stay tiny exactly where a
    * naive inverted index (join on ALL shingles) explodes on stopword
    * n-grams. Cost: one keyed shuffle for the global df, one per-doc
    * window to rank shingles (partitioned by doc id — no skew), the
    * prefix self-join, then the same exact-Jaccard verify join as
    * MinHash. Size filtering (t*max(|A|,|B|) <= min(|A|,|B|), implied by
    * J >= t) prunes candidates before the verify join.
    *
    * Float-safety: the prefix length and size filters use an epsilon
    * slack so binary rounding of `threshold` can only LENGTHEN a prefix
    * or ADMIT a borderline candidate — never drop a valid pair; the
    * final `jaccard >= threshold` filter is what decides membership.
    */
  def jaccardNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 3,
                      threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = withShingles(docs, idCol, textCol, n)
    val tok = sh.select(col(idCol), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val dfreq = tok.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = tok.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("df"), col("s"))))
      .filter(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col(idCol), col("sz"), col("s"))
    val candidates = prefix.toDF("id_a", "sz_a", "s")
      .join(prefix.toDF("id_b", "sz_b", "s"), "s")
      .filter(col("id_a") < col("id_b") &&
        col("sz_b") * threshold <= col("sz_a") + lit(1e-9) &&
        col("sz_a") * threshold <= col("sz_b") + lit(1e-9))
      .select("id_a", "id_b").distinct()
    candidates
      .join(sh.toDF("id_a", "sh_a"), "id_a")
      .join(sh.toDF("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT directional containment join: every ordered pair (a, b),
    * a != b, with |Sa ∩ Sb| / |Sa| >= threshold — "a's shingles are
    * mostly inside b". The asymmetric relation Jaccard is blind to: a
    * paragraph quoted whole inside a long article has containment ~1.0
    * and Jaccard ~|Sa|/|Sb| ~ 0, so a Jaccard join at any useful
    * threshold misses it. This is the set-level counterpart of
    * substringDups (which finds the shared PASSAGE; this ranks how much
    * of a DOCUMENT is derivative).
    *
    * Prefix filter, containment form: under the same rare-first order as
    * jaccardNearDups, overlap >= ceil(t·|Sa|) forces a shared element
    * among a's first |Sa| − ceil(t·|Sa|) + 1 shingles (pigeonhole — if
    * the whole prefix misses b, at most ceil(t·|Sa|) − 1 of a's shingles
    * remain to overlap). Only the PROBE side is prefix-pruned; the index
    * side must carry its full inverted list (the larger set's required
    * overlap depends on its partner's size, so no self-sufficient prefix
    * exists for it — the structural asymmetry of containment search, cf.
    * LSH Ensemble, Zhu et al. VLDB'16). The join only touches index
    * postings for PROBE-PREFIX shingles, which the rare-first order
    * keeps low-df, so bucket fanout stays bounded where stopword
    * n-grams would explode. Size filter |Sb| >= t·|Sa| prunes before
    * the verify join; epsilon slack keeps float rounding admit-only.
    */
  def containmentDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 3,
                      threshold: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = withShingles(docs, idCol, textCol, n)
    val tok = sh.select(col(idCol), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val dfreq = tok.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = tok.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("df"), col("s"))))
      .filter(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col(idCol).as("id_a"), col("sz").as("sz_a"), col("s"))
    val index = tok.select(col(idCol).as("id_b"), col("sz").as("sz_b"),
      col("s"))
    val candidates = prefix.join(index, "s")
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") >= col("sz_a") * threshold - lit(1e-9))
      .select("id_a", "id_b").distinct()
    candidates
      .join(sh.toDF("id_a", "sh_a"), "id_a")
      .join(sh.toDF("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** DuckDB CTE `walk(node, reach)` inside WITH RECURSIVE: every node
    * reachable from `node` over an `edges(src, dst)` CTE.
    */
  val walkCte: String =
    """walk(node, reach) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach)"""
      .stripMargin

  /** [[walkCte]] over `edges`, each pair of a `pairs(id_a, id_b)` CTE
    * both ways.
    */
  val componentWalkCtes: String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |$walkCte""".stripMargin

  /** The oracle twin of [[componentMinLabels]]: [[componentWalkCtes]]
    * then `labels(node, label)`, the least id `node` reaches or itself —
    * the fixpoint's label by definition.
    */
  val componentLabelsCtes: String =
    s"""$componentWalkCtes,
       |labels AS (
       |  SELECT node, least(node, min(reach)) AS label
       |  FROM walk GROUP BY node)""".stripMargin

  /** Component-minimum label for every node of the verified near-dup pair
    * graph: (node, label) where label is the smallest id reachable from
    * `node` over pair edges — the canonical one-survivor-per-cluster rule
    * every large-scale dedup pipeline uses (the survivor is the node whose
    * label == itself).
    *
    * Implementation is iterated min-label propagation WITH pointer jumping
    * (label := label of one's label), so convergence is O(log diameter)
    * keyed join/agg rounds, not O(diameter) — a duplicate chain of length
    * 1000 converges in ~10 rounds. All state lives in DataFrames keyed by
    * node id; every round is ONE Ckpt.cut (the label table is
    * O(nodes-in-dup-graph), far smaller than the corpus), and each round
    * RELEASES the previous round's cut once the new one has materialized
    * (cuts are eager), so peak block-manager footprint is two label
    * tables + edges, not rounds×. The only driver-side work is the
    * per-round convergence test, which rides that cut's Observation.
    * Durability follows Ckpt.cut: with a session checkpoint directory
    * every round is executor-loss-safe.
    */
  def componentMinLabels(pairs: DataFrame, idA: String = "id_a",
                         idB: String = "id_b",
                         maxRounds: Int = 50): DataFrame = {
    // Both edge directions from ONE evaluation of `pairs`: the union-of-
    // two-selects formulation scanned the pair subtree twice, and `pairs`
    // is typically the run's most expensive fragment (a banding join, a
    // levenshtein block join) — doubling it cost more than the whole
    // fixpoint on real inputs.
    // ONE exchange, not two (r13): repartition on src FIRST, then dedup —
    // hash(src) clusters every (src, dst) group into one partition, so the
    // dedup aggregate's ClusteredDistribution(src, dst) is already
    // satisfied and plans WITHOUT its own exchange, while the result stays
    // hash(src)-partitioned for every fixpoint round's join. The old
    // distinct()-then-repartition shape shuffled the full edge relation
    // twice (hash(src,dst), then hash(src)).
    val edges = graft.Ckpt.cut(pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src")) // rounds join on src: no re-shuffle
      .dropDuplicates(Seq("src", "dst")))
    var labels = graft.Ckpt.cut(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("node"),
        least(col("src"), col("m")).as("label")))
    var labelsCk = labels // the checkpointed DF whose blocks back `labels`
    var round = 0
    var converged = false
    // one propagation round: min neighbor label, then one pointer jump.
    // Returns (node, olabel, label) — olabel is THIS round's starting
    // label, so "did the round move" is measurable on the output alone
    // (no re-join against the input).
    def step(cur: DataFrame): DataFrame = {
      val prop = edges
        .join(cur.hint("shuffle_hash"), edges("src") === cur("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
      val pushed = cur.join(prop, col("node") === col("dst"), "left")
        .select(col("node"), col("label").as("olabel"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
      // pointer jumping: follow one's label's label (halves chain depth)
      val hop = pushed.select(col("node").as("lnode"),
        col("label").as("llabel"))
      pushed.join(hop, col("label") === col("lnode"), "left")
        .select(col("node"), col("olabel"),
          least(col("label"), coalesce(col("llabel"), col("label")))
            .as("label"))
    }
    while (!converged && round < maxRounds) {
      // Convergence rides the cut's action via observe() (CollectMetrics
      // completes with the checkpoint job): ONE action per round, zero
      // extra convergence jobs. Labels decrease monotonically, so "this
      // round moved nothing" iff the fixpoint is reached.
      val obs = org.apache.spark.sql.Observation(s"cc_moved_r$round")
      val next = graft.Ckpt.cut(step(labels).observe(obs,
        count(when(col("label") < col("olabel"), 1)).as("moved")))
      converged = obs.get("moved").asInstanceOf[Long] == 0L
      graft.Ckpt.release(labelsCk) // next is materialized; free the old round
      labelsCk = next
      labels = next.select("node", "label")
      round += 1
    }
    graft.Ckpt.release(edges)
    labels
  }

  /** End-to-end corpus cleaning — the composition a training-data run
    * actually executes: quality floor -> exact dedup (min doc_id survives
    * its content-fingerprint group) -> near-dup removal via CONNECTED
    * COMPONENTS over the verified pair graph (one canonical survivor — the
    * minimum id — per duplicate cluster; the per-pair greedy rule keeps
    * spurious extra survivors whenever a cluster member's only edges point
    * to larger ids). Plan: one map-side quality filter, one keyed
    * aggregate, one banding join, then O(log diameter) label-propagation
    * rounds over the (small) dup graph — nothing quadratic, nothing
    * driver-side beyond the per-round convergence check.
    *
    * `portable = false` (the default) uses the xxhash64 signature fast
    * path; pass `portable = true` only when the run must replay in an
    * md5-only engine (the DuckDB oracle harness) — it is ~3-6x the
    * signature CPU for the same survivor semantics. `passthrough` names
    * the non-id columns carried to the output.
    */
  def cleanCorpus(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  minQuality: Double = 0.5,
                  bands: Int = 8, rows: Int = 4,
                  threshold: Double = 0.8,
                  portable: Boolean = false,
                  passthrough: Seq[String] = Seq("source")): DataFrame = {
    val quality = docs.filter(
      TextFeatures.qualityScore(col(textCol)) >= minQuality)
    val exactSurvivors = quality
      .groupBy(TextFeatures.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    // base feeds both LSH sides, both verify joins, and the final
    // anti-join (~6 evaluations of the quality-regex + fingerprint
    // subtree); the operator already materializes eagerly for the
    // component fixpoint, so it is persisted for the run — and
    // unpersisted before returning: the (small — ids, passthrough,
    // lengths; no text) result is cut (Ckpt.cut) so the returned
    // DataFrame neither re-reads the freed cache nor replays the
    // pipeline, and no session-lifetime cache entry leaks per call.
    val base = quality.join(exactSurvivors, Seq(idCol), "left_semi")
      .persist()
    try {
      val pairs = minHashNearDups(base, idCol, textCol, bands, rows,
        threshold, portable)
      val labels = componentMinLabels(pairs)
      val nearDupLosers = labels
        .filter(col("label") < col("node"))
        .select(col("node").as(idCol))
      val out = base.join(nearDupLosers, Seq(idCol), "left_anti")
        .select(col(idCol) +: passthrough.map(col) :+
          length(col(textCol)).cast("long").as("n_chars"): _*)
        .transform(graft.Ckpt.cut(_))
      graft.Ckpt.release(labels) // out is materialized; labels' blocks are dead
      out
    } finally base.unpersist()
  }

  /** Position-carrying length-n token windows: one row per DISTINCT
    * window string per document, `pos` = the 0-based token offset of the
    * window's FIRST occurrence. Documents shorter than n tokens emit no
    * rows (no length-n window exists — deliberately unlike withShingles'
    * whole-doc fallback, which exists for Jaccard's benefit).
    *
    * Computed by the NATIVE windows_with_pos kernel
    * (functions/MinhashExpressions.scala): one joined byte buffer per
    * document, each window an O(1) offset-range view, first occurrences
    * collapsed in a LOCAL hash map — so this is a MAP-ONLY projection +
    * explode. The previous composed formulation paid n interpreted
    * element_at calls per window inside a transform-over-sequence lambda
    * (the measured text_top_bigrams anti-pattern; 10.6s at sf0.1) AND a
    * posexplode + groupBy(id, w)/min(pos) shuffle for the
    * distinct-collapse; at 100 TB that shuffle moved ~n x the corpus
    * bytes. Window strings are byte-identical to the old
    * concat_ws(" ", ...) form, so the DuckDB oracle replay is unchanged
    * (parity asserted in DedupSpec).
    */
  def windowsWithPos(docs: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    docs.select(col(idCol), TextFeatures.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        explode(graft.functions.GraftFunctions.windowsWithPos(col("toks"), n))
          .as("wp"))
      .select(col(idCol), col("wp.w").as("w"), col("wp.pos").as("pos"))

  /** Substring/passage-level exact dedup — the third standard
    * training-data dedup next to document-level fingerprinting and
    * near-dup hashing (cf. the suffix-array pipeline of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): flag
    * document pairs sharing ANY contiguous run of n tokens. Returns
    * (id_a, id_b, n_shared, a_pos, b_pos) with id_a < id_b: the count of
    * distinct shared length-n windows and the earliest shared-window
    * offset in each doc. A single shared passage of L >= n tokens yields
    * n_shared = L - n + 1, so n_shared + n - 1 estimates the passage
    * length; callers scrub by cutting the flagged spans or dropping the
    * higher-id doc.
    *
    * Plan shape at 100 TB: window generation is map-side; one keyed
    * aggregate computes per-window doc frequency, and ONLY windows with
    * 2 <= df <= maxDocFreq enter the corpus-vs-itself equi-join — the
    * df >= 2 floor discards the (overwhelmingly dominant) unique windows
    * before any shuffle-heavy work, and the df cap is the hot-shingle
    * guard: a boilerplate window appearing in df docs would emit
    * df*(df-1)/2 pairs, so license headers/navigation chrome would
    * otherwise explode the join quadratically. Capped windows are
    * ignored as non-signal, exactly how production passage-dedup treats
    * ubiquitous boilerplate (it is removed by quality filters, not pair
    * dedup). Everything is exact string equality — no hashing — so the
    * whole operator replays verbatim in the DuckDB oracle.
    *
    * PAIR BUDGET: the default maxDocFreq = 100 bounds any one window key
    * at df*(df-1)/2 <= 4,950 join pairs (the previous default of 1000
    * admitted ~500k per hot key — tolerable on a test corpus, an
    * invitation to stragglers under web-scale boilerplate). Raise it
    * only when the corpus is known boilerplate-free and genuine passages
    * are expected in >100 documents.
    */
  def substringDups(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 50,
                    maxDocFreq: Int = 100): DataFrame = {
    val wins = windowsWithPos(docs, idCol, textCol, n)
    val shared = wins.join(
      wins.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= maxDocFreq)
        .select("w"),
      Seq("w"), "left_semi")
    val a = shared.select(col("w"), col(idCol).as("id_a"),
      col("pos").as("pos_a"))
    val b = shared.select(col("w"), col(idCol).as("id_b"),
      col("pos").as("pos_b"))
    a.join(b, "w")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("pos_a")).as("a_pos"),
        min(col("pos_b")).as("b_pos"))
  }

  /** Intra-document line dedup — the CCNet/Gopher remediation paired with
    * CorpusQuality's repetition SIGNALS: drop every repeat of a line
    * within a document, keeping first occurrences in order (boilerplate
    * chrome — nav bars, cookie banners, footers — repeats inside a page
    * long before it repeats across pages). Pure map-side expression:
    * split on the separator, array_distinct (first-occurrence order),
    * rejoin — streams through a 100 TB scan with no shuffle and replays
    * exactly in the DuckDB oracle (index-based min-position replay).
    * Returns (idCol, textCol, n_dropped).
    */
  def dedupLines(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 sep: String = "\n"): DataFrame = {
    val lines = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val kept = array_distinct(lines)
    docs.select(col(idCol),
      array_join(kept, sep).as(textCol),
      (size(lines) - size(kept)).as("n_dropped"))
  }

  /** Passage scrubbing — the cut-the-span remediation of suffix-array
    * passage dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): instead of dropping a whole document that
    * shares a passage, excise the flagged token span from the HIGHER-id
    * document of each pair (the lower id keeps its copy — the same
    * min-id-survives rule as every other dedup here). `dups` is
    * substringDups(…, n) output; each (id_b, b_pos, n_shared) flags the
    * span of n_shared + n - 1 tokens starting at token offset b_pos.
    * Overlapping/adjacent spans on one document are MERGED (classic
    * gaps-and-islands over the tiny span table) before surgery, so
    * multi-pair documents are cut once per contiguous region.
    *
    * Returns (idCol, textCol, n_cut): scrubbed documents are rebuilt in
    * normalized token space (the space b_pos lives in — raw-offset
    * surgery would need a token-to-raw alignment the window pipeline
    * deliberately never materializes); untouched documents pass through
    * verbatim with n_cut = 0.
    *
    * Plan shape at 100 TB: the span table is pairs-sized (tiny vs the
    * corpus); its window/merge shuffles only spans, and the per-doc
    * merged-span arrays join the corpus by id — broadcastable in
    * practice, an equi-join worst-case. The rebuild is map-side: one
    * filter-by-index over the token array per flagged doc, with the
    * span list bounded by the merge. Exact integer/string surgery — the
    * whole operator replays verbatim in the DuckDB oracle.
    */
  def scrubPassages(docs: DataFrame, dups: DataFrame, n: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // half-open token span [s, e) on the higher-id doc of each pair
    val spans = dups.select(
      col("id_b").as(idCol),
      col("b_pos").cast("int").as("s"),
      (col("b_pos") + col("n_shared") + lit(n - 1)).cast("int").as("e"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
    val prevMax = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = spans
      .withColumn("new_island",
        when(col("s") > coalesce(prevMax, lit(-1)), 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val spanArr = merged.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    val toks = TextFeatures.tokens(col(textCol))
    val kept = filter(toks, (_, i) =>
      !exists(col("spans"), sp => i >= sp("s") && i < sp("e")))
    docs.join(spanArr, Seq(idCol), "left")
      .select(col(idCol),
        when(col("spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", kept)).as(textCol),
        when(col("spans").isNull, lit(0L))
          .otherwise(size(toks) - size(kept)).cast("long").as("n_cut"))
  }

  /** Benchmark decontamination — the training-data hygiene op every
    * large-scale pipeline runs before training: flag corpus documents
    * sharing any token n-gram with a benchmark/eval set (the n-gram
    * overlap rule of the GPT-3/PaLM data cards; n = 8..13 typical).
    * Returns (idCol, n_contaminated) — one row per contaminated corpus
    * doc with its count of distinct benchmark-overlapping shingles;
    * callers anti-join to scrub.
    *
    * Plan shape at 100 TB: shingling is map-side on both sides; the
    * benchmark side (eval sets — tiny relative to the corpus) is
    * deduplicated once and joined by shingle string. No hashing involved,
    * so the overlap semantics are EXACT and the whole operator replays in
    * the DuckDB oracle verbatim. AQE broadcasts the benchmark side while
    * it fits — the broadcast form is skew-immune (no shuffle keyed by
    * shingle). If an enormous benchmark suite forces the shuffle-join
    * fallback, natural-language n-gram frequency skew ("of the same ...")
    * concentrates hot shingle keys; AQE's skew-join splitting handles the
    * sort-merge side, and raising `n` (real pipelines use 8-13) thins hot
    * keys exponentially.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 8): DataFrame = {
    val cSh = withShingles(corpus, idCol, textCol, n)
      .select(col(idCol), explode(col("sh")).as("sh"))
    val bSh = withShingles(benchmark, idCol, textCol, n)
      .select(explode(col("sh")).as("sh")).distinct()
    // shingle arrays are distinct per doc, so count(1) == distinct count
    cSh.join(bSh, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of
    * [[decontaminate]]. Exact-join decontamination shuffles (or at least
    * scans into a broadcast-hash probe) EVERY corpus shingle; at web scale
    * the overwhelming majority match nothing. This variant builds a bloom
    * filter over the (small) benchmark shingle set with Spark's own
    * runtime-filter BloomFilterAggregate, pulls the bounded-size sketch to
    * the driver (`numBits/8` bytes — the same sketch-as-literal pattern as
    * the IVF centroids), and drops non-matching corpus shingles MAP-SIDE
    * with the codegen'd might_contain before any join. The exact join then
    * runs only over bloom survivors, so false positives cannot reach the
    * output — the result is bit-identical to [[decontaminate]] and shares
    * its oracle.
    *
    * Sizing: `numBits ~= 9.6 * estItems` gives ~1% false positives; the
    * default 16M bits = 2 MiB sketch covers ~1.7M benchmark shingles,
    * plenty for any benchmark suite (suites are small by construction —
    * that is why this prefilter wins).
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 8, estItems: Long = 1L << 20,
                         numBits: Long = 1L << 24): DataFrame = {
    import graft.functions.GraftFunctions
    val spark = corpus.sparkSession
    GraftFunctions.ensureRegistered(spark)
    // Consumed twice (sketch build now, exact verify join at execution) —
    // deliberately NOT persisted: the result is lazy, so a persist here
    // would outlive this call, and the benchmark side is small by
    // construction (one cheap re-scan beats lingering blocks).
    val bSh = withShingles(benchmark, idCol, textCol, n)
      .select(explode(col("sh")).as("sh")).distinct()
    val sketch = bSh
      .agg(GraftFunctions.bloomAgg(xxhash64(col("sh")), estItems, numBits)
        .as("bf"))
      .head.getAs[Array[Byte]](0)
    if (sketch == null) { // empty benchmark -> nothing is contaminated
      return corpus.select(col(idCol), lit(0L).as("n_contaminated")).limit(0)
    }
    val cSh = withShingles(corpus, idCol, textCol, n)
      .select(col(idCol), explode(col("sh")).as("sh"))
      .filter(GraftFunctions.mightContain(lit(sketch), xxhash64(col("sh"))))
    cSh.join(bSh, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** (id, simhash): the 64-bit SimHash of the token multiset — per bit,
    * the sign of the +1/-1 sum over token hashes. Computed by the NATIVE
    * SimhashSigs kernel (functions/MinhashExpressions.scala) as ONE
    * map-side expression over the token array: no explode, no
    * 65-column aggregate, no shuffle.
    *   - fast (simhash_xx): bit b is bit b of xxhash64(token).
    *   - portable (simhash_md5): bit b is bit b%4 (LSB first) of md5 hex
    *     nibble b/4, so chunk c (bits 8c..8c+7) is the value the DuckDB
    *     oracle derives from the same hex digits.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              portable: Boolean = false): DataFrame =
    docs.select(col(idCol), TextFeatures.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        graft.functions.GraftFunctions.simhash(col("toks"), portable)
          .as("simhash"))

  /** SimHash near-dups: candidates share one of EIGHT 8-bit chunks
    * (equi-join on (chunk index, chunk value) — pigeonhole guarantees no
    * misses up to hamming distance 7, so the default maxHamming = 6 is
    * lossless), verified by exact popcount. Join formulation for the same
    * straggler reason as minHashNearDups. Only the token hash depends on
    * `portable`; candidates and verify are the same plan either way.
    */
  def simHashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      maxHamming: Int = 6,
                      portable: Boolean = false): DataFrame = {
    val sig = simhash(docs, idCol, textCol, portable)
    val chunked = sig.select(col(idCol), col("simhash"),
      posexplode(array((0 until 8).map(c =>
        shiftright(col("simhash"), c * 8).bitwiseAND(0xFFL)): _*))
        .as(Seq("chunk", "chunk_val")))
    chunked.toDF("id_a", "sig_a", "chunk", "chunk_val")
      .join(chunked.toDF("id_b", "sig_b", "chunk", "chunk_val"),
        Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
