package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end training-corpus pipeline — the artifact a data team
  * actually runs, composing the engine's cleaning inventory in the
  * production order:
  *
  *   ingest → quality gate (structural Gopher + C4 blocklist + bounds) →
  *   exact dedup (fingerprint, min-id survivor) →
  *   near dedup (MinHash-LSH components, min-id survivor) →
  *   decontaminate (n-gram overlap vs the held-out benchmark split) →
  *   mix (temperature sampling over sources) →
  *   token budget (per-source md5-draw cap) →
  *   shard (deterministic md5 shard assignment)
  *
  * The deliverable is the per-stage funnel: one row per stage with the
  * surviving document and token counts, plus one row per output shard.
  * Every stage is an already-oracle-proven operator (text_gopher_rules /
  * text_c4_rules, dedup_exact, dedup_minhash, llm_decontaminate,
  * mix_temperature_sample, mix_token_budget, mix_shard_manifest), so the
  * WHOLE funnel hash-compares against a DuckDB replay.
  *
  * Scale shape: each stage produces a SURVIVOR-ID relation that is
  * repartitioned on doc_id and cut once (graft.Ckpt.cut), so no stage's
  * lineage — the rule regexes, the minhash signatures, the component
  * fixpoint — ever executes more than once; downstream stages re-attach
  * text by a cheap scan ⋉ ids semi-join. The funnel counts come from
  * ONE annotation pass over the six id sets (all equi-joins on doc_id)
  * followed by a reach-prefix explode. Id relations are ids only — no
  * text is checkpointed. Reference framing: the reference's dbt project
  * runs staging → marts → tests as one `dbt build`
  * (/root/reference/models, automate_pipeline.py:1-28); this is the
  * LLM-corpus equivalent with the same run-then-gate shape.
  */
object CorpusPipeline {

  val stageNames: Seq[String] = Seq("0_ingest", "1_quality",
    "2_exact_dedup", "3_near_dedup", "4_decontaminate", "5_mix", "6_budget")

  /** Per-stage funnel counts (stage, n_docs, n_tokens) + per-shard rows.
    *
    * `benchMod`: doc_id % benchMod == 0 is held out as the benchmark
    * split (the decontamination target, excluded from the corpus) — the
    * convention llm_decontaminate already uses.
    *
    * The quality gate is the STRUCTURAL subset of the published rules:
    * Gopher word count / mean word length / symbol ratio / alpha ratio,
    * C4's blocklist rules (lorem ipsum, brace, javascript), and the
    * length bounds. The punctuation-dependent rules (Gopher stop-word
    * octet, C4 terminal-punctuation line retention and min-sentences)
    * are corpus-register toggles a production gate configures per
    * source — on prose they bind, on code/log/table registers they are
    * switched off (this corpus has no sentence-terminal lines at all,
    * so leaving them on zeroes the funnel at stage 1; the full-strict
    * conjunction remains available as llm_doc_verdict).
    */
  def stageCounts(docs: DataFrame,
                  benchMod: Long = 97L,
                  bands: Int = 8, rows: Int = 4, threshold: Double = 0.8,
                  shingleN: Int = 4,
                  alpha: Double = 0.5, targetFraction: Double = 0.5,
                  budget: Long = 200L, nShards: Int = 8): DataFrame = {
    val bench = docs.filter(col("doc_id") % benchMod === 0)
    val corpus = docs.filter(col("doc_id") % benchMod =!= 0)

    // stage 1: quality — structural Gopher rules + C4 blocklist rules +
    // length bounds (see the Scaladoc note on the punctuation toggles).
    // ONE filtered scan: CorpusQuality.structuralPass is built from the
    // same flag expressions as gopherRules and c4Rules, so its survivors
    // equal gopherRules ⋈ c4Rules ⋈ corpus without two extra corpus scans
    // and two doc_id joins.
    val qIds = cutIds(
      corpus.filter(CorpusQuality.structuralPass(col("text"),
          col("n_chars"), 100L, 50000L))
        .select("doc_id"))
    val quality = corpus.join(qIds, Seq("doc_id"), "left_semi")

    // stage 2: exact dedup — min doc_id per content fingerprint
    val exIds = cutIds(
      quality.groupBy(TextFeatures.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"))
    val exact = quality.join(exIds, Seq("doc_id"), "left_semi")

    // stage 3: near dedup — MinHash-LSH connected components, min-id
    // survivor per cluster (portable signatures so the funnel replays)
    val losers = Dedup.componentMinLabels(
        Dedup.minHashNearDups(exact, "doc_id", "text", bands, rows,
          threshold, portable = true))
      .filter(col("label") < col("node"))
      .select(col("node").as("doc_id"))
    val nearIds = cutIds(exIds.join(losers, Seq("doc_id"), "left_anti"))
    val near = corpus.join(nearIds, Seq("doc_id"), "left_semi")

    // stage 4: decontaminate — drop any doc sharing an n-token shingle
    // with the benchmark split
    val cleanIds = cutIds(nearIds.join(
      Dedup.decontaminate(near, bench, "doc_id", "text", shingleN)
        .select("doc_id"),
      Seq("doc_id"), "left_anti"))
    val clean = corpus.join(cleanIds, Seq("doc_id"), "left_semi")

    // stage 5: temperature mix over sources (rates from the clean corpus)
    val mixIds = cutIds(
      Mixing.temperatureSample(clean, "doc_id", "source", alpha,
        targetFraction).select("doc_id"))
    // each stage's id set is a subset of the previous stage's, so the
    // text re-attachment is ONE corpus ⋉ ids semi-join, not the join
    // chain corpus ⋉ cleanIds ⋉ mixIds (⋉ finIds) — same rows, one scan
    // and one join fewer per stage
    val mixed = corpus.join(mixIds, Seq("doc_id"), "left_semi")

    // stage 6: per-source token budget in md5-draw order
    val finIds = cutIds(
      Mixing.tokenBudget(mixed, "doc_id", "text", "source", budget)
        .select("doc_id"))
    val fin = corpus.join(finIds, Seq("doc_id"), "left_semi")

    val shardRows = Mixing.shardManifest(fin, "doc_id", "text", nShards)
      .select(concat(lit("7_shard_"), col("shard_id").cast("string"))
          .as("stage"),
        col("n_docs"), col("n_tokens"))
    funnel(corpus, Seq(qIds, exIds, nearIds, cleanIds, mixIds, finIds),
      stageNames, shardRows)
  }

  /** One materialization per survivor-id relation, partitioned on the
    * key every downstream join uses. */
  private def cutIds(df: DataFrame): DataFrame =
    graft.Ckpt.cut(df.repartition(col("doc_id")))

  private def nTokens: Column =
    size(TextFeatures.tokens(col("text"))).cast("long")

  /** The funnel both presets end with: ONE pass over the (already
    * materialized, nested) survivor-id sets of `base` — membership flags
    * -> reach -> explode the reach prefix -> per-stage integer
    * aggregate named by `names` — plus the preset's `extra` rows. The
    * (tiny) result is materialized before the id cuts are released, so
    * no per-call blocks linger (the cleanCorpus release discipline).
    */
  private def funnel(base: DataFrame, ids: Seq[DataFrame],
                     names: Seq[String], extra: DataFrame): DataFrame = {
    val ann = ids.zipWithIndex.foldLeft(
        base.select(col("doc_id"), nTokens.as("nt"))) {
      case (acc, (stage, i)) =>
        acc.join(stage.select(col("doc_id"), lit(1).as(s"f$i")),
          Seq("doc_id"), "left")
    }
    val reach: Column = ids.indices
      .map(i => coalesce(col(s"f$i"), lit(0)))
      .reduce(_ + _)
    val stageRows = ann
      .select(explode(sequence(lit(0), reach)).as("ord"), col("nt"))
      .groupBy(col("ord"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .select(
        element_at(array(names.map(lit): _*), col("ord") + 1)
          .as("stage"),
        col("n_docs"), col("n_tokens"))
    val out = graft.Ckpt.cut(stageRows.unionByName(extra))
    ids.foreach(graft.Ckpt.release)
    out
  }

  val incrStageNames: Seq[String] = Seq("0_batch", "1_quality",
    "2_exact_vs_corpus", "3_near_vs_corpus", "4_decontaminate")

  /** The DAILY-INCREMENT pipeline — what a growing corpus actually runs
    * per ingest at 100 TB: the (small) new batch is gated and deduped
    * AGAINST THE STORED CORPUS, never the corpus against itself.
    *
    *   batch ingest → quality gate (same structural rules) →
    *   exact-vs-corpus (batch fingerprints anti-joined against the
    *   corpus fingerprint set, min-id within batch) →
    *   near-vs-corpus (batch banded against the STORED band index;
    *   Dedup.incrementalNearDups — corpus text touched only for
    *   candidate rows) → decontaminate (vs the held-out benchmark) →
    *   per-source append manifest.
    *
    * Splits: doc_id % benchMod == 0 is the benchmark (external to
    * everything), doc_id % batchMod == 0 (among non-bench) is today's
    * batch, the rest is the already-accepted corpus. Within-batch NEAR
    * dedup is deliberately out of scope here (that is the full rebuild,
    * [[stageCounts]]); exact dedup does collapse within-batch twins
    * because the fingerprint set is one hash aggregate either way.
    * Output: the batch funnel (stage, n_docs, n_tokens) plus one
    * `5_append_<source>` row per source that lands rows in the corpus —
    * the manifest an append job writes. Every stage replays in DuckDB;
    * the whole funnel hash-compares.
    */
  def incrementalStageCounts(docs: DataFrame,
                             benchMod: Long = 97L, batchMod: Long = 10L,
                             bands: Int = 8, rows: Int = 4,
                             threshold: Double = 0.8,
                             shingleN: Int = 4): DataFrame = {
    val bench = docs.filter(col("doc_id") % benchMod === 0)
    val nonBench = docs.filter(col("doc_id") % benchMod =!= 0)
    val corpus = nonBench.filter(col("doc_id") % batchMod =!= 0)
    val batch = nonBench.filter(col("doc_id") % batchMod === 0)

    // stage 1: the same structural quality gate as stageCounts — one
    // filtered scan via CorpusQuality.structuralPass (see there)
    val qIds = cutIds(
      batch.filter(CorpusQuality.structuralPass(col("text"),
          col("n_chars"), 100L, 50000L))
        .select("doc_id"))
    val qBatch = batch.join(qIds, Seq("doc_id"), "left_semi")

    // stage 2: exact vs corpus — fingerprints already in the store drop
    // the batch doc; within-batch twins collapse to the min id
    val exIds = cutIds(
      qBatch.select(col("doc_id"),
          TextFeatures.fingerprint(col("text")).as("fp"))
        .join(corpus.select(TextFeatures.fingerprint(col("text")).as("fp"))
          .distinct(), Seq("fp"), "left_anti")
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id"))
    val exBatch = batch.join(exIds, Seq("doc_id"), "left_semi")

    // stage 3: near vs corpus through the stored band index
    val hits = Dedup.incrementalNearDups(exBatch, corpus,
        Dedup.bandIndex(corpus, "doc_id", "text", bands, rows,
          portable = true),
        "doc_id", "text", bands, rows, threshold, portable = true)
      .select(col("new_id").as("doc_id")).distinct()
    val nearIds = cutIds(exIds.join(hits, Seq("doc_id"), "left_anti"))
    val nearBatch = batch.join(nearIds, Seq("doc_id"), "left_semi")

    // stage 4: decontaminate vs the benchmark split
    val cleanIds = cutIds(nearIds.join(
      Dedup.decontaminate(nearBatch, bench, "doc_id", "text", shingleN)
        .select("doc_id"),
      Seq("doc_id"), "left_anti"))
    val fin = batch.join(cleanIds, Seq("doc_id"), "left_semi")

    val appendRows = fin
      .select(col("source"), nTokens.as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .select(concat(lit("5_append_"), col("source")).as("stage"),
        col("n_docs"), col("n_tokens"))
    funnel(batch, Seq(qIds, exIds, nearIds, cleanIds), incrStageNames,
      appendRows)
  }
}
