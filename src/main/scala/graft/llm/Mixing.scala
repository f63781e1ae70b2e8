package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-mixing operators for assembling a training corpus: per-source
  * sampling rates and sequence packing — the two steps between "clean
  * documents" and "token batches" in an LLM data pipeline.
  *
  * Both are deterministic pure-SQL plans (no RNG state, no UDFs): sampling
  * decisions derive from md5 of the row identity, so they are reproducible
  * across runs, partitionings, and engines — the DuckDB oracle replays them
  * byte-for-byte.
  */
object Mixing {

  /** Deterministic stratified sampling: keep a row iff the first 4 hex
    * chars of md5("<stratum>:<id>") sort below the stratum's rate
    * threshold (rate mapped onto the 16-bit hex space; fixed-width
    * lowercase hex compares identically to its numeric value in both
    * engines). Including the stratum in the hash makes draws independent
    * across strata even for equal ids. A pure map-side filter — pushes
    * into the scan, no shuffle, trivially 100 TB-safe.
    *
    * Rates must be in [0, 1); a rate of exactly 1.0 would need a 5-char
    * threshold and break the fixed-width compare — use 0.9999 (or skip
    * sampling for that stratum upstream).
    */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0 && r < 1),
      "rates must be in [0, 1)")
    def thresh(r: Double) = f"${(r * 65536).toInt}%04x"
    val h = substring(
      md5(concat(col(strataCol), lit(":"), col(idCol).cast("string"))), 1, 4)
    val t = rates.toSeq.sortBy(_._1).foldRight(lit(thresh(defaultRate))) {
      case ((s, r), els) => when(col(strataCol) === s, thresh(r)).otherwise(els)
    }
    docs.filter(h < t)
  }

  /** Temperature-scaled mixture rates — the Pile/ROOTS/multilingual-LM
    * recipe for upweighting rare sources: source s with n_s documents gets
    * mixture share w_s = n_s^alpha / Σ_t n_t^alpha (alpha < 1 flattens the
    * natural distribution; alpha = 1 keeps it; alpha = 0.5 is the classic
    * "square-root temperature"), and its per-document keep rate targets a
    * corpus of targetFraction * N total documents:
    * rate_s = min(0.9999, targetFraction * N / Z * n_s^alpha / n_s).
    * Sources whose rate clips at the cap contribute all their documents;
    * the realized corpus then lands under target, the standard behavior
    * (upsampling beyond 1x is an epoch-count decision, not a filter's).
    *
    * Driver-side by design, like Similarity's k-means centroids: the input
    * is one distributed count aggregate with ONE ROW PER SOURCE (bounded
    * catalog cardinality, not data volume), and emitting rates as literals
    * keeps the sampling filter itself a pure map-side plan. All double
    * arithmetic is a SEQUENTIAL fold in sorted-source order with a fixed
    * operation sequence (and sqrt — correctly rounded by both engines —
    * rather than pow when alpha = 0.5), so the DuckDB oracle reproduces
    * every rate bit-for-bit and therefore every 1/65536-quantized
    * threshold exactly.
    */
  def temperatureRates(docs: DataFrame, strataCol: String,
                       alpha: Double,
                       targetFraction: Double): Map[String, Double] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(targetFraction > 0 && targetFraction < 1,
      s"targetFraction must be in (0, 1), got $targetFraction")
    def p(x: Double) = if (alpha == 0.5) math.sqrt(x) else math.pow(x, alpha)
    // null strata are excluded from the budget: stratifiedSample's
    // when-chain can never match them, so they fall to defaultRate = 0
    val counts = docs.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val nTotal = counts.map(_._2).sum.toDouble
    var z = 0.0
    counts.foreach { case (_, n) => z += p(n.toDouble) }
    counts.map { case (s, n) =>
      val nd = n.toDouble
      s -> math.min(0.9999, targetFraction * nTotal / z * p(nd) / nd)
    }.toMap
  }

  /** Deterministic temperature sampling: temperatureRates composed with
    * the stratifiedSample md5 draw (same row-identity hashing, zero rate
    * for sources absent from the count — impossible unless the corpus
    * changed between the two scans).
    */
  def temperatureSample(docs: DataFrame, idCol: String, strataCol: String,
                        alpha: Double, targetFraction: Double): DataFrame =
    stratifiedSample(docs, idCol, strataCol,
      temperatureRates(docs, strataCol, alpha, targetFraction),
      defaultRate = 0.0)

  /** Sequence packing, sequential-fill approximation: within each stratum,
    * documents (in id order) are assigned to fixed-capacity packs by
    * cumulative token count — pack_id = (cumsum_before_doc) div capacity.
    * A pack can overflow by at most one document (the standard streaming
    * approximation of bin packing; exact first-fit is inherently
    * sequential and not worth a distributed barrier).
    *
    * The window is KEYED by the stratum, so each stratum sorts
    * independently — at 100 TB, pack within finer shards (source x day,
    * or a hash-bucketed sub-stratum) to bound per-partition sort size; the
    * operator is agnostic to what the stratum column encodes.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    strataCol: String, capacity: Int): DataFrame = {
    require(capacity > 0)
    val w = Window.partitionBy(col(strataCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(idCol), col(strataCol),
        size(TextFeatures.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $capacity"))
      .drop("cum")
  }

  /** Best-fit-decreasing sequence packing — the quality upgrade over
    * [[packSequences]]' streaming fill: when every document fits
    * `capacity`, NO pack overflows (a hard guarantee; streaming fill
    * overflows by up to one document per pack), and the offline
    * decreasing heuristics carry the classic 11/9·OPT + 6/9 bin bound.
    * A document LARGER than capacity gets a pack of its own (its
    * remaining capacity goes negative and is never offered again).
    *
    * Shape: repartition BY stratum, sort within partitions by
    * (stratum, n_tokens desc, id), then ONE mapPartitions streaming each
    * stratum group through a best-fit bin table (TreeMap keyed on
    * remaining capacity; ties broken to the lowest pack id, so output is
    * deterministic given the sort). Bin packing is inherently sequential
    * PER STRATUM — this is the legitimate mapPartitions case: state is
    * O(open bins), rows stream through, parallelism comes from strata
    * (at 100 TB, pack within finer shards exactly like packSequences).
    */
  def packSequencesTight(docs: DataFrame, idCol: String, textCol: String,
                         strataCol: String, capacity: Int): DataFrame = {
    require(capacity > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs.select(col(strataCol).as("stratum"),
        col(idCol).cast("long").as("id"),
        size(TextFeatures.tokens(col(textCol))).cast("long").as("n_tokens"))
      .repartition(col("stratum"))
      .sortWithinPartitions(col("stratum"), col("n_tokens").desc, col("id"))
      .as[(String, Long, Long)]
    val packed = sized.mapPartitions { rows =>
      var stratum: String = null
      // remaining capacity -> pack ids at that remainder (lowest first)
      var bins: java.util.TreeMap[Long, java.util.TreeSet[Long]] = null
      var remainingOf: scala.collection.mutable.Map[Long, Long] = null
      var nextPack = 0L
      def reset(): Unit = {
        bins = new java.util.TreeMap()
        remainingOf = scala.collection.mutable.Map()
        nextPack = 0L
      }
      rows.map { case (s, id, n) =>
        if (s != stratum) { stratum = s; reset() }
        val fit = bins.ceilingEntry(n)
        val pack =
          if (fit == null) { // nothing fits: open a new pack
            val p = nextPack; nextPack += 1
            remainingOf(p) = capacity.toLong
            p
          } else {
            val p = fit.getValue.first()
            fit.getValue.remove(p)
            if (fit.getValue.isEmpty) bins.remove(fit.getKey)
            p
          }
        val rem = remainingOf(pack) - n
        remainingOf(pack) = rem
        if (rem > 0) // a full (or overfull oversized) pack never re-offers
          bins.computeIfAbsent(rem, _ => new java.util.TreeSet[Long]())
            .add(pack)
        (s, id, n, pack)
      }
    }
    packed.toDF("stratum", "id", "n_tokens", "pack_id")
      .select(col("id").as(idCol), col("stratum").as(strataCol),
        col("n_tokens"), col("pack_id"))
  }

  /** Per-source token budget — the "assemble a corpus of N tokens at these
    * source weights" cut every training-data mixture ends with: within each
    * stratum, documents are drawn in md5-derived pseudo-random order (an
    * unbiased sample, reproducible across runs/partitionings/engines — the
    * same draw identity as stratifiedSample) and kept while the stratum's
    * running token total is still under the budget. The budget overflows by
    * at most the one document that crosses it (the same streaming
    * approximation as packSequences; trimming that document is a chunking
    * decision, not a sampling one).
    *
    * One keyed window per stratum — at 100 TB, budget within finer shards
    * (source x bucket) and divide the budget accordingly to bound
    * per-partition sort size; budgets compose linearly.
    */
  def tokenBudget(docs: DataFrame, idCol: String, textCol: String,
                  strataCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("draw"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(idCol), col(strataCol),
        size(TextFeatures.tokens(col(textCol))).cast("long").as("n_tokens"),
        md5(concat(col(strataCol), lit(":"), col(idCol).cast("string")))
          .as("draw"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .drop("draw")
  }

  /** Deterministic shard assignment for corpus output: shard =
    * (first byte of md5(id)) mod nShards — stable under any partitioning
    * and engine-portable (the oracle recomputes the byte from the hex
    * digits). Balanced to binomial noise for nShards ≤ 256; divisors of
    * 256 are exactly uniform over the byte space. The writer path is
    * `df.withColumn("shard_id", shardId(...)).repartition(n, $"shard_id")`
    * into a partitioned sink (TableStore.savePartitioned) — one directory
    * per shard, sized by the budget, not by upstream partitioning.
    */
  def shardId(id: Column, nShards: Int): Column = {
    require(nShards >= 1 && nShards <= 256,
      s"nShards must be in [1, 256], got $nShards")
    pmod(graft.functions.GraftFunctions.md5Bits(id.cast("string"), 1, 2)
      .cast("int"), lit(nShards))
  }

  /** Per-shard manifest — the summary record (docs/tokens/chars per output
    * shard) a training job reads to plan its input splits. One partial+final
    * aggregate over ≤ nShards groups; the token count is the same
    * whitespace tokenization the packing/budget operators use.
    */
  def shardManifest(docs: DataFrame, idCol: String, textCol: String,
                    nShards: Int): DataFrame =
    docs
      .select(shardId(col(idCol), nShards).as("shard_id"),
        size(TextFeatures.tokens(col(textCol))).cast("long").as("t"),
        length(col(textCol)).cast("long").as("c"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        sum(col("c")).as("n_chars"))

  /** Sliding-window document chunking — the step that turns cleaned
    * documents into trainer-sized pieces (a context-window's worth of
    * tokens, with `overlap` tokens repeated at each boundary so no
    * span of fewer than `overlap` consecutive tokens is ever split
    * across chunks — the HF `return_overflowing_tokens`/stride shape).
    *
    * Chunk starts are 0, stride, 2*stride, ... (stride = chunkSize −
    * overlap) while the start still contributes unseen tokens (start ≤
    * n − overlap − 1; a document shorter than a chunk emits exactly one
    * chunk). The final chunk may be short, never empty.
    *
    * Pure map-side — project + per-row explode, no shuffle, no window:
    * at 100 TB this pipelines straight from the scan into the sink, and
    * chunk identity (doc, chunk_id) is deterministic under any
    * partitioning.
    */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize,
      "overlap must be in [0, chunkSize)")
    val stride = chunkSize - overlap
    docs
      .select(col(idCol), TextFeatures.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col(idCol), col("toks"), col("n"),
        posexplode(sequence(lit(0),
          greatest(col("n") - lit(overlap) - 1, lit(0)), lit(stride))))
      .select(col(idCol),
        col("pos").as("chunk_id"),
        col("col").as("start_tok"),
        least(lit(chunkSize), col("n") - col("col")).as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("col") + 1, lit(chunkSize)))
          .as("chunk_text"))
  }

  /** Contiguous global id assignment — dense ids 0..n−1 in `orderCol`
    * order WITHOUT a global window (the zipWithIndex-without-collect
    * idiom). A naive `row_number() OVER (ORDER BY k)` moves the whole
    * table to ONE partition; this plan never does:
    *
    *   1. `repartitionByRange(orderCol)` — partition p holds a contiguous
    *      key range, all below partition p+1's (sampled boundaries; ids
    *      depend only on the global key order, not where cuts land).
    *   2. `row_number()` PARTITIONED by `spark_partition_id()` — every
    *      partition ranks its own rows in parallel.
    *   3. Per-partition row counts (one tiny agg, ≤ #partitions rows) →
    *      cumulative offsets on the driver-sized side → broadcast join;
    *      id = offset + local rank − 1.
    *
    * `orderCol` must be a total order (break ties with the id) — with
    * ties straddling a range boundary the per-partition ranks would be
    * order-dependent. Deterministic under any input partitioning; equals
    * the naive global row_number, which is what the oracle replays.
    *
    * The ranged frame is materialized ONCE (Ckpt.cut) before the
    * offsets aggregate and the rank join are derived from it. Without
    * that, the two plan subtrees each re-execute the range exchange
    * independently; `repartitionByRange` samples its boundaries per
    * execution, so the broadcast offsets could be computed against a
    * partitioning the data rows never actually got — off-by-a-partition
    * ids whose probability GROWS with partition count and AQE activity
    * (observed as overlapping equi-depth buckets at sf0.01). Same
    * materialize-the-fixpoint pattern as Dedup.componentMinLabels; with
    * a session checkpoint directory the cut is durable and survives
    * executor loss.
    */
  def assignContiguousIds(df: DataFrame, orderCol: Column,
                          numParts: Int = 0): DataFrame = {
    val parts = if (numParts > 0) numParts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // (pid, position-in-sorted-partition) read off
    // monotonically_increasing_id — its value is partitionId << 33 |
    // row-iteration-index, and iteration order here IS the sorted order
    // (the id projection sits ABOVE the in-partition sort; the optimizer
    // cannot push a nondeterministic projection below it). This replaces
    // the r13 shape's per-partition row_number window — which cost a
    // SECOND full exchange (hash on __pid) plus a window sort — and the
    // broadcast-join offset attach, which becomes a literal-map lookup.
    val ranged = graft.Ckpt.cut(df.withColumn("__k", orderCol)
      .repartitionByRange(parts, col("__k"))
      .sortWithinPartitions(col("__k"))
      .drop("__k")
      .withColumn("__mid", monotonically_increasing_id()))
    val counts = ranged
      .groupBy(shiftright(col("__mid"), 33).as("__pid")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Long, Long] = counts.map { case (pid, c) =>
      val o = acc; acc += c; (pid, o)
    }.toMap
    // ≤ numParts entries — the same driver-sized state the old broadcast
    // carried, now an expression-held literal (map-side attach, no join)
    ranged.withColumn("seq_id",
      element_at(typedlit(offsets), shiftright(col("__mid"), 33)) +
        col("__mid").bitwiseAND(lit((1L << 33) - 1)))
      .drop("__mid")
  }

  /** Distributed inclusive prefix sums — for each name in `sumCols`, a
    * `<name>_cum` column holding the running BIGINT sum of that column in
    * global `orderCol` order, WITHOUT a single-partition window. Same
    * protocol as [[assignContiguousIds]] (it is the generalization from
    * "prefix count" to "prefix aggregate"): range-partition on the order
    * key, materialize that exchange ONCE (localCheckpoint — the offsets
    * aggregate and the row-level join must see the SAME partition cuts),
    * per-partition running sums in parallel windows, per-partition totals
    * cumulated on the ≤#partitions-row side and broadcast back. All
    * `sumCols` share one (partition, order) window spec → a single
    * WindowExec pass, and the offsets side is one tiny aggregate.
    *
    * `orderCol` must be a total order over the rows (the CDF/rank
    * substrates here key on distinct values, which satisfies it); ties
    * across a range boundary would make per-partition sums
    * order-dependent. This is the global-CDF primitive under f_ks_test /
    * f_mann_whitney: a naive `sum() OVER (ORDER BY v)` moves the whole
    * table to one partition, which is exactly what cannot happen at
    * 100 TB.
    */
  def prefixSums(df: DataFrame, orderCol: Column, sumCols: Seq[String],
                 numParts: Int = 0): DataFrame = {
    val parts = if (numParts > 0) numParts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.withColumn("__k", orderCol)
      .repartitionByRange(parts, col("__k"))
      .withColumn("__pid", spark_partition_id())
      .transform(graft.Ckpt.cut(_))
    val w = Window.partitionBy(col("__pid")).orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = ranged.groupBy(col("__pid"))
      .agg(sum(col(sumCols.head)).as(s"__t_${sumCols.head}"),
        sumCols.tail.map(c => sum(col(c)).as(s"__t_$c")): _*)
    val carryW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = offs.select(col("__pid") +: sumCols.map { c =>
      coalesce(sum(col(s"__t_$c")).over(carryW), lit(0L)).as(s"__o_$c")
    }: _*)
    val cumed = sumCols.foldLeft(
        ranged.join(broadcast(carry), Seq("__pid"))) { (acc, c) =>
      acc.withColumn(s"${c}_cum", col(s"__o_$c") + sum(col(c)).over(w))
    }
    cumed.drop("__k" +: "__pid" +: sumCols.map(c => s"__o_$c"): _*)
  }

  /** DPO preference-pair construction (Rafailov et al. 2023 "Direct
    * preference optimization") — the step that turns scored generations
    * into (chosen, rejected) training rows. Within each prompt group,
    * rank candidates by reward (ties broken by id — a total order, so
    * the pairing is deterministic and engine-replayable) and pair
    * extremes: pair i = (rank i, rank n−i+1) for i ≤ n/2, keeping pairs
    * whose reward gap is at least `margin` — max-gap pairing gives DPO
    * its strongest preference signal per pair, and the margin drops the
    * near-tie pairs whose label would be noise. The middle element of an
    * odd group is unpaired by construction.
    *
    * Scale shape: one windowed rank per prompt group (a keyed shuffle on
    * the group columns; groups are prompt-sized, never corpus-sized) and
    * one keyed self-join on (group, pair index) with both sides
    * rank-pruned to their half BEFORE the join. No driver state, no
    * global window. Reward must be integer (exact gap arithmetic — the
    * oracle hash-compares it).
    */
  def dpoPairs(docs: DataFrame, groupCols: Seq[String], idCol: String,
               rewardCol: String, margin: Long = 1L): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val grp = groupCols.map(col)
    val w = Window.partitionBy(grp: _*)
      .orderBy(col(rewardCol).desc, col(idCol))
    val ranked = docs
      .select(grp :+ col(idCol) :+ col(rewardCol): _*)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(grp: _*)))
    val half = expr("n div 2")
    val top = ranked.filter(col("rk") <= half)
      .select(grp ++ Seq(col("rk").as("pair_id"),
        col(idCol).as("chosen_id"),
        col(rewardCol).as("chosen_reward")): _*)
    val bottom = ranked.filter(col("rk") > col("n") - half)
      .select(grp ++ Seq((col("n") - col("rk") + 1L).as("pair_id"),
        col(idCol).as("rejected_id"),
        col(rewardCol).as("rejected_reward")): _*)
    top.join(bottom, groupCols :+ "pair_id")
      .withColumn("gap", col("chosen_reward") - col("rejected_reward"))
      .filter(col("gap") >= margin)
  }

  /** Competence-based curriculum ordering (Bengio et al. 2009 "Curriculum
    * learning"; Platanios et al. 2019 "Competence-based curriculum
    * learning for NMT"): rank documents by a difficulty signal, then gate
    * each document behind the first training step whose model competence
    * covers its difficulty percentile. With sqrt competence
    * c(t) = sqrt(t/T), document at difficulty percentile p = rank/n
    * unlocks at step ceil(T·p²) — integer-exact as
    * (T·rank² + n² − 1) div n². The emitted training order sorts by
    * (unlock_step, md5 shuffle key): easy-first across cohorts, uniformly
    * shuffled WITHIN each cohort — the schedule a data loader replays by
    * reading `train_pos` sequentially.
    *
    * Difficulty here is token count (length is the canonical text
    * curriculum signal); any column expression works — the rank, not the
    * raw value, drives the gate. Ties break by (md5(id), id) so the rank
    * is a total order (the assignContiguousIds contract).
    *
    * Scale shape: two assignContiguousIds passes over an id+rank-sized
    * projection (range exchange + per-partition rank + broadcast offsets;
    * the corpus text is read once for the difficulty map) and one
    * broadcast scalar attach for n. 64-bit envelope: T·rank² must fit a
    * BIGINT — rank ≤ 9.6·10⁸ at T = 100, guarded by a require; past that
    * (a >10⁹-document corpus) lift the gate arithmetic to DECIMAL or use
    * linear competence c(t) = t/T, whose T·rank product never overflows.
    */
  def curriculum(docs: DataFrame, idCol: String, textCol: String,
                 totalSteps: Long = 100L): DataFrame = {
    require(totalSteps >= 1, s"totalSteps must be positive: $totalSteps")
    val diff = size(TextFeatures.tokens(col(textCol))).cast("long")
    val ranked = assignContiguousIds(
        docs.select(col(idCol), diff.as("difficulty"),
          md5(col(idCol).cast("string")).as("__tb")),
        struct(col("difficulty"), col("__tb"), col(idCol)))
      .withColumn("diff_rank", col("seq_id") + 1L)
      .drop("seq_id", "__tb")
    val total = docs.select(count(lit(1)).as("__n"))
    // the CASE arm fails loudly if T·rank² ever wraps negative (outside
    // the documented envelope) instead of silently corrupting the gate
    val gated = ranked.crossJoin(broadcast(total))
      .withColumn("unlock_step",
        expr(s"""CASE WHEN $totalSteps * diff_rank * diff_rank < 0
                 |THEN CAST(raise_error(
                 |  'curriculum: T*rank^2 overflows BIGINT') AS BIGINT)
                 |ELSE ($totalSteps * diff_rank * diff_rank + __n * __n - 1)
                 |     div (__n * __n) END""".stripMargin))
      .drop("__n")
    assignContiguousIds(
        gated.withColumn("__sk", md5(concat(col(idCol).cast("string"),
          lit(":curriculum")))),
        struct(col("unlock_step"), col("__sk"), col(idCol)))
      .withColumn("train_pos", col("seq_id") + 1L)
      .drop("seq_id", "__sk")
  }

  /** Deterministic stride interleaving — the data-loader SCHEDULE that
    * realizes a mixture weight vector (the sampling step of GLaM/PaLM
    * -style trained mixtures, stride scheduling in the Waldspurger &
    * Weihl 1995 sense): source s with weight w_s emits its r-th document
    * at virtual time (r + 1/2) / w_s, and the training order is the
    * global virtual-time sort. Every prefix of the emitted stream then
    * carries each source in proportion w_s ± 1 — no RNG, no epoch
    * boundary artifacts, and byte-stable across runs (within-source order
    * is an md5 shuffle). Ties in virtual time (commensurable weights)
    * break by (source, rank), so the order is total.
    *
    * Scale shape: two [[assignContiguousIds]] passes (within-source rank
    * via a (source, key) range sort minus per-source broadcast minima;
    * final order on virtual time) over an id-sized projection — no
    * per-source single-partition window anywhere. The virtual-time
    * division is one IEEE op on both engines, so the whole schedule
    * hash-replays.
    */
  def strideInterleave(docs: DataFrame, idCol: String, strataCol: String,
                       weights: Map[String, Double],
                       defaultWeight: Double = 1.0): DataFrame = {
    require(defaultWeight > 0 && weights.values.forall(_ > 0),
      "stride weights must be positive")
    val sk = md5(concat(col(idCol).cast("string"), lit(":mix")))
    val g = assignContiguousIds(
      docs.select(col(idCol), col(strataCol), sk.as("__sk")),
      struct(col(strataCol), col("__sk"), col(idCol)))
    val base = g.groupBy(col(strataCol))
      .agg(min(col("seq_id")).as("__base"))
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (s, ws)) =>
      when(col(strataCol) === s, lit(ws)).otherwise(acc)
    }
    val ranked = g.join(broadcast(base), strataCol)
      .withColumn("src_rank", col("seq_id") - col("__base"))
      .withColumn("vt", (col("src_rank").cast("double") + lit(0.5)) / w)
      .drop("seq_id", "__base", "__sk")
    assignContiguousIds(ranked,
        struct(col("vt"), col(strataCol), col("src_rank")))
      .withColumn("train_pos", col("seq_id"))
      .drop("seq_id")
  }

  /** Epoch upsampling — the OTHER half of mixture weighting:
    * temperatureSample can only keep a source at most once (rates cap
    * below 1; its docstring defers "upsampling beyond 1x" to an
    * epoch-count decision — this is that decision). Source s with epoch
    * target e_s emits each document floor(e_s) times plus one more when
    * the md5 draw falls below frac(e_s), so realized copies are unbiased
    * for e_s per document and EXACT per source in expectation; e_s < 1
    * degenerates to plain subsampling, so one operator covers the whole
    * weight range. Each copy carries an `epoch` index (0-based) so
    * downstream sharding can interleave epochs instead of concatenating
    * them.
    *
    * Pure map-side: a CASE over the bounded source catalog + one
    * per-row explode of a `sequence` — no shuffle, pipelines straight
    * from scan to sink at any scale.
    */
  def epochUpsample(docs: DataFrame, idCol: String, strataCol: String,
                    epochs: Map[String, Double],
                    defaultEpochs: Double = 1.0): DataFrame = {
    require((defaultEpochs +: epochs.values.toSeq).forall(e =>
      e >= 0 && e < 100), "epoch targets must be in [0, 100)")
    def floorOf(e: Double) = math.floor(e).toLong
    def thresh(e: Double) = f"${((e - math.floor(e)) * 65536).toInt}%04x"
    val floorE = epochs.toSeq.sortBy(_._1)
      .foldRight(lit(floorOf(defaultEpochs))) { case ((s, e), els) =>
        when(col(strataCol) === s, floorOf(e)).otherwise(els)
      }
    val fracT = epochs.toSeq.sortBy(_._1)
      .foldRight(lit(thresh(defaultEpochs))) { case ((s, e), els) =>
        when(col(strataCol) === s, thresh(e)).otherwise(els)
      }
    val h = substring(md5(concat(lit("epoch:"), col(strataCol), lit(":"),
      col(idCol).cast("string"))), 1, 4)
    docs
      .withColumn("n_copies",
        floorE + when(h < fracT, 1L).otherwise(0L))
      // filter BEFORE the sequence: sequence(0, -1) would descend, not
      // produce an empty array
      .filter(col("n_copies") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("n_copies") - 1)))
      .drop("n_copies")
  }

  /** Per-source document cap — the per-domain guard every web-corpus
    * pipeline applies (Gopher/C4-style: a boilerplate-heavy domain must
    * not dominate the mixture): keep at most `cap` documents per stratum,
    * chosen in md5-derived pseudo-random order so the survivors are an
    * unbiased sample of the stratum, reproducible across runs,
    * partitionings, and engines. Emits `cap_rank` (1-based draw order)
    * so callers can tighten the cap downstream without re-ranking.
    *
    * One keyed window per stratum — the tokenBudget scale shape: at
    * 100 TB, cap within finer shards (domain x bucket) and divide the
    * cap accordingly to bound per-partition sort size.
    */
  def perSourceCap(docs: DataFrame, idCol: String, strataCol: String,
                   cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("draw"), col(idCol))
    docs
      .withColumn("draw", md5(concat(lit("cap:"), col(strataCol), lit(":"),
        col(idCol).cast("string"))))
      .withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= cap)
      .drop("draw")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document in
    * the raw pool by how much its hashed n-gram distribution looks like a
    * TARGET corpus rather than the pool at large. Features are unigrams +
    * bigrams hashed into `nBuckets` buckets; the per-bucket log-likelihood
    * ratio under add-one-smoothed bag-of-buckets models is
    *
    *   lambda_b = ln( (ct_b + 1) / (tot_t + B)  /  ((cr_b + 1) / (tot_r + B)) )
    *
    * and a document's log importance weight is sum_b n_db * lambda_b.
    *
    * Shape at 100 TB: one explode -> ONE keyed aggregation to per-doc
    * bucket counts (the only data-sized shuffle); bucket stats are a
    * second aggregation over the ALREADY-REDUCED (doc x bucket) relation,
    * and the resulting lambda table is exactly `nBuckets` rows — joined
    * back by explicit broadcast, so scoring is map-side. No collect, no
    * cartesian beyond a 1-row scalar attachment of the two totals.
    *
    * Oracle-parity: glibc's `ln` (DuckDB) is NOT correctly rounded — on
    * some operands it disagrees with `java.lang.Math.log`, on others with
    * `StrictMath.log`, so NO JVM ln can match it bit-for-bit across
    * arbitrary operands (measured: one λ operand in this very corpus
    * splits the three ways). Instead of betting on ulp luck, λ is
    * QUANTIZED to fixed-point: lam_fx = round(ln(ratio) · 2^30) as a
    * BIGINT. A 1-ulp ln disagreement (~1e-17 absolute) only changes the
    * rounded integer when the true value sits within 1e-17 of a grid
    * midpoint (~1e-8 per bucket — negligible), and everything downstream
    * is EXACT integer arithmetic: the per-doc score Σ n_db · lam_fx is an
    * order-independent integer sum (no sorted fold needed — cheaper at
    * scale, too), and the reported log_w = Σ/2^30 is a dyadic rational
    * that double division reproduces exactly on both engines. Precision
    * lost to quantization is 2^-30 ≈ 1e-9 per λ — noise, next to the
    * add-one smoothing already inside the estimator.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, nBuckets: Int = 512): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= (1 << 20),
      s"nBuckets must be in [2, 2^20], got $nBuckets")
    val base = docs.select(col(idCol), targetPred.as("is_target"),
      TextFeatures.tokens(col(textCol)).as("toks"))
    // 6 hex chars = 24 bits of md5 — uniform over any nBuckets <= 2^20
    val occ = base.select(col(idCol), col("is_target"),
        explode(concat(col("toks"), TextFeatures.bigramsOfTokens(col("toks"))))
          .as("gram"))
      .select(col(idCol), col("is_target"),
        pmod(graft.functions.GraftFunctions.md5Bits(col("gram"), 1, 6),
          lit(nBuckets.toLong)).cast("int").as("bucket"))
      // bucket is never null; the explicit filter mirrors the isnotnull
      // the join constraint inserts on the scoring branch, so all three
      // consumers of dbuck canonicalize to the SAME subplan and
      // ReuseExchange collapses them to one scan+explode+shuffle (without
      // it, bstats and tots each re-ran the explode from the scan)
      .filter(col("bucket").isNotNull)
    val dbuck = occ.groupBy(col(idCol), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val bstats = dbuck.groupBy(col("bucket"))
      .agg(sum(when(col("is_target"), col("n")).otherwise(lit(0L))).as("ct"),
        sum(col("n")).as("cr"))
    val tots = bstats.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val lam = bstats.crossJoin(broadcast(tots)) // 1-row scalar attachment
      .select(col("bucket"),
        round(graft.functions.GraftFunctions.ieeeLn(
          ((col("ct") + 1L) * (col("tr") + nBuckets)).cast("double") /
            ((col("cr") + 1L) * (col("tt") + nBuckets)).cast("double"))
          * lit(1073741824.0)).cast("long").as("lam_fx"))
    dbuck.join(broadcast(lam), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_grams"),
        (sum(col("n") * col("lam_fx")).cast("double") / lit(1073741824.0))
          .as("log_w"))
  }

  /** Gumbel top-k resampling over dsirWeights — sampling WITHOUT
    * replacement proportional to softmax(log_w): key_d = log_w_d + g_d
    * with g_d = -ln(-ln(u_d)) standard Gumbel noise from a deterministic
    * md5 uniform draw, then the k largest keys. Never materializes a
    * normalized probability (DuckDB's `exp` matches no JVM exp — the
    * Gumbel trick needs only the log domain, which is the whole point of
    * using it here).
    *
    * The noise is quantized to 2^-20 for the same reason dsirWeights
    * quantizes λ (no JVM ln matches glibc's on every operand); a Gumbel
    * draw blurred by 1e-6 is statistically indistinguishable, and the
    * key sum log_w + g of two dyadic rationals (2^-30 and 2^-20 grids,
    * both far under 2^53) is EXACT in double on both engines.
    *
    * `orderBy(...).limit(k)` plans as TakeOrderedAndProject — a per-
    * partition top-k plus a k-row merge on the driver, never a global
    * sort; the one plan shape where a global order-by is 100 TB-safe.
    */
  def dsirResample(weights: DataFrame, idCol: String, k: Int,
                   seed: String = "dsir"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (graft.functions.GraftFunctions.md5Bits(
        concat(lit(seed + ":"), col(idCol).cast("string")), 1, 8)
        .cast("double") + 0.5) / lit(4294967296.0)
    val gumbel = round(-graft.functions.GraftFunctions.ieeeLn(
        -graft.functions.GraftFunctions.ieeeLn(u)) * lit(1048576.0))
      .cast("long").cast("double") / lit(1048576.0)
    weights.select(col(idCol), col("log_w"),
        (col("log_w") + gumbel).as("sel_key"))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
  }

  /** Weighted sampling WITHOUT replacement, probability proportional to
    * `weightCol` (Efraimidis & Spirakis 2006): each item draws
    * u ~ U(0,1) and the k largest u^(1/w) are the sample — expressed in
    * the log domain as key = ln(u)/w (ln u < 0, so a heavier w pulls the
    * key toward 0 and the item toward selection). This is the one-pass,
    * shuffle-free way to take "200 documents, long ones proportionally
    * more often" off a 100 TB corpus: the draw is a map-side md5 replay
    * (the dsirResample idiom) and the top-k plans as
    * TakeOrderedAndProject — per-partition heads plus a k-row driver
    * merge, never a global sort or a prefix-sum over weights (the
    * textbook cumulative-weight method needs exactly that global scan).
    *
    * Keys are quantized to 2^-20 like the Gumbel draw (no JVM ln
    * matches glibc on every operand; a selection key blurred by 1e-6 is
    * statistically indistinguishable) so both engines rank identical
    * doubles.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
                     k: Int, seed: String = "wsample"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (graft.functions.GraftFunctions.md5Bits(
        concat(lit(seed + ":"), col(idCol).cast("string")), 1, 8)
        .cast("double") + 0.5) / lit(4294967296.0)
    val key = round(graft.functions.GraftFunctions.ieeeLn(u) /
        weightCol.cast("double") * lit(1048576.0))
      .cast("long").cast("double") / lit(1048576.0)
    df.select(col(idCol), weightCol.cast("long").as("w"),
        key.as("sel_key"))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
  }

  /** Leakage-safe train/val/test split: the md5 draw is on the document's
    * near-dup CLUSTER label, not the document id, so every member of a
    * duplicate cluster lands in the SAME split. A per-document draw leaks
    * evaluation data whenever a near-duplicate of a test document sits in
    * train — the contamination path dedup exists to close, reopened at
    * the split boundary. Fractions: train gets 1−valFrac−testFrac of the
    * 16-bit hash space, then val, then test (cluster-weighted, so realized
    * document fractions wobble with cluster sizes — inherent to any
    * group-coherent split).
    *
    * `nearDupPairs` is any (id_a, id_b) pair relation — minhash bands,
    * simhash, embedding near-dups; singletons (no pair) are their own
    * cluster. Cost beyond the pair relation is one componentMinLabels
    * fixpoint (O(log diameter) rounds) plus a broadcast-or-shuffle left
    * join of labels onto docs and a map-side CASE — the same 100 TB shape
    * as cleanCorpus, and the draw itself adds no shuffle.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String,
                       nearDupPairs: DataFrame,
                       valFrac: Double, testFrac: Double): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac < 1,
      "valFrac and testFrac must be non-negative and sum below 1")
    def thresh(r: Double) = f"${(r * 65536).toInt}%04x"
    val labels = Dedup.componentMinLabels(nearDupPairs)
      .select(col("node").as(idCol), col("label"))
    val h = substring(
      md5(concat(lit("split:"), col("cluster").cast("string"))), 1, 4)
    docs
      .join(labels, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("label"), col(idCol)))
      .drop("label")
      .withColumn("split",
        when(h < lit(thresh(1.0 - valFrac - testFrac)), lit("train"))
          .when(h < lit(thresh(1.0 - testFrac)), lit("val"))
          .otherwise(lit("test")))
  }

  /** Bradley–Terry preference-strength ratings (Bradley & Terry 1952)
    * fit by Hunter's MM algorithm (Hunter 2004, "MM algorithms for
    * generalized Bradley-Terry models") — the model behind reward-model
    * eval and arena-style leaderboards: given pairwise outcomes between
    * K players, find strengths pi_i with P(i beats j) = pi_i/(pi_i+pi_j).
    * Update per round: pi_i <- W_i / sum_j n_ij/(pi_i + pi_j).
    *
    * `pairs` has one row per decided comparison with `winnerCol` /
    * `loserCol` (player ids). Returns one row per player:
    * (player, rating, wins, games) with rating the fixed-point strength
    * after `iters` MM rounds, normalized each round to mean 1e6.
    *
    * Exactness: the whole fit is integer arithmetic — each denominator
    * term is (n_ij * 1e12) floor-div (r_i + r_j), summed exactly (term
    * order is irrelevant once each term is an exact integer), the
    * update floor-divides once more, and the per-round normalization is
    * (raw_i * K * 1e6) floor-div sum(raw). Both engines walk identical
    * integers, so the rating table hash-compares. BigInt here, HUGEINT
    * in the DuckDB replay — no overflow on either side at any corpus
    * scale (products stay under 2^90 for n_ij up to 1e12).
    *
    * Scale shape: the heavy work — producing and aggregating the pair
    * outcomes — is distributed (one groupBy over the pair stream); the
    * MM solve touches only the K x K win matrix, a bounded driver model
    * like the k-means centroid loop (guarded at 4096 players /
    * 2^24 matrix cells). Rounds are fixed, not converged, so the
    * output is partitioning- and engine-invariant.
    */
  def btRatings(pairs: DataFrame, winnerCol: String, loserCol: String,
                iters: Int = 12): DataFrame = {
    val spark = pairs.sparkSession
    val m = pairs.groupBy(col(winnerCol).as("w"), col(loserCol).as("l"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.getLong(2)))
    require(m.length <= (1 << 24), s"win matrix too large: ${m.length}")
    val players = m.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    require(players.length <= 4096,
      s"too many players for the bounded solve: ${players.length}")
    val k = BigInt(players.length)
    val scale = BigInt("1000000000000") // 1e12
    val unit = BigInt(1000000)          // 1e6
    val wins = players.map(p =>
      p -> BigInt(m.filter(_._1 == p).map(_._3).sum)).toMap
    // undirected games per unordered pair, stored both directions
    val games = m.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum)
      .toSeq.flatMap { case ((a, b), n) => Seq((a, b, n), (b, a, n)) }
      .groupBy(t => (t._1, t._2)).view.mapValues(v => BigInt(v.map(_._3).sum))
      .toMap
    val byPlayer = games.keys.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSeq.sorted).toMap
    var r = players.map(p => p -> unit).toMap
    (1 to iters).foreach { _ =>
      val raw = players.map { p =>
        val denom = byPlayer(p).map(q =>
          games((p, q)) * scale / (r(p) + r(q))).sum
        p -> (wins(p) * scale / denom).max(BigInt(1))
      }.toMap
      val tot = raw.values.sum
      r = players.map(p =>
        p -> (raw(p) * k * unit / tot).max(BigInt(1))).toMap
    }
    import spark.implicits._
    players.map { p =>
      (p, r(p).toLong, wins(p).toLong,
        byPlayer(p).map(q => games((p, q))).sum.toLong)
    }.toSeq.toDF("player", "rating", "wins", "games")
  }
}
