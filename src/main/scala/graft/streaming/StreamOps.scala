package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType
import java.sql.Timestamp

/** Structured Streaming counterparts of the batch event operators
  * (graft.operators.Events). The reference is batch-only (SURVEY §2.9: no
  * streaming anywhere), so these are engine extensions; StreamingSpec
  * asserts batch/stream equivalence by feeding the same events through a
  * MemoryStream.
  *
  * Scale notes: both ops are the canonical incremental shapes — a
  * watermarked windowed aggregation (state pruned by the watermark; shuffle
  * keyed by (window, type)) and keyed sessionization via
  * flatMapGroupsWithState (state is one (lastTs, sessionIdx) pair per user;
  * processing-time per event is O(log batch) for the in-batch sort).
  */
object StreamOps {

  private val dec = DecimalType(18, 2)

  /** Tumbling 1-hour windows per event type, 2-hour watermark: the
    * streaming form of e_windowed_agg. In append mode a window emits once
    * the watermark passes its end — late events beyond the watermark are
    * dropped, the documented streaming-vs-batch delta.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(dec)).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup on event_id — the at-least-once -> exactly-once
    * repair every event pipeline needs. State holds one key per id seen
    * within the watermark horizon; ids older than the watermark are evicted,
    * which bounds state (the batch analog is Dedup.exact, whose state is
    * unbounded by design).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  /** Continuous vocabulary tracking over a document stream — the
    * Misra-Gries heavy-hitters sketch as STREAMING STATE. The batch
    * f_heavy_hitters takes top tokens off a static corpus; an ingest
    * pipeline wants the same summary maintained incrementally as
    * documents arrive (vocabulary drift, hot-token monitoring) without
    * per-token state. An exact streaming groupBy(token).count() keeps
    * one state row PER DISTINCT TOKEN — unbounded on an open stream;
    * here the whole aggregation state is ONE (k−1)-counter sketch
    * buffer (the Aggregator's TypedImperativeAggregate buffer lives in
    * the state store and merges each micro-batch's map-side partials),
    * so state is O(k) forever while keeping the n/k frequency
    * guarantee over the full stream history. Complete output mode:
    * each trigger re-emits the current top tokens.
    */
  def vocabTracker(docs: DataFrame, textCol: String = "text",
                   k: Int = 20): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.operators.Sketches.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    docs
      .select(explode(graft.llm.TextFeatures.tokens(col(textCol)))
        .as("tok"))
      .agg(mg(col("tok")).as("hitters"))
      .select(explode(col("hitters")).as(Seq("tok", "est")))
  }

  /** Streaming distinct-count tracking — the cardinality twin of
    * vocabTracker: a KMV sketch AS the streaming aggregation state, so
    * the state is O(k) forever regardless of how many distinct values the
    * stream has carried (the exact alternative — streaming
    * count(distinct) — is unsupported precisely because its state is
    * cardinality-sized). Because KMV's union-merge computes exactly the
    * sketch of everything seen, the per-source estimate after N batches
    * equals the batch-mode estimate over the concatenated input — no
    * drift from incremental maintenance (asserted in StreamingSpec).
    */
  def distinctTracker(docs: DataFrame, valueCol: String,
                      strataCol: String = "source",
                      k: Int = 256): DataFrame = {
    val kmv = org.apache.spark.sql.functions.udaf(
      new graft.operators.Sketches.Kmv(k),
      org.apache.spark.sql.Encoders.scalaLong)
    docs
      .select(col(strataCol).as("stratum"),
        graft.functions.GraftFunctions.md5Bits(
          col(valueCol).cast("string"), 1, 15).as("hv"))
      .groupBy(col("stratum"))
      .agg(kmv(col("hv")).as("sk"))
      .select(col("stratum"),
        when(size(col("sk")) < k, size(col("sk")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(col("sk"), k).cast("double")
              / lit(1152921504606846976.0)))
          .as("distinct_est"))
  }

  /** Native session windows: per-user sessions closed by a 30-minute
    * silence, aggregated incrementally (Spark merges adjacent session
    * windows as events arrive; the watermark closes and emits finished
    * sessions and bounds state). The built-in counterpart of the
    * flatMapGroupsWithState sessionization below — use this one when the
    * per-session output is an aggregate; use the custom-state form when
    * every EVENT needs its session id.
    */
  def sessionCounts(events: DataFrame,
                    gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Stream-static enrichment join: each micro-batch joins against the
    * static dim's plan, re-resolved per trigger (so a dim refresh is picked
    * up batch-to-batch) and broadcast by AQE while it fits. Stateless — no
    * watermark, no streaming state — so scale is exactly that of the
    * underlying batch join; the canonical way to dim-enrich an event
    * stream without a shuffle of the stream side when the dim broadcasts.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Watermarked stream-stream inner join: click events joined to the
    * impression that caused them within `within` (attribution — the
    * canonical stream-stream shape). Both sides carry watermarks and the
    * join condition bounds event time on BOTH ends, so Spark can prune
    * buffered state: an impression is dropped once the watermark passes
    * impression_ts + within, a click once its own watermark passes. State
    * is therefore O(events inside the watermark horizon) per key range —
    * bounded at any throughput — instead of unbounded buffering.
    */
  def attributeClicks(impressions: DataFrame, clicks: DataFrame,
                      within: String = "30 minutes"): DataFrame =
    attribution(impressions, clicks, within, "inner")

  /** The OUTER half of attribution: every impression eventually emits —
    * matched rows as soon as the click arrives, UNMATCHED impressions
    * (null click columns) once the watermark passes impression_ts +
    * within, i.e. once no future click can legally match. This is how a
    * streaming pipeline computes click-through: the unmatched emission IS
    * the "no conversion" record, produced exactly once, with state still
    * bounded by the same watermark horizon as the inner join (Spark holds
    * an impression only until its join window is provably closed).
    */
  def attributeClicksOuter(impressions: DataFrame, clicks: DataFrame,
                           within: String = "30 minutes"): DataFrame =
    attribution(impressions, clicks, within, "left_outer")

  private def attribution(impressions: DataFrame, clicks: DataFrame,
                          within: String, joinType: String): DataFrame = {
    val imp = impressions
      .select(col("impression_id"), col("user_id").as("imp_user"),
        col("ts").as("imp_ts"))
      .withWatermark("imp_ts", "1 hour")
    val clk = clicks
      .select(col("click_id"), col("user_id").as("clk_user"),
        col("ts").as("clk_ts"))
      .withWatermark("clk_ts", "1 hour")
    imp.join(clk,
      col("imp_user") === col("clk_user") &&
        col("clk_ts") >= col("imp_ts") &&
        col("clk_ts") <= col("imp_ts") + expr(s"INTERVAL $within"),
      joinType)
  }

  final case class SessionEvent(event_id: Long, user_id: Long, ts: Timestamp)
  final case class SessionAssignment(event_id: Long, user_id: Long,
                                     session_idx: Long)
  final case class SessionState(lastTsMillis: Long, sessionIdx: Long)

  val sessionGapMillis: Long =
    graft.operators.Events.sessionGapMinutes * 60L * 1000L

  /** Per-user stateful sessionization: a >30min silence starts a new
    * session; state carries (last event time, current session index) per
    * user. Events inside one trigger batch are sorted by (ts, event_id)
    * before the state walk, so ordering matches the batch operator's window
    * ORDER BY; with in-order delivery the assignment is identical to
    * e_sessionize (asserted in StreamingSpec).
    */
  def sessionize(events: Dataset[SessionEvent]): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (userId: Long, batch: Iterator[SessionEvent],
         state: GroupState[SessionState]) => {
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = sorted.map { e =>
            val t = e.ts.getTime
            val isNew = st.lastTsMillis == Long.MinValue ||
              t - st.lastTsMillis > sessionGapMillis
            st = SessionState(t, if (isNew) st.sessionIdx + 1 else st.sessionIdx)
            SessionAssignment(e.event_id, userId, st.sessionIdx)
          }
          state.update(st)
          out.iterator
        })
  }

  final case class BeaconEvent(event_id: Long, user_id: Long,
                               event_type: String, ts: Timestamp)
  final case class KeptEvent(event_id: Long, user_id: Long,
                             event_type: String)
  final case class DebounceState(lastKeptMillis: Long)

  /** TRUE stateful debounce: an event is kept iff it arrives more than
    * `windowMillis` after the last KEPT event of its (user, type) — the
    * clock resets only on kept events, which no keyed batch window can
    * express (the batch `e_debounce` measures gaps to the previous RAW
    * event; the two diverge on chains like 0h, 5h, 9h with a 6h window —
    * this keeps {0h, 9h}, the gap form keeps {0h}). State is one long per
    * live (user, type) key; events inside a trigger batch sort by
    * (ts, event_id) before the state walk so replay order is pinned.
    */
  def debounce(events: Dataset[BeaconEvent],
               windowMillis: Long = 21600000L): Dataset[KeptEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: (Long, String), batch: Iterator[BeaconEvent],
         state: GroupState[DebounceState]) => {
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(DebounceState(Long.MinValue))
          val out = sorted.flatMap { e =>
            val t = e.ts.getTime
            if (st.lastKeptMillis == Long.MinValue ||
                t - st.lastKeptMillis > windowMillis) {
              st = DebounceState(t)
              Some(KeptEvent(e.event_id, key._1, key._2))
            } else None
          }
          state.update(st)
          out.iterator
        })
  }

  final case class CohortEvent(user_id: Long, ts: Timestamp)
  final case class CohortEmit(user_id: Long, cohort_day: Long,
                              week_day: Long)
  final case class CohortState(cohortDay: Long, lastWeekDay: Long)

  /** Streaming first-seen cohort tracker — the incremental substrate of
    * the batch `e_retention_weekly` triangle: per user, O(1) state
    * (first-seen week + last emitted activity week), emitting exactly
    * one (user, cohort_week, activity_week) row the first time a user
    * is seen in a new ISO week. Weeks are Monday-aligned epoch days
    * (UTC), matching date_trunc('week') on both engines. With in-order
    * delivery a user's week numbers are non-decreasing, so max-tracking
    * dedupes both inside a trigger batch and across batches; the
    * emitted row set equals the batch (user, week) distinct ⋈ first
    * week relation (StreamingSpec pins it), and the retention triangle
    * is one keyed aggregate over this stream's sink.
    */
  def cohortTracker(events: Dataset[CohortEvent]): Dataset[CohortEmit] = {
    import events.sparkSession.implicits._
    def weekDay(millis: Long): Long = {
      val d = Math.floorDiv(millis, 86400000L)
      d - Math.floorMod(d - 4L, 7L) // 1970-01-05 (epoch day 4) was a Monday
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (userId: Long, batch: Iterator[CohortEvent],
         state: GroupState[CohortState]) => {
          val weeks = batch.map(e => weekDay(e.ts.getTime)).toSeq.sorted
          var st = state.getOption.getOrElse(
            CohortState(Long.MinValue, Long.MinValue))
          val out = weeks.flatMap { w =>
            if (st.cohortDay == Long.MinValue) {
              st = CohortState(w, w)
              Some(CohortEmit(userId, w, w))
            } else if (w > st.lastWeekDay) {
              st = st.copy(lastWeekDay = w)
              Some(CohortEmit(userId, st.cohortDay, w))
            } else None
          }
          state.update(st)
          out.iterator
        })
  }

  final case class DriftReading(key: String, event_id: Long, ts: Timestamp,
                                cents: Long)
  final case class DriftState(sPos: Long, sNeg: Long)
  final case class DriftSignal(key: String, event_id: Long, s_pos: Long,
                               s_neg: Long, alarm: Boolean)

  /** Per-key two-sided CUSUM drift detector — the streaming sequential
    * form of the batch `ts_level_shift` locator (Page 1954). Against a
    * pinned reference level `mu0` and slack `k` (exact cents), each
    * reading updates
    *   s+ := max(0, s+ + (x − mu0 − k));  s− := max(0, s− + (mu0 − x − k))
    * and an alarm fires when either side crosses `h`, after which BOTH
    * sides reset so the detector re-arms — the standard restart rule, and
    * the reason the whole thing is O(1) BIGINT state per key (two
    * accumulators; no window, no history). Readings inside a trigger
    * batch sort by (ts, event_id) before the state walk so a replay
    * produces identical signals, and the emitted sequence equals a
    * sequential fold of the full stream — StreamingSpec pins both.
    * Everything stays in integer cents: no float ever enters the state.
    */
  def cusumDrift(readings: Dataset[DriftReading], mu0: Long,
                 slack: Long = 0L, h: Long): Dataset[DriftSignal] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, batch: Iterator[DriftReading],
         state: GroupState[DriftState]) => {
          val sorted = batch.toSeq.sortBy(r => (r.ts.getTime, r.event_id))
          var st = state.getOption.getOrElse(DriftState(0L, 0L))
          val out = sorted.map { r =>
            val up = math.max(0L, st.sPos + (r.cents - mu0 - slack))
            val dn = math.max(0L, st.sNeg + (mu0 - r.cents - slack))
            val alarm = up > h || dn > h
            st = if (alarm) DriftState(0L, 0L) else DriftState(up, dn)
            DriftSignal(key, r.event_id, up, dn, alarm)
          }
          state.update(st)
          out.iterator
        })
  }

  final case class QuantileSignal(key: String, p: Double, value: Long,
                                  n: Long)

  /** Per-key streaming quantiles over the bounded-state KLL sketch —
    * the stream form of the batch `f_kll_quantile` entry, holding ONE
    * KllBuf per live key (a few hundred longs regardless of stream
    * length: the whole point of the sketch as stream state, where an
    * exact quantile would need the full history). Each trigger folds
    * its readings into the state in pinned (ts, event_id) order and
    * emits the current (p, estimate, n) row per probe, so downstream
    * sees a quantile CURVE evolving per batch. Update output mode —
    * each batch re-emits the key's current readout. StreamingSpec pins
    * small-stream exactness (below the compaction budget the sketch IS
    * the data), cross-batch state carry, and bounded state under a
    * stream far past the budget.
    */
  def quantileTracker(readings: Dataset[DriftReading], k: Int = 64,
                      probes: Seq[Double] = Seq(0.5, 0.95, 0.99))
      : Dataset[QuantileSignal] = {
    import readings.sparkSession.implicits._
    val kll = new graft.operators.Sketches.Kll(k, probes)
    implicit val kllStateEncoder
        : org.apache.spark.sql.Encoder[graft.operators.Sketches.KllBuf] =
      kll.bufferEncoder
    readings
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (key: String, batch: Iterator[DriftReading],
         state: GroupState[graft.operators.Sketches.KllBuf]) => {
          val sorted = batch.toSeq.sortBy(r => (r.ts.getTime, r.event_id))
          val st = sorted.foldLeft(state.getOption.getOrElse(kll.zero)) {
            (b, r) => kll.reduce(b, r.cents)
          }
          state.update(st)
          kll.finish(st).iterator.map { case (p, v, n) =>
            QuantileSignal(key, p, v, n)
          }
        })
  }

  /** Streaming UPSERT sink — the continuous form of the warehouse's
    * incremental merge materialization: every micro-batch merges into a
    * [[graft.olist.TableStore]] table by unique key. Within a batch the
    * LATEST version of each key wins (max (ts, event_id) struct — total
    * order, so the reduction is deterministic under any partitioning);
    * against the store it is the same anti-join + union + crash-safe
    * replace the batch Incremental materialization runs. foreachBatch
    * is at-least-once; the merge is IDEMPOTENT by construction (merging
    * the same batch twice anti-joins away its own first write), so the
    * pipeline is effectively exactly-once — the dedupIngest argument,
    * with keyed upserts instead of partition overwrite. State is the
    * table itself: stop/resume costs nothing, and at scale the per-batch
    * cost is one keyed anti-join against the stored table (partition-
    * prunable when the store is partitioned by a batch-correlated
    * column).
    */
  def mergeSink(updates: DataFrame, store: graft.olist.TableStore,
                table: String, key: String,
                checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val others = batch.columns.filter(_ != key).map(col)
        val latest = batch
          .groupBy(col(key))
          .agg(max(struct(col("ts"), col("event_id"),
            struct(others: _*).as("row"))).as("m"))
          .select(col(key) +: batch.columns.filter(_ != key)
            .map(c => col(s"m.row.$c").as(c)): _*)
        if (!store.exists(table)) store.save(table, latest)
        else {
          val kept = store.load(table)
            .join(latest.select(col(key)).distinct(), Seq(key), "left_anti")
          store.replace(table, kept.unionByName(latest))
        }
      }
      .start()

  /** Continuous corpus ingest with near-dup rejection — the streaming form
    * of [[graft.llm.Dedup.incrementalNearDups]]. Each micro-batch of new
    * documents is (1) deduplicated WITHIN the batch (MinHash pairs →
    * connected components, min-id survivor — the same rule as
    * cleanCorpus), (2) checked against the ALREADY-ACCEPTED corpus via the
    * stored band index (never against corpus text), and (3) split:
    * survivors append to the corpus and their bands to the index; rejected
    * documents go to a rejects audit table as (doc_id, dup_of, jaccard,
    * reason ∈ intra_batch|corpus).
    *
    * State is the PARQUET TABLES, not stream state: the band index is the
    * durable, restart-safe dedup memory (~bands rows per accepted doc), so
    * executor/driver loss costs nothing and the stream can be stopped and
    * resumed freely. All three sinks are partitioned by `ingest_batch`
    * with DYNAMIC partition overwrite, so a batch replayed after a crash
    * REPLACES its own partition instead of double-appending — foreachBatch
    * is at-least-once; idempotent writes make the pipeline effectively
    * exactly-once.
    *
    * At 100 TB of accepted corpus the per-batch cost is O(batch) signature
    * work + one equi-join against the index + exact verify on candidate
    * corpus docs only — the whole point of carrying the index instead of
    * re-signaturing history every trigger.
    */
  /** `minQuality > 0` inserts the cleanCorpus quality gate ahead of the
    * dedup stages (rejected docs audit with reason `quality`), and
    * `redactPii = true` scrubs accepted documents before they are stored —
    * together the full continuous form of the batch cleaning pipeline:
    * filter -> redact -> intra-batch dedup -> corpus dedup -> append.
    */
  def dedupIngest(newDocs: DataFrame,
                  corpusDir: String, indexDir: String, rejectsDir: String,
                  checkpointDir: String,
                  bands: Int = 16, rows: Int = 4,
                  threshold: Double = 0.8,
                  minQuality: Double = 0.0,
                  redactPii: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupIngestBatch(batch, batchId, corpusDir, indexDir, rejectsDir,
          bands, rows, threshold, minQuality, redactPii)
      }
      .start()

  /** One dedupIngest micro-batch, exposed so a spec can invoke it TWICE
    * with the same batchId — the at-least-once retry foreachBatch can
    * deliver — and assert the three sinks end bit-identical to a single
    * invocation (the replay-idempotency contract).
    */
  private[graft] def dedupIngestBatch(
      batch: DataFrame, batchId: Long,
      corpusDir: String, indexDir: String, rejectsDir: String,
      bands: Int, rows: Int, threshold: Double,
      minQuality: Double, redactPii: Boolean): Unit = {
    import graft.llm.{Dedup, TextFeatures}
    {
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(corpusDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val all = batch.select(col("doc_id"),
          (if (redactPii) TextFeatures.redactPii(col("text"))
           else col("text")).as("text"))
        val qualityRejects = all
          .filter(TextFeatures.qualityScore(col("text")) < minQuality)
          .select(col("doc_id"), lit(null).cast("long").as("dup_of"),
            lit(null).cast("double").as("jaccard"),
            lit("quality").as("reason"))
        val b = all
          .filter(TextFeatures.qualityScore(col("text")) >= minQuality)
          .persist()
        try {
          // (1) intra-batch: near-dup components, min-id survives
          val pairs = Dedup.minHashNearDups(b,
            bands = bands, rows = rows, threshold = threshold)
          val labels = Dedup.componentMinLabels(pairs)
          val intraRejects = labels.filter(col("node") =!= col("label"))
            .select(col("node").as("doc_id"), col("label").as("dup_of"),
              lit(null).cast("double").as("jaccard"),
              lit("intra_batch").as("reason"))
          val intraKept = b.join(
            intraRejects.select("doc_id"), Seq("doc_id"), "left_anti")

          // (2) cross-corpus via the stored band index. Replay safety:
          // read ONLY partitions written by EARLIER batches
          // (ingest_batch < batchId) — an at-least-once retry of batch N
          // must not see batch N's own previously-written rows, or every
          // accepted doc would self-match and be rejected as a corpus
          // dup, leaving corpus/index/rejects inconsistent. The predicate
          // is on the partition column, so it prunes, not scans.
          val haveCorpus = fs.exists(new org.apache.hadoop.fs.Path(corpusDir))
          val cross =
            if (!haveCorpus) None
            else {
              val corpus = graft.Tables.parquet(spark, corpusDir)
                .filter(col("ingest_batch") < batchId)
                .select("doc_id", "text")
              val index = graft.Tables.parquet(spark, indexDir)
                .filter(col("ingest_batch") < batchId)
                .select("doc_id", "band", "band_sig")
              Some(Dedup.incrementalNearDups(intraKept, corpus, index,
                bands = bands, rows = rows, threshold = threshold))
            }
          val crossRejects = cross.map(_
            .groupBy(col("new_id").as("doc_id"))
            .agg(min(col("corpus_id")).as("dup_of"),
              max(col("jaccard")).as("jaccard"))
            .withColumn("reason", lit("corpus")))
          val accepted = crossRejects.fold(intraKept)(r =>
            intraKept.join(r.select("doc_id"), Seq("doc_id"), "left_anti"))

          // (3) idempotent partitioned writes: replaying batch N replaces
          // ONLY partition ingest_batch=N (dynamic overwrite)
          def writeBatch(df: DataFrame, dir: String): Unit =
            df.withColumn("ingest_batch", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch").parquet(dir)
          writeBatch(accepted, corpusDir)
          writeBatch(Dedup.bandIndex(accepted,
            bands = bands, rows = rows), indexDir)
          writeBatch(qualityRejects.unionByName(
            crossRejects.fold(intraRejects)(intraRejects.unionByName(_))),
            rejectsDir)
        } finally b.unpersist()
    }
  }

  /** Continuous EMBEDDING ingest with semantic near-dup rejection — the
    * embedding-space twin of [[dedupIngest]] and the streaming form of
    * [[graft.llm.Similarity.incrementalSemanticDedup]]. Each micro-batch
    * of new vectors is (1) deduplicated WITHIN the batch (cosine
    * near-dup pairs → connected components, min-id survivor), (2)
    * checked against the ALREADY-ACCEPTED vector store via the STORED
    * bucket index (never against corpus vectors except candidate rows),
    * and (3) split: survivors append to the store with their bucket
    * rows; rejects audit as (vec_id, dup_of, cos, reason ∈
    * intra_batch|corpus).
    *
    * Same durability discipline as dedupIngest: state is the parquet
    * tables (store + bucket index), not stream state, and all three
    * sinks are partitioned by `ingest_batch` with dynamic overwrite so
    * an at-least-once replay REPLACES its own partition — effectively
    * exactly-once. Per-trigger cost at a 100 TB store: O(batch) plane
    * hashing + one index equi-join + exact cosine on candidates only.
    */
  def embeddingIngest(newVecs: DataFrame,
                      corpusDir: String, indexDir: String,
                      rejectsDir: String, checkpointDir: String,
                      planes: Int = 4, tables: Int = 8,
                      threshold: Double = 0.95, dim: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    newVecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        embeddingIngestBatch(batch, batchId, corpusDir, indexDir,
          rejectsDir, planes, tables, threshold, dim)
      }
      .start()

  /** One embeddingIngest micro-batch — named (like [[dedupIngestBatch]])
    * so the replay-idempotency spec can run the same (batch, batchId)
    * twice and assert store, bucket index, and rejects are unchanged.
    */
  private[graft] def embeddingIngestBatch(
      batch: DataFrame, batchId: Long,
      corpusDir: String, indexDir: String, rejectsDir: String,
      planes: Int, tables: Int, threshold: Double, dim: Int): Unit = {
    import graft.llm.{Dedup, Similarity}
    {
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(corpusDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val b = batch.select(col("vec_id"), col("embedding")).persist()
        try {
          // (1) intra-batch: cosine near-dup components, min-id survives
          val labels = Dedup.componentMinLabels(
            Similarity.cosineNearDups(b, planes = planes, tables = tables,
              threshold = threshold, dim = dim))
          val intraRejects = labels.filter(col("node") =!= col("label"))
            .select(col("node").as("vec_id"), col("label").as("dup_of"),
              lit(null).cast("double").as("cos"),
              lit("intra_batch").as("reason"))
          val intraKept = b.join(
            intraRejects.select("vec_id"), Seq("vec_id"), "left_anti")

          // (2) cross-store via the stored bucket index. Same replay
          // guard as dedupIngest: restrict to partitions from EARLIER
          // batches so a foreachBatch retry of batch N never self-matches
          // against its own already-written rows (partition-pruned).
          val haveCorpus =
            fs.exists(new org.apache.hadoop.fs.Path(corpusDir))
          val crossRejects =
            if (!haveCorpus) None
            else {
              val corpus = graft.Tables.parquet(spark, corpusDir)
                .filter(col("ingest_batch") < batchId)
                .select("vec_id", "embedding")
              val index = graft.Tables.parquet(spark, indexDir)
                .filter(col("ingest_batch") < batchId)
                .select("vid", "table", "bucket")
              Some(Similarity.incrementalSemanticDedup(intraKept, corpus,
                  index, planes = planes, tables = tables,
                  threshold = threshold, dim = dim)
                .select(col("new_id").as("vec_id"), col("dup_of"),
                  col("max_cos").as("cos"), lit("corpus").as("reason")))
            }
          val accepted = crossRejects.fold(intraKept)(r =>
            intraKept.join(r.select("vec_id"), Seq("vec_id"), "left_anti"))

          // (3) idempotent partitioned writes (the dedupIngest recipe)
          def writeBatch(df: DataFrame, dir: String): Unit =
            df.withColumn("ingest_batch", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch").parquet(dir)
          writeBatch(accepted, corpusDir)
          writeBatch(Similarity.lshBuckets(
              accepted.select(col("vec_id").as("vid"),
                col("embedding").cast("array<double>").as("v")),
              planes, tables, dim)
            .select("vid", "table", "bucket"), indexDir)
          writeBatch(crossRejects.fold(intraRejects)(
            intraRejects.unionByName(_)), rejectsDir)
        } finally b.unpersist()
    }
  }
}
