package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream operators over the `events` table — the batch forms of the
  * shapes a clickstream/telemetry pipeline needs (their incremental
  * Structured Streaming counterparts live in graft.streaming and are
  * equivalence-tested against these in StreamingSpec).
  *
  * Scale notes: every op keys its shuffle by (user_id) or (window bucket) —
  * high-cardinality, uniform keys. Sessionization is the classic
  * lag + running-sum pair of windows over the same (user_id, ts) ordering,
  * so Spark plans ONE shuffle + sort and evaluates both window functions on
  * the same sorted runs.
  */
object Events {

  private val dec = DecimalType(18, 2)

  /** 30-minute inactivity gap closes a session. */
  val sessionGapMinutes = 30

  val ops: Seq[Op] = Seq(

    // Tumbling 1-hour windows per event type: the canonical streaming
    // aggregation, batch form. Money-style sum follows the decimal-domain /
    // double-presentation rule from Relational.scala.
    // window_start is epoch seconds (BIGINT): integer output is the only
    // timestamp representation that hashes identically across engines
    // (Spark writes micros parquet, DuckDB computes nanos timestamps).
    Op("e_windowed_agg",
       """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
         |       event_type,
         |       count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(dec)).cast("double").as("total_value"))
    },

    // HOPPING (sliding) windows — 1-hour windows advancing every 15
    // minutes via Spark's native window() TVF, the smoothed-trend
    // reading of e_windowed_agg's tumbling hours (each event lands in
    // exactly 3600/900 = 4 overlapping windows). The fan-out is
    // MAP-SIDE (window() explodes before the shuffle, so the aggregate
    // still partial-aggregates per window); the oracle replays Spark's
    // epoch-aligned window arithmetic as an explicit k = 0..3 unnest.
    Op("e_hopping_window",
       """SELECT ws AS window_start, event_type,
         |       count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         |         AS total_value
         |FROM (
         |  SELECT (epoch_us(ts) // 900000000) * 900 - k * 900 AS ws,
         |         event_type, value
         |  FROM events, unnest(range(0, 4)) t(k))
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(dec)).cast("double").as("total_value"))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          col("event_type"), col("n_events"), col("total_value"))
    },

    // Sessionization: a new session starts after a >30min silence; the
    // session index is the running count of session starts per user.
    Op("e_sessionize",
       s"""SELECT event_id, user_id, session_idx FROM (
          |  SELECT event_id, user_id,
          |         CAST(sum(is_new) OVER (PARTITION BY user_id
          |           ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |           AS session_idx
          |  FROM (
          |    SELECT event_id, user_id, ts,
          |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |             IS NULL THEN 1
          |           WHEN date_diff('second',
          |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
          |             ts) > ${sessionGapMinutes * 60} THEN 1
          |           ELSE 0 END AS is_new
          |    FROM events))""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val running = byUser
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prevTs = lag(col("ts"), 1).over(byUser)
      val isNew = when(prevTs.isNull, 1)
        .when(unix_timestamp(col("ts")) - unix_timestamp(prevTs) >
          sessionGapMinutes * 60, 1)
        .otherwise(0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          isNew.as("is_new"))
        .select(col("event_id"), col("user_id"),
          sum(col("is_new")).over(running).as("session_idx"))
    },

    // First-order Markov transition matrix over the event stream: count
    // and normalize (from_type -> to_type) steps per user timeline — the
    // next-event model behind journey analysis and anomaly scoring. One
    // keyed window on user_id (the sessionize shuffle shape), then an
    // aggregate over the BOUNDED type-pair space; the per-row probability
    // is one exact integer division, and the normalizing window runs over
    // at most |types| partitions of |types| rows.
    Op("e_transition_matrix",
       """WITH steps AS (
         |  SELECT event_type AS from_type,
         |         lead(event_type) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS to_type
         |  FROM events)
         |SELECT from_type, to_type, count(*) AS n,
         |       CAST(count(*) AS DOUBLE) /
         |         CAST(sum(count(*)) OVER (PARTITION BY from_type)
         |              AS BIGINT) AS p
         |FROM steps WHERE to_type IS NOT NULL
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(byUser).as("to_type"))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
    },

    // Stationary distribution of the event-type Markov chain — where
    // does a user's behavior settle if the observed transition matrix
    // keeps acting? 10 synchronous power-iteration rounds in the
    // PageRank integer protocol: transition probabilities are 2^20
    // fixed point (n_ij * 2^20 div row_total, bounded by 2^20 so
    // pi * p never leaves 2^60 at ANY corpus size), mass at 2^40, one
    // truncating div per edge per round. The corpus-sized work is the
    // transition count (one window + one keyed agg); the |T|^2 <= 25
    // chain itself is driver-bounded state (the Lloyd's/QualityModel
    // precedent), and the oracle replays every round as a recursive
    // CTE. States that lose all incoming mass drop out — mirrored
    // exactly on both engines.
    Op("e_markov_stationary",
       """WITH RECURSIVE steps AS (
         |  SELECT event_type AS f,
         |         lead(event_type) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS t
         |  FROM events),
         |pairs AS (
         |  SELECT f, t, CAST(count(*) AS BIGINT) AS n
         |  FROM steps WHERE t IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT f, CAST(sum(n) AS BIGINT) AS r FROM pairs GROUP BY 1),
         |e AS (
         |  SELECT pairs.f, pairs.t, pairs.n * 1048576 // rt.r AS pfx
         |  FROM pairs JOIN rt USING (f)),
         |states AS (
         |  SELECT DISTINCT st FROM (
         |    SELECT f AS st FROM pairs UNION ALL SELECT t FROM pairs)),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS c FROM states),
         |it(iter, st, pi) AS (
         |  SELECT 0, st, 1099511627776 // c FROM states, ns
         |  UNION ALL
         |  SELECT iter + 1, e.t,
         |         CAST(sum((it.pi * e.pfx) // 1048576) AS BIGINT)
         |  FROM it JOIN e ON e.f = it.st
         |  WHERE iter < 10 GROUP BY 1, 2)
         |SELECT st AS state, pi AS pi_fx,
         |       CAST(pi AS DOUBLE) / 1099511627776.0 AS pi
         |FROM it WHERE iter = 10""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("event_type").as("f"),
          lead(col("event_type"), 1).over(byUser).as("t"))
        .filter(col("t").isNotNull)
        .groupBy(col("f"), col("t"))
        .agg(count(lit(1)).as("n"))
      val rt = pairs.groupBy(col("f")).agg(sum(col("n")).as("r"))
      // |event types|^2-bounded collect — the chain is driver state by
      // construction; the corpus never leaves the cluster
      val edges = pairs.join(rt, Seq("f"))
        .select(col("f"), col("t"), expr("n * 1048576 div r").as("pfx"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val states = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val scale = 1099511627776L // 2^40
      var pi: Map[String, Long] = states.map(_ -> scale / states.length).toMap
      for (_ <- 1 to 10) {
        pi = edges.groupBy(_._2).map { case (to, es) =>
          to -> es.map { case (from, _, pfx) =>
            pi.getOrElse(from, 0L) * pfx / 1048576L
          }.sum
        }
      }
      import s.implicits._
      pi.toSeq.sortBy(_._1)
        .map { case (st, p) => (st, p, p.toDouble / 1099511627776.0) }
        .toDF("state", "pi_fx", "pi")
    },

    // Semi-structured access: extract a JSON field from the props column
    // and bucket by it — the schema-on-read shape every event pipeline has.
    Op("e_json_extract",
       """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
         |       count(*) AS n
         |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy((get_json_object(col("props"), "$.k").cast("long") % 10)
          .as("k_bucket"))
        .agg(count(lit(1)).as("n"))
    },

    // Semi-structured extraction through Spark 4's VARIANT type — the
    // engine-native path a Snowflake-style warehouse uses for JSON
    // columns (parse once into the binary variant encoding, then typed
    // `variant_get` access; the reference's platform calls this VARIANT
    // too). Same answers as the string-path e_json_extract, exercised
    // here as typed longs plus the missing-path contract: a '$.absent'
    // extraction is NULL on every row, counted to prove it. At 100 TB
    // the variant parse happens once per row in the scan projection and
    // every downstream field access is an O(path) binary probe — no
    // re-tokenizing per field the way repeated get_json_object calls do.
    Op("e_variant_extract",
       """SELECT event_type,
         |       CAST(count(k) AS BIGINT) AS n_k,
         |       CAST(sum(k) AS BIGINT) AS sum_k,
         |       CAST(min(k) AS BIGINT) AS min_k,
         |       CAST(max(k) AS BIGINT) AS max_k,
         |       CAST(count(missing) AS BIGINT) AS n_missing
         |FROM (SELECT event_type,
         |             CAST(json_extract_string(props, '$.k') AS BIGINT)
         |               AS k,
         |             CAST(json_extract_string(props, '$.absent')
         |                  AS BIGINT) AS missing
         |      FROM events)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
          expr("try_variant_get(parse_json(props), '$.absent', 'long')")
            .as("missing"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          count(col("missing")).as("n_missing"))
    },

    // Ordered funnel: users whose first view precedes their first click,
    // which precedes their first purchase. One pivot-style conditional-min
    // aggregate per user — a single shuffle, no joins, no windows.
    Op("e_funnel",
       """SELECT count(*) AS n_converted FROM (
         |  SELECT user_id,
         |         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         |         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
         |  FROM events GROUP BY user_id)
         |WHERE t_view < t_click AND t_click < t_purchase""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        .filter(col("t_view") < col("t_click") &&
          col("t_click") < col("t_purchase"))
        .agg(count(lit(1)).as("n_converted"))
    },

    // Top-10 full conversion paths: each converting user's complete
    // event-type sequence STRICTLY BEFORE their first purchase,
    // ranked by how many users share it — the journey readout
    // e_top_paths' fixed 3-step windows can't give (a path here is the
    // whole pre-conversion history). Order inside a path is the total
    // (ts, event_id) order so timestamp ties cannot flip two engines'
    // concatenations. One conditional-min aggregate finds first
    // purchases, one keyed join+filter scopes the history, one
    // collect-sort-join builds each user's path string (bounded by the
    // per-user event count — journey, not corpus, sized), and the
    // top-k is TakeOrderedAndProject with the path as tiebreak.
    Op("e_conversion_paths",
       """WITH fp AS (
         |  SELECT user_id, min(ts) AS fp
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |pre AS (
         |  SELECT e.user_id, e.ts, e.event_id, e.event_type
         |  FROM events e JOIN fp USING (user_id) WHERE e.ts < fp.fp),
         |paths AS (
         |  SELECT user_id,
         |         string_agg(event_type, '>' ORDER BY ts, event_id)
         |           AS path
         |  FROM pre GROUP BY 1)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_users
         |FROM paths GROUP BY 1
         |ORDER BY n_users DESC, path LIMIT 10""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fp"))
      ev.join(fp, "user_id").filter(col("ts") < col("fp"))
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          e => e.getField("event_type")), ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path").asc)
        .limit(10)
    },

    // Top-20 three-step event paths across all user timelines — the
    // sequence-mining primitive behind journey dashboards ("what do
    // users do around an error?"). Two leads on the sessionize window
    // shape (one shuffle, one sorted run per user), then an aggregate
    // over the |types|^3-bounded path space; the top-k is
    // TakeOrderedAndProject with a full lexical tiebreak, so the cutoff
    // set is deterministic under count ties.
    Op("e_top_paths",
       """WITH steps AS (
         |  SELECT event_type AS t1,
         |         lead(event_type, 1) OVER w AS t2,
         |         lead(event_type, 2) OVER w AS t3
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT t1, t2, t3, count(*) AS n
         |FROM steps WHERE t3 IS NOT NULL
         |GROUP BY 1, 2, 3
         |QUALIFY row_number() OVER (ORDER BY n DESC, t1, t2, t3) <= 20""".stripMargin) {
      (s, d) =>
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_type").as("t1"),
            lead(col("event_type"), 1).over(byUser).as("t2"),
            lead(col("event_type"), 2).over(byUser).as("t3"))
          .filter(col("t3").isNotNull)
          .groupBy(col("t1"), col("t2"), col("t3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
          .limit(20)
    },

    // Windowed conversion funnel: viewers whose first purchase AFTER
    // their first view lands within 7 days — the time-bounded form of
    // e_funnel (real funnels expire). Epoch-second integers everywhere;
    // the viewer base and the conversion set are two keyed aggregates
    // plus one broadcast-scalar attach.
    Op("e_funnel_windowed",
       """WITH tv AS (
         |  SELECT user_id, CAST(min(epoch(ts)) AS BIGINT) AS t_view
         |  FROM events WHERE event_type = 'view' GROUP BY 1),
         |conv AS (
         |  SELECT t.user_id, t.t_view,
         |         min(CAST(epoch(e.ts) AS BIGINT)) AS t_conv
         |  FROM tv t JOIN events e ON e.user_id = t.user_id
         |  WHERE e.event_type = 'purchase'
         |    AND CAST(epoch(e.ts) AS BIGINT) > t.t_view
         |  GROUP BY 1, 2)
         |SELECT (SELECT count(*) FROM tv) AS n_viewers,
         |       count(*) FILTER (t_conv - t_view <= 604800)
         |         AS n_converted_7d
         |FROM conv""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val tv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(unix_timestamp(col("ts"))).as("t_view"))
      val nViewers = tv.agg(count(lit(1)).as("n_viewers"))
      val conv = tv
        .join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), unix_timestamp(col("ts")).as("tp")),
          "user_id")
        .filter(col("tp") > col("t_view"))
        .groupBy(col("user_id"), col("t_view"))
        .agg(min(col("tp")).as("t_conv"))
      conv.agg(sum(when(col("t_conv") - col("t_view") <= 604800L, 1L)
          .otherwise(0L)).as("n_converted_7d"))
        .crossJoin(broadcast(nViewers))
        .select(col("n_viewers"), col("n_converted_7d"))
    },

    // Run-length encoding of each user's event stream: consecutive
    // same-type runs (the repetition/liveness signal — "how long do
    // error bursts last?"). The run flag is lag-based on the sessionize
    // window shape; per-type run census output is |types| rows.
    Op("e_event_runs",
       """WITH flagged AS (
         |  SELECT event_type, user_id, ts, event_id,
         |         CASE WHEN event_type IS DISTINCT FROM
         |              lag(event_type) OVER (PARTITION BY user_id
         |                ORDER BY ts, event_id)
         |         THEN 1 ELSE 0 END AS new_run
         |  FROM events),
         |runid AS (
         |  SELECT event_type, user_id,
         |         CAST(sum(new_run) OVER (PARTITION BY user_id
         |              ORDER BY ts, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS rid
         |  FROM flagged),
         |runs AS (
         |  SELECT event_type, count(*) AS len
         |  FROM runid GROUP BY event_type, user_id, rid)
         |SELECT event_type, count(*) AS n_runs, max(len) AS max_run,
         |       CAST(sum(len) AS BIGINT) AS n_events
         |FROM runs GROUP BY 1""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val running = byUser
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val newRun = when(not(col("event_type") <=>
        lag(col("event_type"), 1).over(byUser)), 1).otherwise(0)
      Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("ts"),
          col("event_id"))
        .withColumn("new_run", newRun)
        .select(col("event_type"), col("user_id"),
          sum(col("new_run")).over(running).as("rid"))
        .groupBy(col("event_type"), col("user_id"), col("rid"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_runs"), max(col("len")).as("max_run"),
          sum(col("len")).as("n_events"))
    },

    // Two-proportion A/B read-out: users split by id parity, conversion
    // = more purchases than clicks (scale-free, so both sf gates split).
    // The pooled z^2 statistic is assembled from INTEGER cross-products
    // — (c0*n1 - c1*n0)^2 * (n0+n1) over n0*n1*(c0+c1)*(n-c...) — with
    // exactly one double division, so the test statistic itself
    // hash-compares. One keyed aggregate + a 4-value pivot.
    // Welch's unequal-variance t-test on CONTINUOUS per-user spend
    // between the two md5-free cohorts (user_id parity) — the
    // value-metric companion to e_ab_test's two-proportion z. Group
    // moments (n, sum, sum-of-squares) are exact BIGINT cents; the
    // statistic and Welch-Satterthwaite df are pinned-order +,-,*,/ and
    // sqrt — every one correctly rounded IEEE-754, so unlike anything
    // ln-shaped the doubles hash-compare with no quantization. Variance
    // is the centered form (Q*n - S^2)/(n*(n-1)) evaluated in double
    // AFTER the integer moments, never a per-row float sum (those are
    // partitioning-dependent).
    Op("e_ab_welch",
       s"""WITH u AS (
         |  SELECT user_id, user_id % 2 AS variant,
         |         ${Timeseries.centsSql} AS cents
         |  FROM events GROUP BY 1, 2),
         |g AS (
         |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(cents) AS BIGINT) AS s,
         |         CAST(sum(cents * cents) AS BIGINT) AS q
         |  FROM u GROUP BY 1),
         |w AS (
         |  SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
         |         max(CASE WHEN variant = 0 THEN s END) AS s0,
         |         max(CASE WHEN variant = 0 THEN q END) AS q0,
         |         max(CASE WHEN variant = 1 THEN n END) AS n1,
         |         max(CASE WHEN variant = 1 THEN s END) AS s1,
         |         max(CASE WHEN variant = 1 THEN q END) AS q1
         |  FROM g),
         |v AS (
         |  SELECT n0, s0, n1, s1,
         |         (CAST(q0 AS DOUBLE) * CAST(n0 AS DOUBLE)
         |          - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
         |         / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
         |            * (CAST(n0 AS DOUBLE) - 1.0)) AS vm0,
         |         (CAST(q1 AS DOUBLE) * CAST(n1 AS DOUBLE)
         |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         |         / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
         |            * (CAST(n1 AS DOUBLE) - 1.0)) AS vm1
         |  FROM w)
         |SELECT n0, n1,
         |       (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
         |        - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         |       / sqrt(vm0 + vm1) AS t_stat,
         |       (vm0 + vm1) * (vm0 + vm1)
         |       / (vm0 * vm0 / (CAST(n0 AS DOUBLE) - 1.0)
         |          + vm1 * vm1 / (CAST(n1 AS DOUBLE) - 1.0)) AS df
         |FROM v""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
        .agg(sum(col("value").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      val g = u.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("cents") * col("cents")).as("q"))
      val w = g.agg(
        max(when(col("variant") === 0, col("n"))).as("n0"),
        max(when(col("variant") === 0, col("s"))).as("s0"),
        max(when(col("variant") === 0, col("q"))).as("q0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 1, col("s"))).as("s1"),
        max(when(col("variant") === 1, col("q"))).as("q1"))
      def vm(n: String, ss: String, q: String) =
        (col(q).cast("double") * col(n).cast("double") -
          col(ss).cast("double") * col(ss).cast("double")) /
          (col(n).cast("double") * col(n).cast("double") *
            (col(n).cast("double") - 1.0))
      val v = w.select(col("n0"), col("s0"), col("n1"), col("s1"),
        vm("n0", "s0", "q0").as("vm0"), vm("n1", "s1", "q1").as("vm1"))
      v.select(col("n0"), col("n1"),
        ((col("s0").cast("double") / col("n0").cast("double") -
          col("s1").cast("double") / col("n1").cast("double")) /
          sqrt(col("vm0") + col("vm1"))).as("t_stat"),
        ((col("vm0") + col("vm1")) * (col("vm0") + col("vm1")) /
          (col("vm0") * col("vm0") / (col("n0").cast("double") - 1.0) +
            col("vm1") * col("vm1") / (col("n1").cast("double") - 1.0)))
          .as("df"))
    },

    Op("e_ab_test",
       """WITH u AS (
         |  SELECT user_id, user_id % 2 AS variant,
         |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
         |                           THEN 1 ELSE 0 END)
         |              > sum(CASE WHEN event_type = 'click'
         |                         THEN 1 ELSE 0 END)
         |         THEN 1 ELSE 0 END AS conv
         |  FROM events GROUP BY 1, 2),
         |v AS (
         |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(conv) AS BIGINT) AS c
         |  FROM u GROUP BY 1),
         |w AS (
         |  SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
         |         max(CASE WHEN variant = 0 THEN c END) AS c0,
         |         max(CASE WHEN variant = 1 THEN n END) AS n1,
         |         max(CASE WHEN variant = 1 THEN c END) AS c1
         |  FROM v)
         |SELECT n0, c0, n1, c1,
         |       CAST((c0 * n1 - c1 * n0) * (c0 * n1 - c1 * n0)
         |            * (n0 + n1) AS DOUBLE)
         |         / CAST(n0 * n1 * (c0 + c1) * (n0 + n1 - c0 - c1)
         |                AS DOUBLE) AS z2
         |FROM w""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
        .agg(when(
          sum(when(col("event_type") === "purchase", 1).otherwise(0)) >
            sum(when(col("event_type") === "click", 1).otherwise(0)),
          1).otherwise(0).as("conv"))
      val v = u.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val w = v.agg(
        max(when(col("variant") === 0, col("n"))).as("n0"),
        max(when(col("variant") === 0, col("c"))).as("c0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 1, col("c"))).as("c1"))
      val dev = col("c0") * col("n1") - col("c1") * col("n0")
      w.select(col("n0"), col("c0"), col("n1"), col("c1"),
        ((dev * dev * (col("n0") + col("n1"))).cast("double") /
          (col("n0") * col("n1") * (col("c0") + col("c1")) *
            (col("n0") + col("n1") - col("c0") - col("c1")))
            .cast("double")).as("z2"))
    },

    // Per-session aggregates on top of the sessionize assignment:
    // length, wall duration, conversion flag — the session-level fact
    // table a product-analytics warehouse materializes. Reuses the one
    // (user, ts) sorted window pass; the session aggregate is keyed by
    // (user, session) — no second sort.
    Op("e_session_stats",
       """WITH s AS (
         |  SELECT event_id, user_id, ts, event_type,
         |         CAST(sum(CASE WHEN prev IS NULL OR
         |                  date_diff('second', prev, ts) > 1800
         |                  THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS session_idx
         |  FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id
         |                                ORDER BY ts, event_id) AS prev
         |        FROM events))
         |SELECT user_id, session_idx, count(*) AS n_events,
         |       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
         |         AS duration_s,
         |       CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
         |                END) AS BIGINT) AS converted
         |FROM s GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val running = byUser
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prevTs = lag(col("ts"), 1).over(byUser)
      val isNew = when(prevTs.isNull, 1)
        .when(unix_timestamp(col("ts")) - unix_timestamp(prevTs) >
          sessionGapMinutes * 60, 1).otherwise(0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), isNew.as("is_new"))
        .select(col("user_id"), col("ts"), col("event_type"),
          sum(col("is_new")).over(running).as("session_idx"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts"))) -
            unix_timestamp(min(col("ts")))).as("duration_s"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
    },

    // Gap-based debounce: drop an event arriving within 6 hours of the
    // PREVIOUS event of the same (user, type) — the telemetry throttle
    // (duplicate beacon suppression), expressed as the sessionize lag
    // shape with exact microsecond gaps. Suppression chains extend
    // (gap measures to the previous RAW event, as in gap-based
    // sessionization, not to the last kept one — the latter is a
    // sequential scan no keyed window expresses).
    Op("e_debounce",
       """SELECT user_id, event_type, event_id FROM (
         |  SELECT user_id, event_type, event_id,
         |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |           PARTITION BY user_id, event_type
         |           ORDER BY ts, event_id) AS gap
         |  FROM events) WHERE gap IS NULL OR gap > 21600000000""".stripMargin) {
      (s, d) =>
        val byKey = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            (unix_micros(col("ts")) -
              lag(unix_micros(col("ts")), 1).over(byKey)).as("gap"))
          .filter(col("gap").isNull || col("gap") > 21600000000L)
          .drop("gap")
    },

    // Sequential-pattern support census (the GSP/PrefixSpan counting
    // primitive, Srikant & Agrawal 1996): for EVERY ordered type triple
    // (t1, t2, t3), how many users' timelines contain some t1 event,
    // then a LATER t2 event, then a LATER t3 event — gaps allowed,
    // strict timestamp order. Unlike e_top_paths (contiguous windows)
    // this is subsequence containment, the support notion sequence
    // miners actually use.
    //
    // The scalable reduction instead of a per-user triple self-join:
    // a triple is contained iff the earliest t2 event AFTER the user's
    // first t1 (call it t_ab) is itself before the user's LAST t3 —
    // so support needs only (first, last) per (user, type) plus one
    // conditional-min join of the event stream against the firsts.
    // Everything is events x |types| rows at worst (linear in the
    // corpus, |types| is an enum), keyed joins and aggs only; the
    // quadratic witness search never materializes. The oracle replays
    // the same reduction; correctness of the reduction itself (vs a
    // brute exists-ordered-triple scan) is EventsSpec's job.
    Op("e_seq_patterns",
       """WITH f AS (
         |  SELECT user_id, event_type AS a, min(ts) AS first_ts
         |  FROM events GROUP BY 1, 2),
         |l AS (
         |  SELECT user_id, event_type AS c, max(ts) AS last_ts
         |  FROM events GROUP BY 1, 2),
         |tab AS (
         |  SELECT e.user_id, f.a, e.event_type AS b, min(e.ts) AS t_ab
         |  FROM events e JOIN f
         |    ON f.user_id = e.user_id AND e.ts > f.first_ts
         |  GROUP BY 1, 2, 3)
         |SELECT tab.a AS t1, tab.b AS t2, l.c AS t3,
         |       CAST(count(*) AS BIGINT) AS n_users
         |FROM tab JOIN l
         |  ON l.user_id = tab.user_id AND l.last_ts > tab.t_ab
         |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
      val firsts = ev.groupBy(col("user_id"), col("event_type").as("a"))
        .agg(min(col("ts")).as("first_ts"))
      val lasts = ev.groupBy(col("user_id"), col("event_type").as("c"))
        .agg(max(col("ts")).as("last_ts"))
      val tab = ev.join(firsts, Seq("user_id"))
        .filter(col("ts") > col("first_ts"))
        .groupBy(col("user_id"), col("a"), col("event_type").as("b"))
        .agg(min(col("ts")).as("t_ab"))
      tab.join(lasts, Seq("user_id"))
        .filter(col("last_ts") > col("t_ab"))
        .groupBy(col("a").as("t1"), col("b").as("t2"), col("c").as("t3"))
        .agg(count(lit(1)).as("n_users"))
    },

    // Linear multi-touch attribution: every purchase splits one unit of
    // credit EQUALLY over the same user's view/click touches in the 7
    // days before it, and credit rolls up per touch type — the
    // marketing-analytics counterpart of the funnel ops. Credit is kept
    // INTEGER as parts-per-million with truncating division (1000000
    // div n per touch; the sub-ppm remainder is deliberately dropped,
    // identically on both engines — a float 1/n share never
    // hash-compares). Touch count per purchase n is also emitted via
    // the purchase-side totals so the truncation is auditable.
    //
    // Scale shape: one interval join keyed on user_id (touches x
    // purchases only ever meet within a user and a 7-day window — the
    // same bounded fanout as e_funnel_windowed), one count per
    // purchase, one broadcast-back of n, then a map-side div and a
    // |types|-bounded rollup.
    Op("e_attribution_linear",
       """WITH p AS (
         |  SELECT user_id, event_id AS pid, epoch_us(ts) AS tp
         |  FROM events WHERE event_type = 'purchase'),
         |t AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS tt
         |  FROM events WHERE event_type IN ('view', 'click')),
         |touches AS (
         |  SELECT p.pid, t.event_type
         |  FROM p JOIN t ON t.user_id = p.user_id
         |    AND t.tt < p.tp AND p.tp - t.tt <= 604800000000),
         |n AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_touch
         |      FROM touches GROUP BY 1)
         |SELECT touches.event_type,
         |       CAST(count(*) AS BIGINT) AS n_credited,
         |       CAST(sum(1000000 // n.n_touch) AS BIGINT) AS credit_ppm
         |FROM touches JOIN n USING (pid)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          unix_micros(col("ts")).as("tp"))
      val t = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tt"))
      val touches = p.join(t, Seq("user_id"))
        .filter(col("tt") < col("tp") &&
          col("tp") - col("tt") <= 604800000000L)
        .select(col("pid"), col("event_type"))
      val n = touches.groupBy(col("pid"))
        .agg(count(lit(1)).as("n_touch"))
      touches.join(n, Seq("pid"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_credited"),
          sum(expr("1000000 div n_touch")).as("credit_ppm"))
    },

    // Markov removal-effect attribution (Anderl et al. 2014 "Mapping the
    // customer journey" — THE data-driven attribution model): user
    // timelines become journeys (a purchase closes one), journeys become
    // a first-order chain START -> touches -> CONV/NULL, and a channel's
    // credit is its REMOVAL EFFECT — how much absorbed conversion mass
    // disappears when every transition into that channel is redirected
    // to the NULL absorber. Everything is the e_markov_stationary
    // integer protocol: transition probabilities at 2^20 fixed point,
    // mass at 2^40, 30 synchronous rounds with truncating division, and
    // absorbing states carried by explicit 2^20 self-loops so each round
    // is a pure matrix multiply (ONE reference to the recursive table —
    // what makes the oracle expressible). Removal effects and shares are
    // each a single float division of exact integers at the very end.
    //
    // Scale shape: the corpus-sized work is journey segmentation (one
    // running-count window), step extraction (one lead window), and the
    // |T|^2-bounded pair count — the sessionize shuffle shape. The
    // chain itself (<= 7 states here) is driver-bounded state, and the
    // K+1 removal variants iterate over that driver copy; the corpus is
    // read ONCE for all variants.
    Op("e_attribution_markov",
       """WITH RECURSIVE seq AS (
         |  SELECT user_id, event_id, ts, event_type,
         |         coalesce(sum(CASE WHEN event_type = 'purchase'
         |                           THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING
         |                   AND 1 PRECEDING), 0) AS j
         |  FROM events),
         |steps AS (
         |  SELECT event_type AS f,
         |         lead(event_type) OVER (PARTITION BY user_id, j
         |           ORDER BY ts, event_id) AS t,
         |         row_number() OVER (PARTITION BY user_id, j
         |           ORDER BY ts, event_id) AS rn
         |  FROM seq),
         |trans AS (
         |  SELECT f,
         |         CASE WHEN t = 'purchase' THEN 'CONV'
         |              WHEN t IS NULL THEN 'NULL' ELSE t END AS t
         |  FROM steps WHERE f <> 'purchase'
         |  UNION ALL
         |  SELECT 'START',
         |         CASE WHEN f = 'purchase' THEN 'CONV' ELSE f END
         |  FROM steps WHERE rn = 1),
         |pairs AS (
         |  SELECT f, t, CAST(count(*) AS BIGINT) AS n
         |  FROM trans GROUP BY 1, 2),
         |rt AS (SELECT f, CAST(sum(n) AS BIGINT) AS r FROM pairs GROUP BY 1),
         |e AS (
         |  SELECT pairs.f, pairs.t, pairs.n * 1048576 // rt.r AS pfx
         |  FROM pairs JOIN rt USING (f)
         |  UNION ALL SELECT 'CONV', 'CONV', 1048576
         |  UNION ALL SELECT 'NULL', 'NULL', 1048576),
         |channels AS (
         |  SELECT DISTINCT f AS ch FROM pairs WHERE f <> 'START'),
         |vars AS (
         |  SELECT 'FULL' AS removed UNION ALL SELECT ch FROM channels),
         |ev AS (
         |  SELECT v.removed, e.f,
         |         CASE WHEN e.t = v.removed THEN 'NULL' ELSE e.t END AS t,
         |         e.pfx
         |  FROM e, vars v WHERE e.f <> v.removed),
         |ab(removed, iter, st, m) AS (
         |  SELECT removed, 0, 'START', CAST(1099511627776 AS BIGINT)
         |  FROM vars
         |  UNION ALL
         |  SELECT ab.removed, ab.iter + 1, ev.t,
         |         CAST(sum((ab.m * ev.pfx) // 1048576) AS BIGINT)
         |  FROM ab JOIN ev ON ev.removed = ab.removed AND ev.f = ab.st
         |  WHERE ab.iter < 30
         |  GROUP BY 1, 2, 3),
         |p AS (
         |  SELECT removed, CAST(sum(m) AS BIGINT) AS pconv
         |  FROM ab WHERE iter = 30 AND st = 'CONV' GROUP BY 1),
         |pf AS (SELECT pconv AS pfull FROM p WHERE removed = 'FULL'),
         |rem AS (
         |  SELECT p.removed AS channel, pf.pfull, p.pconv,
         |         pf.pfull - p.pconv AS re_num
         |  FROM p, pf WHERE p.removed <> 'FULL'),
         |tot AS (SELECT CAST(sum(re_num) AS BIGINT) AS t FROM rem)
         |SELECT channel, pfull AS p_full_fx, pconv AS p_removed_fx,
         |       CAST(re_num AS DOUBLE) / pfull AS removal_effect,
         |       CAST(re_num AS DOUBLE) / tot.t AS share
         |FROM rem, tot""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val byJourney = Window.partitionBy(col("user_id"), col("j"))
        .orderBy(col("ts"), col("event_id"))
      val seq = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"),
          coalesce(sum(when(col("event_type") === "purchase", 1)
              .otherwise(0))
            .over(byUser.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0)).as("j"))
      val steps = seq.select(col("event_type").as("f"),
        lead(col("event_type"), 1).over(byJourney).as("t"),
        row_number().over(byJourney).as("rn"))
      val trans = steps.filter(col("f") =!= "purchase")
        .select(col("f"),
          when(col("t") === "purchase", "CONV")
            .when(col("t").isNull, "NULL").otherwise(col("t")).as("t"))
        .unionByName(steps.filter(col("rn") === 1)
          .select(lit("START").as("f"),
            when(col("f") === "purchase", "CONV").otherwise(col("f"))
              .as("t")))
      val pairs = trans.groupBy(col("f"), col("t"))
        .agg(count(lit(1)).as("n"))
      val rt = pairs.groupBy(col("f")).agg(sum(col("n")).as("r"))
      // |states|^2-bounded collect — the chain is driver state by
      // construction (the e_markov_stationary precedent)
      val edges = pairs.join(rt, Seq("f"))
        .select(col("f"), col("t"), expr("n * 1048576 div r").as("pfx"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq ++ Seq(("CONV", "CONV", 1048576L), ("NULL", "NULL", 1048576L))
      val channels = edges.map(_._1).distinct
        .filterNot(c => c == "START" || c == "CONV" || c == "NULL").sorted
      val scale = 1099511627776L // 2^40
      def absorbed(removed: String): Long = {
        val ev = edges.filter(_._1 != removed).map { case (f, t, pfx) =>
          (f, if (t == removed) "NULL" else t, pfx)
        }
        var m: Map[String, Long] = Map("START" -> scale)
        for (_ <- 1 to 30) {
          m = ev.flatMap { case (f, t, pfx) =>
            m.get(f).map(mass => t -> mass * pfx / 1048576L)
          }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
        }
        m.getOrElse("CONV", 0L)
      }
      val pFull = absorbed("FULL") // no state named FULL: the intact chain
      val rows = channels.map { ch =>
        val pc = absorbed(ch)
        (ch, pFull, pc, pFull - pc)
      }
      val reTot = rows.map(_._4).sum
      import s.implicits._
      rows.map { case (ch, pf, pc, re) =>
        (ch, pf, pc, re.toDouble / pf, re.toDouble / reTot)
      }.toDF("channel", "p_full_fx", "p_removed_fx", "removal_effect",
        "share")
    },

    // Shapley-value attribution (Shapley 1953 applied per Zhao et al.
    // 2018 "Shapley value methods for attribution modeling") — the
    // order-free counterpart of e_attribution_markov: each journey
    // contributes its distinct touch-channel SET (a bitmask over the
    // sorted channel alphabet), the coalition value v(S) is the exact
    // conversion rate of journeys with touch set S in ppm fixed point,
    // and a channel's credit is the Shapley sum
    // φ_i = Σ_{S∌i} |S|!(K−1−|S|)!·(v(S∪i) − v(S)) / K!. The weighted
    // sum stays INTEGER (factorials × ppm differences); only the final
    // /K! is a float division, so both engines hash-compare φ's exact
    // numerator. Unobserved coalitions value 0 on both sides, and
    // efficiency (Σφ = v(full) − v(∅)) holds exactly in the scaled
    // integers — EventsSpec asserts it.
    //
    // Scale shape: journey segmentation and the mask bit_or are the
    // e_attribution_markov shuffle shape (one running window + one
    // keyed agg); the coalition table is ≤ 2^K rows (K = |channels|,
    // bounded by the event-type alphabet) and is driver state by
    // construction — the 2^K·K Shapley enumeration never touches the
    // corpus. The 2^K collect is the envelope: past K ≈ 20 channels
    // switch to sampled-permutation Shapley.
    Op("e_attribution_shapley",
       """WITH seq AS (
         |  SELECT user_id, event_id, ts, event_type,
         |         coalesce(sum(CASE WHEN event_type = 'purchase'
         |                           THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING
         |                   AND 1 PRECEDING), 0) AS j
         |  FROM events),
         |chan AS (
         |  SELECT ch, bit, CAST(1 << bit AS BIGINT) AS bv FROM (
         |    SELECT event_type AS ch,
         |           CAST(row_number() OVER (ORDER BY event_type) - 1
         |                AS INTEGER) AS bit
         |    FROM (SELECT DISTINCT event_type FROM events
         |          WHERE event_type <> 'purchase'))),
         |jour AS (
         |  SELECT s.user_id, s.j,
         |         coalesce(bit_or(c.bv), 0) AS mask,
         |         max(CASE WHEN s.event_type = 'purchase'
         |                  THEN 1 ELSE 0 END) AS conv
         |  FROM seq s LEFT JOIN chan c ON c.ch = s.event_type
         |  GROUP BY 1, 2),
         |v AS (
         |  SELECT mask, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(conv) AS BIGINT) AS cnv,
         |         CAST(sum(conv) AS BIGINT) * 1000000
         |           // CAST(count(*) AS BIGINT) AS v_fx
         |  FROM jour GROUP BY 1),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM chan),
         |masks AS (SELECT CAST(range AS BIGINT) AS m FROM range(1024)),
         |phi AS (
         |  SELECT c.ch AS channel,
         |         CAST(sum(CAST(factorial(bit_count(m.m)) AS BIGINT) *
         |                  CAST(factorial(CAST(k.k AS INTEGER) - 1 -
         |                                 bit_count(m.m)) AS BIGINT) *
         |                  (coalesce(va.v_fx, 0) - coalesce(vb.v_fx, 0)))
         |              AS BIGINT) AS phi_num
         |  FROM chan c
         |  CROSS JOIN k
         |  CROSS JOIN masks m
         |  LEFT JOIN v va ON va.mask = (m.m | c.bv)
         |  LEFT JOIN v vb ON vb.mask = m.m
         |  WHERE (m.m & c.bv) = 0 AND m.m < (1 << CAST(k.k AS INTEGER))
         |  GROUP BY 1)
         |SELECT channel, phi_num,
         |       CAST(phi_num AS DOUBLE) /
         |         CAST(factorial(CAST(kk.k AS INTEGER)) AS BIGINT)
         |         AS phi_ppm
         |FROM phi, k kk""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seq = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          coalesce(sum(when(col("event_type") === "purchase", 1)
              .otherwise(0))
            .over(byUser.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0)).as("j"))
      // channel alphabet: bounded by distinct event types — driver state
      val chans = Tables.events(s, d)
        .filter(col("event_type") =!= "purchase")
        .select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted
      import s.implicits._
      val chanDf = broadcast(
        chans.zipWithIndex.map { case (c, i) => (c, 1L << i) }
          .toSeq.toDF("ch", "bv"))
      val jour = seq.join(chanDf, seq("event_type") === chanDf("ch"),
          "left")
        .groupBy(col("user_id"), col("j"))
        .agg(coalesce(bit_or(col("bv")), lit(0L)).as("mask"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("conv"))
      // coalition table: <= 2^K rows — driver state by construction
      val v = jour.groupBy(col("mask"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("cnv"))
        .select(col("mask"), expr("cnv * 1000000 div n").as("v_fx"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kk = chans.length
      def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
      val rows = chans.zipWithIndex.map { case (ch, i) =>
        val bv = 1L << i
        val phiNum = (0L until (1L << kk)).filter(m => (m & bv) == 0L)
          .map { m =>
            val sz = java.lang.Long.bitCount(m)
            fact(sz) * fact(kk - 1 - sz) *
              (v.getOrElse(m | bv, 0L) - v.getOrElse(m, 0L))
          }.sum
        (ch, phiNum, phiNum.toDouble / fact(kk))
      }
      rows.toSeq.toDF("channel", "phi_num", "phi_ppm")
    },

    // CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013
    // "Improving the sensitivity of online controlled experiments"):
    // the A/B readout on per-user purchase spend, adjusted by the
    // pre-treatment covariate every experimentation platform uses first
    // — user engagement (click count). θ = cov(X,Y)/var(X) is computed
    // from EXACT integer moments (clicks are integers, spend in cents
    // via round(value·100) — identical half-up on both engines for
    // positive values), so n·Σxy − Σx·Σy and n·Σxx − Σx² hash-compare
    // as BIGINTs; θ, the raw uplift, and the CUPED uplift are then the
    // same fixed sequence of IEEE divisions on both engines.
    //
    // Scale shape: one per-user aggregate (keyed shuffle), one keyless
    // moments aggregate with map-side partials, one 2-row per-variant
    // aggregate — the e_ab_welch shape. 64-bit envelope: n·Σxy needs
    // clicks·cents·users² under 2^63 — past ~10^9 users lift the moment
    // products to DECIMAL.
    Op("e_ab_cuped",
       """WITH u AS (
         |  SELECT user_id, user_id % 2 AS variant,
         |         CAST(sum(CASE WHEN event_type = 'click'
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
         |                  THEN CAST(round(value * 100) AS BIGINT) END),
         |                  0) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * y) AS BIGINT) AS sxy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM u),
         |p AS (
         |  SELECT variant, CAST(count(*) AS BIGINT) AS nv,
         |         CAST(sum(x) AS BIGINT) AS sxv,
         |         CAST(sum(y) AS BIGINT) AS syv
         |  FROM u GROUP BY 1),
         |w AS (
         |  SELECT max(CASE WHEN variant = 0 THEN nv END) AS n0,
         |         max(CASE WHEN variant = 0 THEN sxv END) AS sx0,
         |         max(CASE WHEN variant = 0 THEN syv END) AS sy0,
         |         max(CASE WHEN variant = 1 THEN nv END) AS n1,
         |         max(CASE WHEN variant = 1 THEN sxv END) AS sx1,
         |         max(CASE WHEN variant = 1 THEN syv END) AS sy1
         |  FROM p)
         |SELECT w.n0, w.n1,
         |       g.n * g.sxy - g.sx * g.sy AS cov_num,
         |       g.n * g.sxx - g.sx * g.sx AS var_num,
         |       CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE) /
         |         CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE) AS theta,
         |       CAST(w.sy1 AS DOUBLE) / w.n1
         |         - CAST(w.sy0 AS DOUBLE) / w.n0 AS raw_uplift,
         |       (CAST(w.sy1 AS DOUBLE) / w.n1
         |         - CAST(w.sy0 AS DOUBLE) / w.n0)
         |       - (CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE) /
         |          CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE))
         |         * (CAST(w.sx1 AS DOUBLE) / w.n1
         |            - CAST(w.sx0 AS DOUBLE) / w.n0) AS cuped_uplift
         |FROM g, w""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0))
            .cast("long").as("x"),
          coalesce(sum(when(col("event_type") === "purchase",
              expr("CAST(round(value * 100) AS BIGINT)"))),
            lit(0L)).as("y"))
      val g = u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val p = u.groupBy(col("variant"))
        .agg(count(lit(1)).as("nv"), sum(col("x")).as("sxv"),
          sum(col("y")).as("syv"))
      val w = p.agg(
        max(when(col("variant") === 0, col("nv"))).as("n0"),
        max(when(col("variant") === 0, col("sxv"))).as("sx0"),
        max(when(col("variant") === 0, col("syv"))).as("sy0"),
        max(when(col("variant") === 1, col("nv"))).as("n1"),
        max(when(col("variant") === 1, col("sxv"))).as("sx1"),
        max(when(col("variant") === 1, col("syv"))).as("sy1"))
      val covNum = col("n") * col("sxy") - col("sx") * col("sy")
      val varNum = col("n") * col("sxx") - col("sx") * col("sx")
      val theta = covNum.cast("double") / varNum.cast("double")
      val rawUp = col("sy1").cast("double") / col("n1") -
        col("sy0").cast("double") / col("n0")
      val xGap = col("sx1").cast("double") / col("n1") -
        col("sx0").cast("double") / col("n0")
      g.crossJoin(broadcast(w)) // two 1-row keyless aggregates
        .select(col("n0"), col("n1"), covNum.as("cov_num"),
          varNum.as("var_num"), theta.as("theta"), rawUp.as("raw_uplift"),
          (rawUp - theta * xGap).as("cuped_uplift"))
    },

    // Weekly cohort retention triangle on the event stream: cohort =
    // the ISO week of a user's FIRST event, k = whole weeks since, and
    // retention is the share of the cohort active in week k — the
    // activity-retention companion to f_cohort_retention's revenue
    // cohorts (orders). Monday-aligned date_trunc on both engines, so
    // week differences are exact multiples of 7 and k is pure integer;
    // retention in truncating ppm. Scale shape: one (user, week)
    // distinct (keyed shuffle), one per-user min, then cohort-keyed
    // aggregates — all partial-aggregated, no windows, no fanout.
    Op("e_retention_weekly",
       """WITH u AS (
         |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
         |  FROM events GROUP BY 1, 2),
         |f AS (SELECT user_id, min(w) AS cw FROM u GROUP BY 1),
         |c AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort
         |      FROM f GROUP BY 1),
         |a AS (
         |  SELECT f.cw, CAST((u.w - f.cw) // 7 AS BIGINT) AS k,
         |         CAST(count(*) AS BIGINT) AS n_active
         |  FROM u JOIN f USING (user_id) GROUP BY 1, 2)
         |SELECT strftime(a.cw, '%Y-%m-%d') AS cohort_week, a.k,
         |       c.n_cohort, a.n_active,
         |       a.n_active * 1000000 // c.n_cohort AS retention_ppm
         |FROM a JOIN c USING (cw)""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("w"))
        .distinct()
        .transform(graft.Ckpt.cut(_)) // feeds first-week AND activity
      val f = u.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
      val c = f.groupBy(col("cw")).agg(count(lit(1)).as("n_cohort"))
      val a = u.join(f, Seq("user_id"))
        .select(col("cw"),
          expr("datediff(w, cw) div 7").cast("long").as("k"))
        .groupBy(col("cw"), col("k")).agg(count(lit(1)).as("n_active"))
      a.join(c, Seq("cw"))
        .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          col("k"), col("n_cohort"), col("n_active"),
          expr("n_active * 1000000 div n_cohort").as("retention_ppm"))
    },

    // Top-1 accuracy of the Markov next-event baseline: the fraction of
    // transitions where the population-argmax next type was the one
    // actually taken — the sanity floor every sequence model must beat,
    // and the readout that says whether behavior is predictable at all.
    // The argmax per from-type is a max-struct over the bounded |types|²
    // matrix (ties to the lexicographically smallest type, pinned on
    // both engines); accuracy is integer ppm. One window pass + bounded
    // joins; nothing float.
    Op("e_markov_top1_acc",
       """WITH steps AS (
         |  SELECT event_type AS f,
         |         lead(event_type) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS t
         |  FROM events),
         |pairs AS (
         |  SELECT f, t, CAST(count(*) AS BIGINT) AS n
         |  FROM steps WHERE t IS NOT NULL GROUP BY 1, 2),
         |am AS (
         |  SELECT f, (min(struct_pack(nn := -n, tt := t))).tt AS top1
         |  FROM pairs GROUP BY 1)
         |SELECT CAST(sum(p.n) AS BIGINT) AS n_transitions,
         |       CAST(sum(CASE WHEN p.t = am.top1 THEN p.n ELSE 0 END)
         |            AS BIGINT) AS n_top1,
         |       CAST(sum(CASE WHEN p.t = am.top1 THEN p.n ELSE 0 END)
         |            AS BIGINT) * 1000000
         |         // CAST(sum(p.n) AS BIGINT) AS acc_ppm
         |FROM pairs p JOIN am USING (f)""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("event_type").as("f"),
          lead(col("event_type"), 1).over(byUser).as("t"))
        .filter(col("t").isNotNull)
        .groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
        .transform(graft.Ckpt.cut(_)) // bounded; feeds argmax AND the sum
      val am = pairs.groupBy(col("f"))
        .agg(min(struct((-col("n")).as("nn"), col("t").as("tt"))).as("m"))
        .select(col("f"), col("m.tt").as("top1"))
      pairs.join(broadcast(am), Seq("f"))
        .agg(sum(col("n")).as("n_transitions"),
          sum(when(col("t") === col("top1"), col("n")).otherwise(0L))
            .as("n_top1"))
        .select(col("n_transitions"), col("n_top1"),
          expr("n_top1 * 1000000 div n_transitions").as("acc_ppm"))
    },

    // Per-user behavioral SURPRISE: the Markov log-loss of each user's
    // own transition sequence under the population transition matrix —
    // high mean −ln p means the user's journey keeps taking steps the
    // population rarely takes (bot/fraud/broken-flow triage; the
    // sequence-level anomaly score next to ts_* value anomalies).
    // Transition probabilities stay exact integer fractions (n, total)
    // until ONE ieee_ln per step; the per-user sum folds in pinned
    // (ts, event_id) order through the coherence recipe, so every
    // surprise value hash-compares. State: per-user sequences are
    // activity-bounded; the matrix is |types|² and broadcast.
    Op("e_user_surprise",
       """WITH steps AS (
         |  SELECT user_id, ts, event_id, event_type AS f,
         |         lead(event_type) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS t
         |  FROM events),
         |pairs AS (
         |  SELECT f, t, CAST(count(*) AS BIGINT) AS n
         |  FROM steps WHERE t IS NOT NULL GROUP BY 1, 2),
         |tot AS (
         |  SELECT f, CAST(sum(n) AS BIGINT) AS total FROM pairs GROUP BY 1),
         |scored AS (
         |  SELECT s.user_id, s.ts, s.event_id,
         |         -ln(CAST(p.n AS DOUBLE) / CAST(tt.total AS DOUBLE)) AS nll
         |  FROM steps s JOIN pairs p ON p.f = s.f AND p.t = s.t
         |               JOIN tot tt ON tt.f = s.f
         |  WHERE s.t IS NOT NULL)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |       list_reduce(list_prepend(0.0,
         |         list(nll ORDER BY ts, event_id)), (a, b) -> a + b)
         |         AS surprise
         |FROM scored GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.functions.GraftFunctions.ieeeLn
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val steps = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("f"),
          lead(col("event_type"), 1).over(byUser).as("t"))
        .filter(col("t").isNotNull)
        .transform(graft.Ckpt.cut(_)) // feeds the matrix AND the scoring
      val pairs = steps.groupBy(col("f"), col("t"))
        .agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy(col("f")).agg(sum(col("n")).as("total"))
      val scored = steps
        .join(broadcast(pairs), Seq("f", "t"))
        .join(broadcast(tot), Seq("f"))
        .select(col("user_id"), col("ts"), col("event_id"),
          (-ieeeLn(col("n").cast("double") / col("total").cast("double")))
            .as("nll"))
      val out = scored.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_transitions"),
          aggregate(
            sort_array(collect_list(struct(col("ts"), col("event_id"),
              col("nll")))),
            lit(0.0), (acc, x) => acc + x.getField("nll")).as("surprise"))
        .transform(graft.Ckpt.cut(_))
      graft.Ckpt.release(steps)
      out
    },

    // Per-event lag/rolling FEATURE TABLE — the feature-store shape a
    // behavioral model trains on: previous event type, whole seconds
    // since it, and the trailing-7-day activity count (RANGE frame over
    // epoch seconds, so the window is event-time, not row-count). One
    // (user, ts) sort serves the lag pair AND the range frame; every
    // column is integer/string, so the full table hash-compares.
    Op("e_feature_lags",
       """SELECT event_id, user_id, event_type,
         |       lag(event_type) OVER w AS prev_type,
         |       date_diff('second',
         |         lag(ts) OVER w, ts) AS secs_since_prev,
         |       CAST(count(*) OVER (PARTITION BY user_id
         |         ORDER BY epoch_us(ts)
         |         RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
         |         AS BIGINT) AS events_7d
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        // MICROSECOND range keys, not whole seconds: unix_timestamp
        // truncates sub-second parts, so a pair at exactly 604800 whole
        // seconds with descending fractions flips in/out of the frame vs
        // any exact-time engine — the sf1 value gate caught 24-vs-23
        // trailing counts that every smaller sf missed (the boundary
        // needs ~1-in-604800 luck per near-edge pair). Exact integers on
        // both sides make the frame decision identical.
        val range7d = Window.partitionBy(col("user_id"))
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-604800000000L, Window.currentRow)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            lag(col("event_type"), 1).over(w).as("prev_type"),
            (unix_timestamp(col("ts")) -
              unix_timestamp(lag(col("ts"), 1).over(w)))
              .as("secs_since_prev"),
            count(lit(1)).over(range7d).as("events_7d"))
    },

    // Difference-in-differences estimator per event_type: treatment =
    // user-id parity, the pre/post cut is the discrete median event day
    // (an existing value — percentile_disc / quantile_disc agree), so the
    // whole 2×2 design is deterministic. Cell sums stay exact integer
    // cents; the four means and the DiD are fixed-shape double
    // expressions. One aggregate over the scan + a broadcast 1-row cut —
    // nothing here outgrows a 100 TB events table.
    Op("e_did_estimator",
       """WITH e AS (
         |  SELECT event_type, user_id % 2 AS treat,
         |         CAST(round(value * 100) AS BIGINT) AS cents,
         |         CAST(datediff('day', DATE '1970-01-01',
         |                       CAST(ts AS DATE)) AS BIGINT) AS day
         |  FROM events),
         |cut AS (SELECT quantile_disc(day, 0.5) AS cutday FROM e),
         |cells AS (
         |  SELECT event_type,
         |    CAST(sum(CASE WHEN treat = 0 AND day <= cutday
         |                  THEN cents ELSE 0 END) AS BIGINT) AS s00,
         |    CAST(sum(CASE WHEN treat = 0 AND day <= cutday
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n00,
         |    CAST(sum(CASE WHEN treat = 0 AND day > cutday
         |                  THEN cents ELSE 0 END) AS BIGINT) AS s01,
         |    CAST(sum(CASE WHEN treat = 0 AND day > cutday
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |    CAST(sum(CASE WHEN treat = 1 AND day <= cutday
         |                  THEN cents ELSE 0 END) AS BIGINT) AS s10,
         |    CAST(sum(CASE WHEN treat = 1 AND day <= cutday
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN treat = 1 AND day > cutday
         |                  THEN cents ELSE 0 END) AS BIGINT) AS s11,
         |    CAST(sum(CASE WHEN treat = 1 AND day > cutday
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n11
         |  FROM e, cut GROUP BY 1)
         |SELECT event_type, n00, n01, n10, n11,
         |  CASE WHEN n00 > 0 THEN CAST(s00 AS DOUBLE) / n00 END AS m00,
         |  CASE WHEN n01 > 0 THEN CAST(s01 AS DOUBLE) / n01 END AS m01,
         |  CASE WHEN n10 > 0 THEN CAST(s10 AS DOUBLE) / n10 END AS m10,
         |  CASE WHEN n11 > 0 THEN CAST(s11 AS DOUBLE) / n11 END AS m11,
         |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
         |    (CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10)
         |    - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00)
         |  END AS did
         |FROM cells""".stripMargin) { (s, d) =>
      didEstimator(Tables.events(s, d))
    }
  )

  /** See the e_did_estimator op entry above for the design contract. */
  def didEstimator(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"),
      (col("user_id") % 2).as("treat"),
      round(col("value") * 100).cast("long").as("cents"),
      expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
        .cast("long").as("day"))
    val cut = e.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY day)")
        .as("cutday"))
    def cell(tr: Int, post: Boolean, suffix: String) = {
      val in = col("treat") === tr &&
        (if (post) col("day") > col("cutday")
         else col("day") <= col("cutday"))
      Seq(sum(when(in, col("cents")).otherwise(0L)).as(s"s$suffix"),
        sum(when(in, 1L).otherwise(0L)).as(s"n$suffix"))
    }
    val aggs = cell(0, post = false, "00") ++ cell(0, post = true, "01") ++
      cell(1, post = false, "10") ++ cell(1, post = true, "11")
    val cells = e.crossJoin(broadcast(cut))
      .groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
    def m(suffix: String) =
      when(col(s"n$suffix") > 0,
        col(s"s$suffix").cast("double") / col(s"n$suffix").cast("double"))
    cells.select(col("event_type"),
      col("n00"), col("n01"), col("n10"), col("n11"),
      m("00").as("m00"), m("01").as("m01"),
      m("10").as("m10"), m("11").as("m11"),
      when(col("n00") > 0 && col("n01") > 0 &&
           col("n10") > 0 && col("n11") > 0,
        (col("s11").cast("double") / col("n11").cast("double") -
          col("s10").cast("double") / col("n10").cast("double")) -
        (col("s01").cast("double") / col("n01").cast("double") -
          col("s00").cast("double") / col("n00").cast("double")))
        .as("did"))
  }
}
