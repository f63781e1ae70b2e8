package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series shapes over the `events` table: calendar gap-fill with
  * last-observation-carried-forward, seasonal-profile anomaly flags, and
  * cumulative-distinct growth curves — the daily-report layer a telemetry
  * warehouse serves (the reference's Power BI dashboards consume exactly
  * these shapes downstream of fct_orders; reference: README.md:64 "date
  * dimension derived from order timestamp").
  *
  * Scale notes: every op aggregates the raw stream FIRST (events →
  * user-day / type-day-hour cells), so the expensive shuffle is keyed by
  * high-cardinality uniform keys and everything after it runs on the
  * bounded cell table (|users|·|days|, |types|·24·|days|). Calendar
  * explosion is map-side (`sequence` + `explode`, no shuffle); LOCF is one
  * keyed window over the already-aggregated frame. Days are epoch-day
  * BIGINTs end-to-end — the only date representation that hashes
  * identically across engines.
  */
object Timeseries {

  private val dec = DecimalType(18, 2)

  /** Epoch-day of an event timestamp, as BIGINT (DuckDB date_diff parity). */
  private val day: Column = unix_date(to_date(col("ts"))).cast("long")

  /** [[day]] in the DuckDB oracles. */
  private val daySql = "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"

  /** A group's exact total of `value` in cents, in the DuckDB oracles. */
  private[operators] val centsSql =
    "CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)"

  /** Exact total `value` in cents per `keys` and epoch-day:
    * (keys..., day, cents). The sum stays DECIMAL until the one cast.
    */
  private def dailyCents(events: DataFrame, keys: Column*): DataFrame =
    events.groupBy(keys :+ day.as("day"): _*)
      .agg(sum(col("value").cast(dec) * 100).cast("long").as("cents"))

  /** DuckDB replay of [[dailyCents]] over `events` keyed by the columns
    * `keys`, as the CTE `daily`.
    */
  private def dailyCentsCte(keys: String*): String = {
    val groupBy = (1 to keys.size + 1).mkString(", ")
    s"""daily AS (
       |  SELECT ${keys.map(_ + ", ").mkString}$daySql AS day,
       |         $centsSql AS cents
       |  FROM events GROUP BY $groupBy)""".stripMargin
  }

  /** Zero-filled daily click counts `x` and purchase cents `y` over every
    * day with either: (day, x, y).
    */
  private def clickPurchaseSeries(events: DataFrame): DataFrame = {
    val x = events.filter(col("event_type") === "click")
      .groupBy(day.as("day")).agg(count(lit(1)).as("x"))
    val y = dailyCents(events.filter(col("event_type") === "purchase"))
      .withColumnRenamed("cents", "y")
    val days = x.select("day").unionByName(y.select("day")).distinct()
    days.join(x, Seq("day"), "left").join(y, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** DuckDB replay of [[clickPurchaseSeries]]: CTEs `x`, `y`, `days` and
    * the series `ser`.
    */
  private val clickPurchaseCtes: String =
    s"""x AS (
       |  SELECT $daySql AS day,
       |         CAST(count(*) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'click' GROUP BY 1),
       |y AS (
       |  SELECT $daySql AS day,
       |         $centsSql AS y
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |days AS (SELECT day FROM x UNION SELECT day FROM y),
       |ser AS (
       |  SELECT day, coalesce(x, 0) AS x, coalesce(y, 0) AS y
       |  FROM days LEFT JOIN x USING (day) LEFT JOIN y USING (day))""".stripMargin

  /** Durbin–Levinson PACF (lags 1..4) over the daily-cents series — see
    * the ts_pacf op entry for the numeric contract (exact DECIMAL(38,0)
    * autocovariances, VARCHAR-routed oracle division, pinned DL parens).
    */
  def pacf(events: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val daily = dailyCents(events)
    val tot = daily.agg(sum(col("cents")).as("t"), count(lit(1)).as("d"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("cents") - expr("t div d")).cast(d38).as("dv"))
    val w = Window.orderBy(col("day"))
    val lagd = dev.select(col("dv"),
      lead(col("dv"), 1).over(w).as("l1"),
      lead(col("dv"), 2).over(w).as("l2"),
      lead(col("dv"), 3).over(w).as("l3"),
      lead(col("dv"), 4).over(w).as("l4"))
    val agg = lagd.agg(
      count(lit(1)).as("n_days"),
      sum(col("dv") * col("dv")).as("c0"),
      sum(when(col("l1").isNotNull, col("dv") * col("l1"))).as("c1"),
      sum(when(col("l2").isNotNull, col("dv") * col("l2"))).as("c2"),
      sum(when(col("l3").isNotNull, col("dv") * col("l3"))).as("c3"),
      sum(when(col("l4").isNotNull, col("dv") * col("l4"))).as("c4"))
    // Spark's Decimal→Double is correctly rounded (matches the oracle's
    // VARCHAR→strtod route); each r_k is one IEEE division.
    def r(k: Int) = (col(s"c$k").cast("double") / col("c0").cast("double"))
      .as(s"r$k")
    agg.select(col("n_days"), r(1), r(2), r(3), r(4))
      .withColumn("pacf1", col("r1"))
      .withColumn("v1", lit(1.0) - col("r1") * col("r1"))
      .withColumn("pacf2", (col("r2") - col("r1") * col("r1")) / col("v1"))
      .withColumn("phi21", col("r1") - col("pacf2") * col("r1"))
      .withColumn("v2",
        col("v1") * (lit(1.0) - col("pacf2") * col("pacf2")))
      .withColumn("pacf3",
        (col("r3") - (col("phi21") * col("r2") + col("pacf2") * col("r1")))
          / col("v2"))
      .withColumn("phi31", col("phi21") - col("pacf3") * col("pacf2"))
      .withColumn("phi32", col("pacf2") - col("pacf3") * col("phi21"))
      .withColumn("v3",
        col("v2") * (lit(1.0) - col("pacf3") * col("pacf3")))
      .withColumn("pacf4",
        (col("r4") - ((col("phi31") * col("r3") + col("phi32") * col("r2"))
          + col("pacf3") * col("r1"))) / col("v3"))
      .select(col("n_days"), col("r1"), col("r2"), col("r3"), col("r4"),
        col("pacf1"), col("pacf2"), col("pacf3"), col("pacf4"))
  }

  /** ts_granger's shared arithmetic: ONE expression text per stage,
    * interpolated verbatim into the Spark selectExpr AND the DuckDB
    * oracle, so both engines run the identical IEEE op sequence on the
    * identical exact BIGINT moments (the e_ab_welch discipline, made
    * literal). Stage 1 casts the moments to short double names; stage 2
    * solves both OLS fits — the restricted 2×2 in closed form, the
    * unrestricted 3×3 by Cramer cofactor expansion along the first row;
    * stage 3 collapses each RSS through the normal equations
    * (RSS = Σy² − β'X'y).
    */
  private val grangerDoubles: Seq[String] = Seq(
    "CAST(n AS DOUBLE) AS dn", "CAST(sy AS DOUBLE) AS dsy",
    "CAST(syl AS DOUBLE) AS dsyl", "CAST(sxl AS DOUBLE) AS dsxl",
    "CAST(syy AS DOUBLE) AS dsyy", "CAST(syl2 AS DOUBLE) AS dsyl2",
    "CAST(sxl2 AS DOUBLE) AS dsxl2", "CAST(syyl AS DOUBLE) AS dsyyl",
    "CAST(syxl AS DOUBLE) AS dsyxl", "CAST(sylxl AS DOUBLE) AS dsylxl")

  private val grangerFits: Seq[String] = {
    val det = "(dn * (dsyl2 * dsxl2 - dsylxl * dsylxl)" +
      " - dsyl * (dsyl * dsxl2 - dsylxl * dsxl)" +
      " + dsxl * (dsyl * dsylxl - dsyl2 * dsxl))"
    val detA = "(dsy * (dsyl2 * dsxl2 - dsylxl * dsylxl)" +
      " - dsyl * (dsyyl * dsxl2 - dsylxl * dsyxl)" +
      " + dsxl * (dsyyl * dsylxl - dsyl2 * dsyxl))"
    val detB = "(dn * (dsyyl * dsxl2 - dsylxl * dsyxl)" +
      " - dsy * (dsyl * dsxl2 - dsylxl * dsxl)" +
      " + dsxl * (dsyl * dsyxl - dsyyl * dsxl))"
    val detC = "(dn * (dsyl2 * dsyxl - dsyyl * dsylxl)" +
      " - dsyl * (dsyl * dsyxl - dsyyl * dsxl)" +
      " + dsy * (dsyl * dsylxl - dsyl2 * dsxl))"
    val bR = "((dn * dsyyl - dsyl * dsy) / (dn * dsyl2 - dsyl * dsyl))"
    Seq("dsy", "dsyy", "dsyyl", "dsyxl",
      s"$bR AS b_r",
      s"((dsy - $bR * dsyl) / dn) AS a_r",
      s"($detA / $det) AS a_u",
      s"($detB / $det) AS b_u",
      s"($detC / $det) AS c_u")
  }

  private val grangerRss: Seq[String] = Seq(
    "(dsyy - a_r * dsy - b_r * dsyyl) AS rss_r",
    "(dsyy - a_u * dsy - b_u * dsyyl - c_u * dsyxl) AS rss_u")

  private val grangerF: String =
    "(rss_r - rss_u) / (rss_u / (CAST(n AS DOUBLE) - 3.0))"

  val ops: Seq[Op] = Seq(

    // Per-user daily spend, gap-filled over each user's own [first, last]
    // day span with LOCF: missing days carry the previous observed daily
    // total (the balance-sheet reading). Sums stay in the decimal domain
    // through the carry; the double cast happens once at presentation, so
    // the filled value hashes exactly. The first day of every span is
    // observed by construction, so LOCF never emits NULL.
    Op("ts_gapfill_locf",
       s"""WITH daily AS (
         |  SELECT user_id,
         |         $daySql AS day,
         |         sum(CAST(value AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
         |         FROM daily GROUP BY 1),
         |cal AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day
         |        FROM span),
         |j AS (SELECT c.user_id, c.day, d.v FROM cal c LEFT JOIN daily d
         |      ON d.user_id = c.user_id AND d.day = c.day)
         |SELECT user_id, day,
         |       CAST(last_value(v IGNORE NULLS) OVER (
         |         PARTITION BY user_id ORDER BY day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS DOUBLE) AS value_filled,
         |       v IS NOT NULL AS observed
         |FROM j""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), day.as("day"))
        .agg(sum(col("value").cast(dec)).as("v"))
      val cal = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val locf = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("v"), ignoreNulls = true).over(locf)
            .cast("double").as("value_filled"),
          col("v").isNotNull.as("observed"))
    },

    // The interpolation companion to ts_gapfill_locf: missing days take
    // the time-weighted average of the surrounding observed days,
    // filled = (prev·(next_d − day) + next·(day − prev_d)) div gap — the
    // rearrangement whose numerator is a sum of non-negative products,
    // so one truncating integer division pins the fill identically on
    // both engines (cents domain; exact at both endpoints by
    // construction). Span edges are observed (lo/hi are min/max observed
    // days), so every gap is interior and both neighbors exist. Same
    // plan shape as LOCF: per-user span explode + two framed windows
    // over one (user, day) sort.
    Op("ts_gapfill_interp",
       s"""WITH daily AS (
         |  SELECT user_id,
         |         $daySql AS day,
         |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
         |           AS vc
         |  FROM events GROUP BY 1, 2),
         |span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
         |         FROM daily GROUP BY 1),
         |cal AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day
         |        FROM span),
         |j AS (SELECT c.user_id, c.day, d.vc FROM cal c LEFT JOIN daily d
         |      ON d.user_id = c.user_id AND d.day = c.day),
         |w AS (
         |  SELECT user_id, day, vc,
         |         last_value(vc IGNORE NULLS) OVER (
         |           PARTITION BY user_id ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |         last_value(CASE WHEN vc IS NOT NULL THEN day END
         |             IGNORE NULLS) OVER (
         |           PARTITION BY user_id ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         |         first_value(vc IGNORE NULLS) OVER (
         |           PARTITION BY user_id ORDER BY day
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |         first_value(CASE WHEN vc IS NOT NULL THEN day END
         |             IGNORE NULLS) OVER (
         |           PARTITION BY user_id ORDER BY day
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
         |  FROM j)
         |SELECT user_id, day,
         |       CASE WHEN vc IS NOT NULL THEN vc
         |            ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd)
         |            END AS cents_filled,
         |       vc IS NOT NULL AS observed
         |FROM w""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), day.as("day"))
        .agg((sum(col("value").cast(dec)) * 100).cast("long").as("vc"))
      val cal = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val back = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsDay = when(col("vc").isNotNull, col("day"))
      cal.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("vc"),
          last(col("vc"), ignoreNulls = true).over(back).as("pv"),
          last(obsDay, ignoreNulls = true).over(back).as("pd"),
          first(col("vc"), ignoreNulls = true).over(fwd).as("nv"),
          first(obsDay, ignoreNulls = true).over(fwd).as("nd"))
        .select(col("user_id"), col("day"),
          when(col("vc").isNotNull, col("vc"))
            .otherwise(expr(
              "(pv * (nd - day) + nv * (day - pd)) div (nd - pd)"))
            .as("cents_filled"),
          col("vc").isNotNull.as("observed"))
    },

    // Seasonal-profile anomaly cells: an (event_type, day, hour) count is
    // anomalous when it exceeds 2x that type's mean count for the same
    // hour-of-day across the whole history. The comparison is the integer
    // cross-multiplication n·nd > 2·tot — no division, no float, so the
    // flag replays bit-for-bit. Baseline statistics come from a window
    // over the bounded cell table (|types|·24 groups), not the raw stream.
    Op("ts_anomaly_hours",
       s"""WITH cells AS (
         |  SELECT event_type,
         |         $daySql AS day,
         |         CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n
         |  FROM events GROUP BY 1, 2, 3)
         |SELECT event_type, day, hr, n,
         |       count(*) OVER (PARTITION BY event_type, hr) AS nd,
         |       CAST(sum(n) OVER (PARTITION BY event_type, hr) AS BIGINT) AS tot
         |FROM cells QUALIFY n * nd > 2 * tot""".stripMargin) { (s, d) =>
      val profile = Window.partitionBy(col("event_type"), col("hr"))
      Tables.events(s, d)
        .groupBy(col("event_type"), day.as("day"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("nd", count(lit(1)).over(profile))
        .withColumn("tot", sum(col("n")).over(profile))
        .filter(col("n") * col("nd") > lit(2) * col("tot"))
    },

    // Cumulative-distinct growth: how many distinct users each event type
    // has ever seen, by day. Running COUNT(DISTINCT) has no direct window
    // form in either engine; the exact decomposition is first-seen day per
    // (type, user) -> new-user counts per day -> running sum, which turns
    // a quadratic rescan into two keyed aggregates and a window over the
    // bounded (type, day) table.
    Op("ts_cum_distinct_users",
       s"""WITH firsts AS (
         |  SELECT event_type, user_id,
         |         min($daySql)
         |           AS day
         |  FROM events GROUP BY 1, 2),
         |news AS (SELECT event_type, day, count(*) AS new_users
         |         FROM firsts GROUP BY 1, 2)
         |SELECT event_type, day, new_users,
         |       CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS BIGINT) AS cum_users
         |FROM news""".stripMargin) { (s, d) =>
      val running = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(day).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(running))
    },

    // Time-weighted average value per (user, day) — the TWAP/VWAP shape:
    // each observation weighs by its holding time until the next one,
    // single-observation days (zero span) excluded. Value goes to exact
    // cents BEFORE weighting, so the weighted sum is a BIGINT and the
    // one double division per group replays; the lead and the aggregate
    // run on one keyed sort.
    Op("ts_twap",
       s"""WITH e AS (
         |  SELECT user_id,
         |         $daySql AS day,
         |         epoch_us(ts) AS t,
         |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |         event_id
         |  FROM events),
         |stepped AS (
         |  SELECT user_id, day, cents, t,
         |         lead(t) OVER (PARTITION BY user_id, day
         |           ORDER BY t, event_id) AS tn
         |  FROM e),
         |agg AS (
         |  SELECT user_id, day,
         |         CAST(sum(cents * (tn - t)) AS BIGINT) AS wsum,
         |         CAST(max(t) - min(t) AS BIGINT) AS span
         |  FROM stepped GROUP BY 1, 2)
         |SELECT user_id, day,
         |       CAST(wsum AS DOUBLE) / (CAST(span AS DOUBLE) * 100.0)
         |         AS twap
         |FROM agg WHERE span > 0""".stripMargin) { (s, d) =>
      val byDay = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("t"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), day.as("day"),
          unix_micros(col("ts")).as("t"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"),
          col("event_id"))
        .withColumn("tn", lead(col("t"), 1).over(byDay))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("cents") * (col("tn") - col("t"))).as("wsum"),
          (max(col("t")) - min(col("t"))).as("span"))
        .filter(col("span") > 0)
        .select(col("user_id"), col("day"),
          (col("wsum").cast("double") /
            (col("span").cast("double") * lit(100.0))).as("twap"))
    },

    // Exponential smoothing of each user's daily-spend series with
    // alpha = 1/2, kept INTEGER: ema' = (ema + x) >> 1 — an arithmetic
    // shift is floor division by 2, so the recurrence replays exactly on
    // both engines (a float EMA never hash-compares). The fold runs over
    // the day-sorted list per user — sequential by definition (each step
    // needs the previous), parallel across users; group size is bounded
    // by the calendar, not the corpus.
    Op("ts_ema",
       s"""WITH ${dailyCentsCte("user_id")}
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
         |       list_reduce(list(cents ORDER BY day),
         |                   (a, b) -> (a + b) >> 1) AS ema
         |FROM daily GROUP BY 1""".stripMargin) { (s, d) =>
      dailyCents(Tables.events(s, d), col("user_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          sort_array(collect_list(struct(col("day"), col("cents"))))
            .as("arr"))
        .select(col("user_id"), col("n_days"),
          aggregate(
            slice(col("arr"), lit(2), size(col("arr")) - 1),
            element_at(col("arr"), 1).getField("cents"),
            (acc, x) => shiftright(acc + x.getField("cents"), 1))
            .as("ema"))
    },

    // Lag-1 autocorrelation of total daily spend — the persistence
    // diagnostic (is today's revenue predictive of tomorrow's?). All
    // deviations use the TRUNCATED mean (cents - t div d): products of
    // full-scaled deviations (cents*D - T) would brush the BIGINT
    // ceiling at sf1, truncated ones leave ~4 decimal orders of
    // headroom; the statistic stays division-free until the ONE double
    // ratio. Runs on the calendar-bounded daily table.
    Op("ts_autocorr",
       s"""WITH ${dailyCentsCte()},
         |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t,
         |               CAST(count(*) AS BIGINT) AS d FROM daily),
         |dev AS (
         |  SELECT day, cents - (t // d) AS dv,
         |         lead(cents - (t // d)) OVER (ORDER BY day) AS dvn
         |  FROM daily, tot)
         |SELECT CAST(sum(CASE WHEN dvn IS NOT NULL THEN dv * dvn END)
         |            AS BIGINT) AS num,
         |       CAST(sum(dv * dv) AS BIGINT) AS den,
         |       CAST(sum(CASE WHEN dvn IS NOT NULL THEN dv * dvn END)
         |            AS DOUBLE) / CAST(sum(dv * dv) AS DOUBLE) AS r1
         |FROM dev""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      val tot = daily.agg(sum(col("cents")).as("t"),
        count(lit(1)).as("d"))
      val dv = col("cents") - expr("t div d")
      val dev = daily.crossJoin(broadcast(tot))
        .select(col("day"), dv.as("dv"))
        .withColumn("dvn", lead(col("dv"), 1)
          .over(Window.orderBy(col("day"))))
      dev.agg(
        sum(when(col("dvn").isNotNull, col("dv") * col("dvn"))).as("num"),
        sum(col("dv") * col("dv")).as("den"))
        .select(col("num"), col("den"),
          (col("num").cast("double") / col("den").cast("double")).as("r1"))
    },

    // Partial autocorrelation (lags 1..4) by Durbin–Levinson over the
    // daily-revenue ACF — the AR-order diagnostic next to ts_autocorr.
    // Autocovariance sums are EXACT 128-bit integers (DECIMAL(38,0) /
    // HUGEINT: the lag products square day-level cents, which brushes
    // BIGINT range at sf1); r_k is one division with the DuckDB side
    // routed through VARCHAR (hugeint→double double-rounds, strtod is
    // correctly rounded); the DL recursion is a fixed chain of
    // identically parenthesized IEEE ops on both engines.
    Op("ts_pacf",
       s"""WITH ${dailyCentsCte()},
         |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t,
         |               CAST(count(*) AS BIGINT) AS d FROM daily),
         |dev AS (
         |  SELECT day, CAST(cents - (t // d) AS HUGEINT) AS dv
         |  FROM daily, tot),
         |lagd AS (
         |  SELECT dv,
         |         lead(dv, 1) OVER (ORDER BY day) AS l1,
         |         lead(dv, 2) OVER (ORDER BY day) AS l2,
         |         lead(dv, 3) OVER (ORDER BY day) AS l3,
         |         lead(dv, 4) OVER (ORDER BY day) AS l4
         |  FROM dev),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_days,
         |         sum(dv * dv) AS c0,
         |         sum(CASE WHEN l1 IS NOT NULL THEN dv * l1 END) AS c1,
         |         sum(CASE WHEN l2 IS NOT NULL THEN dv * l2 END) AS c2,
         |         sum(CASE WHEN l3 IS NOT NULL THEN dv * l3 END) AS c3,
         |         sum(CASE WHEN l4 IS NOT NULL THEN dv * l4 END) AS c4
         |  FROM lagd),
         |r AS (
         |  SELECT n_days,
         |    CAST(CAST(c1 AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(c0 AS VARCHAR) AS DOUBLE) AS r1,
         |    CAST(CAST(c2 AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(c0 AS VARCHAR) AS DOUBLE) AS r2,
         |    CAST(CAST(c3 AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(c0 AS VARCHAR) AS DOUBLE) AS r3,
         |    CAST(CAST(c4 AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(c0 AS VARCHAR) AS DOUBLE) AS r4
         |  FROM agg),
         |dl1 AS (SELECT *, r1 AS pacf1, 1.0e0 - r1 * r1 AS v1 FROM r),
         |dl2 AS (SELECT *, (r2 - r1 * r1) / v1 AS pacf2 FROM dl1),
         |dl2b AS (SELECT *, r1 - pacf2 * r1 AS phi21,
         |                v1 * (1.0e0 - pacf2 * pacf2) AS v2 FROM dl2),
         |dl3 AS (SELECT *,
         |          (r3 - (phi21 * r2 + pacf2 * r1)) / v2 AS pacf3
         |        FROM dl2b),
         |dl3b AS (SELECT *, phi21 - pacf3 * pacf2 AS phi31,
         |                pacf2 - pacf3 * phi21 AS phi32,
         |                v2 * (1.0e0 - pacf3 * pacf3) AS v3 FROM dl3),
         |dl4 AS (SELECT *,
         |          (r4 - ((phi31 * r3 + phi32 * r2) + pacf3 * r1)) / v3
         |            AS pacf4
         |        FROM dl3b)
         |SELECT n_days, r1, r2, r3, r4, pacf1, pacf2, pacf3, pacf4
         |FROM dl4""".stripMargin) { (s, d) =>
      pacf(Tables.events(s, d))
    },

    // Ljung-Box portmanteau statistic (Ljung & Box 1978): Q(K) =
    // n(n+2) Σ_{k≤K} r_k²/(n−k) over the daily-revenue ACF at lags
    // 1..10 — the standard "is anything left after my model" white-noise
    // test, here applied to the raw daily series (compare against the
    // chi-square(K) tail offline). Deviations use ts_autocorr's exact
    // floor-division-mean convention, so every num_k and the shared den
    // are BIGINTs; each r_k is one double quotient, and the Q column is
    // the k-ORDERED running fold (a 10-row window — sequential on both
    // engines), so the whole lag table hash-compares. The lag fan-out is
    // 10× the calendar-bounded day table, never the event table.
    Op("ts_ljung_box",
       s"""WITH ${dailyCentsCte()},
         |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t,
         |               CAST(count(*) AS BIGINT) AS n FROM daily),
         |dev AS (SELECT day, cents - (t // n) AS dv FROM daily, tot),
         |den AS (SELECT CAST(sum(dv * dv) AS BIGINT) AS den FROM dev),
         |lagged AS (
         |  SELECT k.k, CAST(sum(a.dv * b.dv) AS BIGINT) AS num
         |  FROM (SELECT unnest(range(1, 11)) AS k) k
         |  JOIN dev a ON true
         |  JOIN dev b ON b.day = a.day + k.k
         |  GROUP BY 1),
         |r AS (
         |  SELECT l.k, l.num, d.den, t.n,
         |         CAST(l.num AS DOUBLE) / CAST(d.den AS DOUBLE) AS rk
         |  FROM lagged l, den d, tot t)
         |SELECT k, num, den, rk,
         |       CAST(n AS DOUBLE) * (n + 2) * sum(rk * rk /
         |           CAST(n - k AS DOUBLE))
         |         OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
         |               AND CURRENT ROW) AS q_stat
         |FROM r""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      val tot = daily.agg(sum(col("cents")).as("t"),
        count(lit(1)).as("n"))
      val dev = daily.crossJoin(broadcast(tot))
        .select(col("day"), (col("cents") - expr("t div n")).as("dv"))
        .transform(graft.Ckpt.cut(_)) // feeds den AND both lag sides
      val den = dev.agg(sum(col("dv") * col("dv")).as("den"))
      val lagged = dev.select(col("day"), col("dv"),
          explode(sequence(lit(1L), lit(10L))).as("k"))
        .join(dev.select(col("day").as("day2"), col("dv").as("dv2")),
          col("day2") === col("day") + col("k"))
        .groupBy(col("k")).agg(sum(col("dv") * col("dv2")).as("num"))
      val w = Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = lagged.crossJoin(broadcast(den))
        .crossJoin(broadcast(tot.select(col("n"))))
        .select(col("k"), col("num"), col("den"), col("n"),
          (col("num").cast("double") / col("den").cast("double")).as("rk"))
        .select(col("k"), col("num"), col("den"), col("rk"),
          (col("n").cast("double") * (col("n") + 2) *
            sum(col("rk") * col("rk") / (col("n") - col("k"))
              .cast("double")).over(w)).as("q_stat"))
        .transform(graft.Ckpt.cut(_))
      graft.Ckpt.release(dev)
      out
    },

    // Cross-correlation function (Box & Jenkins 1970 ch.11): does click
    // traffic LEAD purchase revenue, and by how many days? r_k for lags
    // 0..7 between the zero-filled daily click-count and purchase-cents
    // series, normalized by the full-series deviation energies (the
    // standard CCF estimator — one shared denominator, so the lag
    // profile is comparable across k). Exactness: both series are
    // integers, means are the floor-division convention shared with
    // ts_autocorr, so every deviation, numerator, and denominator is an
    // exact BIGINT; each r_k is one double quotient of one product and
    // one sqrt.
    //
    // Scale shape: raw events collapse to two calendar-bounded daily
    // aggregates (one filtered scan each, scheduled concurrently); the
    // lag fan-out is 8× the DAY table, never the event table, and the
    // lag join is an equi-join on day+lag. Grand totals attach as 1-row
    // broadcasts.
    Op("ts_cross_corr",
       s"""WITH $clickPurchaseCtes,
         |tot AS (SELECT CAST(sum(x) AS BIGINT) AS tx,
         |               CAST(sum(y) AS BIGINT) AS ty,
         |               CAST(count(*) AS BIGINT) AS nd FROM ser),
         |dev AS (
         |  SELECT day, x - (tx // nd) AS dx, y - (ty // nd) AS dy
         |  FROM ser, tot),
         |den AS (SELECT CAST(sum(dx * dx) AS BIGINT) AS sxx,
         |               CAST(sum(dy * dy) AS BIGINT) AS syy FROM dev),
         |lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(0, 8)),
         |num AS (
         |  SELECT lag, CAST(count(*) AS BIGINT) AS n_overlap,
         |         CAST(sum(a.dx * b.dy) AS BIGINT) AS num
         |  FROM lags CROSS JOIN dev a
         |       JOIN dev b ON b.day = a.day + lags.lag
         |  GROUP BY 1)
         |SELECT lag, n_overlap, num, sxx, syy,
         |       CAST(num AS DOUBLE) /
         |         sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)) AS r
         |FROM num, den""".stripMargin) { (s, d) =>
      val ser = clickPurchaseSeries(Tables.events(s, d))
      val tot = ser.agg(sum(col("x")).as("tx"), sum(col("y")).as("ty"),
        count(lit(1)).as("nd"))
      val dev = ser.crossJoin(broadcast(tot))
        .select(col("day"), (col("x") - expr("tx div nd")).as("dx"),
          (col("y") - expr("ty div nd")).as("dy"))
      val den = dev.agg(sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      // 8 constant rows: one partition (32-slice default = 32-task stage)
      val lags = s.range(0, 8, 1, 1).select(col("id").as("lag"))
      val num = dev.select(col("day"), col("dx"))
        .crossJoin(broadcast(lags))
        .join(dev.select((col("day")).as("day2"), col("dy")),
          col("day2") === col("day") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_overlap"), sum(col("dx") * col("dy"))
          .as("num"))
      num.crossJoin(broadcast(den))
        .select(col("lag"), col("n_overlap"), col("num"), col("sxx"),
          col("syy"),
          (col("num").cast("double") /
            sqrt(col("sxx").cast("double") * col("syy").cast("double")))
            .as("r"))
    },

    // DAU / WAU / MAU actives — THE product-analytics metric family.
    // Sliding-window distinct counts don't decompose into running sums,
    // so the exact form joins the bounded (user, day) cell table to the
    // day calendar over a trailing range — cells x window fanout, then a
    // distinct per reference day. Everything after the first aggregate
    // runs on |users|·|days| cells, never raw events.
    Op("ts_active_users",
       s"""WITH cells AS (
         |  SELECT DISTINCT user_id,
         |         $daySql AS day
         |  FROM events),
         |days AS (SELECT DISTINCT day FROM cells),
         |wau AS (
         |  SELECT d.day, count(DISTINCT c.user_id) AS wau
         |  FROM days d JOIN cells c ON c.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY 1),
         |mau AS (
         |  SELECT d.day, count(DISTINCT c.user_id) AS mau
         |  FROM days d JOIN cells c ON c.day BETWEEN d.day - 29 AND d.day
         |  GROUP BY 1),
         |dau AS (SELECT day, count(*) AS dau FROM cells GROUP BY 1)
         |SELECT dau.day, dau.dau, wau.wau, mau.mau
         |FROM dau JOIN wau USING (day) JOIN mau USING (day)""".stripMargin) {
      (s, d) =>
        val cells = Tables.events(s, d)
          .select(col("user_id"), day.as("day")).distinct()
        // trailing windows via map-side sequence fanout (each cell
        // covers the w reference days it contributes to) + one keyed
        // distinct aggregate — an equi shape, NOT the tempting
        // calendar-range join that plans a nested loop. The inner join
        // back to dau prunes fanned-out refs past the observed calendar,
        // matching the oracle's days restriction.
        def trailing(w: Int, name: String) = cells
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + (w - 1))).as("day"))
          .groupBy(col("day"))
          .agg(count_distinct(col("user_id")).as(name))
        val dau = cells.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        dau.join(trailing(7, "wau"), "day")
          .join(trailing(30, "mau"), "day")
    },

    // CUSUM change-point: for each event type, the day where the
    // cumulative deviation of daily spend from the series mean peaks in
    // magnitude. The deviation is SCALED — cents*D - T — so no division
    // ever happens and the whole statistic is BIGINT-exact; the peak
    // picks the earliest day on magnitude ties. Runs entirely on the
    // bounded (type, day) cell table.
    Op("ts_cusum_changepoint",
       s"""WITH ${dailyCentsCte("event_type")},
         |tot AS (
         |  SELECT event_type, CAST(sum(cents) AS BIGINT) AS t,
         |         CAST(count(*) AS BIGINT) AS d
         |  FROM daily GROUP BY 1),
         |cs AS (
         |  SELECT daily.event_type, day,
         |         CAST(sum(cents * d - t) OVER (PARTITION BY daily.event_type
         |              ORDER BY day
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS cusum
         |  FROM daily JOIN tot USING (event_type))
         |SELECT event_type, day, cusum FROM (
         |  SELECT event_type, day, cusum,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY abs(cusum) DESC, day) AS rn
         |  FROM cs) WHERE rn = 1""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d), col("event_type"))
      val tot = daily.groupBy(col("event_type"))
        .agg(sum(col("cents")).as("t"), count(lit(1)).as("d"))
      val running = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("day"),
          sum(col("cents") * col("d") - col("t")).over(running).as("cusum"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(abs(col("cusum")).desc, col("day"))))
        .filter(col("rn") === 1)
        .drop("rn")
    },

    // Holt's linear-trend smoothing (Holt 1957; the two-state big
    // sibling of ts_ema) per user, alpha = beta = 1/2 kept INTEGER so
    // the coupled recurrence replays exactly on both engines:
    //   l' = (y + l + b) >> 1;  b' = (l' - l + b) >> 1
    // (arithmetic shift = floor division, identical for negatives —
    // trends go negative — on the JVM and DuckDB, both verified).
    // Init l = first observation, b = 0; forecasts are the linear
    // extrapolation l + h*b in cents.
    //
    // Scale shape: the raw stream collapses to the calendar-bounded
    // (user, day) cell table first, then ONE fold per user over its
    // day-sorted series — sequential by definition (each step needs the
    // last state), parallel across users, group size bounded by the
    // calendar. The oracle replays the same recurrence as a recursive
    // CTE keyed by row number (the graph_pagerank replay pattern —
    // NOT a DuckDB list_reduce fold: struct-accumulator folds
    // mis-evaluate under 1.0.0's lambda CSE, measured here, so the
    // recurrence is re-run row-by-row instead).
    Op("ts_holt_forecast",
       s"""WITH RECURSIVE ${dailyCentsCte("user_id")},
         |s AS (
         |  SELECT user_id, cents,
         |         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
         |  FROM daily),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days
         |      FROM daily GROUP BY 1),
         |holt(user_id, rn, l, b) AS (
         |  SELECT user_id, 1::BIGINT, cents, 0::BIGINT FROM s WHERE rn = 1
         |  UNION ALL
         |  SELECT s.user_id, h.rn + 1,
         |         (s.cents + h.l + h.b) >> 1,
         |         (((s.cents + h.l + h.b) >> 1) - h.l + h.b) >> 1
         |  FROM holt h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1)
         |SELECT h.user_id, n.n_days, h.l AS level, h.b AS trend,
         |       h.l + h.b AS fc1, h.l + 7 * h.b AS fc7
         |FROM holt h JOIN n USING (user_id) WHERE h.rn = n.n_days""".stripMargin) {
      (s, d) =>
        val arr = sort_array(collect_list(struct(col("day"), col("cents"))))
        val st = dailyCents(Tables.events(s, d), col("user_id"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_days"), arr.as("arr"))
          .select(col("user_id"), col("n_days"),
            aggregate(
              slice(col("arr"), lit(2), size(col("arr")) - 1),
              struct(element_at(col("arr"), 1).getField("cents").as("l"),
                lit(0L).as("b")),
              (acc, x) => {
                val l2 = shiftright(
                  x.getField("cents") + acc.getField("l") + acc.getField("b"), 1)
                struct(l2.as("l"),
                  shiftright(l2 - acc.getField("l") + acc.getField("b"), 1)
                    .as("b"))
              }).as("st"))
        st.select(col("user_id"), col("n_days"),
          col("st").getField("l").as("level"),
          col("st").getField("b").as("trend"),
          (col("st").getField("l") + col("st").getField("b")).as("fc1"),
          (col("st").getField("l") + lit(7L) * col("st").getField("b"))
            .as("fc7"))
    },

    // Rolling-origin BACKTEST of the Holt forecaster: at every day t≥2
    // the model state from days 1..t−1 issues a one-step-ahead forecast
    // l+b, and the absolute error against the realized total
    // accumulates through the same integer recurrence (the error ride
    // shares the fold — no second pass, no re-fit per origin). Output
    // per user: days, sum of absolute errors, truncating MAE in cents —
    // the honest "how good is fc1 actually" table next to
    // ts_holt_forecast's point forecasts. Users with one day have no
    // one-step origin and are excluded on both engines.
    Op("ts_holt_backtest",
       s"""WITH RECURSIVE ${dailyCentsCte("user_id")},
         |s AS (
         |  SELECT user_id, cents,
         |         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
         |  FROM daily),
         |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days
         |      FROM daily GROUP BY 1),
         |holt(user_id, rn, l, b, sae) AS (
         |  SELECT user_id, 1::BIGINT, cents, 0::BIGINT, 0::BIGINT
         |  FROM s WHERE rn = 1
         |  UNION ALL
         |  SELECT s.user_id, h.rn + 1,
         |         (s.cents + h.l + h.b) >> 1,
         |         (((s.cents + h.l + h.b) >> 1) - h.l + h.b) >> 1,
         |         h.sae + abs(s.cents - (h.l + h.b))
         |  FROM holt h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1)
         |SELECT h.user_id, n.n_days, h.sae,
         |       h.sae // (n.n_days - 1) AS mae_cents
         |FROM holt h JOIN n USING (user_id)
         |WHERE h.rn = n.n_days AND n.n_days >= 2""".stripMargin) {
      (s, d) =>
        val arr = sort_array(collect_list(struct(col("day"), col("cents"))))
        dailyCents(Tables.events(s, d), col("user_id"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_days"), arr.as("arr"))
          .filter(col("n_days") >= 2)
          .select(col("user_id"), col("n_days"),
            aggregate(
              slice(col("arr"), lit(2), size(col("arr")) - 1),
              struct(element_at(col("arr"), 1).getField("cents").as("l"),
                lit(0L).as("b"), lit(0L).as("sae")),
              (acc, x) => {
                val err = abs(x.getField("cents") -
                  (acc.getField("l") + acc.getField("b")))
                val l2 = shiftright(
                  x.getField("cents") + acc.getField("l") + acc.getField("b"), 1)
                struct(l2.as("l"),
                  shiftright(l2 - acc.getField("l") + acc.getField("b"), 1)
                    .as("b"),
                  (acc.getField("sae") + err).as("sae"))
              }).getField("sae").as("sae"))
          .select(col("user_id"), col("n_days"), col("sae"),
            expr("sae div (n_days - 1)").as("mae_cents"))
    },

    // Robust outlier days by median absolute deviation — the
    // breakdown-resistant alternative to ts_anomaly_hours' mean-based
    // profile (one wild day corrupts a mean threshold but moves a
    // median by one rank). Everything is INTEGER order statistics:
    // percentile_disc medians over the calendar-bounded daily table,
    // absolute deviations in cents, the 3x fence in exact arithmetic —
    // no float enters until never. Two scalar attaches (median, then
    // MAD) are broadcast single rows, the ts_autocorr shape.
    Op("ts_mad_outliers",
       s"""WITH ${dailyCentsCte()},
         |med AS (SELECT quantile_disc(cents, 0.5) AS med FROM daily),
         |mad AS (
         |  SELECT quantile_disc(abs(cents - med), 0.5) AS mad
         |  FROM daily, med)
         |SELECT day, cents, cents - med AS dev
         |FROM daily, med, mad
         |WHERE abs(cents - med) > 3 * mad""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      // percentile_disc picks an actual input datum but Spark TYPES it
      // DOUBLE; the cast back to long is lossless (cents are the data)
      // and keeps the comparison/output columns integer like DuckDB's
      // type-preserving quantile_disc
      val med = daily.agg(
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)" +
          " AS BIGINT)").as("med"))
      val withMed = daily.crossJoin(broadcast(med))
      val mad = withMed.agg(
        expr("CAST(percentile_disc(0.5) WITHIN GROUP" +
          " (ORDER BY abs(cents - med)) AS BIGINT)").as("mad"))
      withMed.crossJoin(broadcast(mad))
        .filter(abs(col("cents") - col("med")) > lit(3L) * col("mad"))
        .select(col("day"), col("cents"),
          (col("cents") - col("med")).as("dev"))
    },

    // Day-of-week seasonality index — mean spend per weekday over the
    // grand mean, the multiplicative seasonal profile a forecaster
    // divides out before trend fitting. The index is integer
    // PARTS-PER-MILLION by truncating division (sum_dow * d_all * 1e6
    // div (n_dow * tot) — one exact BIGINT expression per weekday), so
    // the seasonal profile itself hash-compares; the float index is
    // the same ratio in two pinned divisions. dow 0 = Thursday
    // (1970-01-01); label arithmetic, not locale calendars, on both
    // engines.
    Op("ts_dow_seasonality",
       s"""WITH ${dailyCentsCte()},
         |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t,
         |               CAST(count(*) AS BIGINT) AS d FROM daily)
         |SELECT day % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days,
         |       CAST(sum(cents) AS BIGINT) AS cents,
         |       CAST(sum(cents) AS BIGINT) * tot.d * 1000000
         |         // (CAST(count(*) AS BIGINT) * tot.t) AS index_ppm,
         |       (CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |       / (CAST(tot.t AS DOUBLE) / CAST(tot.d AS DOUBLE)) AS index
         |FROM daily, tot GROUP BY 1, tot.t, tot.d""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      val tot = daily.agg(sum(col("cents")).as("t"),
        count(lit(1)).as("d"))
      daily.crossJoin(broadcast(tot))
        .groupBy((col("day") % 7).as("dow"), col("t"), col("d"))
        .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("cents"))
        .select(col("dow"), col("n_days"), col("cents"),
          expr("cents * d * 1000000 div (n_days * t)").as("index_ppm"),
          ((col("cents").cast("double") / col("n_days").cast("double")) /
            (col("t").cast("double") / col("d").cast("double")))
            .as("index"))
    },

    // Exponentially time-decayed engagement score per user with a
    // 7-day half-life, kept EXACTLY integer: the decay factor
    // 2^-(age/7 days) is an arithmetic right-shift by age div 7
    // (capped at 62 — beyond that the contribution is provably 0 in
    // 63-bit arithmetic), so the recency-weighted sum replays
    // bit-for-bit where a pow(0.5, age/7.0) never would. This is the
    // recency-weighted-LTV / trending-score primitive: one keyed agg
    // over the (user, day) cell table with a broadcast horizon scalar,
    // incrementally maintainable by shifting yesterday's score.
    Op("ts_decayed_sum",
       s"""WITH ${dailyCentsCte("user_id")},
         |h AS (SELECT max(day) AS today FROM daily)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
         |       CAST(sum(cents >> CAST(least((today - day) // 7, 62)
         |                              AS INTEGER)) AS BIGINT)
         |         AS decayed_cents
         |FROM daily, h GROUP BY 1""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d), col("user_id"))
      val h = daily.agg(max(col("day")).as("today"))
      daily.crossJoin(broadcast(h))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          sum(expr("shiftright(cents," +
            " CAST(least((today - day) div 7, 62) AS INT))"))
            .as("decayed_cents"))
    },

    // Wald-Wolfowitz runs test on the daily-revenue sign sequence: is
    // the above/below-median pattern RANDOM, or does it trend/mean-
    // revert? Runs are counted with one lag over the day-ordered
    // calendar table (days at the exact discrete median are excluded,
    // the standard treatment); the z-statistic's expectation and
    // variance are rational in (n1, n2) and evaluate in pinned-order
    // +,-,*,/ and one sqrt — all correctly rounded, so like e_ab_welch
    // the double hash-compares unquantized.
    Op("ts_runs_test",
       s"""WITH ${dailyCentsCte()},
         |med AS (SELECT quantile_disc(cents, 0.5) AS med FROM daily),
         |s AS (
         |  SELECT day, cents > med AS up
         |  FROM daily, med WHERE cents <> med),
         |r AS (
         |  SELECT up,
         |         CASE WHEN lag(up) OVER (ORDER BY day) IS NULL
         |                OR lag(up) OVER (ORDER BY day) <> up
         |              THEN 1 ELSE 0 END AS newrun
         |  FROM s),
         |c AS (
         |  SELECT CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |         CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         |         CAST(sum(newrun) AS BIGINT) AS runs
         |  FROM r)
         |SELECT n1, n2, runs,
         |       (CAST(runs AS DOUBLE)
         |        - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         |           / CAST(n1 + n2 AS DOUBLE) + 1.0))
         |       / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         |              * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         |                 - CAST(n1 + n2 AS DOUBLE))
         |              / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
         |                 * (CAST(n1 + n2 AS DOUBLE) - 1.0))) AS z
         |FROM c""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      val med = daily.agg(
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)" +
          " AS BIGINT)").as("med"))
      val sgn = daily.crossJoin(broadcast(med))
        .filter(col("cents") =!= col("med"))
        .select(col("day"), (col("cents") > col("med")).as("up"))
      val prev = lag(col("up"), 1).over(Window.orderBy(col("day")))
      val c = sgn
        .select(col("up"),
          when(prev.isNull || prev =!= col("up"), 1).otherwise(0)
            .as("newrun"))
        .agg(sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("up"), 0L).otherwise(1L)).as("n2"),
          sum(col("newrun")).as("runs"))
      def d2(c: org.apache.spark.sql.Column) = c.cast("double")
      val n = col("n1") + col("n2")
      c.select(col("n1"), col("n2"), col("runs"),
        ((d2(col("runs")) -
          (lit(2.0) * d2(col("n1")) * d2(col("n2")) / d2(n) + 1.0)) /
          sqrt(lit(2.0) * d2(col("n1")) * d2(col("n2")) *
            (lit(2.0) * d2(col("n1")) * d2(col("n2")) - d2(n)) /
            (d2(n) * d2(n) * (d2(n) - 1.0)))).as("z"))
    },

    // Kaplan-Meier survival over view-to-purchase conversion lag (the
    // product-limit estimator, Kaplan & Meier 1958): subjects are users
    // with a view; the event is their first purchase AFTER that view;
    // users who never convert are right-CENSORED at the stream horizon
    // — the estimand "how long do users take to convert" is exactly
    // what a naive average-of-converters gets wrong by discarding the
    // censored mass. Risk sets come from one cumulative window over the
    // per-day (events, censored) table (n_risk(t) = N - prior exits);
    // the survival curve stays in the LOG domain as a cumulative sum of
    // per-day ln((n-d)/n) quantized to 2^-30 fixed point — sums of
    // integers, hash-exact, with the one division at presentation
    // (exp stays out of compared columns per the ieee_ln caveat; the
    // curve is monotone in either domain). Days with n = d can only be
    // the terminal risk set, so the n > d filter truncates, never
    // punctures, the curve.
    Op("ts_kaplan_meier",
       """WITH tv AS (
         |  SELECT user_id, min(epoch_us(ts)) AS t_view
         |  FROM events WHERE event_type = 'view' GROUP BY 1),
         |conv AS (
         |  SELECT tv.user_id, tv.t_view, min(epoch_us(e.ts)) AS t_conv
         |  FROM tv JOIN events e ON e.user_id = tv.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > tv.t_view
         |  GROUP BY 1, 2),
         |horizon AS (SELECT max(epoch_us(ts)) AS t_max FROM events),
         |subj AS (
         |  SELECT tv.user_id,
         |         CASE WHEN c.t_conv IS NOT NULL
         |              THEN (c.t_conv - tv.t_view) // 86400000000
         |              ELSE (h.t_max - tv.t_view) // 86400000000 END AS dur,
         |         CASE WHEN c.t_conv IS NOT NULL THEN 1 ELSE 0 END AS ev
         |  FROM tv LEFT JOIN conv c ON c.user_id = tv.user_id, horizon h),
         |days AS (
         |  SELECT dur AS t_days,
         |         CAST(sum(ev) AS BIGINT) AS d_events,
         |         CAST(sum(1 - ev) AS BIGINT) AS c_censored
         |  FROM subj GROUP BY 1),
         |risk AS (
         |  SELECT t_days, d_events, c_censored,
         |         CAST((SELECT count(*) FROM subj)
         |           - coalesce(sum(d_events + c_censored) OVER (
         |               ORDER BY t_days
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS n_risk
         |  FROM days),
         |km AS (
         |  SELECT t_days, n_risk, d_events, c_censored,
         |         CAST(sum(CAST(round(ln(CAST(n_risk - d_events AS DOUBLE)
         |                        / CAST(n_risk AS DOUBLE)) * 1073741824.0)
         |               AS BIGINT)) OVER (ORDER BY t_days
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS log_surv_fx
         |  FROM risk WHERE d_events > 0 AND n_risk > d_events)
         |SELECT t_days, n_risk, d_events, c_censored, log_surv_fx,
         |       CAST(log_surv_fx AS DOUBLE) / 1073741824.0 AS log_surv
         |FROM km""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val tv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t_view"))
      val conv = tv.join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), unix_micros(col("ts")).as("tp")),
          Seq("user_id"))
        .filter(col("tp") > col("t_view"))
        .groupBy(col("user_id"), col("t_view"))
        .agg(min(col("tp")).as("t_conv"))
      val horizon = ev.agg(max(unix_micros(col("ts"))).as("t_max"))
      val subj = tv.join(conv.select(col("user_id"), col("t_conv")),
          Seq("user_id"), "left")
        .crossJoin(broadcast(horizon))
        .select(
          when(col("t_conv").isNotNull,
            expr("(t_conv - t_view) div 86400000000"))
            .otherwise(expr("(t_max - t_view) div 86400000000")).as("dur"),
          when(col("t_conv").isNotNull, 1L).otherwise(0L).as("ev"))
      val days = subj.groupBy(col("dur").as("t_days"))
        .agg(sum(col("ev")).as("d_events"),
          sum(lit(1L) - col("ev")).as("c_censored"))
      val nTotal = subj.agg(count(lit(1)).as("n_total"))
      val before = Window.orderBy(col("t_days"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val upTo = Window.orderBy(col("t_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lamFx = round(graft.functions.GraftFunctions.ieeeLn(
          (col("n_risk") - col("d_events")).cast("double") /
            col("n_risk").cast("double")) * lit(1073741824.0)).cast("long")
      days.crossJoin(broadcast(nTotal))
        .withColumn("n_risk", col("n_total") -
          coalesce(sum(col("d_events") + col("c_censored")).over(before),
            lit(0L)))
        .filter(col("d_events") > 0 && col("n_risk") > col("d_events"))
        .withColumn("log_surv_fx", sum(lamFx).over(upTo))
        .select(col("t_days"), col("n_risk"), col("d_events"),
          col("c_censored"), col("log_surv_fx"),
          (col("log_surv_fx").cast("double") / lit(1073741824.0))
            .as("log_surv"))
    },

    // Ordinary-least-squares linear trend of daily revenue — the
    // parametric complement to ts_holt_forecast's recursive smoother
    // (one closed-form fit instead of a fold; the "is revenue growing
    // and by how much per day" readout). All five moments are EXACT
    // BIGINT sums over the daily cell table (x = epoch-day, y = cents):
    // slope = (nΣxy − ΣxΣy) / (nΣxx − (Σx)²), and both numerator and
    // denominator are emitted as BIGINTs so the fit hash-compares
    // before any float. The float slope/intercept/forecast are then
    // single pinned-order divisions (the graph_assortativity recipe).
    // Moment magnitudes: n·Σxy ≲ n²·day·cents_day ≈ 1e17 at sf0.1 —
    // BIGINT-safe; a century-long series would rebase x to min(day)
    // first.
    //
    // Scale shape: events → daily cells (one keyed agg, the shared
    // Timeseries contract), then one single-row moment reduce; the
    // forecast is arithmetic on that row. Nothing joins, nothing sorts.
    Op("ts_ols_trend",
       s"""WITH ${dailyCentsCte()},
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(day) AS BIGINT) AS sx,
         |         CAST(sum(cents) AS BIGINT) AS sy,
         |         CAST(sum(day * cents) AS BIGINT) AS sxy,
         |         CAST(sum(day * day) AS BIGINT) AS sxx,
         |         CAST(max(day) AS BIGINT) AS last_day
         |  FROM daily)
         |SELECT n,
         |       n * sxy - sx * sy AS slope_num,
         |       n * sxx - sx * sx AS slope_den,
         |       CAST(n * sxy - sx * sy AS DOUBLE)
         |         / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
         |         AS slope_cents,
         |       (CAST(sy AS DOUBLE)
         |        - (CAST(n * sxy - sx * sy AS DOUBLE)
         |           / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))
         |          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
         |         AS intercept_cents,
         |       (CAST(sy AS DOUBLE)
         |        - (CAST(n * sxy - sx * sy AS DOUBLE)
         |           / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))
         |          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
         |       + (CAST(n * sxy - sx * sy AS DOUBLE)
         |          / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE))
         |         * CAST(last_day + 7 AS DOUBLE) AS fc7_cents
         |FROM m""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      val m = daily.agg(
        count(lit(1)).as("n"),
        sum(col("day")).as("sx"),
        sum(col("cents")).as("sy"),
        sum(col("day") * col("cents")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"),
        max(col("day")).as("last_day"))
      val slopeNum = col("n") * col("sxy") - col("sx") * col("sy")
      val slopeDen = col("n") * col("sxx") - col("sx") * col("sx")
      // degenerate regression (a single distinct day -> zero x-variance)
      // yields NULL, not a job-killing ANSI divide-by-zero: at 100 TB a
      // one-day slice must not abort the whole run (fuzz regime `ties`)
      val slope = slopeNum.cast("double") /
        when(slopeDen =!= 0, slopeDen.cast("double"))
      val intercept = (col("sy").cast("double") -
        slope * col("sx").cast("double")) / col("n").cast("double")
      m.select(col("n"),
        slopeNum.as("slope_num"),
        slopeDen.as("slope_den"),
        slope.as("slope_cents"),
        intercept.as("intercept_cents"),
        (intercept + slope * (col("last_day") + 7).cast("double"))
          .as("fc7_cents"))
    },

    // CUSUM changepoint (Page 1954, the offline max-|S| form): the day
    // t* where the cumulative deviation from the series mean is largest
    // — THE single-level-shift locator a revenue dashboard runs before
    // fitting anything (a trend fit through a step function lies;
    // ts_ols_trend's residuals hide exactly this). Exactness: with
    // prefix sums P_t and total T over n days, S_t = P_t − t·T/n is
    // rational, so the argmax runs on the CLEARED form
    // D_t = n·P_t − t·T — exact BIGINT, same argmax. t* must leave both
    // segments non-empty (t < n; D_n ≡ 0 anyway), ties break on the
    // earlier day, and only the final segment-mean presentation divides
    // (two correctly-rounded doubles). The prefix window is ordered
    // over the calendar-bounded daily table (the ts_autocorr argument:
    // rows grow with elapsed days, not data volume); the (n, T) totals
    // are a 1-row keyless attach. One row out, hash-compared.
    Op("ts_level_shift",
       s"""WITH ${dailyCentsCte()},
         |scored AS (
         |  SELECT day,
         |         row_number() OVER (ORDER BY day) AS t,
         |         CAST(sum(cents) OVER (ORDER BY day
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS pre
         |  FROM daily),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(cents) AS BIGINT) AS total FROM daily)
         |SELECT n, day AS cp_day,
         |       abs(n * pre - t * total) AS d_abs,
         |       CAST(pre AS DOUBLE) / CAST(t AS DOUBLE) AS mean_before,
         |       CAST(total - pre AS DOUBLE) / CAST(n - t AS DOUBLE)
         |         AS mean_after
         |FROM scored, tot
         |WHERE t < n
         |ORDER BY abs(n * pre - t * total) DESC, day ASC
         |LIMIT 1""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      val w = Window.orderBy(col("day"))
      val scored = daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("pre", sum(col("cents")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = daily.agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total"))
      scored.crossJoin(broadcast(tot))
        .filter(col("t") < col("n"))
        .withColumn("d_abs",
          abs(col("n") * col("pre") - col("t") * col("total")))
        .orderBy(col("d_abs").desc, col("day").asc)
        .limit(1)
        .select(col("n"), col("day").as("cp_day"), col("d_abs"),
          (col("pre").cast("double") / col("t").cast("double"))
            .as("mean_before"),
          ((col("total") - col("pre")).cast("double") /
            (col("n") - col("t")).cast("double")).as("mean_after"))
    },

    // Theil–Sen robust trend (Theil 1950; Sen 1968): the median of all
    // pairwise slopes of the daily-revenue series — the estimator that
    // shrugs off the outlier days OLS (ts_ols_trend) gets dragged by
    // (29% breakdown point). Exactness: each pairwise slope is the
    // rational dy/dx; pairs are ordered by the IEEE double dy/dx (ONE
    // correctly-rounded division — identical in both engines) with the
    // exact (dy, dx, d1) triple as tiebreak, so the total order and
    // hence the selected middle pair(s) agree engine-to-engine; the
    // reported median keeps the middle pairs' exact integers alongside
    // the one fixed float sequence. n_pairs derives as n(n−1)/2 — one
    // scalar attach, no second counting pass.
    //
    // Scale shape: the pair fan-out is over the DAILY table, which is
    // calendar-bounded — it grows with elapsed time, not data volume
    // (366 rows/year ⇒ ~6.7M pairs per decade), so the non-equi
    // self-join is bounded-model work, not corpus work. The median rank
    // comes from Mixing.assignContiguousIds over the pair table — no
    // single-partition window even at the decade scale.
    Op("ts_theil_sen",
       s"""WITH ${dailyCentsCte()},
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
         |              CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS m
         |       FROM daily),
         |p AS (
         |  SELECT a.day AS d1, b.cents - a.cents AS dy,
         |         b.day - a.day AS dx
         |  FROM daily a JOIN daily b ON b.day > a.day),
         |r AS (
         |  SELECT dy, dx,
         |         CAST(row_number() OVER (
         |           ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE),
         |                    dy, dx, d1) AS BIGINT) AS rk
         |  FROM p)
         |SELECT nn.n_days, nn.m AS n_pairs,
         |       max(CASE WHEN rk = (nn.m + 1) // 2 THEN dy END) AS lo_num,
         |       max(CASE WHEN rk = (nn.m + 1) // 2 THEN dx END) AS lo_den,
         |       max(CASE WHEN rk = nn.m // 2 + 1 THEN dy END) AS hi_num,
         |       max(CASE WHEN rk = nn.m // 2 + 1 THEN dx END) AS hi_den,
         |       (max(CASE WHEN rk = (nn.m + 1) // 2 THEN
         |              CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) END)
         |        + max(CASE WHEN rk = nn.m // 2 + 1 THEN
         |              CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) END)) / 2
         |         AS slope_cents
         |FROM r, nn GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      val nn = daily.agg(count(lit(1)).as("n_days"),
        expr("count(1) * (count(1) - 1) div 2").as("m"))
      val a = daily.select(col("day").as("d1"), col("cents").as("c1"))
      val b = daily.select(col("day").as("d2"), col("cents").as("c2"))
      val p = a.join(b, col("d2") > col("d1"))
        .select(col("d1"), (col("c2") - col("c1")).as("dy"),
          (col("d2") - col("d1")).as("dx"))
      val sDbl = col("dy").cast("double") / col("dx").cast("double")
      val r = graft.llm.Mixing.assignContiguousIds(
          p.withColumn("s", sDbl),
          struct(col("s"), col("dy"), col("dx"), col("d1")))
        .withColumn("rk", col("seq_id") + 1L)
      val loRk = expr("(m + 1) div 2")
      val hiRk = expr("m div 2 + 1")
      r.crossJoin(broadcast(nn))
        .groupBy(col("n_days"), col("m").as("n_pairs"))
        .agg(
          max(when(col("rk") === loRk, col("dy"))).as("lo_num"),
          max(when(col("rk") === loRk, col("dx"))).as("lo_den"),
          max(when(col("rk") === hiRk, col("dy"))).as("hi_num"),
          max(when(col("rk") === hiRk, col("dx"))).as("hi_den"),
          ((max(when(col("rk") === loRk, col("s")))
            + max(when(col("rk") === hiRk, col("s")))) / 2)
            .as("slope_cents"))
    },

    // Granger causality (Granger 1969): does yesterday's click traffic
    // improve the autoregression of today's purchase revenue? Restricted
    // model y_t ~ a + b·y_{t−1} vs unrestricted y_t ~ a + b·y_{t−1} +
    // c·x_{t−1}, F = (RSS_r − RSS_u)/(RSS_u/(n−3)). Engine-exact float
    // discipline: every sufficient statistic (the 10 lagged moment sums)
    // is an exact BIGINT; the OLS solves (2×2 and 3×3 Cramer), RSS
    // collapses (RSS = Syy − β'X'y, cross terms vanish at the normal
    // equations), and F are ONE shared arithmetic-expression text
    // interpolated into BOTH plans (grangerDoubles … grangerF), so both
    // engines execute the identical IEEE op sequence on identical
    // integers.
    //
    // Scale shape: raw events collapse to the calendar-bounded daily
    // table (two filtered branches of one scan), lag-1 via one ordered
    // window over days, one keyless aggregate to a single moment row,
    // then scalar arithmetic. Nothing beyond the day table ever
    // shuffles.
    Op("ts_granger",
       s"""WITH $clickPurchaseCtes,
          |lagged AS (
          |  SELECT day, y,
          |         lag(y) OVER (ORDER BY day) AS yl,
          |         lag(x) OVER (ORDER BY day) AS xl
          |  FROM ser),
          |mm AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |         CAST(sum(y) AS BIGINT) AS sy,
          |         CAST(sum(yl) AS BIGINT) AS syl,
          |         CAST(sum(xl) AS BIGINT) AS sxl,
          |         CAST(sum(y * y) AS BIGINT) AS syy,
          |         CAST(sum(yl * yl) AS BIGINT) AS syl2,
          |         CAST(sum(xl * xl) AS BIGINT) AS sxl2,
          |         CAST(sum(y * yl) AS BIGINT) AS syyl,
          |         CAST(sum(y * xl) AS BIGINT) AS syxl,
          |         CAST(sum(yl * xl) AS BIGINT) AS sylxl
          |  FROM lagged WHERE yl IS NOT NULL AND xl IS NOT NULL),
          |dd AS (SELECT n, ${grangerDoubles.mkString(", ")} FROM mm),
          |fit AS (SELECT n, ${grangerFits.mkString(", ")} FROM dd),
          |rss AS (SELECT n, ${grangerRss.mkString(", ")} FROM fit)
          |SELECT n, rss_r, rss_u, rss_r - rss_u AS c_gain,
          |       $grangerF AS f_stat
          |FROM rss""".stripMargin) { (s, d) =>
      val ser = clickPurchaseSeries(Tables.events(s, d))
      val w = Window.orderBy(col("day"))
      val lagged = ser.select(col("day"), col("y"),
          lag(col("y"), 1).over(w).as("yl"),
          lag(col("x"), 1).over(w).as("xl"))
        .filter(col("yl").isNotNull && col("xl").isNotNull)
      val mm = lagged.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("yl")).as("syl"), sum(col("xl")).as("sxl"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("yl") * col("yl")).as("syl2"),
        sum(col("xl") * col("xl")).as("sxl2"),
        sum(col("y") * col("yl")).as("syyl"),
        sum(col("y") * col("xl")).as("syxl"),
        sum(col("yl") * col("xl")).as("sylxl"))
      val dd = mm.selectExpr("n" +: grangerDoubles: _*)
      val fit = dd.selectExpr("n" +: grangerFits: _*)
      val rss = fit.selectExpr("n" +: grangerRss: _*)
      rss.selectExpr("n", "rss_r", "rss_u", "rss_r - rss_u AS c_gain",
        s"$grangerF AS f_stat")
    },

    // Holt-Winters additive seasonal smoothing (Winters 1960) of global
    // daily revenue with a weekly (m = 7) cycle — the seasonal upgrade
    // of ts_holt_forecast's level+trend smoother, and the classic
    // operational forecaster for weekday-patterned series. Fixed-point
    // α = β = γ = 1/2 (arithmetic shifts — DuckDB's >> and Spark's
    // shiftright are both floor-division on negatives, the
    // ts_holt_forecast contract), so every level/trend/seasonal state
    // and all 7 forecasts are exact BIGINTs:
    //
    //   l_t = (y_t − s_{t−m} + l_{t−1} + b_{t−1}) >> 1
    //   b_t = (l_t − l_{t−1} + b_{t−1}) >> 1
    //   s_t = (y_t − l_t + s_{t−m}) >> 1
    //   fc_h = l_n + h·b_n + s_{n+h−m}
    //
    // Init: l_m = Σ(y_1..y_m) div m, b_m = 0, s_i = y_i − l_m. The
    // seasonal index runs on the day-ORDERED row sequence (the series
    // is dense daily here; a gappy series would gap-fill first —
    // ts_gapfill_locf is exactly that operator).
    //
    // Scale shape: the daily cell table is one keyed agg over events;
    // the fold is inherently sequential (each state needs the previous)
    // but runs over |days| rows — bounded by calendar time, not data
    // volume, so a 100 TB year is still a 365-element fold. The oracle
    // replays the recursion row-by-row with a recursive CTE carrying
    // the 7-element seasonal list.
    Op("ts_holt_winters",
       s"""WITH RECURSIVE ${dailyCentsCte()},
         |s AS (SELECT cents,
         |             row_number() OVER (ORDER BY day) AS rn
         |      FROM daily),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
         |l0 AS (SELECT CAST(sum(cents) // 7 AS BIGINT) AS l
         |       FROM s WHERE rn <= 7),
         |init AS (
         |  SELECT CAST(7 AS BIGINT) AS rn, l0.l AS l, CAST(0 AS BIGINT) AS b,
         |         (SELECT list(cents - l0.l ORDER BY rn)
         |          FROM s WHERE rn <= 7) AS ss
         |  FROM l0),
         |hw(rn, l, b, ss) AS (
         |  SELECT rn, l, b, ss FROM init
         |  UNION ALL
         |  SELECT h.rn + 1,
         |         (s.cents - h.ss[1] + h.l + h.b) >> 1,
         |         (((s.cents - h.ss[1] + h.l + h.b) >> 1) - h.l + h.b) >> 1,
         |         list_append(h.ss[2:7],
         |           (s.cents - ((s.cents - h.ss[1] + h.l + h.b) >> 1)
         |            + h.ss[1]) >> 1)
         |  FROM hw h JOIN s ON s.rn = h.rn + 1)
         |SELECT CAST(h AS BIGINT) AS h, hw.l AS level, hw.b AS trend,
         |       hw.l + h * hw.b + hw.ss[h] AS fc_cents
         |FROM hw, nn, unnest(range(1, 8)) AS u(h)
         |WHERE hw.rn = nn.n""".stripMargin) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d))
      daily
        .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
          .as("arr"))
        .withColumn("l0",
          expr("aggregate(slice(arr, 1, 7), CAST(0 AS BIGINT)," +
            " (a, x) -> a + x.cents) div 7"))
        .withColumn("st", expr(
          """aggregate(slice(arr, 8, size(arr) - 7),
            |  struct(l0 AS l, CAST(0 AS BIGINT) AS b,
            |         transform(slice(arr, 1, 7), x -> x.cents - l0) AS ss),
            |  (acc, x) -> struct(
            |    shiftright(x.cents - element_at(acc.ss, 1) + acc.l + acc.b,
            |               1) AS l,
            |    shiftright(
            |      shiftright(x.cents - element_at(acc.ss, 1) + acc.l + acc.b,
            |                 1) - acc.l + acc.b, 1) AS b,
            |    concat(slice(acc.ss, 2, 6), array(
            |      shiftright(
            |        x.cents
            |        - shiftright(x.cents - element_at(acc.ss, 1)
            |                     + acc.l + acc.b, 1)
            |        + element_at(acc.ss, 1), 1))) AS ss))""".stripMargin))
        .select(explode(sequence(lit(1L), lit(7L))).as("h"),
          col("st.l").as("level"), col("st.b").as("trend"), col("st.ss"))
        .select(col("h"), col("level"), col("trend"),
          (col("level") + col("h") * col("trend") +
            element_at(col("ss"), col("h").cast("int"))).as("fc_cents"))
    },

    // Classical additive seasonal decomposition (the moving-average
    // core of STL, Cleveland et al. 1990, without the loess smoothing):
    // y = trend + seasonal + residual over daily revenue with a weekly
    // cycle. Trend is the CENTERED 7-day moving average (defined only
    // where the window is full — the standard interior truncation);
    // seasonal is the per-day-of-week mean of the detrended series,
    // recentered to sum to zero; the residual is what remains. All
    // three components are EXACT fixed-point BIGINTs in the
    // cents·2^20 domain: the moving average stays as a ×7 sum, means
    // divide once with truncating `div` (identical toward-zero
    // semantics in Spark and DuckDB, verified for negatives), so the
    // whole decomposition hash-compares with no float anywhere —
    // presentation doubles divide by the power-of-two scale, which is
    // exact.
    //
    // Scale shape: the daily cell table is one keyed agg over events;
    // the windows/means run on that calendar-bounded table (|days|
    // rows — the shared Timeseries contract), seasonal means are a
    // ≤7-row aggregate, attached back by a broadcast join.
    // Trend/seasonality STRENGTH of the STL fit (Hyndman & Athanasopoulos,
    // "Forecasting: Principles and Practice" §3.4): F_t = max(0,
    // 1 − Var(R)/Var(T+R)), F_s likewise against S+R — the scalar
    // "is there a real trend/season here" readout over the decomposition.
    // Components are truncated from 2^20 fixed point back to exact cents
    // (truncating division pinned on both engines), variance numerators
    // are the exact n·Σx² − (Σx)² cross-products in 128-bit integers
    // (DECIMAL(38,0) / HUGEINT — the BIGINT form overflows at sf1, where
    // daily totals are 10× sf0.1's), presented as DOUBLE of
    // the exact values, and each strength is one IEEE
    // division+subtraction — so the row hash-compares.
    Op("ts_stl_strength",
       s"""WITH $stlCtes,
         |c AS (
         |  SELECT residual_fx // 1048576 AS r,
         |         (trend_fx + residual_fx) // 1048576 AS tr,
         |         (seasonal_fx + residual_fx) // 1048576 AS sr
         |  FROM comp),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(CAST(count(*)::HUGEINT * sum(r * r)
         |              - sum(r)::HUGEINT * sum(r) AS VARCHAR) AS DOUBLE)
         |           AS var_r_num,
         |         CAST(CAST(count(*)::HUGEINT * sum(tr * tr)
         |              - sum(tr)::HUGEINT * sum(tr)
         |              AS VARCHAR) AS DOUBLE) AS var_tr_num,
         |         CAST(CAST(count(*)::HUGEINT * sum(sr * sr)
         |              - sum(sr)::HUGEINT * sum(sr)
         |              AS VARCHAR) AS DOUBLE) AS var_sr_num
         |  FROM c)
         |SELECT n, var_r_num, var_tr_num, var_sr_num,
         |       greatest(0.0, 1.0 - CAST(var_r_num AS DOUBLE)
         |                           / CAST(var_tr_num AS DOUBLE))
         |         AS f_trend,
         |       greatest(0.0, 1.0 - CAST(var_r_num AS DOUBLE)
         |                           / CAST(var_sr_num AS DOUBLE))
         |         AS f_seasonal
         |FROM m""".stripMargin) { (s, d) =>
      val c = stlComponents(Tables.events(s, d)).select(
        expr("residual_fx div 1048576").as("r"),
        expr("(trend_fx + residual_fx) div 1048576").as("tr"),
        expr("(seasonal_fx + residual_fx) div 1048576").as("sr"))
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      def w(x: org.apache.spark.sql.Column) = x.cast(d38)
      c.agg(count(lit(1)).as("n"),
          sum(w(col("r") * col("r"))).as("srr"), sum(col("r")).as("sr1"),
          sum(w(col("tr") * col("tr"))).as("stt"), sum(col("tr")).as("st1"),
          sum(w(col("sr") * col("sr"))).as("sss"), sum(col("sr")).as("ss1"))
        .select(col("n"),
          (w(col("n")) * col("srr") - w(col("sr1")) * w(col("sr1")))
            .cast("double").as("var_r_num"),
          (w(col("n")) * col("stt") - w(col("st1")) * w(col("st1")))
            .cast("double").as("var_tr_num"),
          (w(col("n")) * col("sss") - w(col("ss1")) * w(col("ss1")))
            .cast("double").as("var_sr_num"))
        .select(col("n"), col("var_r_num"), col("var_tr_num"),
          col("var_sr_num"),
          greatest(lit(0.0), lit(1.0) - col("var_r_num").cast("double") /
            col("var_tr_num").cast("double")).as("f_trend"),
          greatest(lit(0.0), lit(1.0) - col("var_r_num").cast("double") /
            col("var_sr_num").cast("double")).as("f_seasonal"))
    },

    Op("ts_stl_decompose",
       s"""WITH $stlCtes
         |SELECT day, cents, trend_fx, seasonal_fx, residual_fx,
         |       CAST(trend_fx AS DOUBLE) / 1048576.0 AS trend,
         |       CAST(seasonal_fx AS DOUBLE) / 1048576.0 AS seasonal
         |FROM comp""".stripMargin) {
      (s, d) =>
        stlComponents(Tables.events(s, d))
          .select(col("day"), col("cents"), col("trend_fx"),
            col("seasonal_fx"), col("residual_fx"),
            (col("trend_fx").cast("double") / 1048576.0).as("trend"),
            (col("seasonal_fx").cast("double") / 1048576.0).as("seasonal"))
    },

    // Seasonally-adjusted anomaly detection: the STL residual run
    // through the MAD fence (ts_mad_outliers' robust rule) — a spike
    // that is merely "it's Saturday" has its seasonal component
    // removed BEFORE the outlier test, which is the whole reason to
    // decompose first. Median and MAD are integer order statistics on
    // the fixed-point residual; the 3x fence stays in exact integer
    // cross-multiplication. Every interior day is emitted with its
    // flag so the fence itself is what hash-compares.
    Op("ts_stl_anomalies",
       s"""WITH $stlCtes,
         |med AS (SELECT quantile_disc(residual_fx, 0.5) AS med_fx FROM comp),
         |ad AS (
         |  SELECT c.day, c.cents, c.residual_fx, m.med_fx,
         |         abs(c.residual_fx - m.med_fx) AS adev
         |  FROM comp c, med m),
         |mad AS (SELECT quantile_disc(adev, 0.5) AS mad_fx FROM ad)
         |SELECT a.day, a.cents, a.residual_fx, a.med_fx, d.mad_fx,
         |       abs(a.residual_fx - a.med_fx) > 3 * d.mad_fx AS is_anomaly
         |FROM ad a, mad d""".stripMargin) { (s, d) =>
      val comp = stlComponents(Tables.events(s, d)).transform(graft.Ckpt.cut(_))
      val med = comp.agg(
        expr("CAST(percentile_disc(0.5) WITHIN GROUP" +
          " (ORDER BY residual_fx) AS BIGINT)").as("med_fx"))
      val ad = comp.crossJoin(broadcast(med))
        .select(col("day"), col("cents"), col("residual_fx"),
          col("med_fx"),
          abs(col("residual_fx") - col("med_fx")).as("adev"))
        .transform(graft.Ckpt.cut(_))
      val mad = ad.agg(
        expr("CAST(percentile_disc(0.5) WITHIN GROUP" +
          " (ORDER BY adev) AS BIGINT)").as("mad_fx"))
      ad.crossJoin(broadcast(mad))
        .select(col("day"), col("cents"), col("residual_fx"),
          col("med_fx"), col("mad_fx"),
          (abs(col("residual_fx") - col("med_fx")) > lit(3) * col("mad_fx"))
            .as("is_anomaly"))
    }
  )

  /** The integer core of the additive decomposition (see
    * ts_stl_decompose): (day, cents, trend_fx, seasonal_fx,
    * residual_fx) over the interior days, all exact cents·2^20
    * BIGINTs. Shared by the decomposition and the seasonally-adjusted
    * anomaly fence.
    */
  private def stlComponents(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val daily = dailyCents(events)
    val byDay = Window.orderBy(col("day"))
    val w = daily
      .withColumn("rn", row_number().over(byDay))
      .withColumn("t7", sum(col("cents"))
        .over(byDay.rowsBetween(-3, 3)).cast("long"))
    val nn = daily.agg(count(lit(1)).as("n"))
    val interior = w.crossJoin(broadcast(nn))
      .filter(col("rn") >= 4 && col("rn") <= col("n") - 3)
      .select(col("day"), col("cents"), (col("day") % 7).as("dow"),
        col("t7"), (lit(7) * col("cents") - col("t7")).as("d7"))
    val seas = interior.groupBy(col("dow"))
      .agg(expr("sum(d7) * 1048576 div (7 * count(*))").as("s_fx"))
    val ctr = seas.agg(expr("sum(s_fx) div 7").as("m_fx"))
    interior.join(broadcast(seas), "dow")
      .crossJoin(broadcast(ctr))
      .select(col("day"), col("cents"),
        expr("t7 * 1048576 div 7").as("trend_fx"),
        (col("s_fx") - col("m_fx")).as("seasonal_fx"),
        (col("cents") * 1048576 - expr("t7 * 1048576 div 7") -
          (col("s_fx") - col("m_fx"))).as("residual_fx"))
  }

  /** Shared DuckDB replay of stlComponents — ends in
    * `comp(day, cents, trend_fx, seasonal_fx, residual_fx)`.
    */
  private lazy val stlCtes: String =
    s"""${dailyCentsCte()},
      |w AS (
      |  SELECT day, cents,
      |         row_number() OVER (ORDER BY day) AS rn,
      |         CAST(sum(cents) OVER (ORDER BY day
      |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
      |           AS t7
      |  FROM daily),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
      |interior AS (
      |  SELECT day, cents, day % 7 AS dow, t7,
      |         7 * cents - t7 AS d7
      |  FROM w, nn WHERE rn >= 4 AND rn <= n - 3),
      |seas AS (
      |  SELECT dow,
      |         (CAST(sum(d7) AS BIGINT) * 1048576)
      |           // (7 * CAST(count(*) AS BIGINT)) AS s_fx
      |  FROM interior GROUP BY 1),
      |ctr AS (SELECT CAST(sum(s_fx) AS BIGINT) // 7 AS m_fx FROM seas),
      |comp AS (
      |  SELECT i.day, i.cents,
      |         i.t7 * 1048576 // 7 AS trend_fx,
      |         s.s_fx - c.m_fx AS seasonal_fx,
      |         i.cents * 1048576 - i.t7 * 1048576 // 7
      |           - (s.s_fx - c.m_fx) AS residual_fx
      |  FROM interior i JOIN seas s USING (dow), ctr c)""".stripMargin
}
