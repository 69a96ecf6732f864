package graft.operators

import graft.Dialect
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Time-series analytics over the `events` table. The reference has no
  * streaming operators (Impala 2.x is batch-only; SURVEY §2.4) — the
  * harness's events stream is a timestamped table, and these are the batch
  * shapes a 100 TB event pipeline needs: tumbling-window rollups (shuffle
  * on (window, key) — embarrassingly parallel), sessionization via window
  * functions (one shuffle on user_id), top-k per key (partial TopN under
  * AQE), daily conditional rollups. Structured Streaming versions of the
  * same ops live in graft.streaming.
  */
object Events {

  /** Tumbling 1-hour windows via Spark's window() grouping — DSL form;
    * oracle: date_trunc to the hour. */
  val q65Tumbling: QuerySpec = QuerySpec(
    "q65_events_tumbling",
    """SELECT DATE_TRUNC('hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.table("events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Sessionization: a 30-minute inactivity gap opens a new session —
    * lag + running sum over one user_id shuffle, then a session-level
    * rollup. The scale-safe shape: no self-join, no collect. */
  val q66Sessionize: QuerySpec = QuerySpec.sql(
    "q66_events_sessionize",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |), sess AS (
      |  SELECT user_id, event_id,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS session_no
      |  FROM flagged
      |)
      |SELECT user_id, session_no, COUNT(*) AS n_events
      |FROM sess
      |GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin)

  /** Session-scoped event-pattern detection — the batch twin of
    * MATCH_RECOGNIZE / Flink CEP, which neither Spark SQL nor the
    * reference has as a grammar production: sessionize (the q66
    * machinery), fold each session's events into an ORDERED type
    * sequence, and run ordinary string/regex predicates over it
    * ("two views then a click" burst, "click … purchase" conversion).
    * Total order inside the fold ((ts, event_id) — array_sort of the
    * struct on Spark, ORDER BY inside string_agg on DuckDB) makes the
    * sequence, hence every pattern flag, deterministic under any
    * partitioning. Scale shape: one user-keyed window pass + one
    * session-keyed aggregate; a session's sequence is gap-bounded (30
    * min), so the folded string cannot grow with the corpus — no
    * unbounded per-key state, the same argument as the streaming
    * sessionizer's. */
  val q223EventCep: QuerySpec = {
    val sess =
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |), sess AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_no
        |  FROM flagged
        |)""".stripMargin
    QuerySpec.sql2(
      "q223_events_cep",
      s"""$sess
         |SELECT user_id, session_no, COUNT(*) AS n_events,
         |  (concat_ws(' ', transform(array_sort(collect_list(struct(ts, event_id, event_type))),
         |     x -> x.event_type)) RLIKE 'view view click') AS browse_burst,
         |  (concat_ws(' ', transform(array_sort(collect_list(struct(ts, event_id, event_type))),
         |     x -> x.event_type)) RLIKE 'click.*purchase') AS converted
         |FROM sess
         |GROUP BY user_id, session_no
         |ORDER BY user_id, session_no""".stripMargin,
      s"""$sess
         |SELECT user_id, session_no, COUNT(*) AS n_events,
         |  regexp_matches(string_agg(event_type, ' ' ORDER BY ts, event_id),
         |    'view view click') AS browse_burst,
         |  regexp_matches(string_agg(event_type, ' ' ORDER BY ts, event_id),
         |    'click.*purchase') AS converted
         |FROM sess
         |GROUP BY user_id, session_no
         |ORDER BY user_id, session_no""".stripMargin)
  }

  /** Rolling z-score anomaly detection over the hourly event-count
    * series — the ops-monitoring twin of [[q69Outliers]]'s static
    * percentile cut: each hour scores against the trailing 24-hour
    * baseline (mean/std from exact Σc and Σc² — the square sum rides
    * DECIMAL(38,0): 24 hours of 10⁹-event hours already brush the
    * BIGINT ceiling — never a second pass), so a traffic spike flags
    * the hour it happens. Scale shape:
    * ONE corpus rollup to the hour-keyed relation, then all windows run
    * on that tiny series; the variance identity keeps the arithmetic
    * exact until the final fixed DOUBLE tree (max(var,1) floors the
    * denominator — a flat baseline can't divide by ~0). Warm-up hours
    * (<12 trailing points) are excluded rather than scored on noise. */
  val q224HourlyAnomaly: QuerySpec = QuerySpec.sql(
    "q224_events_anomaly",
    """WITH h AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS c
      |           FROM events GROUP BY date_trunc('hour', ts)),
      |w AS (SELECT hr, c,
      |        CAST(SUM(c) OVER win AS BIGINT) AS s1,
      |        CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) OVER win AS DECIMAL(38,0)) AS s2,
      |        COUNT(*) OVER win AS n
      |      FROM h
      |      WINDOW win AS (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT hr, CAST(c AS BIGINT) AS n_events, CAST(n AS BIGINT) AS n_baseline,
      |  CAST(ROUND((c - s1 / CAST(n AS DOUBLE))
      |       / SQRT(GREATEST(s2 / CAST(n AS DOUBLE)
      |              - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)), 1.0))
      |       * 1e6) AS BIGINT) AS z_e6,
      |  (ABS((c - s1 / CAST(n AS DOUBLE))
      |       / SQRT(GREATEST(s2 / CAST(n AS DOUBLE)
      |              - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)), 1.0))) > 3.0)
      |    AS anomaly
      |FROM w WHERE n >= 12
      |ORDER BY hr""".stripMargin)

  /** Benford's-law first-digit audit over transaction values — the
    * classic fraud/synthetic-data detector: compare the observed
    * first-significant-digit distribution against Benford's
    * log10(1+1/d) expectation and report the χ² statistic. Digit
    * extraction goes through INTEGER cents and string slicing, never
    * log10-of-double (whose floor can flip at representation
    * boundaries); the χ² expectation uses log10 of small integer
    * constants — the same literal doubles on both engines. One
    * map-side-combined 9-row aggregate; the χ² rollup is a window over
    * those 9 rows. */
  val q226BenfordAudit: QuerySpec = QuerySpec.sql(
    "q226_benford_audit",
    """WITH v AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents
      |           FROM events WHERE value > 0),
      |d AS (SELECT CAST(SUBSTR(CAST(cents AS STRING), 1, 1) AS INT) AS digit,
      |             COUNT(*) AS n_obs
      |      FROM v WHERE cents > 0 GROUP BY 1),
      |e AS (SELECT digit, n_obs,
      |        CAST(SUM(n_obs) OVER () AS BIGINT) AS n,
      |        LOG10(1.0 + 1.0 / digit) AS p_benford
      |      FROM d)
      |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
      |  CAST(ROUND(p_benford * 1e6) AS BIGINT) AS expected_frac_e6,
      |  CAST(ROUND((n_obs - n * p_benford) * (n_obs - n * p_benford)
      |             / (n * p_benford) * 1e6) AS BIGINT) AS chi2_term_e6
      |FROM e ORDER BY digit""".stripMargin)

  /** A/B experiment readout — deterministic arm assignment (the top
    * bit of the low-32 Knuth product (user_id mod 1000003)·2654435761,
    * frozen forever — a real hash so structured ids, e.g.
    * parity-correlated with signup time, cannot bias the arms the way
    * a raw `user_id % 2` would), per-arm
    * user-level conversion, lift, and the pooled two-proportion
    * z-statistic. The whole readout is two key-aggregates (user roll-up
    * → arm roll-up) with every rate derived from exact integers in one
    * fixed DOUBLE tree — no resampling, no order-dependent sums. At
    * 100 TB the user rollup is the only corpus-sized stage and it
    * partial-aggregates; the final z is O(1) algebra on 2 rows. */
  val q227AbReadout: QuerySpec = QuerySpec.sql(
    "q227_ab_experiment_readout",
    """WITH u AS (
      |  SELECT user_id,
      |         CASE WHEN ((user_id % 1000003) * 2654435761) % 4294967296
      |                   >= 2147483648 THEN 1 ELSE 0 END AS arm,
      |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY user_id),
      |a AS (SELECT arm, COUNT(*) AS n_users,
      |             CAST(SUM(converted) AS BIGINT) AS n_converted
      |      FROM u GROUP BY arm),
      |w AS (SELECT
      |        MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
      |        MAX(CASE WHEN arm = 0 THEN n_converted END) AS c0,
      |        MAX(CASE WHEN arm = 1 THEN n_users END) AS n1,
      |        MAX(CASE WHEN arm = 1 THEN n_converted END) AS c1
      |      FROM a)
      |SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
      |  CAST(ROUND(c0 * 1e6 / n0) AS BIGINT) AS conv_control_e6,
      |  CAST(ROUND(c1 * 1e6 / n1) AS BIGINT) AS conv_treat_e6,
      |  CAST(ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0) * 1e6)
      |    AS BIGINT) AS lift_e6,
      |  CAST(ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
      |    / SQRT((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
      |           * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
      |           * (1.0 / n0 + 1.0 / n1)) * 1e6) AS BIGINT) AS z_e6
      |FROM w""".stripMargin)

  /** Robust (10% two-sided trimmed) mean of transaction value per event
    * type — the outlier-resistant rollup that a spiky `value` column
    * needs (a single fat-fingered amount moves the plain mean, not the
    * trimmed one). Exact trim boundaries from an integer rank window
    * keyed on event_type ((value, event_id) total order; group size =
    * one type's rows); the kept-range mean goes through DECIMAL(12,2)
    * accumulation so neither engine's double summation order leaks into
    * the result. Per-type windows, no global sort. */
  val q231TrimmedMean: QuerySpec = QuerySpec.sql(
    "q231_events_trimmed_mean",
    """WITH r AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |                       ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |k AS (SELECT event_type, value, n FROM r
      |      WHERE rn > CAST(FLOOR(n / 10.0) AS BIGINT)
      |        AND rn <= n - CAST(FLOOR(n / 10.0) AS BIGINT))
      |SELECT event_type,
      |  CAST(MAX(n) AS BIGINT) AS n_total,
      |  COUNT(*) AS n_kept,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS trimmed_mean,
      |  CAST(MIN(value) AS DOUBLE) AS lo_cut,
      |  CAST(MAX(value) AS DOUBLE) AS hi_cut
      |FROM k GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  /** Per-type OLS trend of transaction value over time (slope per hour
    * + fit quality) — the regression-flavored sibling of [[q224]]'s
    * anomaly z-score: "is purchase value drifting, and is the drift
    * real?". GROUPED-DATA OLS: events collapse to the (type, hour)
    * relation first (per-hour n, Σy, Σy² with DECIMAL accumulation),
    * the time axis centers against the min hour of that TINY relation
    * (never a global window over raw events), and every OLS moment
    * (Σx, Σxy, Σx², weighted by per-hour n) is exact integer/decimal
    * algebra; slope and R² are one fixed DOUBLE tree at the end.
    * Centering also keeps the moments small enough that the double
    * conversion is exact. */
  val q233TrendOls: QuerySpec = {
    def text(spark: Boolean): String = {
      val epoch = if (spark) "unix_timestamp(ts)" else "epoch(ts)"
      s"""WITH h AS (
      |  SELECT event_type,
      |    CAST(FLOOR($epoch / 3600) AS BIGINT) AS hr_raw,
      |    COUNT(*) AS n_h,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS sy_h,
      |    SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS sy2_h
      |  FROM events GROUP BY 1, 2),
      |c AS (SELECT event_type, n_h, sy_h, sy2_h,
      |        hr_raw - MIN(hr_raw) OVER () AS x
      |      FROM h),
      |m AS (SELECT event_type,
      |        CAST(SUM(n_h) AS BIGINT) AS n,
      |        CAST(SUM(n_h * x) AS BIGINT) AS sx,
      |        CAST(SUM(n_h * x * x) AS BIGINT) AS sx2,
      |        CAST(SUM(sy_h) AS DOUBLE) AS sy,
      |        CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(sy_h AS DECIMAL(27,2))) AS DOUBLE) AS sxy,
      |        CAST(SUM(sy2_h) AS DOUBLE) AS sy2
      |      FROM c GROUP BY event_type)
      |SELECT event_type, n,
      |  CAST(ROUND((n * sxy - sx * sy) / (n * sx2 - CAST(sx AS DOUBLE) * sx) * 1e6)
      |    AS BIGINT) AS slope_per_hour_e6,
      |  CAST(ROUND(((n * sxy - sx * sy) / (n * sx2 - CAST(sx AS DOUBLE) * sx))
      |           * ((n * sxy - sx * sy) / (n * sx2 - CAST(sx AS DOUBLE) * sx))
      |           * (n * sx2 - CAST(sx AS DOUBLE) * sx)
      |           / (n * sy2 - sy * sy) * 1e6) AS BIGINT) AS r2_e6
      |FROM m ORDER BY event_type""".stripMargin
    }
    QuerySpec.sql2("q233_events_trend_ols", text(spark = true), text(spark = false))
  }

  /** EWMA smoothing of the hourly event-count series (α = 0.2) — the
    * exponential-smoothing member of the monitoring trio next to
    * [[q224HourlyAnomaly]] (z-score) and [[q233TrendOls]] (trend): the
    * closed form `ewma_i = (1-α)^i·y_0 + αΣ_{j≥1}(1-α)^{i-j}·y_j`
    * computed by a triangular self-join of the HOUR-KEYED relation
    * (j ≤ i) — O(H²) pairs where H is hours, never events; the
    * sequential recursion this replaces does not distribute, and the
    * naive windowed rescaling `(1-α)^{-j}` overflows for long series,
    * so the explicit pair weighting is the portable exact form. Each
    * term is a fixed pow/multiply DOUBLE tree accumulated via
    * DECIMAL(27,18) (q184 rule) — summation order never surfaces. At
    * 100 TB the hour relation is still tiny; a per-KEY EWMA at high key
    * cardinality would swap the self-join for the streaming twin's
    * stateful fold. */
  val q234Ewma: QuerySpec = QuerySpec.sql(
    "q234_events_ewma",
    """WITH h AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS c
      |           FROM events GROUP BY date_trunc('hour', ts)),
      |r AS (SELECT hr, c,
      |        ROW_NUMBER() OVER (ORDER BY hr) - 1 AS i
      |      FROM h),
      |e AS (SELECT a.hr, a.c,
      |        CAST(SUM(CAST(
      |          CASE WHEN b.i = 0 THEN POWER(0.8, a.i) * b.c
      |               ELSE 0.2 * POWER(0.8, a.i - b.i) * b.c END
      |          AS DECIMAL(27,18))) AS DOUBLE) AS ewma
      |      FROM r a JOIN r b ON b.i <= a.i
      |      GROUP BY a.hr, a.c)
      |SELECT hr, CAST(c AS BIGINT) AS n_events,
      |  CAST(ROUND(ewma * 1e6) AS BIGINT) AS ewma_e6,
      |  CAST(ROUND((c - ewma) * 1e6) AS BIGINT) AS residual_e6
      |FROM e ORDER BY hr""".stripMargin)

  /** Last-touch revenue attribution — marketing analytics' canonical
    * question ("which interaction gets credit for the purchase?"):
    * every purchase's value is attributed to the nearest PRECEDING
    * non-purchase event of the same user (the as-of composition,
    * [[q121AsofJoin]]'s family, expressed as one LAG window over a
    * user-keyed pass — no self-join), then rolled up per attributed
    * channel. Purchases with no prior touch report as 'direct'.
    * Revenue sums in DECIMAL(12,2) (q65 rule); one user shuffle + one
    * channel-keyed rollup, both partial-aggregable. */
  val q239Attribution: QuerySpec = {
    def text(spark: Boolean): String = {
      // IGNORE NULLS spelling differs: Spark takes (expr, true), DuckDB
      // wants the keyword inside the call parens (verify-skill gotcha)
      val lastTouch =
        if (spark)
          "LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END, true)"
        else
          "LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)"
      s"""WITH tagged AS (
         |  SELECT user_id, event_id, ts, event_type, value,
         |    $lastTouch
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         |  FROM events),
         |p AS (SELECT COALESCE(touch, 'direct') AS channel, value
         |      FROM tagged WHERE event_type = 'purchase')
         |SELECT channel, COUNT(*) AS n_purchases,
         |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_revenue
         |FROM p GROUP BY channel
         |ORDER BY channel""".stripMargin
    }
    QuerySpec.sql2("q239_events_attribution", text(spark = true), text(spark = false))
  }

  /** Conversion-latency distribution (click → first purchase) — the
    * survival-curve view of the funnel: bucket each converting user's
    * delay between first click and first subsequent purchase, report
    * per-bucket counts and the cumulative conversion fraction of all
    * clickers, with a terminal 'never' row for clickers who never
    * convert. ONE corpus pass: the first-click anchor is a user-keyed
    * window MIN (no self-join back to events — the q121 as-of family),
    * then everything is user-cardinality-sized. Portability: the delay
    * truncates each timestamp to whole epoch seconds BEFORE
    * subtracting (Spark's unix_timestamp truncates, DuckDB's epoch()
    * keeps micros — floored separately they agree exactly). */
  val q240ConversionLatency: QuerySpec = {
    def text(spark: Boolean): String = {
      val delay = s"${Dialect.epochSeconds(spark, "fp")} - ${Dialect.epochSeconds(spark, "fc")}"
      s"""WITH w AS (
         |  SELECT user_id, ts, event_type,
         |    MIN(CASE WHEN event_type = 'click' THEN ts END)
         |      OVER (PARTITION BY user_id) AS first_click
         |  FROM events),
         |conv AS (
         |  SELECT user_id, MIN(first_click) AS fc, MIN(ts) AS fp
         |  FROM w
         |  WHERE event_type = 'purchase' AND first_click IS NOT NULL
         |    AND ts >= first_click
         |  GROUP BY user_id),
         |clickers AS (
         |  SELECT COUNT(DISTINCT user_id) AS n_clickers
         |  FROM w WHERE first_click IS NOT NULL),
         |d AS (SELECT CAST(FLOOR(($delay) / 60.0) AS BIGINT)
         |        AS delay_min FROM conv),
         |b AS (SELECT CASE WHEN delay_min < 5 THEN 0 WHEN delay_min < 15 THEN 1
         |                  WHEN delay_min < 60 THEN 2 ELSE 3 END AS bno,
         |             COUNT(*) AS n
         |      FROM d GROUP BY 1),
         |allb AS (
         |  SELECT bno, n FROM b
         |  UNION ALL
         |  SELECT 4 AS bno,
         |    clickers.n_clickers - COALESCE((SELECT SUM(n) FROM b), 0) AS n
         |  FROM clickers)
         |SELECT CAST(bno AS INT) AS bucket_no,
         |  CASE bno WHEN 0 THEN 'lt_5m' WHEN 1 THEN '5_15m' WHEN 2 THEN '15_60m'
         |           WHEN 3 THEN 'ge_60m' ELSE 'never' END AS bucket,
         |  CAST(n AS BIGINT) AS n_users,
         |  CAST(ROUND(CAST(SUM(CASE WHEN bno < 4 THEN n ELSE 0 END)
         |        OVER (ORDER BY bno) AS DOUBLE) * 1e6
         |      / (SELECT n_clickers FROM clickers)) AS BIGINT) AS cum_converted_e6
         |FROM allb
         |ORDER BY bucket_no""".stripMargin
    }
    QuerySpec.sql2("q240_conversion_latency", text(spark = true), text(spark = false))
  }

  /** Hour-of-day seasonality decomposition of the event-count series —
    * the "is the daily rhythm real?" check that belongs before any
    * anomaly threshold ([[q224HourlyAnomaly]] assumes a locally-flat
    * baseline; strong seasonality wants seasonal adjustment first):
    * per hour-of-day seasonal means plus the fraction of total variance
    * the 24-slot profile explains (the R² of the seasonal model,
    * `1 − SS_res/SS_tot` with the ANOVA identities `Σc² − (Σc)²/n`).
    * All moments are exact per slot (Σc² through DECIMAL(38,0) — a
    * corpus of 10⁹-event hours overflows a BIGINT square sum); the 24
    * per-slot residual
    * terms accumulate through DECIMAL(27,6) before the global ratio
    * (q205 ulp rule). One corpus rollup; everything after is 24 rows. */
  val q246Seasonality: QuerySpec = QuerySpec.sql(
    "q246_events_seasonality",
    """WITH h AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS c
      |           FROM events GROUP BY date_trunc('hour', ts)),
      |slot AS (SELECT CAST(HOUR(hr) AS INT) AS hod,
      |           COUNT(*) AS n_h,
      |           CAST(SUM(c) AS BIGINT) AS s1_h,
      |           CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) AS DECIMAL(38,0)) AS s2_h
      |         FROM h GROUP BY HOUR(hr)),
      |tot AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n,
      |          CAST(SUM(s1_h) AS BIGINT) AS s1,
      |          CAST(SUM(s2_h) AS DECIMAL(38,0)) AS s2,
      |          CAST(SUM(CAST(s2_h - CAST(s1_h AS DOUBLE) * s1_h / n_h
      |               AS DECIMAL(27,6))) AS DOUBLE) AS ss_res
      |        FROM slot)
      |SELECT slot.hod, CAST(slot.n_h AS BIGINT) AS n_days,
      |  CAST(ROUND(slot.s1_h * 1e6 / slot.n_h) AS BIGINT) AS seasonal_mean_e6,
      |  CAST(ROUND((1.0 - tot.ss_res
      |       / (tot.s2 - CAST(tot.s1 AS DOUBLE) * tot.s1 / tot.n)) * 1e6) AS BIGINT)
      |    AS variance_explained_e6
      |FROM slot CROSS JOIN tot
      |ORDER BY slot.hod""".stripMargin)

  /** Semi-structured JSON-path access over the `props` payload column —
    * the schema-on-read surface (the reference's Impala 2.x has no JSON
    * functions; every modern engine does): extract a typed field from
    * the JSON string per row (codegen'd path evaluation, no UDF), then
    * aggregate it like any native column — per-type count, mean, exact
    * min/max of the extracted value, plus how many payloads lack the
    * key (NULL-path discipline). Extraction is pure map work; the
    * rollup is the ordinary partial-aggregable shape. At 100 TB the
    * win of this form is that Catalyst prunes `props` to the one scan
    * that needs it and the extracted column behaves like any other in
    * the plan. */
  val q249JsonExtract: QuerySpec = {
    def text(spark: Boolean): String = {
      def field(path: String) =
        if (spark) s"get_json_object(props, '$path')" else s"json_extract_string(props, '$path')"
      val k = s"CAST(${field("$.k")} AS INT)"
      val miss = field("$.missing")
      s"""WITH x AS (
         |  SELECT event_type, $k AS k,
         |    CASE WHEN $miss IS NULL THEN 1 ELSE 0 END AS no_missing_key
         |  FROM events)
         |SELECT event_type, COUNT(*) AS n,
         |  CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k,
         |  CAST(ROUND(SUM(k) * 1e6 / COUNT(k)) AS BIGINT) AS mean_k_e6,
         |  CAST(SUM(no_missing_key) AS BIGINT) AS n_without_missing_key
         |FROM x GROUP BY event_type
         |ORDER BY event_type""".stripMargin
    }
    QuerySpec.sql2("q249_json_extract", text(spark = true), text(spark = false))
  }

  /** Half-sample confidence interval on the A/B lift — the uncertainty
    * companion of [[q227AbReadout]] built from [[graft.llmops.CorpusStats]]'s
    * q229 machinery: 32 deterministic delete-half replicates of the
    * USER population (top bit of the low-32 Knuth product of
    * ((user_id + b·7919) mod 1000003)·2654435761 — a real mixing hash,
    * no RNG, reproducible across runs; arm assignment uses the same
    * family as q227), each yielding its own per-arm
    * conversion and lift; SE = std(replicate lifts)/√2, CI = ±1.96·SE.
    * The user rollup happens ONCE; the 33× fanout replicates the
    * user-grain relation (pseudo-replicate 32 = the point estimate in
    * the same pass), so the corpus is scanned once regardless of
    * replicate count. Replicate lifts are exact-integer ratios; their
    * spread accumulates via DECIMAL(27,18). */
  val q252AbLiftCi: QuerySpec = {
    def text(spark: Boolean): String = {
      val fan = Dialect.lateralRange(spark, "u", 0, 32, "fb", "b")
      s"""WITH u AS (
         |  SELECT user_id,
         |         CASE WHEN ((user_id % 1000003) * 2654435761) % 4294967296
         |                   >= 2147483648 THEN 1 ELSE 0 END AS arm,
         |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY user_id),
         |r AS (SELECT b, arm, conv FROM $fan
         |      WHERE b = 32
         |         OR (((user_id + b * 7919) % 1000003) * 2654435761) % 4294967296
         |            >= 2147483648),
         |m AS (SELECT b,
         |        CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS DOUBLE)
         |          / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
         |        - CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS DOUBLE)
         |          / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS lift
         |      FROM r GROUP BY b),
         |s AS (SELECT
         |        CAST(SUM(CASE WHEN b < 32 THEN CAST(lift AS DECIMAL(27,18)) END) AS DOUBLE) AS sm,
         |        CAST(SUM(CASE WHEN b < 32 THEN CAST(lift * lift AS DECIMAL(27,18)) END) AS DOUBLE) AS sm2,
         |        MAX(CASE WHEN b = 32 THEN lift END) AS full_lift
         |      FROM m)
         |SELECT CAST(ROUND(full_lift * 1e6) AS BIGINT) AS lift_e6,
         |  CAST(ROUND(SQRT((sm2 - sm * sm / 32) / 31) / SQRT(2.0) * 1e6) AS BIGINT) AS se_e6,
         |  CAST(ROUND((full_lift - 1.96 * SQRT((sm2 - sm * sm / 32) / 31) / SQRT(2.0)) * 1e6)
         |    AS BIGINT) AS ci_lo_e6,
         |  CAST(ROUND((full_lift + 1.96 * SQRT((sm2 - sm * sm / 32) / 31) / SQRT(2.0)) * 1e6)
         |    AS BIGINT) AS ci_hi_e6,
         |  ((full_lift - 1.96 * SQRT((sm2 - sm * sm / 32) / 31) / SQRT(2.0)) > 0
         |   OR (full_lift + 1.96 * SQRT((sm2 - sm * sm / 32) / 31) / SQRT(2.0)) < 0)
         |    AS significant
         |FROM s""".stripMargin
    }
    QuerySpec.sql2("q252_ab_lift_ci", text(spark = true), text(spark = false))
  }

  /** Top-3 purchases per user (row_number partition + filter — the
    * reference plans this as AnalyticEvalNode + SelectNode). */
  val q67TopKPerUser: QuerySpec = QuerySpec.sql(
    "q67_events_topk_per_user",
    """SELECT user_id, event_id, value, rn
      |FROM (SELECT user_id, event_id, value,
      |             ROW_NUMBER() OVER (PARTITION BY user_id
      |                                ORDER BY value DESC, event_id) AS rn
      |      FROM events WHERE event_type = 'purchase') t
      |WHERE rn <= 3
      |ORDER BY user_id, rn""".stripMargin)

  /** Daily rollup with conditional aggregates (count/sum over CASE). */
  val q68DailyRollup: QuerySpec = QuerySpec.sql(
    "q68_events_daily_rollup",
    """SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
      |  COUNT(*) AS n_events,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
      |  CAST(SUM(CASE WHEN event_type = 'purchase'
      |                THEN CAST(value AS DECIMAL(12,2))
      |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase_value
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin)

  /** Rank-based outlier detection: the top 1% of purchase values per
    * event day — percent_rank is exact (no mean/stddev float drift), and
    * the shuffle key (day) bounds every partition's sort. */
  val q69Outliers: QuerySpec = QuerySpec.sql(
    "q69_events_outliers",
    """SELECT day, event_id, value
      |FROM (SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_id, value,
      |             PERCENT_RANK() OVER (PARTITION BY CAST(DATE_TRUNC('day', ts) AS DATE)
      |                                  ORDER BY value, event_id) AS pr
      |      FROM events WHERE event_type = 'purchase') t
      |WHERE pr >= 0.99
      |ORDER BY day, event_id""".stripMargin)

  /** Sketch re-aggregation: hourly HLL sketches of distinct users merged
    * into daily estimates — the 100 TB pattern for uniques (pre-aggregate
    * once, merge sketches at any rollup level, never re-scan raw events).
    * The query emits both the estimate and the exact count; EventsSpec
    * pins the relative error. The estimates are deterministic (Spark's
    * HLL registers merge by max — verified invariant across 3/8/32-way
    * parallelism), so the oracle pins the exact sf0.01 values as
    * literals: a golden differential that catches any drift in the
    * sketch implementation, which a rows-only check would not. */
  val q102HllRollup: QuerySpec = QuerySpec(
    "q102_events_hll_rollup",
    """SELECT day, CAST(est_uniques AS BIGINT) AS est_uniques,
      |  CAST(n_hours AS BIGINT) AS n_hours
      |FROM (VALUES
      |  (DATE '2024-01-01', 134, 24), (DATE '2024-01-02', 138, 24),
      |  (DATE '2024-01-03', 128, 24), (DATE '2024-01-04', 136, 24),
      |  (DATE '2024-01-05', 132, 24), (DATE '2024-01-06', 129, 24),
      |  (DATE '2024-01-07', 125, 24), (DATE '2024-01-08', 135, 24),
      |  (DATE '2024-01-09', 136, 24), (DATE '2024-01-10', 133, 24),
      |  (DATE '2024-01-11', 132, 24), (DATE '2024-01-12', 135, 24),
      |  (DATE '2024-01-13', 141, 24), (DATE '2024-01-14', 131, 24),
      |  (DATE '2024-01-15', 129, 24), (DATE '2024-01-16', 130, 24),
      |  (DATE '2024-01-17', 135, 24), (DATE '2024-01-18', 138, 24),
      |  (DATE '2024-01-19', 133, 24), (DATE '2024-01-20', 136, 24),
      |  (DATE '2024-01-21', 134, 24), (DATE '2024-01-22', 131, 24),
      |  (DATE '2024-01-23', 135, 24), (DATE '2024-01-24', 135, 24),
      |  (DATE '2024-01-25', 137, 24), (DATE '2024-01-26', 131, 24),
      |  (DATE '2024-01-27', 140, 24), (DATE '2024-01-28', 129, 24),
      |  (DATE '2024-01-29', 135, 24), (DATE '2024-01-30', 133, 24))
      |  t(day, est_uniques, n_hours)
      |ORDER BY day""".stripMargin) { (s, dir) =>
    QuerySpec.prepared(s, dir).sql(
      """WITH hourly AS (
        |  SELECT DATE_TRUNC('day', ts) AS day, DATE_TRUNC('hour', ts) AS hour,
        |         hll_sketch_agg(user_id) AS sk,
        |         COUNT(DISTINCT user_id) AS exact_hour
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(day AS DATE) AS day,
        |       hll_sketch_estimate(hll_union_agg(sk)) AS est_uniques,
        |       COUNT(*) AS n_hours
        |FROM hourly
        |GROUP BY day
        |ORDER BY day""".stripMargin)
  }

  /** Day-over-day retention: users active on both day d and d-1 — the
    * distinct (user, day) self-join, shuffled on user_id once. */
  val q103Retention: QuerySpec = QuerySpec.sql2(
    "q103_events_retention",
    """WITH ud AS (SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day
      |            FROM events)
      |SELECT a.day AS day, COUNT(*) AS returning_users
      |FROM ud a JOIN ud b
      |  ON a.user_id = b.user_id AND b.day = DATE_SUB(a.day, 1)
      |GROUP BY a.day
      |ORDER BY day""".stripMargin,
    """WITH ud AS (SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day
      |            FROM events)
      |SELECT a.day AS day, COUNT(*) AS returning_users
      |FROM ud a JOIN ud b
      |  ON a.user_id = b.user_id AND b.day = a.day - 1
      |GROUP BY a.day
      |ORDER BY day""".stripMargin)

  /** Funnel conversion: users whose first purchase strictly follows
    * their first signup — one conditional-min aggregation per user, no
    * self-join (the scalable funnel shape). */
  val q105Funnel: QuerySpec = QuerySpec.sql(
    "q105_events_funnel",
    """SELECT COUNT(*) AS n_signed_up,
      |  COUNT(CASE WHEN first_purchase > first_signup THEN 1 END) AS n_converted
      |FROM (SELECT user_id,
      |        MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
      |        MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      |      FROM events GROUP BY user_id) u
      |WHERE first_signup IS NOT NULL""".stripMargin)

  /** Reusable as-of composition: for each probe row, the value of the
    * latest build row with the same user_id and build.ts <= probe.ts
    * (ties at equal ts resolve to the MAX build value, nulls-first — a
    * total order). A build row whose value is NULL still matches and
    * yields NULL, distinguishing "latest build value is NULL" from "no
    * build row": build values ride in a non-null struct wrapper, so the
    * null-skipping last_value skips only probe rows, never build rows.
    * build: (user_id, ts, value); probe: (user_id, ts, event_id).
    * Output: (event_id, user_id, last_value). One user_id shuffle. */
  def asofLastValue(build: org.apache.spark.sql.DataFrame,
      probe: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = build.select(col("user_id"), col("ts"), lit(0).as("side"),
      lit(null).cast("bigint").as("event_id"), struct(col("value")).as("carried"))
    val p = probe.select(col("user_id"), col("ts"), lit(1).as("side"),
      col("event_id"), lit(null).cast("struct<value:double>").as("carried"))
    val w = Window.partitionBy("user_id").orderBy(
        col("ts"), col("side"), col("carried.value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.unionAll(p)
      .withColumn("last_carried", last(col("carried"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"),
        col("last_carried.value").as("last_value"))
  }

  /** As-of join: attach each view event's most recent prior purchase
    * (ts-inclusive) for the same user. The reference has no as-of
    * operator; per the build brief's preference order this composes
    * existing ops rather than adding a plan node: build and probe streams
    * are UNIONed with a side tag (build sorts before probe at equal ts,
    * giving inclusive semantics) and a last_value(IGNORE NULLS) running
    * window carries the build value forward — ONE shuffle on user_id,
    * one local sort, no range self-join (which would be O(n·m) per user
    * and is the classic as-of scaling trap). Ties are pinned by ordering
    * the window by (ts, side, value): among same-(user, ts) purchases the
    * running last_value lands on the MAX value — identical to the
    * oracle's per-(user, ts) MAX pre-aggregation but without the extra
    * shuffle a pre-aggregation would plan (verified via graft.Explain:
    * exactly one wide exchange before the window). Oracle: DuckDB's
    * native ASOF LEFT JOIN over the pre-aggregated build side. */
  val q121AsofJoin: QuerySpec = QuerySpec(
    "q121_join_asof",
    """WITH p AS (
      |  SELECT user_id, ts, MAX(value) AS value
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, ts)
      |SELECT e.event_id, e.user_id, p.value AS last_purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'view') e
      |ASOF LEFT JOIN p ON e.user_id = p.user_id AND p.ts <= e.ts
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = sp.table("events")
    asofLastValue(
      e.filter(col("event_type") === "purchase").select("user_id", "ts", "value"),
      e.filter(col("event_type") === "view").select("user_id", "ts", "event_id"))
      .withColumnRenamed("last_value", "last_purchase_value")
      .orderBy(col("event_id"))
  }

  /** Sliding (hopping) windows: 2-hour windows every hour via Spark's
    * window(slide) — each event lands in exactly two windows. The oracle
    * materializes the same two hop starts per event with unnest. Shuffle
    * is on (window, nothing else) — the fan-out factor is window/slide,
    * paid before the shuffle (map-side), not as a self-join. */
  val q124Sliding: QuerySpec = QuerySpec(
    "q124_events_sliding",
    """SELECT win_start, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM (SELECT unnest([date_trunc('hour', ts),
      |                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
      |             value
      |      FROM events) h
      |GROUP BY win_start
      |ORDER BY win_start""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.table("events")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("n"), col("total"))
      .orderBy(col("win_start"))
  }

  /** Time-series gap fill — resample each user's event stream onto a
    * regular 6-hour grid with last-observation-carried-forward (LOCF),
    * the standard densification step before feeding irregular telemetry
    * to a model (beyond the reference's surface; the FILL/interpolate
    * operator of time-series engines). Formulated as the q121 union+
    * window as-of: grid points and events interleave in one per-user
    * ordered window, `last_value IGNORE NULLS` carries the observation —
    * one user-keyed shuffle, NO range self-join, grid size bounded by
    * span/step per user (never events²). Restricted to 10 users so the
    * compare stays small; the dataflow is identical at any population. */
  val q181GapFill: QuerySpec = {
    def text(spark: Boolean): String = {
      val grid =
        if (spark)
          "SELECT user_id, explode(sequence(t0, t1, interval 6 hours)) AS gts FROM b"
        else
          "SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS gts FROM b"
      val lv =
        if (spark)
          """last_value(value) IGNORE NULLS OVER (PARTITION BY user_id
            |            ORDER BY t, side, value
            |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
        else
          """last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
            |            ORDER BY t, side, value
            |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
      s"""WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 10),
         |b AS (SELECT user_id, date_trunc('day', MIN(ts)) AS t0, MAX(ts) AS t1
         |      FROM e GROUP BY user_id),
         |grid AS ($grid),
         |u AS (SELECT user_id, ts AS t, 0 AS side, value FROM e
         |      UNION ALL SELECT user_id, gts, 1, CAST(NULL AS DOUBLE) FROM grid),
         |f AS (SELECT user_id, t, side,
         |        $lv AS lv
         |      FROM u)
         |SELECT user_id, t AS grid_ts, ROUND(lv, 2) AS value_locf
         |FROM f WHERE side = 1
         |ORDER BY user_id, grid_ts""".stripMargin
    }
    QuerySpec.sql2("q181_events_gap_fill", text(spark = true), text(spark = false))
  }

  /** Cohort retention matrix — the product-analytics staple [[q103Retention]]
    * does not cover: users bucket into weekly first-seen cohorts, and
    * each (cohort, weeks-since) cell counts the cohort's users active
    * that week. Scale shape: one user-keyed MIN aggregate (cohorts), one
    * distinct user-week projection, a user-keyed join (cohort table is
    * user-sized but partial-aggregated and hash-joined, never a window),
    * and a cell-keyed count-distinct — every stage partial-aggregable,
    * no self-join over the raw event stream. */
  val q192CohortRetention: QuerySpec = QuerySpec.sql2(
    "q192_events_cohort_retention",
    """WITH f AS (SELECT user_id, CAST(DATE_TRUNC('WEEK', MIN(ts)) AS DATE) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, CAST(DATE_TRUNC('WEEK', ts) AS DATE) AS wk
      |      FROM events)
      |SELECT f.cohort, CAST(DATEDIFF(a.wk, f.cohort) DIV 7 AS INT) AS week_n,
      |       COUNT(DISTINCT a.user_id) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY f.cohort, CAST(DATEDIFF(a.wk, f.cohort) DIV 7 AS INT)
      |ORDER BY cohort, week_n""".stripMargin,
    """WITH f AS (SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS wk
      |      FROM events)
      |SELECT f.cohort, CAST(DATE_DIFF('day', f.cohort, a.wk) // 7 AS INT) AS week_n,
      |       COUNT(DISTINCT a.user_id) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY f.cohort, CAST(DATE_DIFF('day', f.cohort, a.wk) // 7 AS INT)
      |ORDER BY cohort, week_n""".stripMargin)

  /** Ordered multi-step funnel — [[q105Funnel]]'s 2-step conditional-min
    * generalized to the 3-step view → click → purchase sequence with
    * strict temporal ordering per step: each stage's entry is the
    * user's first qualifying event AFTER the previous stage. ONE pass
    * over the stream: a user-keyed aggregate collects the first view
    * time plus the sorted click/purchase time lists, and the sequential
    * step logic folds over those per-user arrays (a stage-chained CTE
    * or per-stage self-join would re-scan events per stage — Spark
    * re-inlines multiply-referenced CTEs — and a raw-stream window
    * would sort every event; per-user arrays are bounded by one user's
    * activity). */
  val q195FunnelSteps: QuerySpec = QuerySpec.sql2(
    "q195_events_funnel_steps",
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
      |    sort_array(collect_list(CASE WHEN event_type = 'click' THEN ts END)) AS clicks,
      |    sort_array(collect_list(CASE WHEN event_type = 'purchase' THEN ts END)) AS buys
      |  FROM events GROUP BY user_id),
      |f AS (
      |  SELECT user_id, t1, buys,
      |    element_at(filter(clicks, c -> t1 IS NOT NULL AND c > t1), 1) AS t2
      |  FROM u),
      |g AS (
      |  SELECT user_id, t1, t2,
      |    element_at(filter(buys, p -> t2 IS NOT NULL AND p > t2), 1) AS t3
      |  FROM f)
      |SELECT CAST(COUNT(t1) AS BIGINT) AS n_viewed,
      |       CAST(COUNT(t2) AS BIGINT) AS n_clicked_after,
      |       CAST(COUNT(t3) AS BIGINT) AS n_purchased_after,
      |       ROUND(CAST(COUNT(t3) AS DOUBLE) / COUNT(t1), 6) AS conversion
      |FROM g""".stripMargin,
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
      |    list_sort(list_filter(list(CASE WHEN event_type = 'click' THEN ts END),
      |                          x -> x IS NOT NULL)) AS clicks,
      |    list_sort(list_filter(list(CASE WHEN event_type = 'purchase' THEN ts END),
      |                          x -> x IS NOT NULL)) AS buys
      |  FROM events GROUP BY user_id),
      |f AS (
      |  SELECT user_id, t1, buys,
      |    list_filter(clicks, c -> t1 IS NOT NULL AND c > t1)[1] AS t2
      |  FROM u),
      |g AS (
      |  SELECT user_id, t1, t2,
      |    list_filter(buys, p -> t2 IS NOT NULL AND p > t2)[1] AS t3
      |  FROM f)
      |SELECT CAST(COUNT(t1) AS BIGINT) AS n_viewed,
      |       CAST(COUNT(t2) AS BIGINT) AS n_clicked_after,
      |       CAST(COUNT(t3) AS BIGINT) AS n_purchased_after,
      |       ROUND(CAST(COUNT(t3) AS DOUBLE) / COUNT(t1), 6) AS conversion
      |FROM g""".stripMargin)

  /** SLO quantile report — p50/p95/p99 of the event value per event
    * type in ONE multi-quantile aggregate call (the percentile
    * aggregate takes the probability array, sorts each group's values
    * once, and interpolates all three cuts from it), not three
    * separate percentile passes. Exact, partial-merged, deterministic
    * regardless of partition order; both engines share the (n-1)·p
    * linear interpolation so the rounded cuts hash-match. */
  val q199QuantileReport: QuerySpec = QuerySpec.sql2(
    "q199_events_quantile_report",
    """SELECT event_type,
      |  ROUND(element_at(ps, 1), 4) AS p50,
      |  ROUND(element_at(ps, 2), 4) AS p95,
      |  ROUND(element_at(ps, 3), 4) AS p99,
      |  CAST(n AS BIGINT) AS n_events
      |FROM (SELECT event_type,
      |        percentile(value, array(0.5D, 0.95D, 0.99D)) AS ps,
      |        COUNT(*) AS n
      |      FROM events GROUP BY event_type) t
      |ORDER BY event_type""".stripMargin,
    """SELECT event_type,
      |  ROUND(ps[1], 4) AS p50,
      |  ROUND(ps[2], 4) AS p95,
      |  ROUND(ps[3], 4) AS p99,
      |  CAST(n AS BIGINT) AS n_events
      |FROM (SELECT event_type,
      |        quantile_cont(value, [0.5, 0.95, 0.99]) AS ps,
      |        COUNT(*) AS n
      |      FROM events GROUP BY event_type) t
      |ORDER BY event_type""".stripMargin)

  /** Key-skew diagnostic report — the measurement a 100 TB operator
    * runs BEFORE choosing a join/agg strategy on a key: key counts,
    * hottest-key share, normalized Shannon entropy, Gini coefficient,
    * and the salt factor (ceil(max/avg)) the q107-style salted join
    * would need. One key-keyed aggregate (map-side combined), then the
    * key relation collapses AGAIN to the COUNT-MULTIPLICITY relation
    * (distinct count values × multiplicity — the q281 move): Gini's
    * rank identity is tie-invariant, so 2·Σ rank·c = Σ c(2m·lo+m²+m)
    * per equal-count block and the only window is a running sum over
    * that ~10³-row relation — a web-scale key domain (10⁹ users) never
    * flows through one rank task. Exactness: the Gini's rank sum
    * accumulates c·(2m·lo+m²+m) terms — cubic in the key count, ~10²⁴
    * at 10⁹ keys (and toward 10²⁷ under max-skew: one 10⁹-hot key
    * among 10⁹ keys), far past BIGINT — so each term is one
    * deterministic DOUBLE product captured into DECIMAL(38,0)
    * (full headroom; at DECIMAL(27,0) the non-ANSI cast overflows a
    * max-skew term to NULL and silently nulls the Gini) before the exact
    * decimal sum (the q184 rule), and the entropy sum goes through
    * DECIMAL(27,18)
    * accumulation (q184 rule) so neither engine's summation order
    * shows in the e6 rounding. */
  val q219KeySkewReport: QuerySpec = QuerySpec.sql(
    "q219_key_skew_report",
    """WITH c AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
      |g AS (SELECT c, COUNT(*) AS m FROM c GROUP BY c),
      |w AS (SELECT c, m,
      |        COALESCE(SUM(m) OVER (ORDER BY c
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
      |      FROM g),
      |s AS (SELECT CAST(SUM(m) AS BIGINT) AS n_keys,
      |             CAST(SUM(m * c) AS BIGINT) AS n_rows,
      |             MAX(c) AS max_freq,
      |             CAST(SUM(CAST(CAST(c AS DOUBLE) * (2 * CAST(m AS DOUBLE) * lo
      |                  + CAST(m AS DOUBLE) * m + m) AS DECIMAL(38,0)))
      |               AS DECIMAL(38,0)) AS s2,
      |             CAST(SUM(CAST(m * c * LN(c) AS DECIMAL(27,18))) AS DOUBLE) AS clnc
      |      FROM w)
      |SELECT n_rows, n_keys, CAST(max_freq AS BIGINT) AS max_freq,
      |  CAST(ROUND(max_freq * 1e6 / n_rows) AS BIGINT) AS top1_share_e6,
      |  CAST(ROUND((LN(n_rows) - clnc / n_rows) * 1e6 / LN(n_keys)) AS BIGINT)
      |    AS norm_entropy_e6,
      |  CAST(ROUND((s2 - (n_keys + 1) * n_rows) * 1e6
      |             / (CAST(n_keys AS DOUBLE) * n_rows)) AS BIGINT) AS gini_e6,
      |  CAST(CEIL(max_freq * CAST(n_keys AS DOUBLE) / n_rows) AS BIGINT)
      |    AS salt_factor
      |FROM s""".stripMargin)

  /** First-order Markov transition matrix over each user's event-type
    * sequence — the behavioral-flow model behind every "what do users
    * do next" sankey: per (prev, next) pair, the transition count and
    * probability. One LAG window pass keyed on user (partition size =
    * one user's history, never the corpus), then a pair-keyed rollup of
    * the ≤|types|² relation; probabilities are exact-integer ratios
    * divided once (cross-engine stable), denominators window the tiny
    * pair relation. */
  val q274EventTransitions: QuerySpec = QuerySpec.sql(
    "q274_event_transitions",
    """WITH s AS (
      |  SELECT event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (SELECT prev, event_type AS next, COUNT(*) AS c
      |      FROM s WHERE prev IS NOT NULL GROUP BY prev, event_type)
      |SELECT prev, next, CAST(c AS BIGINT) AS n,
      |  CAST(ROUND(c * 1e6 / CAST(SUM(c) OVER (PARTITION BY prev) AS DOUBLE))
      |    AS BIGINT) AS p_e6
      |FROM c
      |ORDER BY prev, next""".stripMargin)

  /** CUSUM changepoint detection on the daily event series — the
    * classic "when did the level shift" estimator (argmax |cumulative
    * deviation from the global mean|), the monitoring twin of the q233
    * trend test. The corpus collapses to the day-keyed relation in one
    * rollup; CUSUM is a running-sum window over that tiny series with
    * the mean joined as a broadcast scalar; the argmax is a total-order
    * ROW_NUMBER. Deviations stay exact (integer counts, one double
    * division at the end). */
  val q275CusumChangepoint: QuerySpec = QuerySpec.sql(
    "q275_cusum_changepoint",
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
      |  FROM events GROUP BY CAST(ts AS DATE)),
      |m AS (SELECT CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu FROM d),
      |cs AS (
      |  SELECT day, c,
      |    CAST(SUM(c) OVER (ORDER BY day) AS DOUBLE)
      |      - ROW_NUMBER() OVER (ORDER BY day) * m.mu AS cusum
      |  FROM d, m),
      |r AS (SELECT day, cusum,
      |        ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, day) AS rn
      |      FROM cs)
      |SELECT day AS change_day,
      |  CAST(ROUND(cusum * 100) AS BIGINT) AS cusum_c,
      |  CAST(ROUND(ABS(cusum) * 100) AS BIGINT) AS magnitude_c
      |FROM r WHERE rn = 1""".stripMargin)

  /** Chi-square independence test of event_type × day-of-week — the
    * categorical-association audit next to q248's mutual information
    * (MI says how much the margins share; χ² says whether the deviation
    * from independence is bigger than chance, with dof and Cramér's V
    * to compare across table shapes). The contingency table is
    * GRID-COMPLETED (distinct types × the 7-day grid, zero-filled by a
    * left join) so absent cells still contribute their (0−e)²/e term —
    * sampling the observed support would understate the statistic, the
    * q225 lesson. Margins are windows over the ≤|types|·7 grid; each
    * cell's term is a fixed DOUBLE tree over exact integers accumulated
    * via DECIMAL(27,18). Day-of-week is an explicit datediff-mod-7 from
    * a pinned epoch (engine DOW numbering conventions differ). */
  val q280Chi2Independence: QuerySpec = {
    def text(spark: Boolean): String = {
      val dow = s"CAST(${Dialect.dayDiff(spark, "CAST(ts AS DATE)", "DATE '2024-01-01'")} % 7 AS INT)"
      val grid = Dialect.intRange(spark, 0, 6, "dow")
      s"""WITH e AS (SELECT event_type, $dow AS dow FROM events),
         |o AS (SELECT event_type, dow, COUNT(*) AS o
         |      FROM e GROUP BY event_type, dow),
         |ty AS (SELECT DISTINCT event_type FROM o),
         |dd AS ($grid),
         |grid AS (SELECT ty.event_type, dd.dow, CAST(COALESCE(o.o, 0) AS BIGINT) AS o
         |         FROM ty CROSS JOIN dd
         |         LEFT JOIN o ON o.event_type = ty.event_type AND o.dow = dd.dow),
         |g2 AS (SELECT event_type, dow, o,
         |         CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
         |         CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS ct,
         |         CAST(SUM(o) OVER () AS BIGINT) AS n
         |       FROM grid),
         |s AS (SELECT MAX(n) AS n,
         |        COUNT(DISTINCT event_type) AS r, COUNT(DISTINCT dow) AS c,
         |        CAST(SUM(CAST(
         |          (o - CAST(rt AS DOUBLE) * ct / n) * (o - CAST(rt AS DOUBLE) * ct / n)
         |            / (CAST(rt AS DOUBLE) * ct / n) AS DECIMAL(27,18))) AS DOUBLE) AS chi2
         |      FROM g2)
         |SELECT CAST(n AS BIGINT) AS n_events,
         |  CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
         |  CAST(ROUND(chi2 * 1e6) AS BIGINT) AS chi2_e6,
         |  CAST(ROUND(SQRT(chi2 / (n * (CASE WHEN r < c THEN r ELSE c END - 1))) * 1e6)
         |    AS BIGINT) AS cramers_v_e6
         |FROM s""".stripMargin
    }
    QuerySpec.sql2("q280_chi2_independence", text(spark = true), text(spark = false))
  }

  /** Lag-k autocorrelation (k = 1…7) of the daily event-count series —
    * the weekly-rhythm detector behind [[q246Seasonality]]: a lag-7
    * spike confirms the cycle, a slowly-decaying curve flags trend. The
    * corpus collapses to the day relation in one rollup; each lag's
    * numerator is a (day, day+k) equi-join of that ≤|days| series
    * against itself (a 7-row lag grid fans it out), the denominator is
    * the series' own squared deviation — all deviation products are
    * doubles off one exact mean ratio, accumulated via DECIMAL(27,18).
    * Days are indexed by calendar datediff, so a missing day shortens
    * that lag's pair set rather than silently misaligning it. */
  val q283EventsAcf: QuerySpec = {
    def text(spark: Boolean): String = {
      val idx = Dialect.dayDiff(spark, "day", "DATE '2024-01-01'")
      val lags = Dialect.intRange(spark, 1, 7, "lag")
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |x AS (SELECT $idx AS i, c FROM d),
         |m AS (SELECT COUNT(*) AS n, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu FROM x),
         |den AS (SELECT CAST(SUM(CAST((x.c - m.mu) * (x.c - m.mu)
         |                 AS DECIMAL(27,18))) AS DOUBLE) AS d2
         |        FROM x CROSS JOIN m),
         |k AS ($lags),
         |p AS (SELECT k.lag,
         |        CAST(SUM(CAST((a.c - m.mu) * (b.c - m.mu) AS DECIMAL(27,18)))
         |          AS DOUBLE) AS num,
         |        COUNT(*) AS n_pairs
         |      FROM k CROSS JOIN x a JOIN x b ON b.i = a.i + k.lag CROSS JOIN m
         |      GROUP BY k.lag)
         |SELECT CAST(p.lag AS INT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(ROUND(num / den.d2 * 1e6) AS BIGINT) AS acf_e6
         |FROM p CROSS JOIN den
         |ORDER BY lag""".stripMargin
    }
    // Spark side in DataFrame form (oracle text unchanged): the
    // shared-SQL form inlined the multi-referenced day-series CTE `x`
    // into Scan[events]=5 — five full event-table rollups (the q174
    // trap; r21, guide §2.4/§6). One staged ≤|days|-row series; the
    // mean, denominator and all 7 lag arms read the checkpoint.
    // Expressions copied verbatim from the SQL text.
    QuerySpec("q283_events_acf", text(spark = false)) { (s, dir) =>
      import graft.llmops.Checkpoints.Stageable
      val sp = QuerySpec.prepared(s, dir)
      val x = sp.sql(
        """SELECT datediff(day, DATE '2024-01-01') AS i, c FROM
          |  (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
          |   FROM events GROUP BY CAST(ts AS DATE)) d""".stripMargin)
        .staged // the ONE events pass; m/den/both lag arms read it
      val m = x.selectExpr("COUNT(*) AS n",
        "CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu")
      val den = x.crossJoin(m).selectExpr(
        "CAST(SUM(CAST((c - mu) * (c - mu) AS DECIMAL(27,18))) AS DOUBLE)" +
          " AS d2")
      val k = sp.sql("SELECT explode(sequence(1, 7)) AS lag")
      val p = k.crossJoin(x.as("a"))
        .join(x.as("b"), expr("b.i = a.i + lag"))
        .crossJoin(m)
        .groupBy(col("lag"))
        .agg(expr("CAST(SUM(CAST((a.c - mu) * (b.c - mu) AS DECIMAL(27,18)))" +
          " AS DOUBLE)").as("num"),
          count(lit(1)).as("n_pairs"))
      p.crossJoin(den).selectExpr("CAST(lag AS INT) AS lag",
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(ROUND(num / d2 * 1e6) AS BIGINT) AS acf_e6")
        .orderBy(col("lag"))
    }
  }

  /** Theil–Sen robust slope of the daily event-count series — the
    * median of all pairwise slopes, the outlier-immune twin of
    * [[q233TrendOls]] (one corrupted ingest day drags OLS, moves
    * Theil–Sen not at all). The all-pairs join is over the COLLAPSED
    * day relation (≤|days|² pairs — series-sized, never events);
    * slopes are exact integer ratios divided once, and the median uses
    * the shared (n−1)·p interpolation (q191 rule) so the cut is
    * bit-identical across engines. */
  val q284TheilSenTrend: QuerySpec = {
    def text(spark: Boolean): String = {
      val idx = Dialect.dayDiff(spark, "day", "DATE '2024-01-01'")
      val med = Dialect.median(spark, "slope")
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |x AS (SELECT $idx AS i, c FROM d),
         |s AS (SELECT (b.c - a.c) / CAST(b.i - a.i AS DOUBLE) AS slope
         |      FROM x a JOIN x b ON b.i > a.i)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(ROUND($med * 1e6) AS BIGINT) AS theilsen_slope_e6
         |FROM s""".stripMargin
    }
    QuerySpec.sql2("q284_theilsen_trend", text(spark = true), text(spark = false))
  }

  /** Per-type burstiness profile — two complementary dispersion
    * numbers: the Goh–Barabási burstiness coefficient B = (σ−μ)/(σ+μ)
    * of inter-event gaps (−1 periodic, 0 Poisson, →1 bursty) and the
    * Fano factor (daily-count variance/mean). Gaps come from ONE
    * user-keyed LAG pass (partition = one user's per-type history —
    * user-keyed like q239/q274, never a global per-type sort, which is
    * the 100 TB difference); both σ trees are closed forms over exact
    * integer (n, Σ, Σ²) second/count sums, so no double ever
    * accumulates. Gap seconds are difference-of-floor epoch seconds,
    * spelled identically on both engines. */
  val q285EventsBurstiness: QuerySpec = {
    def text(spark: Boolean): String = {
      val gap = s"${Dialect.epochSeconds(spark, "ts")} - ${Dialect.epochSeconds(spark, "pts")}"
      s"""WITH s AS (
         |  SELECT event_type, ts,
         |    LAG(ts) OVER (PARTITION BY user_id, event_type
         |                  ORDER BY ts, event_id) AS pts
         |  FROM events),
         |gap AS (SELECT event_type, $gap AS gp
         |        FROM s WHERE pts IS NOT NULL),
         |a AS (SELECT event_type, COUNT(*) AS n,
         |        CAST(SUM(gp) AS BIGINT) AS sg,
         |        CAST(SUM(CAST(gp AS DECIMAL(19,0)) * gp) AS DECIMAL(38,0)) AS sg2
         |      FROM gap GROUP BY event_type),
         |d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
         |      FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |f AS (SELECT event_type, COUNT(*) AS nd,
         |        CAST(SUM(c) AS BIGINT) AS tc,
         |        CAST(SUM(CAST(c AS DECIMAL(19,0)) * c) AS DECIMAL(38,0)) AS tc2
         |      FROM d GROUP BY event_type)
         |SELECT a.event_type, CAST(a.n AS BIGINT) AS n_gaps,
         |  CAST(ROUND(CAST(sg AS DOUBLE) * 100.0 / a.n) AS BIGINT) AS mean_gap_s_e2,
         |  CAST(ROUND(
         |    (SQRT((sg2 - CAST(sg AS DOUBLE) * sg / a.n) / a.n) - CAST(sg AS DOUBLE) / a.n)
         |    / (SQRT((sg2 - CAST(sg AS DOUBLE) * sg / a.n) / a.n) + CAST(sg AS DOUBLE) / a.n) * 1e6)
         |    AS BIGINT) AS burstiness_e6,
         |  CAST(ROUND(((tc2 - CAST(tc AS DOUBLE) * tc / nd) / nd) / (CAST(tc AS DOUBLE) / nd) * 1e6)
         |    AS BIGINT) AS fano_e6
         |FROM a JOIN f ON a.event_type = f.event_type
         |ORDER BY a.event_type""".stripMargin
    }
    QuerySpec.sql2("q285_events_burstiness", text(spark = true), text(spark = false))
  }

  /** Piecewise (broken-stick) trend around the CUSUM changepoint — the
    * follow-up question to [[q275CusumChangepoint]]: having located the
    * level shift, did the TREND change too, and by how much did the
    * level jump? Splits the daily series at q275's argmax day (the
    * same total-ordered pick, recomputed inline) and fits one OLS line
    * per side from conditional integer moment sums — a single rollup
    * of the day relation, pivoted to one row; slopes and the level
    * shift are fixed DOUBLE trees over exact integers. Everything
    * after the first rollup is series-sized. */
  val q293PiecewiseTrend: QuerySpec = {
    def text(spark: Boolean): String = {
      val idx = Dialect.dayDiff(spark, "day", "DATE '2024-01-01'")
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |x AS (SELECT day, $idx AS i, c FROM d),
         |m AS (SELECT CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu FROM x),
         |cs AS (SELECT day,
         |         CAST(SUM(c) OVER (ORDER BY day) AS DOUBLE)
         |           - ROW_NUMBER() OVER (ORDER BY day) * m.mu AS cusum
         |       FROM x CROSS JOIN m),
         |k AS (SELECT day AS kd
         |      FROM (SELECT day, ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, day) AS rn
         |            FROM cs) r WHERE rn = 1),
         |seg AS (SELECT CASE WHEN x.day <= k.kd THEN 0 ELSE 1 END AS sg, x.i, x.c
         |        FROM x CROSS JOIN k),
         |fit AS (SELECT sg, COUNT(*) AS n,
         |          CAST(SUM(i) AS BIGINT) AS sx, CAST(SUM(i * i) AS BIGINT) AS sx2,
         |          CAST(SUM(c) AS BIGINT) AS sy, CAST(SUM(i * c) AS BIGINT) AS sxy
         |        FROM seg GROUP BY sg),
         |p AS (SELECT
         |        MAX(CASE WHEN sg = 0 THEN n END) AS n0,
         |        MAX(CASE WHEN sg = 1 THEN n END) AS n1,
         |        MAX(CASE WHEN sg = 0 THEN
         |          (n * sxy - sx * sy) / (n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
         |        END) AS b0,
         |        MAX(CASE WHEN sg = 1 THEN
         |          (n * sxy - sx * sy) / (n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
         |        END) AS b1,
         |        MAX(CASE WHEN sg = 0 THEN CAST(sy AS DOUBLE) / n END) AS m0,
         |        MAX(CASE WHEN sg = 1 THEN CAST(sy AS DOUBLE) / n END) AS m1
         |      FROM fit)
         |SELECT k.kd AS change_day,
         |  CAST(n0 AS BIGINT) AS n_before, CAST(n1 AS BIGINT) AS n_after,
         |  CAST(ROUND(b0 * 1e6) AS BIGINT) AS slope_before_e6,
         |  CAST(ROUND(b1 * 1e6) AS BIGINT) AS slope_after_e6,
         |  CAST(ROUND((b1 - b0) * 1e6) AS BIGINT) AS slope_delta_e6,
         |  CAST(ROUND((m1 - m0) * 1e6) AS BIGINT) AS level_shift_e6
         |FROM p CROSS JOIN k""".stripMargin
    }
    // Spark side in DataFrame form (oracle text unchanged): the
    // shared-SQL form inlined the multi-referenced day-series CTE `x`
    // into Scan[events]=5 (the q174 trap; r21, guide §2.4/§6). One
    // staged ≤|days|-row series; the mean, the CUSUM argmax and the
    // per-side fits read the checkpoint. The CUSUM windows are global
    // but series-sized — the same shape the shared SQL planned.
    // Expressions copied verbatim from the SQL text.
    QuerySpec("q293_piecewise_trend", text(spark = false)) { (s, dir) =>
      import graft.llmops.Checkpoints.Stageable
      val sp = QuerySpec.prepared(s, dir)
      val x = sp.sql(
        """SELECT day, datediff(day, DATE '2024-01-01') AS i, c FROM
          |  (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
          |   FROM events GROUP BY CAST(ts AS DATE)) d""".stripMargin)
        .staged // the ONE events pass
      val m = x.selectExpr("CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu")
      val cs = x.crossJoin(m).selectExpr("day",
        "CAST(SUM(c) OVER (ORDER BY day) AS DOUBLE)" +
          " - ROW_NUMBER() OVER (ORDER BY day) * mu AS cusum")
      val kk = cs.selectExpr("day",
        "ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, day) AS rn")
        .filter("rn = 1").selectExpr("day AS kd")
      val seg = x.crossJoin(kk).selectExpr(
        "CASE WHEN day <= kd THEN 0 ELSE 1 END AS sg", "i", "c")
      val fit = seg.groupBy(col("sg")).agg(
        count(lit(1)).as("n"),
        expr("CAST(SUM(i) AS BIGINT)").as("sx"),
        expr("CAST(SUM(i * i) AS BIGINT)").as("sx2"),
        expr("CAST(SUM(c) AS BIGINT)").as("sy"),
        expr("CAST(SUM(i * c) AS BIGINT)").as("sxy"))
      val p = fit.selectExpr(
        "MAX(CASE WHEN sg = 0 THEN n END) AS n0",
        "MAX(CASE WHEN sg = 1 THEN n END) AS n1",
        "MAX(CASE WHEN sg = 0 THEN (n * sxy - sx * sy)" +
          " / (n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx) END) AS b0",
        "MAX(CASE WHEN sg = 1 THEN (n * sxy - sx * sy)" +
          " / (n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx) END) AS b1",
        "MAX(CASE WHEN sg = 0 THEN CAST(sy AS DOUBLE) / n END) AS m0",
        "MAX(CASE WHEN sg = 1 THEN CAST(sy AS DOUBLE) / n END) AS m1")
      p.crossJoin(kk).selectExpr("kd AS change_day",
        "CAST(n0 AS BIGINT) AS n_before", "CAST(n1 AS BIGINT) AS n_after",
        "CAST(ROUND(b0 * 1e6) AS BIGINT) AS slope_before_e6",
        "CAST(ROUND(b1 * 1e6) AS BIGINT) AS slope_after_e6",
        "CAST(ROUND((b1 - b0) * 1e6) AS BIGINT) AS slope_delta_e6",
        "CAST(ROUND((m1 - m0) * 1e6) AS BIGINT) AS level_shift_e6")
    }
  }

  /** Rolling-origin one-step forecast backtest of the three classical
    * baselines every monitoring stack starts from — naive (y_{t-1}),
    * seasonal-naive (y_{t-7}, the weekly-rhythm model [[q283EventsAcf]]
    * detects), drift (last value + mean historical slope) — scored with
    * MAE, sMAPE, and MASE (Hyndman-Koehler: MAE over the naive MAE, so
    * MASE(naive) ≡ 1e6 is the built-in sanity pin). A forecast model
    * that can't beat these numbers isn't earning its keep — this query
    * IS the bar. Scale shape: the corpus collapses to the day relation
    * in ONE rollup; every forecast is a LAG/FIRST_VALUE window over
    * that tiny series (the observed-day sequence is the series index —
    * a missing calendar day shortens it, never misaligns a join);
    * counts are exact integers so naive/seasonal absolute errors stay
    * integer until one final division, and the per-row sMAPE/drift
    * terms are fixed DOUBLE trees over exact integers accumulated
    * through DECIMAL(27,18) — summation order never reaches the e6
    * rounding. Integer literals (2 * ABS..) keep the q288
    * decimal-literal trap out of the shared text. A perfectly constant
    * series zeroes the naive MAE (the MASE denominator); the scaled
    * rows report NULL instead of dividing by it (Spark's non-ANSI
    * x/0 = NULL vs DuckDB's Infinity would otherwise diverge). */
  val q296ForecastBacktest: QuerySpec = QuerySpec.sql(
    "q296_forecast_backtest",
    """WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
      |           FROM events GROUP BY CAST(ts AS DATE)),
      |w AS (SELECT day, c,
      |        LAG(c, 1) OVER (ORDER BY day) AS l1,
      |        LAG(c, 7) OVER (ORDER BY day) AS l7,
      |        FIRST_VALUE(c) OVER (ORDER BY day) AS y1,
      |        ROW_NUMBER() OVER (ORDER BY day) AS rn
      |      FROM d),
      |e AS (SELECT c, l1, l7,
      |        CAST(l1 AS DOUBLE)
      |          + (CAST(l1 AS DOUBLE) - y1) / (rn - 2) AS fd
      |      FROM w WHERE rn >= 8),
      |m AS (SELECT COUNT(*) AS n,
      |        CAST(SUM(ABS(c - l1)) AS BIGINT) AS ae1,
      |        CAST(SUM(ABS(c - l7)) AS BIGINT) AS ae7,
      |        SUM(CAST(ABS(c - fd) AS DECIMAL(27,18))) AS aed,
      |        SUM(CAST((2 * ABS(c - l1)) / (c + CAST(l1 AS DOUBLE))
      |            AS DECIMAL(27,18))) AS sm1,
      |        SUM(CAST((2 * ABS(c - l7)) / (c + CAST(l7 AS DOUBLE))
      |            AS DECIMAL(27,18))) AS sm7,
      |        SUM(CAST((2 * ABS(c - fd)) / (c + fd)
      |            AS DECIMAL(27,18))) AS smd
      |      FROM e)
      |SELECT method, n_eval, mae_e6, smape_e6, mase_e6 FROM (
      |  SELECT 'naive' AS method, CAST(n AS BIGINT) AS n_eval,
      |    CAST(ROUND(CAST(ae1 AS DOUBLE) * 1e6 / n) AS BIGINT) AS mae_e6,
      |    CAST(ROUND(CAST(sm1 AS DOUBLE) * 1e6 / n) AS BIGINT) AS smape_e6,
      |    CAST(1000000 AS BIGINT) AS mase_e6
      |  FROM m
      |  UNION ALL
      |  SELECT 'seasonal_naive' AS method, CAST(n AS BIGINT) AS n_eval,
      |    CAST(ROUND(CAST(ae7 AS DOUBLE) * 1e6 / n) AS BIGINT) AS mae_e6,
      |    CAST(ROUND(CAST(sm7 AS DOUBLE) * 1e6 / n) AS BIGINT) AS smape_e6,
      |    CASE WHEN ae1 = 0 THEN CAST(NULL AS BIGINT)
      |         ELSE CAST(ROUND(CAST(ae7 AS DOUBLE) / ae1 * 1e6) AS BIGINT) END AS mase_e6
      |  FROM m
      |  UNION ALL
      |  SELECT 'drift' AS method, CAST(n AS BIGINT) AS n_eval,
      |    CAST(ROUND(CAST(aed AS DOUBLE) * 1e6 / n) AS BIGINT) AS mae_e6,
      |    CAST(ROUND(CAST(smd AS DOUBLE) * 1e6 / n) AS BIGINT) AS smape_e6,
      |    CASE WHEN ae1 = 0 THEN CAST(NULL AS BIGINT)
      |         ELSE CAST(ROUND(CAST(aed AS DOUBLE) / ae1 * 1e6) AS BIGINT) END AS mase_e6
      |  FROM m) u
      |ORDER BY method""".stripMargin)

  /** Median/MAD (Hampel) robust outlier screen over the per-type hourly
    * series — the estimator [[q224HourlyAnomaly]]'s mean/std z-score
    * cannot be: one wild hour inflates a trailing std enough to mask
    * the next spike (masking), while the median and the median absolute
    * deviation have a 50% breakdown point. Flags hours where
    * |c − median| > 3·1.4826·MAD (1.4826 = the normal-consistency
    * constant, spelled CAST(.. AS DOUBLE) — the q288 decimal-literal
    * rule); the reported robust z floors its denominator at half an
    * event so a perfectly-flat series (MAD = 0) reports a finite
    * max-z instead of dividing by zero — the flag column keeps the
    * exact unfloored Hampel inequality. Scale shape: ONE corpus rollup
    * to the (type, hour) relation; both medians are exact interpolated
    * percentiles of that tiny series (the q191 rule), per-row
    * deviations are identical fixed DOUBLE trees on both engines, and
    * the final per-type rollup is MAX/SUM over series-sized input. */
  val q297MadOutliers: QuerySpec = {
    def text(spark: Boolean): String = {
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS c
         |           FROM events GROUP BY event_type, date_trunc('hour', ts)),
         |m AS (SELECT event_type, ${Dialect.median(spark, "c")} AS med
         |      FROM h GROUP BY event_type),
         |dev AS (SELECT h.event_type, h.c, ABS(h.c - m.med) AS ad, m.med
         |        FROM h JOIN m ON h.event_type = m.event_type),
         |md AS (SELECT event_type, ${Dialect.median(spark, "ad")} AS mad
         |       FROM dev GROUP BY event_type)
         |SELECT d.event_type, COUNT(*) AS n_hours,
         |  CAST(ROUND(MAX(d.med) * 100) AS BIGINT) AS median_e2,
         |  CAST(ROUND(MAX(md.mad) * 100) AS BIGINT) AS mad_e2,
         |  CAST(SUM(CASE WHEN d.ad > CAST(4.4478 AS DOUBLE) * md.mad
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  CAST(ROUND(MAX(d.ad / GREATEST(CAST(1.4826 AS DOUBLE) * md.mad,
         |                                 CAST(0.5 AS DOUBLE))) * 1e6)
         |       AS BIGINT) AS max_robust_z_e6
         |FROM dev d JOIN md ON d.event_type = md.event_type
         |GROUP BY d.event_type
         |ORDER BY d.event_type""".stripMargin
    }
    QuerySpec.sql2("q297_events_mad_outliers", text(spark = true), text(spark = false))
  }

  /** Telemetry debounce — collapse rapid-fire repeats of the same
    * (user, event_type) into their burst-leader event, the standard
    * client-instrumentation cleanup (double-clicks, retry storms,
    * scroll-handler spam) run before any counting analytics. A burst
    * is a chain of ≤ 60 s inter-event gaps ([[q66Sessionize]]'s gap
    * machinery at a 60 s horizon — the burst leader is the session
    * head); gap-based "quiet period" semantics, the variant that
    * distributes (a last-KEPT-relative throttle is inherently
    * sequential). Report: per (user, type) kept vs collapsed counts.
    * Scale shape: ONE window pass over a (user_id, event_type)-keyed
    * shuffle — no self-join, no state; the rollup rides the same
    * partitioning. */
  val q302Debounce: QuerySpec = QuerySpec.sql(
    "q302_events_debounce",
    """WITH l AS (SELECT user_id, event_type, event_id, ts,
      |        LAG(ts) OVER (PARTITION BY user_id, event_type
      |                      ORDER BY ts, event_id) AS pts
      |      FROM events),
      |k AS (SELECT user_id, event_type,
      |        CASE WHEN pts IS NULL OR ts - pts > INTERVAL 60 SECOND
      |             THEN 1 ELSE 0 END AS keep
      |      FROM l)
      |SELECT user_id, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_debounced
      |FROM k GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin)

  /** Churn-label construction — the training-set engineering step a
    * churn model needs before any learning happens: split the stream at
    * a frozen cutoff T (2024-01-21, two thirds into the fixture's
    * range), build features STRICTLY from the observation window
    * [start, T) — event volume, purchase count, distinct active days,
    * recency at T — and the label from the outcome window [T, end)
    * (any activity = retained). The window discipline is the whole
    * point: every feature is a `ts < T` conditional aggregate, so label
    * leakage is structurally impossible, and the frozen literal T makes
    * the dataset reproducible across corpus versions (the q130 split
    * philosophy applied to time). Users with no observation-window
    * activity are excluded (nothing to featurize). Scale shape: ONE
    * scan, one user-keyed rollup — features and label in the same
    * pass. */
  val q304ChurnLabels: QuerySpec = {
    def text(spark: Boolean): String = {
      val recency = Dialect.dayDiff(spark, "DATE '2024-01-21'",
        "CAST(MAX(CASE WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN ts END) AS DATE)")
      s"""SELECT user_id,
         |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_events_obs,
         |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21 00:00:00'
         |                AND event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_purchases_obs,
         |  CAST(COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-21 00:00:00'
         |                           THEN CAST(ts AS DATE) END) AS BIGINT)
         |    AS days_active_obs,
         |  CAST($recency AS BIGINT) AS recency_days,
         |  (SUM(CASE WHEN ts >= TIMESTAMP '2024-01-21 00:00:00' THEN 1 ELSE 0 END) > 0)
         |    AS retained
         |FROM events
         |GROUP BY user_id
         |HAVING SUM(CASE WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1 ELSE 0 END) > 0
         |ORDER BY user_id""".stripMargin
    }
    QuerySpec.sql2("q304_churn_labels", text(spark = true), text(spark = false))
  }

  /** Periodogram power at the weekly frequency — the spectral twin of
    * [[q283EventsAcf]]'s lag-7 autocorrelation: project the centered
    * daily series onto cos/sin at ω = 2π/7 and report the variance
    * share 2·P/(n·SSE), which is 1.0 for a pure weekly sinusoid and
    * ~0 for white noise — the single-number "is there a weekly
    * rhythm" gate before fitting seasonal models (q296's
    * seasonal-naive leg assumes the answer is yes). Engine-exact by
    * construction: day index i is calendar datediff from the pinned
    * epoch, the 7 cos/sin values live in a literal VALUES grid (both
    * engines parse the same decimal literals into the same doubles —
    * no trig libm call at query time), each projection term is one
    * fixed DOUBLE tree over exact integers, and the three Σ run
    * through DECIMAL(27,18). Scale shape: corpus → day relation in
    * ONE rollup, 7-row broadcast grid join, single-row algebra.
    * The phase index uses the non-negative modulus ((i%7)+7)%7 so
    * pre-epoch days still hit the grid (both engines' % keeps the
    * dividend's sign — a bare i%7 would silently drop those rows from
    * the projection sums while n still counted them), and a
    * zero-variance series reports share 0, q299's convention. */
  val q305WeeklySpectrum: QuerySpec = {
    def text(spark: Boolean): String = {
      val idx = Dialect.dayDiff(spark, "day", "DATE '2024-01-01'")
      val gridRows =
        """(0, CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
          |    (1, CAST(0.6234898018587336 AS DOUBLE), CAST(0.7818314824680298 AS DOUBLE)),
          |    (2, CAST(-0.22252093395631434 AS DOUBLE), CAST(0.9749279121818236 AS DOUBLE)),
          |    (3, CAST(-0.900968867902419 AS DOUBLE), CAST(0.43388373911755823 AS DOUBLE)),
          |    (4, CAST(-0.9009688679024191 AS DOUBLE), CAST(-0.433883739117558 AS DOUBLE)),
          |    (5, CAST(-0.2225209339563146 AS DOUBLE), CAST(-0.9749279121818236 AS DOUBLE)),
          |    (6, CAST(0.6234898018587334 AS DOUBLE), CAST(-0.7818314824680299 AS DOUBLE))""".stripMargin
      val grid =
        if (spark) s"SELECT * FROM VALUES\n    $gridRows AS t(k, cw, sw)"
        else s"SELECT * FROM (VALUES\n    $gridRows) t(k, cw, sw)"
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |x AS (SELECT $idx AS i, c FROM d),
         |m AS (SELECT CAST(SUM(c) AS BIGINT) AS sc, COUNT(*) AS n FROM x),
         |g AS ($grid),
         |r AS (SELECT x.c, m.sc, m.n, g.cw, g.sw
         |      FROM x CROSS JOIN m JOIN g ON g.k = ((x.i % 7) + 7) % 7),
         |s AS (SELECT
         |        SUM(CAST((c - CAST(sc AS DOUBLE) / n) * cw AS DECIMAL(27,18))) AS a,
         |        SUM(CAST((c - CAST(sc AS DOUBLE) / n) * sw AS DECIMAL(27,18))) AS b,
         |        SUM(CAST((c - CAST(sc AS DOUBLE) / n)
         |                 * (c - CAST(sc AS DOUBLE) / n) AS DECIMAL(27,18))) AS sse
         |      FROM r)
         |SELECT CAST(m.n AS BIGINT) AS n_days,
         |  CAST(ROUND(CAST(a AS DOUBLE) * 1e2) AS BIGINT) AS amp_cos_e2,
         |  CAST(ROUND(CAST(b AS DOUBLE) * 1e2) AS BIGINT) AS amp_sin_e2,
         |  CAST(ROUND((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
         |              + CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) * 1e2) AS BIGINT)
         |    AS power_e2,
         |  CASE WHEN CAST(sse AS DOUBLE) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(ROUND(2 * (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
         |                  + CAST(b AS DOUBLE) * CAST(b AS DOUBLE))
         |             / (m.n * CAST(sse AS DOUBLE)) * 1e6) AS BIGINT) END
         |    AS weekly_var_share_e6
         |FROM s CROSS JOIN m""".stripMargin
    }
    QuerySpec.sql2("q305_weekly_spectrum", text(spark = true), text(spark = false))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) comparing purchase vs view
    * transaction values — the distribution-free "did the whole value
    * DISTRIBUTION shift?" companion to [[q227AbReadout]]'s proportion
    * z-test (a fat tail moves U long before it moves a mean). Rank-free
    * on the collapsed cent-grid relation (the q278 AUC identity): value
    * is 2-decimal money, so `CAST(ROUND(value*100) AS BIGINT)` collapses
    * ANY corpus to ≤ |price range|·100 rows, and for cent value c with
    * na(c) purchases, nb(c) views and nb_below(c) views strictly below,
    * 2·U = Σ na·(2·nb_below + nb) — ties get exact half credit and the
    * whole statistic is integer until the final z. The only window is
    * the running view count over the cent relation, aggregated on its
    * own order key. Tie-corrected normal approximation
    * z = (U − na·nb/2) / sqrt(na·nb/12·((n+1) − Σ(t³−t)/(n(n−1)))) with
    * DECIMAL(38,0) headroom on the cubes (t ≤ n ⇒ t³ ≤ 10²⁷ at 10⁹
    * rows); rank-biserial effect size r = 2U/(na·nb) − 1 alongside.
    * Degenerate inputs (one group empty, or all values tied ⇒ var 0)
    * yield NULL z, the q299 zero-variance convention. */
  val q317MannWhitney: QuerySpec = QuerySpec.sql(
    "q317_mann_whitney",
    """WITH d AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
      |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
      |           FROM events WHERE event_type IN ('purchase', 'view')),
      |sc AS (SELECT c, CAST(SUM(a) AS BIGINT) AS na,
      |         CAST(COUNT(*) - SUM(a) AS BIGINT) AS nb
      |       FROM d GROUP BY c),
      |w AS (SELECT c, na, nb,
      |        COALESCE(SUM(nb) OVER (ORDER BY c
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lob
      |      FROM sc),
      |m AS (SELECT CAST(SUM(na) AS BIGINT) AS np, CAST(SUM(nb) AS BIGINT) AS nv,
      |        CAST(SUM(CAST(na AS DECIMAL(38,0)) * (2 * lob + nb)) AS DECIMAL(38,0)) AS u2,
      |        CAST(SUM(CAST(na + nb AS DECIMAL(38,0)) * (na + nb) * (na + nb)
      |                 - (na + nb)) AS DECIMAL(38,0)) AS tsum
      |      FROM w)
      |SELECT np AS n_purchase, nv AS n_view,
      |  CAST(ROUND(CAST(u2 AS DOUBLE) / 2) AS BIGINT) AS u_stat,
      |  CASE WHEN np = 0 OR nv = 0 OR
      |            CAST(np AS DOUBLE) * nv / 12.0
      |              * ((np + nv + 1)
      |                 - CAST(tsum AS DOUBLE)
      |                   / ((np + nv) * (np + nv - 1.0))) = 0
      |       THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND((CAST(u2 AS DOUBLE) - CAST(np AS DOUBLE) * nv)
      |         / (2.0 * SQRT(CAST(np AS DOUBLE) * nv / 12.0
      |             * ((np + nv + 1)
      |                - CAST(tsum AS DOUBLE)
      |                  / ((np + nv) * (np + nv - 1.0))))) * 1e6) AS BIGINT) END
      |    AS z_e6,
      |  CASE WHEN np = 0 OR nv = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND((CAST(u2 AS DOUBLE) / (CAST(np AS DOUBLE) * nv) - 1.0)
      |                       * 1e6) AS BIGINT) END AS rank_biserial_e6
      |FROM m""".stripMargin)

  /** Kruskal-Wallis H across ALL event types — the k-sample extension of
    * [[q317MannWhitney]] ("does ANY event type's value distribution
    * differ?"), the nonparametric sibling of the one-way ANOVA readout.
    * Same cent-grid collapse: per cent value, per-type counts; midrank
    * algebra needs only the running total count lo(c) over the cent
    * relation (2·R_g = Σ n_gc·(2·lo + t + 1), a block of t tied values
    * occupying ranks (lo, lo+t] contributes its midrank lo+(t+1)/2 to
    * every member). H = 12/(n(n+1))·Σ n_g·(mr_g − (n+1)/2)² over the
    * k-row group relation, tie-corrected by 1 − Σ(t³−t)/(n³−n); the
    * across-group sum accumulates via DECIMAL(38,6) (n_g·(mr−…)² can
    * reach ~10²⁷ at web scale — past DECIMAL(27,18)'s 9 integer
    * digits, fine at (38,6)). Output one row per type with its mean
    * rank plus the shared H — every number exact-integer-derived until
    * the final doubles. */
  val q318KruskalWallis: QuerySpec = {
    // the cent-collapse relation feeds the tie rollup AND the midrank
    // join; staged once as a temp view (q290 pattern) so the corpus is
    // scanned exactly once — inlined CTEs re-scanned events ~7x
    val vSql =
      """SELECT CAST(ROUND(value * 100) AS BIGINT) AS c, event_type AS g,
        |  COUNT(*) AS ngc
        |FROM events GROUP BY CAST(ROUND(value * 100) AS BIGINT), event_type""".stripMargin
    val tail =
      """WITH t AS (SELECT c, CAST(SUM(ngc) AS BIGINT) AS t FROM q318_v GROUP BY c),
      |w AS (SELECT c, t,
      |        COALESCE(SUM(t) OVER (ORDER BY c
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
      |      FROM t),
      |r AS (SELECT v.g, CAST(SUM(v.ngc) AS BIGINT) AS n_g,
      |        CAST(SUM(CAST(v.ngc AS DECIMAL(38,0)) * (2 * w.lo + w.t + 1))
      |          AS DECIMAL(38,0)) AS r2
      |      FROM q318_v v JOIN w ON v.c = w.c GROUP BY v.g),
      |tc AS (SELECT CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t)
      |           AS DECIMAL(38,0)) AS tsum FROM t),
      |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, COUNT(*) AS k FROM r),
      |m AS (SELECT tot.n, tot.k,
      |        CAST(SUM(CAST(CAST(r.n_g AS DOUBLE)
      |          * (CAST(r.r2 AS DOUBLE) / (2.0 * r.n_g)
      |             - (CAST(tot.n AS DOUBLE) + 1) / 2.0)
      |          * (CAST(r.r2 AS DOUBLE) / (2.0 * r.n_g)
      |             - (CAST(tot.n AS DOUBLE) + 1) / 2.0)
      |          AS DECIMAL(38,6))) AS DOUBLE) AS ssq
      |      FROM r CROSS JOIN tot GROUP BY tot.n, tot.k)
      |SELECT r.g AS event_type, r.n_g,
      |  CAST(ROUND(CAST(r.r2 AS DOUBLE) / (2.0 * r.n_g) * 1e6) AS BIGINT)
      |    AS mean_rank_e6,
      |  CAST(m.k AS BIGINT) AS k_groups,
      |  CAST(ROUND(12.0 * m.ssq / (CAST(m.n AS DOUBLE) * (m.n + 1)) * 1e6)
      |    AS BIGINT) AS h_e6,
      |  CASE WHEN CAST(tc.tsum AS DOUBLE)
      |            = CAST(m.n AS DOUBLE) * m.n * m.n - m.n
      |       THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND(12.0 * m.ssq / (CAST(m.n AS DOUBLE) * (m.n + 1))
      |         / (1.0 - CAST(tc.tsum AS DOUBLE)
      |                  / (CAST(m.n AS DOUBLE) * m.n * m.n - m.n)) * 1e6)
      |         AS BIGINT) END AS h_tie_e6
      |FROM r CROSS JOIN m CROSS JOIN tc
      |ORDER BY event_type""".stripMargin
    QuerySpec("q318_kruskal_wallis",
      "WITH q318_v AS (" + vSql.replace('\n', ' ') + "),\n" +
        tail.stripPrefix("WITH ")) { (sp0, dir) =>
      val sp = QuerySpec.prepared(sp0, dir)
      import graft.llmops.Checkpoints.Stageable
      QuerySpec.sqlOver(sp, "q318_v" -> sp.sql(vSql).staged)(tail)
    }
  }

  /** Levene's test (mean-centered) for homogeneity of value variance
    * across event types — the gate before trusting [[q252AbLiftCi]]-style
    * pooled-variance intervals (unequal spreads silently break them).
    * Two corpus passes, both plain rollups: group sums give exact
    * rational means (S_g/n_g — cent values are integers, so n_g·z_gi =
    * |n_g·c_i − S_g| would even be integral; we keep z as one fixed
    * double tree per row), then per-group Σz and Σz² accumulate via
    * DECIMAL(38,6) (z² ≤ (range·100)² ≈ 2.4·10⁹ — past DECIMAL(27,18)'s
    * integer digits). W = ((N−k)/(k−1)) · Σ n_g(Z̄_g−Z̄)² / Σ_g(Σz² −
    * (Σz)²/n_g); the k-row across-group sums take the same DECIMAL
    * route, and a zero denominator (all |deviations| equal) reports
    * NULL, the q299 convention. */
  val q319LeveneTest: QuerySpec = QuerySpec.sql(
    "q319_levene_test",
    """WITH d AS (SELECT event_type AS g,
      |             CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
      |gm AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
      |         CAST(SUM(c) AS BIGINT) AS s_g FROM d GROUP BY g),
      |z AS (SELECT d.g, ABS(d.c - CAST(gm.s_g AS DOUBLE) / gm.n_g) AS z
      |      FROM d JOIN gm ON d.g = gm.g),
      |zg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
      |         CAST(SUM(CAST(z AS DECIMAL(38,6))) AS DOUBLE) AS zs,
      |         CAST(SUM(CAST(z * z AS DECIMAL(38,6))) AS DOUBLE) AS zss
      |       FROM z GROUP BY g),
      |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, COUNT(*) AS k,
      |          CAST(SUM(CAST(zs AS DECIMAL(38,6))) AS DOUBLE) AS zall
      |        FROM zg),
      |m AS (SELECT tot.n, tot.k,
      |        CAST(SUM(CAST(zg.n_g * (zg.zs / zg.n_g - tot.zall / tot.n)
      |                      * (zg.zs / zg.n_g - tot.zall / tot.n)
      |                 AS DECIMAL(38,6))) AS DOUBLE) AS num,
      |        CAST(SUM(CAST(zg.zss - zg.zs * zg.zs / zg.n_g
      |                 AS DECIMAL(38,6))) AS DOUBLE) AS den
      |      FROM zg CROSS JOIN tot GROUP BY tot.n, tot.k)
      |SELECT CAST(k AS BIGINT) AS k_groups, n AS n_total,
      |  CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND((CAST(n AS DOUBLE) - k) / (k - 1.0) * num / den
      |                       * 1e6) AS BIGINT) END AS w_e6
      |FROM m""".stripMargin)

  /** Friedman test across event types blocked by day — "does any event
    * type consistently rank higher in daily volume?", the repeated-
    * measures cousin of [[q318KruskalWallis]] (blocking by day removes
    * day-to-day traffic swings that would drown a between-type shift).
    * The corpus collapses to the (day, type) relation FIRST (one rollup;
    * exact integer cent sums), then ranks live in PER-DAY windows —
    * partitioned by block, never global, ties as midranks via the
    * standard rank+count identity. χ²_F = 12n/(k(k+1))·Σ(R̄_j−(k+1)/2)²
    * with the tie correction 1 − ΣΣ(t³−t)/(nk(k²−1)); both sums over
    * the |days|·k relation with DECIMAL(38,6) accumulation. Blocks
    * missing a type are dropped (complete-block design), a zero
    * correction denominator (all values tied in every block) reports
    * NULL. */
  val q322Friedman: QuerySpec = {
    // the (day, type) rollup feeds FIVE consumers below; staged once as a
    // temp view on the Spark side (the q290 pattern — inlined CTEs would
    // re-scan events per consumer), while the oracle keeps it as a CTE
    val dSql =
      """SELECT CAST(ts AS DATE) AS day, event_type AS g,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
        |FROM events GROUP BY CAST(ts AS DATE), event_type""".stripMargin
    val tail =
      """WITH k AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS k FROM q322_d),
      |full_days AS (SELECT /*+ BROADCAST(k) */ day FROM q322_d CROSS JOIN k
      |              GROUP BY day, k.k HAVING COUNT(*) = MAX(k.k)),
      |r AS (SELECT d.day, d.g,
      |        RANK() OVER (PARTITION BY d.day ORDER BY d.s)
      |          + (COUNT(*) OVER (PARTITION BY d.day, d.s) - 1) / 2.0 AS mr
      |      FROM q322_d d JOIN full_days fd ON d.day = fd.day),
      |ties AS (SELECT CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t)
      |             AS DECIMAL(38,0)) AS tsum
      |         FROM (SELECT d.day, d.s, COUNT(*) AS t
      |               FROM q322_d d JOIN full_days fd ON d.day = fd.day
      |               GROUP BY d.day, d.s) b),
      |rj AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(CAST(mr AS DECIMAL(38,6))) AS DOUBLE) AS rsum
      |       FROM r GROUP BY g),
      |m AS (SELECT /*+ BROADCAST(k) */ MAX(rj.n) AS n, k.k,
      |        CAST(SUM(CAST((rj.rsum / rj.n - (k.k + 1) / 2.0)
      |                      * (rj.rsum / rj.n - (k.k + 1) / 2.0)
      |                 AS DECIMAL(38,18))) AS DOUBLE) AS ssq
      |      FROM rj CROSS JOIN k GROUP BY k.k)
      |SELECT /*+ BROADCAST(m, ties) */ rj.g AS event_type,
      |  CAST(ROUND(rj.rsum / rj.n * 1e6) AS BIGINT) AS mean_rank_e6,
      |  m.n AS n_blocks, m.k AS k_treatments,
      |  CAST(ROUND(12.0 * m.n * m.ssq / (m.k * (m.k + 1.0)) * 1e6) AS BIGINT)
      |    AS chi2_e6,
      |  CASE WHEN 1.0 - CAST(ties.tsum AS DOUBLE)
      |                  / (CAST(m.n AS DOUBLE) * m.k * (CAST(m.k AS DOUBLE) * m.k - 1))
      |            = 0
      |       THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND(12.0 * m.n * m.ssq / (m.k * (m.k + 1.0))
      |         / (1.0 - CAST(ties.tsum AS DOUBLE)
      |                  / (CAST(m.n AS DOUBLE) * m.k
      |                     * (CAST(m.k AS DOUBLE) * m.k - 1))) * 1e6) AS BIGINT)
      |       END AS chi2_tie_e6
      |FROM rj CROSS JOIN m CROSS JOIN ties
      |ORDER BY event_type""".stripMargin
    QuerySpec("q322_friedman",
      "WITH q322_d AS (" + dSql.replace('\n', ' ') + "),\n" +
        tail.stripPrefix("WITH ")) { (sp0, dir) =>
      val sp = QuerySpec.prepared(sp0, dir)
      import graft.llmops.Checkpoints.Stageable
      QuerySpec.sqlOver(sp, "q322_d" -> sp.sql(dSql).staged)(tail)
    }
  }

  /** Wilcoxon signed-rank test on paired per-user spend (first half vs
    * second half of the observation window) — "did the SAME users shift
    * their spend?", removing the between-user variance that a two-sample
    * test would have to climb over. Pairs are per-user cent totals in
    * each half (exact integers; users active in only one half drop out,
    * zero differences drop per the standard test). The |d| ranks are
    * NEVER per-user: cent differences collapse to the bounded
    * |d|-cardinality relation, midranks come from the running count
    * over that relation (the q317 identity), and 2·W⁺ = Σ n⁺(d)·(2·lo +
    * t + 1) stays integer until the normal approximation
    * z = (W⁺ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48) with
    * DECIMAL(38,0) cube headroom. All-zero-differences ⇒ NULL. The
    * half-split compares integer epoch-µs (2·t < t0+t1) — `(t1−t0)/2`
    * interval division is an engine trap (DuckDB divides the
    * days/micros components separately, losing up to 12 h). */
  val q323WilcoxonSignedRank: QuerySpec = {
    def text(spark: Boolean): String = {
      def us(col: String): String =
        if (spark) s"unix_micros(CAST($col AS TIMESTAMP))"
        else s"epoch_us($col)"
      s"""WITH b AS (SELECT MIN(${us("ts")}) AS t0, MAX(${us("ts")}) AS t1
         |           FROM events),
         |u AS (SELECT e.user_id,
         |        CAST(SUM(CASE WHEN 2 * ${us("e.ts")} < b.t0 + b.t1
         |                      THEN CAST(ROUND(e.value * 100) AS BIGINT) END)
         |          AS BIGINT) AS c1,
         |        CAST(SUM(CASE WHEN 2 * ${us("e.ts")} >= b.t0 + b.t1
         |                      THEN CAST(ROUND(e.value * 100) AS BIGINT) END)
         |          AS BIGINT) AS c2
         |      FROM events e CROSS JOIN b GROUP BY e.user_id),
         |d AS (SELECT c2 - c1 AS d FROM u
         |      WHERE c1 IS NOT NULL AND c2 IS NOT NULL AND c2 <> c1),""".stripMargin
    }
    val tail =
      """
        |sc AS (SELECT ABS(d) AS a,
        |         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |         CAST(COUNT(*) AS BIGINT) AS t
        |       FROM d GROUP BY ABS(d)),
        |w AS (SELECT a, np, t,
        |        COALESCE(SUM(t) OVER (ORDER BY a
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
        |      FROM sc),
        |m AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
        |        CAST(SUM(np) AS BIGINT) AS n_pos,
        |        CAST(SUM(CAST(np AS DECIMAL(38,0)) * (2 * lo + t + 1))
        |          AS DECIMAL(38,0)) AS wp2,
        |        CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS DECIMAL(38,0))
        |          AS tsum
        |      FROM w)
        |SELECT n AS n_pairs, n_pos,
        |  CAST(ROUND(CAST(wp2 AS DOUBLE) / 2) AS BIGINT) AS w_plus,
        |  CASE WHEN n = 0 OR
        |            CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
        |              - CAST(tsum AS DOUBLE) / 48.0 <= 0
        |       THEN CAST(NULL AS BIGINT)
        |       ELSE CAST(ROUND((CAST(wp2 AS DOUBLE) / 2
        |           - CAST(n AS DOUBLE) * (n + 1) / 4.0)
        |         / SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
        |                - CAST(tsum AS DOUBLE) / 48.0) * 1e6) AS BIGINT) END
        |    AS z_e6
        |FROM m""".stripMargin
    QuerySpec.sql2("q323_wilcoxon_signed_rank",
      text(spark = true) + tail, text(spark = false) + tail)
  }

  /** Kaplan-Meier survival + Nelson-Aalen cumulative hazard of user
    * lifetime (days from first to last event, right-censored at the
    * corpus horizon) — the churn curve read off correctly: a user whose
    * last event touches the horizon hasn't churned, they're censored,
    * and ignoring that (plain AVG of lifetimes) biases lifetime low
    * exactly when growth is fastest. Scale shape: ONE user-grain rollup
    * (first/last day per user), then everything lives on the
    * duration-grain relation (≤ horizon days, bounded): at-risk counts
    * are running sums over it, S(t) = exp(Σ_{t'≤t} ln(1 − d/n)) with
    * each ln a fixed double tree and the prefix sum accumulating
    * DECIMAL(38,18) in deterministic prefix order, H(t) the same prefix
    * sum of exact-ratio doubles. Windows order the duration relation on
    * its own grouping key. Horizon = broadcast scalar. */
  val q327KaplanMeier: QuerySpec = {
    def text(spark: Boolean): String = {
      val dd = Dialect.dayDiff(spark, "l.last_day", "l.first_day")
      s"""WITH u AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day,
         |             MAX(CAST(ts AS DATE)) AS last_day
         |           FROM events GROUP BY user_id),
         |hz AS (SELECT MAX(last_day) AS horizon FROM u),
         |l AS (SELECT user_id, first_day, last_day FROM u),
         |dur AS (SELECT /*+ BROADCAST(hz) */
         |          CAST($dd AS BIGINT) AS t,
         |          CASE WHEN l.last_day < hz.horizon THEN 1 ELSE 0 END AS churned
         |        FROM l CROSS JOIN hz),
         |g AS (SELECT t, CAST(SUM(churned) AS BIGINT) AS n_churned,
         |        CAST(COUNT(*) - SUM(churned) AS BIGINT) AS n_censored
         |      FROM dur GROUP BY t),
         |w AS (SELECT t, n_churned, n_censored,
         |        CAST(SUM(n_churned + n_censored) OVER () AS BIGINT)
         |          - CAST(COALESCE(SUM(n_churned + n_censored) OVER (ORDER BY t
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |              AS BIGINT) AS n_at_risk
         |      FROM g),
         |s AS (SELECT t, n_at_risk, n_churned, n_censored,
         |        SUM(CAST(CASE WHEN n_churned = 0 THEN 0.0
         |              WHEN n_churned = n_at_risk THEN -800.0
         |              ELSE LN(1.0 - CAST(n_churned AS DOUBLE) / n_at_risk) END
         |            AS DECIMAL(38,18))) OVER (ORDER BY t
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum,
         |        SUM(CAST(CAST(n_churned AS DOUBLE) / n_at_risk
         |            AS DECIMAL(38,18))) OVER (ORDER BY t
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hsum
         |      FROM w)
         |SELECT t AS duration_days, n_at_risk, n_churned, n_censored,
         |  CASE WHEN CAST(lnsum AS DOUBLE) <= -700.0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(ROUND(EXP(CAST(lnsum AS DOUBLE)) * 1e6) AS BIGINT) END
         |    AS km_survival_e6,
         |  CAST(ROUND(CAST(hsum AS DOUBLE) * 1e6) AS BIGINT) AS na_hazard_e6
         |FROM s ORDER BY duration_days""".stripMargin
    }
    QuerySpec.sql2("q327_kaplan_meier", text(spark = true), text(spark = false))
  }

  /** Granger-style lead-lag screen: do yesterday's CLICKS predict
    * today's PURCHASES beyond what yesterday's purchases already do? —
    * the causal-direction sanity check behind attribution claims
    * ([[q239Attribution]] assumes click→purchase; this tests whether
    * the daily series actually carry that arrow). Restricted model
    * p_t ~ p_{t−1} vs full p_t ~ p_{t−1} + c_{t−1}; the F-statistic of
    * the added regressor from closed-form two-regressor OLS. Scale
    * shape: the corpus collapses to the day-grain (p, c) relation in
    * ONE rollup; the LAG window orders that tiny relation on its own
    * grouping key; all centered moments are exact integer algebra
    * (counts, DECIMAL(38,0) squares) until the final fixed DOUBLE
    * trees. Collinear lags (D = 0) or a saturated full model
    * (SSE_f ≤ 0) report NULL, the q299 convention. */
  val q333GrangerLite: QuerySpec = QuerySpec.sql(
    "q333_granger_lite",
    """WITH d AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM events GROUP BY CAST(ts AS DATE)),
      |l AS (SELECT day, p AS y,
      |        LAG(p) OVER (ORDER BY day) AS a,
      |        LAG(c) OVER (ORDER BY day) AS b
      |      FROM d),
      |v AS (SELECT y, a, b FROM l WHERE a IS NOT NULL),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(a) AS BIGINT) AS sa,
      |        CAST(SUM(b) AS BIGINT) AS sb,
      |        CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS qyy,
      |        CAST(SUM(CAST(a AS DECIMAL(38,0)) * a) AS DECIMAL(38,0)) AS qaa,
      |        CAST(SUM(CAST(b AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS qbb,
      |        CAST(SUM(CAST(a AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS qay,
      |        CAST(SUM(CAST(b AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS qby,
      |        CAST(SUM(CAST(a AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS qab
      |      FROM v),
      |s AS (SELECT n,
      |        CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy,
      |        CAST(qaa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n AS saa,
      |        CAST(qbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n AS sbb,
      |        CAST(qay AS DOUBLE) - CAST(sa AS DOUBLE) * sy / n AS say,
      |        CAST(qby AS DOUBLE) - CAST(sb AS DOUBLE) * sy / n AS sby,
      |        CAST(qab AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n AS sab
      |      FROM m),
      |fit AS (SELECT n, syy, saa, sbb, say, sby, sab,
      |          saa * sbb - sab * sab AS det
      |        FROM s),
      |r AS (SELECT n, syy, saa, say, sby, sab, det,
      |        CASE WHEN det = 0 THEN NULL
      |             ELSE (say * sbb - sby * sab) / det END AS b1,
      |        CASE WHEN det = 0 THEN NULL
      |             ELSE (sby * saa - say * sab) / det END AS b2,
      |        sbb
      |      FROM fit)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(ROUND(b1 * 1e6) AS BIGINT) AS beta_self_e6,
      |  CAST(ROUND(b2 * 1e6) AS BIGINT) AS beta_cross_e6,
      |  CASE WHEN saa = 0 OR syy = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND((say * say / saa) / syy * 1e6) AS BIGINT) END
      |    AS r2_restricted_e6,
      |  CASE WHEN det = 0 OR syy = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND((b1 * say + b2 * sby) / syy * 1e6) AS BIGINT) END
      |    AS r2_full_e6,
      |  CASE WHEN det = 0 OR saa = 0
      |            OR syy - (b1 * say + b2 * sby) <= 0
      |       THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND(
      |         ((syy - say * say / saa) - (syy - (b1 * say + b2 * sby)))
      |         / ((syy - (b1 * say + b2 * sby)) / (n - 3)) * 1e6) AS BIGINT) END
      |    AS f_stat_e6
      |FROM r""".stripMargin)

  /** Kleinberg 2-state burst detection over the daily event series —
    * the principled "which days were BURSTS?" labeling that raw
    * thresholds can't give: a Viterbi path through base-rate/burst
    * states (λ₁ = 1.05·λ₀) with an entry penalty γ = 1 buys
    * hysteresis, so one noisy day neither starts nor ends a burst
    * (the offline complement to [[q275CusumChangepoint]]'s single
    * changepoint and [[q224HourlyAnomaly]]'s memoryless alerts).
    * Scale shape: the corpus collapses to the day-grain count relation
    * FIRST (one rollup; the relation is bounded by calendar days), and
    * the irreducibly-sequential Viterbi recursion runs as ONE ordered
    * fold over that tiny relation — Spark `aggregate()` over the
    * day-sorted array, DuckDB `list_reduce` over the identical list,
    * both engines replaying the identical double recursion (Poisson
    * log-likelihood ratios cancel the ln c! term, so each step is
    * λ₀(s−1) − c·ln s — a fixed tree), with path strings carried in
    * the accumulator and ties broken toward the base state. */
  val q338KleinbergBursts: QuerySpec = {
    // llr(c) = cost(burst) − cost(base) under Poisson(λ0) vs Poisson(sλ0)
    def llr(c: String) = s"lam0 * 0.05 - $c * LN(1.05)"
    val sparkText =
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         |        CAST(SUM(c) AS BIGINT) AS tot FROM d),
         |arr AS (SELECT array_sort(collect_list(struct(day, c))) AS a FROM d),
         |f AS (SELECT m.nd, arr.a,
         |        CAST(m.tot AS DOUBLE) / m.nd AS lam0, CAST(1.0 AS DOUBLE) AS gamma
         |      FROM arr CROSS JOIN m),
         |v AS (SELECT nd, a, lam0, gamma,
         |        aggregate(a,
         |          named_struct('c0', CAST(0.0 AS DOUBLE), 'c1', CAST(1e18 AS DOUBLE),
         |                       'p0', '', 'p1', ''),
         |          (acc, x) -> named_struct(
         |            'c0', LEAST(acc.c0, acc.c1),
         |            'c1', LEAST(acc.c0 + gamma, acc.c1) + (${llr("x.c")}),
         |            'p0', concat(CASE WHEN acc.c0 <= acc.c1 THEN acc.p0
         |                              ELSE acc.p1 END, '0'),
         |            'p1', concat(CASE WHEN acc.c0 + gamma <= acc.c1 THEN acc.p0
         |                              ELSE acc.p1 END, '1'))) AS fin
         |      FROM f),
         |p AS (SELECT a, lam0,
         |        CASE WHEN fin.c0 <= fin.c1 THEN fin.p0 ELSE fin.p1 END AS path
         |      FROM v)
         |SELECT e.day, e.c AS n_events,
         |  (substring(p.path, CAST(pos + 1 AS INT), 1) = '1') AS burst,
         |  CAST(ROUND((${llr("e.c")}) * 1e6) AS BIGINT) AS llr_e6
         |FROM p LATERAL VIEW posexplode(a) t AS pos, e
         |ORDER BY e.day""".stripMargin
    // DuckDB 1.0 list_reduce evaluates struct-constructor fields
    // SEQUENTIALLY against the partially-updated accumulator (verified:
    // {'u': acc.u+100, 'v': acc.u} yields v = the NEW u), so a struct
    // accumulator silently corrupts the recursion. The accumulator is
    // therefore a serialized 'c0;c1;p0;p1' VARCHAR — one immutable value
    // per step, parsed afresh on every read; DOUBLE↔VARCHAR casts are
    // shortest-round-trip exact in DuckDB.
    val duckText = {
      def part(i: Int) = s"string_split(acc, ';')[$i]"
      def c0 = s"CAST(${part(1)} AS DOUBLE)"
      def c1 = s"CAST(${part(2)} AS DOUBLE)"
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         |        CAST(SUM(c) AS BIGINT) AS tot FROM d),
         |arr AS (SELECT list({'day': day, 'c': c} ORDER BY day) AS a FROM d),
         |f AS (SELECT m.nd, arr.a,
         |        CAST(m.tot AS DOUBLE) / m.nd AS lam0, CAST(1.0 AS DOUBLE) AS gamma
         |      FROM arr CROSS JOIN m),
         |v AS (SELECT nd, a, lam0, gamma,
         |        list_reduce(
         |          list_prepend('0.0;1e18;;',
         |            list_transform(a, x ->
         |              CAST(CAST(${llr("x.c")} AS DOUBLE) AS VARCHAR))),
         |          (acc, x) ->
         |            CAST(LEAST($c0, $c1) AS VARCHAR)
         |            || ';' ||
         |            CAST(LEAST($c0 + gamma, $c1) + CAST(x AS DOUBLE) AS VARCHAR)
         |            || ';' ||
         |            (CASE WHEN $c0 <= $c1 THEN ${part(3)} ELSE ${part(4)} END)
         |            || '0;' ||
         |            (CASE WHEN $c0 + gamma <= $c1 THEN ${part(3)}
         |                  ELSE ${part(4)} END)
         |            || '1') AS fin
         |      FROM f),
         |p AS (SELECT a, lam0,
         |        CASE WHEN CAST(string_split(fin, ';')[1] AS DOUBLE)
         |                  <= CAST(string_split(fin, ';')[2] AS DOUBLE)
         |             THEN string_split(fin, ';')[3]
         |             ELSE string_split(fin, ';')[4] END AS path
         |      FROM v),
         |u AS (SELECT path, lam0, unnest(a) AS e,
         |        generate_subscripts(a, 1) AS i FROM p)
         |SELECT e['day'] AS day, e['c'] AS n_events,
         |  (substr(path, CAST(i AS INT), 1) = '1') AS burst,
         |  CAST(ROUND((lam0 * 0.05 - e['c'] * LN(1.05)) * 1e6) AS BIGINT)
         |    AS llr_e6
         |FROM u
         |ORDER BY day""".stripMargin
    }
    QuerySpec.sql2("q338_kleinberg_bursts", sparkText, duckText)
  }

  /** Partial autocorrelation of the daily series at lags 1–7 via
    * Durbin–Levinson — the AR-order diagnostic [[q283EventsAcf]] can't
    * give (ACF of an AR(1) decays at every lag; PACF cuts off sharp,
    * telling you WHICH lags carry direct structure vs inherited
    * correlation — the day-7 spike here is the weekly rhythm net of
    * shorter lags). The recursion is UNROLLED as a generated CTE chain
    * (the kmeans/Lloyd replay rule: fixed steps, no lambdas, portable
    * to the oracle verbatim), each level one fixed DOUBLE tree over
    * the previous level's φ row; the ACF inputs come from the q283
    * day-grain machinery with DECIMAL(27,18) moment sums, kept as
    * UNROUNDED doubles through the recursion. Everything after the
    * one day-grain rollup lives on scalar relations; zero-variance
    * denominators yield NULL through the chain. */
  val q340Pacf: QuerySpec = {
    def text(spark: Boolean): String = {
      val idx = Dialect.dayDiff(spark, "day", "DATE '2024-01-01'")
      val lags = Dialect.intRange(spark, 1, 7, "lag")
      val steps = (2 to 7).map { k =>
        val num = s"(r$k - (${(1 until k).map(j => s"p${k - 1}_$j * r${k - j}").mkString(" + ")}))"
        val den = s"(1 - (${(1 until k).map(j => s"p${k - 1}_$j * r$j").mkString(" + ")}))"
        val upd = (1 until k)
          .map(j => s"p${k - 1}_$j - p${k}_$k * p${k - 1}_${k - j} AS p${k}_$j")
          .mkString(", ")
        s"""s${k}a AS (SELECT *, CASE WHEN $den = 0 THEN CAST(NULL AS DOUBLE)
           |            ELSE $num / $den END AS p${k}_$k FROM s${k - 1}),
           |s$k AS (SELECT *, $upd FROM s${k}a)""".stripMargin
      }.mkString(",\n")
      val pacfCase = (1 to 7).map(k => s"WHEN $k THEN p${k}_$k").mkString(" ")
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |x AS (SELECT $idx AS i, c FROM d),
         |m AS (SELECT COUNT(*) AS n, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mu FROM x),
         |den0 AS (SELECT CAST(SUM(CAST((x.c - m.mu) * (x.c - m.mu)
         |             AS DECIMAL(27,18))) AS DOUBLE) AS d2
         |         FROM x CROSS JOIN m),
         |k AS ($lags),
         |acf AS (SELECT k.lag,
         |          CAST(SUM(CAST((a.c - m.mu) * (b.c - m.mu) AS DECIMAL(27,18)))
         |            AS DOUBLE) / MAX(den0.d2) AS r
         |        FROM k CROSS JOIN x a JOIN x b ON b.i = a.i + k.lag
         |        CROSS JOIN m CROSS JOIN den0
         |        GROUP BY k.lag),
         |rwide AS (SELECT
         |    ${(1 to 7).map(k => s"MAX(CASE WHEN lag = $k THEN r END) AS r$k").mkString(", ")}
         |  FROM acf),
         |s1 AS (SELECT *, r1 AS p1_1 FROM rwide),
         |$steps
         |SELECT k.lag,
         |  CAST(ROUND((CASE k.lag ${(1 to 7).map(k => s"WHEN $k THEN r$k").mkString(" ")} END)
         |    * 1e6) AS BIGINT) AS acf_e6,
         |  CAST(ROUND((CASE k.lag $pacfCase END) * 1e6) AS BIGINT) AS pacf_e6
         |FROM k CROSS JOIN s7
         |ORDER BY k.lag""".stripMargin
    }
    QuerySpec.sql2("q340_pacf", text(spark = true), text(spark = false))
  }

  /** Additive Holt-Winters (α=0.3, β=0.1, γ=0.2, season 7) over the
    * daily series — the adaptive forecaster whose fixed-baseline
    * errors [[q296ForecastBacktest]] benchmarks: level/trend/seasonal
    * states update day by day, and the in-sample one-step MAE is
    * directly comparable to q296's naive/seasonal/drift rows.
    * Initialization: first-week mean as level, zero trend, first-week
    * deviations as the seasonal profile. The recursion is inherently
    * sequential, so it runs as ONE ordered fold over the day-grain
    * relation (the q338 pattern — Spark `aggregate()` with a struct
    * accumulator; the DuckDB oracle serializes the state as
    * 'L;B;s0,…,s6;sae;cnt' VARCHAR because of its reduce-lambda
    * struct-aliasing bug, with shortest-round-trip DOUBLE↔VARCHAR
    * casts keeping the replay bit-exact). Both engines evaluate the
    * identical update trees in the identical order. */
  val q341HoltWinters: QuerySpec = {
    val (al, be, ga) = ("0.3", "0.1", "0.2")
    val sparkText =
      s"""WITH d AS (SELECT datediff(CAST(ts AS DATE), DATE '2024-01-01') AS i,
         |             CAST(COUNT(*) AS DOUBLE) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |w AS (SELECT CAST(AVG(c) AS DOUBLE) AS l0 FROM d WHERE i < 7),
         |s0 AS (SELECT collect_list(struct(i, c)) AS wk FROM (
         |         SELECT i, c FROM d WHERE i < 7) t),
         |init AS (SELECT w.l0,
         |           transform(array_sort(s0.wk), x -> x.c - w.l0) AS sea
         |         FROM w CROSS JOIN s0),
         |arr AS (SELECT array_sort(collect_list(struct(i, c))) AS a
         |        FROM d WHERE i >= 7),
         |v AS (SELECT aggregate(arr.a,
         |        named_struct('l', init.l0, 'b', CAST(0.0 AS DOUBLE),
         |                     'sea', init.sea, 'sae', CAST(0.0 AS DOUBLE),
         |                     'cnt', CAST(0 AS BIGINT)),
         |        (acc, x) -> named_struct(
         |          'l', $al * (x.c - element_at(acc.sea, CAST(x.i % 7 + 1 AS INT)))
         |               + (1.0 - $al) * (acc.l + acc.b),
         |          'b', $be * (($al * (x.c - element_at(acc.sea, CAST(x.i % 7 + 1 AS INT)))
         |                       + (1.0 - $al) * (acc.l + acc.b)) - acc.l)
         |               + (1.0 - $be) * acc.b,
         |          'sea', transform(sequence(0, 6), j -> CASE WHEN j = x.i % 7
         |            THEN $ga * (x.c - ($al * (x.c - element_at(acc.sea, CAST(x.i % 7 + 1 AS INT)))
         |                               + (1.0 - $al) * (acc.l + acc.b)))
         |                 + (1.0 - $ga) * element_at(acc.sea, CAST(j + 1 AS INT))
         |            ELSE element_at(acc.sea, CAST(j + 1 AS INT)) END),
         |          'sae', acc.sae + abs(x.c - (acc.l + acc.b
         |                 + element_at(acc.sea, CAST(x.i % 7 + 1 AS INT)))),
         |          'cnt', acc.cnt + 1)) AS fin
         |      FROM arr CROSS JOIN init)
         |SELECT fin.cnt AS n_forecast_days,
         |  CAST(ROUND(fin.l * 1e2) AS BIGINT) AS level_e2,
         |  CAST(ROUND(fin.b * 1e2) AS BIGINT) AS trend_e2,
         |  CAST(ROUND(fin.sae / fin.cnt * 1e2) AS BIGINT) AS mae_e2,
         |  CAST(ROUND((array_max(fin.sea) - array_min(fin.sea)) * 1e2) AS BIGINT)
         |    AS seasonal_span_e2
         |FROM v""".stripMargin
    val duckText = {
      // acc = 'L;B;s0,...,s6;sae;cnt'; element = 'i,c'
      def p(i: Int) = s"string_split(acc, ';')[$i]"
      def L = s"CAST(${p(1)} AS DOUBLE)"
      def B = s"CAST(${p(2)} AS DOUBLE)"
      def sea(j: String) =
        s"CAST(string_split(${p(3)}, ',')[$j] AS DOUBLE)"
      def xi = "CAST(string_split(x, ',')[1] AS BIGINT)"
      def xc = "CAST(string_split(x, ',')[2] AS DOUBLE)"
      val slotSea = sea(s"CAST($xi % 7 + 1 AS INT)")
      val newL = s"($al * ($xc - $slotSea) + (1.0 - $al) * ($L + $B))"
      s"""WITH d AS (SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS i,
         |             CAST(COUNT(*) AS DOUBLE) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |w AS (SELECT CAST(AVG(c) AS DOUBLE) AS l0 FROM d WHERE i < 7),
         |init AS (SELECT w.l0,
         |           (SELECT array_to_string(list(CAST(c - w.l0 AS VARCHAR)
         |              ORDER BY i), ',') FROM d WHERE i < 7) AS sea
         |         FROM w),
         |arr AS (SELECT list(CAST(i AS VARCHAR) || ',' || CAST(c AS VARCHAR)
         |          ORDER BY i) AS a
         |        FROM d WHERE i >= 7),
         |v AS (SELECT list_reduce(
         |        list_prepend(CAST(init.l0 AS VARCHAR) || ';0.0;' || init.sea
         |                     || ';0.0;0', arr.a),
         |        (acc, x) ->
         |          CAST($newL AS VARCHAR)
         |          || ';' ||
         |          CAST($be * ($newL - $L) + (1.0 - $be) * $B AS VARCHAR)
         |          || ';' ||
         |          array_to_string(list_transform(range(7), j ->
         |            CASE WHEN j = $xi % 7
         |                 THEN CAST($ga * ($xc - $newL)
         |                      + (1.0 - $ga) * ${sea("CAST(j + 1 AS INT)")} AS VARCHAR)
         |                 ELSE CAST(${sea("CAST(j + 1 AS INT)")} AS VARCHAR) END), ',')
         |          || ';' ||
         |          CAST(CAST(${p(4)} AS DOUBLE)
         |               + ABS($xc - ($L + $B + $slotSea)) AS VARCHAR)
         |          || ';' ||
         |          CAST(CAST(${p(5)} AS BIGINT) + 1 AS VARCHAR)) AS fin
         |      FROM init CROSS JOIN arr),
         |f AS (SELECT CAST(string_split(fin, ';')[1] AS DOUBLE) AS l,
         |        CAST(string_split(fin, ';')[2] AS DOUBLE) AS b,
         |        list_transform(string_split(string_split(fin, ';')[3], ','),
         |          s -> CAST(s AS DOUBLE)) AS sea,
         |        CAST(string_split(fin, ';')[4] AS DOUBLE) AS sae,
         |        CAST(string_split(fin, ';')[5] AS BIGINT) AS cnt
         |      FROM v)
         |SELECT cnt AS n_forecast_days,
         |  CAST(ROUND(l * 1e2) AS BIGINT) AS level_e2,
         |  CAST(ROUND(b * 1e2) AS BIGINT) AS trend_e2,
         |  CAST(ROUND(sae / cnt * 1e2) AS BIGINT) AS mae_e2,
         |  CAST(ROUND((list_aggregate(sea, 'max') - list_aggregate(sea, 'min'))
         |    * 1e2) AS BIGINT) AS seasonal_span_e2
         |FROM f""".stripMargin
    }
    QuerySpec.sql2("q341_holt_winters", sparkText, duckText)
  }

  /** Log-rank test comparing [[q327KaplanMeier]] churn curves between
    * purchasers and non-purchasers — "do the two cohorts have the SAME
    * survival curve?", answered correctly under censoring (comparing
    * mean lifetimes ignores exactly the users who haven't churned
    * yet). At every churn time t: O₁ₜ = d₁ₜ observed group-1 churns,
    * E₁ₜ = dₜ·n₁ₜ/nₜ expected under H₀, hypergeometric variance
    * Vₜ = dₜ·(n₁ₜ/nₜ)·(1−n₁ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1); χ² = (ΣO−ΣE)²/ΣV.
    * Scale shape: one user-grain rollup (duration, churned, cohort),
    * then everything on the duration-grain grid (≤ horizon days × 2):
    * at-risk counts are running sums over it, every O/E/V term a fixed
    * DOUBLE tree over exact integers, summed via DECIMAL(38,18).
    * Single-row output with per-cohort totals; zero variance (no
    * churn, or one empty cohort) ⇒ NULL. */
  val q342LogRank: QuerySpec = {
    def text(spark: Boolean): String = {
      val dd = Dialect.dayDiff(spark, "u.last_day", "u.first_day")
      s"""WITH u AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day,
         |             MAX(CAST(ts AS DATE)) AS last_day,
         |             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS g1
         |           FROM events GROUP BY user_id),
         |hz AS (SELECT MAX(last_day) AS horizon FROM u),
         |dur AS (SELECT /*+ BROADCAST(hz) */
         |          CAST($dd AS BIGINT) AS t, u.g1,
         |          CASE WHEN u.last_day < hz.horizon THEN 1 ELSE 0 END AS churned
         |        FROM u CROSS JOIN hz),
         |g AS (SELECT t,
         |        CAST(SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
         |        CAST(SUM(CASE WHEN g1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m0,
         |        CAST(SUM(CASE WHEN g1 = 1 THEN churned ELSE 0 END) AS BIGINT) AS d1,
         |        CAST(SUM(CASE WHEN g1 = 0 THEN churned ELSE 0 END) AS BIGINT) AS d0
         |      FROM dur GROUP BY t),
         |w AS (SELECT t, d1, d0,
         |        CAST(SUM(m1) OVER () AS BIGINT)
         |          - CAST(COALESCE(SUM(m1) OVER (ORDER BY t
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |              AS BIGINT) AS n1,
         |        CAST(SUM(m0) OVER () AS BIGINT)
         |          - CAST(COALESCE(SUM(m0) OVER (ORDER BY t
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |              AS BIGINT) AS n0
         |      FROM g),
         |s AS (SELECT
         |        CAST(SUM(d1) AS BIGINT) AS o1,
         |        CAST(SUM(CAST(CASE WHEN n1 + n0 = 0 THEN 0.0
         |             ELSE (d1 + d0) * CAST(n1 AS DOUBLE) / (n1 + n0) END
         |             AS DECIMAL(38,18))) AS DOUBLE) AS e1,
         |        CAST(SUM(CAST(CASE WHEN n1 + n0 <= 1 THEN 0.0
         |             ELSE (d1 + d0) * (CAST(n1 AS DOUBLE) / (n1 + n0))
         |                  * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n0))
         |                  * (n1 + n0 - d1 - d0) / (n1 + n0 - 1.0) END
         |             AS DECIMAL(38,18))) AS DOUBLE) AS v,
         |        CAST(SUM(d1 + d0) AS BIGINT) AS d_total,
         |        CAST(MAX(n1) AS BIGINT) AS n1_total,
         |        CAST(MAX(n0) AS BIGINT) AS n0_total
         |      FROM w)
         |SELECT n1_total AS n_purchasers, n0_total AS n_others,
         |  d_total AS n_churned, o1 AS observed_g1,
         |  CAST(ROUND(e1 * 1e6) AS BIGINT) AS expected_g1_e6,
         |  CASE WHEN v = 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND((o1 - e1) * (o1 - e1) / v * 1e6) AS BIGINT) END
         |    AS chi2_e6
         |FROM s""".stripMargin
    }
    QuerySpec.sql2("q342_logrank", text(spark = true), text(spark = false))
  }

  /** Gumbel extreme-value fit on weekly maxima of the daily load — the
    * capacity-planning number averages can't give: the method-of-
    * moments Gumbel (β = s√6/π, μ = m − γβ) fitted to block maxima
    * yields return levels x_p = μ − β·ln(−ln p) — "the daily peak a
    * 1-in-100-weeks week brings", which is what you provision for.
    * Scale shape: corpus → day-grain rollup → week-grain MAX rollup
    * (bounded by calendar weeks); moments over the block-maxima
    * relation are exact integers until the fixed DOUBLE tree; a
    * single-block or zero-variance series reports NULL. */
  val q343GumbelExtremes: QuerySpec = {
    def text(spark: Boolean): String = {
      val days = Dialect.dayDiff(spark, "day", "DATE '2024-01-01'")
      val wk = s"CAST(FLOOR($days / ${if (spark) "7" else "7.0"}) AS BIGINT)"
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
         |           FROM events GROUP BY CAST(ts AS DATE)),
         |b AS (SELECT $wk AS wk, CAST(MAX(c) AS BIGINT) AS mx
         |      FROM d GROUP BY $wk),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(mx) AS BIGINT) AS s,
         |        CAST(SUM(CAST(mx AS DECIMAL(38,0)) * mx) AS DECIMAL(38,0)) AS q,
         |        CAST(MAX(mx) AS BIGINT) AS observed_max
         |      FROM b),
         |fit AS (SELECT n, observed_max,
         |          CAST(s AS DOUBLE) / n AS mean,
         |          SQRT(GREATEST((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
         |                        / n, 0.0)) AS sd
         |        FROM m),
         |g AS (SELECT n, observed_max,
         |        sd * SQRT(6.0) / PI() AS beta,
         |        mean - 0.5772156649015329 * (sd * SQRT(6.0) / PI()) AS mu
         |      FROM fit)
         |SELECT n AS n_weeks, observed_max,
         |  CASE WHEN n < 2 OR beta = 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(mu * 1e2) AS BIGINT) END AS mu_e2,
         |  CASE WHEN n < 2 OR beta = 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(beta * 1e2) AS BIGINT) END AS beta_e2,
         |  CASE WHEN n < 2 OR beta = 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND((mu - beta * LN(-LN(0.99))) * 1e2) AS BIGINT) END
         |    AS return_level_99_e2
         |FROM g""".stripMargin
    }
    QuerySpec.sql2("q343_gumbel_extremes", text(spark = true), text(spark = false))
  }

  /** Page's L trend test across event types blocked by day — the
    * ORDERED-alternative sibling of [[q322Friedman]] (Friedman asks
    * "any difference between treatments?"; Page asks "do daily volumes
    * RISE along a pre-declared treatment order?" — here alphabetical
    * type order as the declared hypothesis — and spends all its power
    * on that ordering, exactly as q344's JT does for independent
    * groups). Same machinery: one (day, type) rollup with exact cent
    * sums, PER-DAY midrank windows, complete blocks only;
    * L = Σ_j j·R_j with the treatment index j from a ≤k-row rank over
    * type names; z = (L − n·k(k+1)²/4) / √(n·k²(k+1)²(k−1)/144), the
    * standard no-tie normal approximation (integer cent sums make
    * within-block ties measure-zero; midranks still handle them
    * exactly in L itself). */
  val q347PageTrend: QuerySpec = {
    // same staged-rollup discipline as q322: the (day, type) relation
    // feeds four consumers; one scan, everything downstream tiny
    val dSql =
      """SELECT CAST(ts AS DATE) AS day, event_type AS g,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
        |FROM events GROUP BY CAST(ts AS DATE), event_type""".stripMargin
    val tail =
      """WITH k AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS k FROM q347_d),
      |full_days AS (SELECT /*+ BROADCAST(k) */ day FROM q347_d CROSS JOIN k
      |              GROUP BY day, k.k HAVING COUNT(*) = MAX(k.k)),
      |ord AS (SELECT g, CAST(ROW_NUMBER() OVER (ORDER BY g) AS BIGINT) AS j
      |        FROM (SELECT DISTINCT g FROM q347_d) t),
      |r AS (SELECT d.g,
      |        RANK() OVER (PARTITION BY d.day ORDER BY d.s)
      |          + (COUNT(*) OVER (PARTITION BY d.day, d.s) - 1) / 2.0 AS mr
      |      FROM q347_d d JOIN full_days fd ON d.day = fd.day),
      |rj AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(CAST(mr AS DECIMAL(38,6))) AS DOUBLE) AS rsum
      |       FROM r GROUP BY g),
      |m AS (SELECT /*+ BROADCAST(k) */ MAX(rj.n) AS n, k.k,
      |        CAST(SUM(CAST(ord.j * rj.rsum AS DECIMAL(38,6))) AS DOUBLE) AS l
      |      FROM rj JOIN ord ON rj.g = ord.g CROSS JOIN k GROUP BY k.k)
      |SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
      |  CAST(ROUND(l * 1e2) AS BIGINT) AS page_l_e2,
      |  CASE WHEN n < 1 OR k < 2 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND(
      |         (l - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4.0)
      |         / SQRT(CAST(n AS DOUBLE) * k * k * (k + 1) * (k + 1) * (k - 1)
      |                / 144.0) * 1e6) AS BIGINT) END AS z_e6
      |FROM m""".stripMargin
    QuerySpec("q347_page_trend",
      "WITH q347_d AS (" + dSql.replace('\n', ' ') + "),\n" +
        tail.stripPrefix("WITH ")) { (sp0, dir) =>
      val sp = QuerySpec.prepared(sp0, dir)
      import graft.llmops.Checkpoints.Stageable
      QuerySpec.sqlOver(sp, "q347_d" -> sp.sql(dSql).staged)(tail)
    }
  }

  val all: Seq[QuerySpec] = Seq(
    q347PageTrend, q343GumbelExtremes, q342LogRank,
    q340Pacf, q341HoltWinters,
    q338KleinbergBursts, q333GrangerLite,
    q327KaplanMeier,
    q322Friedman, q323WilcoxonSignedRank,
    q317MannWhitney, q318KruskalWallis, q319LeveneTest,
    q296ForecastBacktest, q297MadOutliers, q302Debounce,
    q304ChurnLabels, q305WeeklySpectrum,
    q274EventTransitions, q275CusumChangepoint, q280Chi2Independence,
    q293PiecewiseTrend,
    q283EventsAcf, q284TheilSenTrend, q285EventsBurstiness,
    q219KeySkewReport, q223EventCep, q224HourlyAnomaly, q226BenfordAudit, q227AbReadout, q231TrimmedMean, q233TrendOls, q234Ewma, q239Attribution, q240ConversionLatency, q246Seasonality, q249JsonExtract, q252AbLiftCi,
    q65Tumbling, q66Sessionize.benched, q67TopKPerUser, q68DailyRollup,
    q69Outliers, q102HllRollup, q103Retention, q105Funnel, q121AsofJoin,
    q124Sliding, q181GapFill, q192CohortRetention, q195FunnelSteps,
    q199QuantileReport)
}
