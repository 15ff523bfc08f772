package graft.gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextAnalysis
import Fixtures._

/** Event-log gates (`events_*`): sessions, funnels, cohorts, paths,
  * transitions, pattern matching and windows. The oracles shared with
  * the streaming twins in [[StreamGates]] live here.
  */
object EventGates {

  /** Shared by events_top_paths and its keyed-state streaming twin
    * stream_path_ngrams (additive path counter + TakeOrdered k).
    */
  private[gates] val topPathsOracle: String = """WITH p AS (
        |  SELECT event_type AS t0,
        |    lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT t0 || ' > ' || t1 || ' > ' || t2 AS path,
        |    count(*) AS n_paths
        |  FROM p WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |  GROUP BY 1)
        |SELECT path, n_paths FROM c
        |ORDER BY n_paths DESC, path ASC LIMIT 10""".stripMargin

  /** events_pattern_match oracle: journey via ordered string_agg,
    * match count via regexp_extract_all — identical leftmost
    * non-overlapping semantics for the portable regex subset.
    */
  private[gates] val patternMatchOracle: String = """WITH j AS (
        |  SELECT user_id, string_agg(CASE event_type WHEN 'view' THEN 'v'
        |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |      ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(len(journey) AS INT) AS n_events,
        |  CAST(len(regexp_extract_all(journey, 'v[ce]*p')) AS INT)
        |    AS n_matches
        |FROM j WHERE len(regexp_extract_all(journey, 'v[ce]*p')) > 0
        |ORDER BY user_id""".stripMargin

  /** events_pattern_extract oracle: the matched runs themselves via
    * regexp_extract_all (leftmost non-overlapping — identical
    * semantics to the Spark side on the portable subset).
    */
  private val patternExtractOracle: String = """WITH j AS (
        |  SELECT user_id, string_agg(CASE event_type WHEN 'view' THEN 'v'
        |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |      ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT user_id, CAST(len(journey) AS INT) AS n_events,
        |    regexp_extract_all(journey, 'v[ce]*p') AS runs
        |  FROM j)
        |SELECT user_id, n_events, CAST(len(runs) AS INT) AS n_matches,
        |  array_to_string(runs, ' ') AS runs
        |FROM m WHERE len(runs) > 0
        |ORDER BY user_id""".stripMargin

  /** Shared by events_transitions and its keyed-state streaming twin
    * stream_transitions (cumulative pairs + the same matrix agg).
    */
  private[gates] val transitionsOracle: String = """WITH p AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  floor(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) * 10000) / 10000
        |    AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin

  /** Shared by events_funnel and its order-contracted streaming twin
    * stream_funnel (time-contiguous slices satisfy the in-order
    * arrival contract, so the final keyed state equals the batch
    * funnel exactly).
    */
  private[gates] val funnelOracle: String =
    // step-i min constrained to ≥ step-(i−1)'s min, chained joins
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |s1 AS (
      |  SELECT user_id, MIN(ts_us) AS step1_us FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(ts_us) AS step2_us
      |  FROM e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE event_type = 'click' AND ts_us >= step1_us
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(ts_us) AS step3_us
      |  FROM e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE event_type = 'purchase' AND ts_us >= step2_us
      |  GROUP BY e.user_id)
      |SELECT s1.user_id, step1_us, step2_us, step3_us,
      |  CAST(CASE WHEN step3_us IS NOT NULL THEN 3
      |    WHEN step2_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
      |    AS max_step
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id
      |ORDER BY s1.user_id""".stripMargin

  /** Shared by events_cohort_retention and its streaming twin
    * stream_cohort_retention (delta rows per first (user, offset)
    * sighting count up to the batch activity matrix exactly).
    */
  private[gates] val cohortOracle: String =
    // integral daily buckets since epoch; DuckDB `//` is integer
    // division (`/` would be double), floor matches Spark's floor
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(floor(datediff('day', DATE '1970-01-01',
      |      CAST(ts AS DATE)) / 1) AS INT) AS per
      |  FROM events),
      |firsts AS (
      |  SELECT user_id, MIN(per) AS cohort FROM e GROUP BY user_id),
      |act AS (
      |  SELECT DISTINCT f.cohort, e.per - f.cohort AS period_offset,
      |    e.user_id
      |  FROM e JOIN firsts f USING (user_id)),
      |m AS (
      |  SELECT cohort, period_offset, COUNT(*) AS n_active
      |  FROM act GROUP BY 1, 2),
      |c AS (
      |  SELECT cohort, n_active AS n_cohort FROM m
      |  WHERE period_offset = 0)
      |SELECT m.cohort AS cohort_period, m.period_offset, m.n_active,
      |  c.n_cohort,
      |  CAST(m.n_active AS DOUBLE) / c.n_cohort AS retention_rate
      |FROM m JOIN c ON m.cohort = c.cohort
      |ORDER BY cohort_period, period_offset""".stripMargin

  val gates: Seq[Gate] = Seq(

    Gate("events_moving_avg", (s, dir) => {
      // 3-hour moving average per event type with a RANGE frame over
      // the integer hour index (gap-aware: missing hours shrink the
      // window, unlike a ROWS frame) — pre-aggregated to hourly rows
      // first, so the window runs over buckets, never raw events
      val hourly = events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000")
            .as("hour_idx"),
          col("value"))
        .groupBy(col("event_type"), col("hour_idx"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,3)")).as("__sv"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_idx"))
        .rangeBetween(-2, 0)
      hourly
        .withColumn("mov_n", sum(col("n_events")).over(w))
        .withColumn("mov_avg",
          TextAnalysis.q4(sum(col("__sv")).over(w).cast("double") /
            col("mov_n").cast("double")))
        .select(col("event_type"), col("hour_idx"), col("n_events"),
          col("mov_n"), col("mov_avg"))
        .orderBy(col("event_type"), col("hour_idx"))
    },
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS hour_idx,
        |    count(*) AS n_events,
        |    sum(CAST(value AS DECIMAL(18,3))) AS sv
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hour_idx, n_events,
        |  CAST(sum(n_events) OVER w AS BIGINT) AS mov_n,
        |  floor(CAST(sum(sv) OVER w AS DOUBLE)
        |    / CAST(CAST(sum(n_events) OVER w AS BIGINT) AS DOUBLE)
        |    * 10000) / 10000 AS mov_avg
        |FROM hourly
        |WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, hour_idx""".stripMargin),

    Gate("events_top_paths", (s, dir) =>
      // top-10 length-3 behavioral paths: per-user lead windows →
      // global partial-agg'd counts → TakeOrdered (the path-mining
      // complement of the transition matrix)
      graft.operators.Sessionize.topPaths(events(s, dir),
        "user_id", "event_type", col("ts"), "event_id", n = 3, k = 10),
      topPathsOracle),

    Gate("events_pattern_match", (s, dir) =>
      // MATCH_RECOGNIZE-lite: per-user journey string (one char per
      // event, time-ordered) + one regex pass — count each user's
      // non-overlapping view→(click|error)*→purchase runs. The
      // free-form pattern complement of the fixed funnel/paths gates;
      // one partial-agg'd groupBy, regex once per user.
      graft.operators.Sessionize.sequencePattern(events(s, dir),
          "user_id",
          when(col("event_type") === "view", lit("v"))
            .when(col("event_type") === "click", lit("c"))
            .when(col("event_type") === "purchase", lit("p"))
            .when(col("event_type") === "signup", lit("s"))
            .otherwise(lit("e")),
          col("ts"), "event_id", "v[ce]*p")
        .orderBy(col("user_id")),
      patternMatchOracle),

    Gate("events_pattern_extract", (s, dir) =>
      // the extraction sibling of events_pattern_match: emit the
      // matched runs themselves (space-joined, journey order) next to
      // the count — same single partial-agg'd groupBy, regex once per
      // user, leftmost non-overlapping semantics shared with the
      // DuckDB oracle
      graft.operators.Sessionize.sequencePatternExtract(events(s, dir),
          "user_id",
          when(col("event_type") === "view", lit("v"))
            .when(col("event_type") === "click", lit("c"))
            .when(col("event_type") === "purchase", lit("p"))
            .when(col("event_type") === "signup", lit("s"))
            .otherwise(lit("e")),
          col("ts"), "event_id", "v[ce]*p")
        .orderBy(col("user_id")),
      patternExtractOracle),

    Gate("events_transitions", (s, dir) =>
      // per-user lag-1 behavioral transition matrix with exact counts
      // and row-normalized probabilities — the Markov complement of
      // the fixed-order funnel
      graft.operators.Sessionize.transitionMatrix(events(s, dir),
        "user_id", "event_type", col("ts"), "event_id")
        .orderBy(col("from_type"), col("to_type")),
      transitionsOracle),

    Gate("events_ohlc", (s, dir) =>
      // OHLC bars per (type, hour): open/close via min_by/max_by on the
      // (ts, event_id) struct — PARTIAL-AGGREGABLE argmin/argmax, not a
      // per-bucket window (hot buckets stay map-side combinable); the
      // oracle pins the same firsts/lasts with row_number
      events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket"),
          col("ts"), col("event_id"), col("value"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          count(lit(1)).as("n_events"))
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy(col("event_type"), col("bucket")),
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    ts, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  max(value) AS high, min(value) AS low,
        |  count(*) AS n_events
        |FROM r GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin),

    Gate("events_twap", (s, dir) => {
      // time-weighted average price: weight = µs until the next event
      // of the same type (exact integers from unix_micros; the last
      // event carries no interval). The weighted sum accumulates in
      // DECIMAL (partition-order independent); only the final division
      // happens in doubles, identically in both engines.
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"), col("value"))
        .withColumn("dt",
          (lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts"))))
        .filter(col("dt").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dt")).as("sum_dt_us"),
          sum(col("value").cast("decimal(10,2)") * col("dt")).as("__vdt"))
        .select(col("event_type"), col("n_intervals"), col("sum_dt_us"),
          TextAnalysis.q4(col("__vdt").cast("double") /
            col("sum_dt_us").cast("double")).as("twap"))
        .orderBy(col("event_type"))
    },
      """WITH d AS (
        |  SELECT event_type, value,
        |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) - epoch_us(ts) AS dt
        |  FROM events),
        |f AS (SELECT * FROM d WHERE dt IS NOT NULL)
        |SELECT event_type,
        |  count(*) AS n_intervals,
        |  CAST(sum(dt) AS BIGINT) AS sum_dt_us,
        |  floor(CAST(sum(CAST(value AS DECIMAL(10,2)) * dt) AS DOUBLE)
        |    / CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE) * 10000) / 10000 AS twap
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin),

    Gate("events_window", (s, dir) =>
      // streaming-parity windowed aggregation (batch semantics == the
      // Structured Streaming plan in graft.streaming.EventStream)
      graft.streaming.EventStream.windowedAgg(events(s, dir), "1 hour")
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy(col("window_start"), col("event_type")),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DECIMAL(18,3)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Gate("events_json_extract", (s, dir) =>
      // semi-structured path extraction: props is a JSON string column;
      // get_json_object is codegen'd map-side path evaluation (no UDF,
      // no schema inference pass), so the parse stays inside the scan
      // stage and the shuffle carries only (event_type, k) partials
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS n_distinct_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Gate("events_funnel", (s, dir) =>
      // ordered conversion funnel view → click → purchase: per-step
      // partial-agg'd mins chained on the user key (partitioning
      // reused, no windows); unreached steps stay null
      graft.operators.Sessionize.funnel(events(s, dir), "user_id",
          unix_micros(col("ts")), "event_type",
          Seq("view", "click", "purchase"))
        .orderBy(col("user_id")),
      funnelOracle),

    Gate("events_sessionize", (s, dir) =>
      // gap-based sessionization (30-min) + per-session rollup: one
      // shuffle on user_id shared by the windows AND the aggregation
      graft.operators.Sessionize.rollup(events(s, dir), "user_id",
        "event_id", unix_micros(col("ts")), gapUs = 1800000000L, "value")
        .orderBy(col("user_id"), col("session_idx")),
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
        |b AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |      OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us,
        |    event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM b)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin),

    Gate("events_cohort_retention", (s, dir) =>
      // daily cohort retention matrix (the fixture spans 30 days —
      // daily buckets give a dense ~450-cell matrix): one full-data
      // shuffle on
      // user_id (min + join + partial-agg'd distinct), then
      // cohort-cell-sized aggregation and a broadcast size lookup
      graft.operators.Sessionize.cohortRetention(events(s, dir),
          "user_id", col("ts"), periodDays = 1)
        .orderBy(col("cohort_period"), col("period_offset")),
      cohortOracle),

    Gate("events_session_window", (s, dir) =>
      // session_window batch/stream parity gate: the SAME groupBy the
      // streaming path uses (EventStream.streamingSessionAgg wraps this
      // around readStream), run in batch mode against the events
      // fixture. Window end = last event + gap; a gap of EXACTLY the
      // duration starts a new session (half-open merge interval).
      graft.streaming.EventStream.sessionWindowAgg(events(s, dir),
          "30 minutes")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("start_us")),
      // gap-session replay with session_window's exact semantics:
      // >= gap starts a NEW session (Spark merges half-open
      // [t, t+gap) intervals — equality does not overlap), end =
      // last event + gap
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0
        |    END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY
        |    ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b)
        |SELECT user_id, MIN(ts_us) AS start_us,
        |  MAX(ts_us) + 1800000000 AS end_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin),

    Gate("events_asof_join", (s, dir) => {
      // backward as-of join: each click attributed to the user's most
      // recent prior purchase — union + one window pass, single shuffle
      // on user_id, no join node (oracle: DuckDB's native ASOF JOIN)
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.backward(clicks, purchases,
          Seq("user_id"), "ts_us", tieCol = "purchase_id")
        .orderBy(col("event_id"))
    },
      // DuckDB's native ASOF JOIN is the oracle for the union+window
      // implementation (inclusive backward semantics on ts_us)
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_us, event_id AS purchase_id,
        |        value AS purchase_value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts_us, p.ts_us AS asof_ts_us,
        |  p.purchase_id AS asof_purchase_id,
        |  p.purchase_value AS asof_purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
        |ORDER BY c.event_id""".stripMargin),

    Gate("events_asof_fwd", (s, dir) => {
      // forward as-of join: each click paired with the user's NEXT
      // purchase at-or-after it — same single-shuffle union+window
      // shape as backward (oracle: DuckDB ASOF with <=)
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.forward(clicks, purchases,
          Seq("user_id"), "ts_us", tieCol = "purchase_id")
        .orderBy(col("event_id"))
    },
      // DuckDB's native forward ASOF (probe.ts <= build.ts); fixture
      // has zero equal-(user, ts) purchases, so ties can't bite
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_us, event_id AS purchase_id,
        |        value AS purchase_value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts_us, p.ts_us AS asof_ts_us,
        |  p.purchase_id AS asof_purchase_id,
        |  p.purchase_value AS asof_purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
        |ORDER BY c.event_id""".stripMargin),

    Gate("events_asof_nearest", (s, dir) => {
      // nearest as-of join: closer of the backward/forward purchase,
      // equal distances resolve backward — one shuffle, two window
      // frames, no join node (oracle: explicit argmin over a θ-join)
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.nearest(clicks, purchases,
          Seq("user_id"), "ts_us", tieCol = "purchase_id")
        .orderBy(col("event_id"))
    },
      // explicit argmin over the θ-join: rank every candidate by
      // (|Δts|, backward-first, then greatest id backward / smallest
      // id forward) — the exact tie ladder the operator implements
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_us, event_id AS purchase_id,
        |        value AS purchase_value
        |      FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.event_id, c.user_id, c.ts_us, p.ts_us AS asof_ts_us,
        |    p.purchase_id AS asof_purchase_id,
        |    p.purchase_value AS asof_purchase_value,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY
        |      abs(p.ts_us - c.ts_us),
        |      CASE WHEN p.ts_us <= c.ts_us THEN 0 ELSE 1 END,
        |      CASE WHEN p.ts_us <= c.ts_us THEN -p.purchase_id
        |           ELSE p.purchase_id END) AS rn
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id)
        |SELECT event_id, user_id, ts_us, asof_ts_us, asof_purchase_id,
        |  asof_purchase_value
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin),

    Gate("events_attribution", (s, dir) => {
      // stream-stream interval join, run in batch: each click paired
      // with the user's purchases in the 30 min after it — key
      // equi-join + residual range predicate; the identical definition
      // runs on watermarked streams with bounded state (spec-verified)
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_us").as("click_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_us").as("purchase_us"))
      graft.streaming.EventStream.intervalJoin(clicks, purchases,
          "user_id", "click_us", "purchase_us", lit(1800000000L))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    },
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts_us AS click_us
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts_us AS purchase_us
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, p.purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.purchase_us >= c.click_us
        |  AND p.purchase_us <= c.click_us + 1800000000
        |ORDER BY c.click_id, p.purchase_id""".stripMargin),

    Gate("events_range_join", (s, dir) => {
      // binned point-in-interval join: error events located in their
      // gap-session interval — equi-join on (user_id, bin), BETWEEN
      // only on bin-colliding candidates, never quadratic per key
      val ev = events(s, dir)
      val sessions = graft.operators.Sessionize.rollup(ev, "user_id",
          "event_id", unix_micros(col("ts")), gapUs = 1800000000L, "value")
        .select(col("user_id"), col("session_idx"),
          col("start_us"), col("end_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      graft.operators.RangeJoin.pointInInterval(errors, sessions,
          "ts_us", "start_us", "end_us", binWidth = 3600000000L,
          equiKeys = Seq("user_id"))
        .orderBy(col("event_id"))
    },
      // plain BETWEEN join is the oracle for the binned range join
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |      OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us,
        |    event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM b),
        |sess AS (
        |  SELECT user_id, session_idx, MIN(ts_us) AS start_us,
        |    MAX(ts_us) AS end_us
        |  FROM s GROUP BY user_id, session_idx),
        |err AS (
        |  SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'error')
        |SELECT err.event_id, err.user_id, err.ts_us, sess.session_idx,
        |  sess.start_us, sess.end_us
        |FROM err JOIN sess ON err.user_id = sess.user_id
        |  AND err.ts_us BETWEEN sess.start_us AND sess.end_us
        |ORDER BY err.event_id""".stripMargin),

    Gate("events_resample", (s, dir) =>
      // gap-filled hourly resample per event_type: one aggregate
      // shuffle + a generated spine join + forward-fill window
      graft.operators.Resample.resample(events(s, dir), "event_type",
          unix_micros(col("ts")), binUs = 3600000000L, "value")
        .orderBy(col("event_type"), col("bucket_us")),
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 3600000000 * 3600000000 AS bucket_us,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |a AS (
        |  SELECT event_type, bucket_us, COUNT(*) AS n_events,
        |    CAST(SUM(v) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY event_type, bucket_us),
        |bounds AS (SELECT event_type, MIN(bucket_us) AS lo,
        |    MAX(bucket_us) AS hi FROM a GROUP BY event_type),
        |spine AS (
        |  SELECT event_type, unnest(range(lo, hi + 1, 3600000000))
        |    AS bucket_us FROM bounds),
        |filled AS (
        |  SELECT s.event_type, s.bucket_us,
        |    COALESCE(a.n_events, 0) AS n_events,
        |    COALESCE(a.sum_value, 0.0) AS sum_value
        |  FROM spine s LEFT JOIN a
        |    ON s.event_type = a.event_type AND s.bucket_us = a.bucket_us)
        |SELECT event_type, bucket_us, n_events, sum_value,
        |  last_value(CASE WHEN n_events > 0 THEN sum_value END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY bucket_us
        |          ROWS UNBOUNDED PRECEDING) AS last_sum_value
        |FROM filled ORDER BY event_type, bucket_us""".stripMargin),

    Gate("events_interpolate", (s, dir) =>
      // resample + linear interpolation across empty buckets: both
      // direction passes share one (event_type, bucket) sort — one
      // exchange, two adjacent Window nodes
      graft.operators.Resample.interpolated(events(s, dir), "event_type",
          unix_micros(col("ts")), binUs = 3600000000L, "value")
        .orderBy(col("event_type"), col("bucket_us")),
      // resample spine + both-direction observed-value windows; the
      // slope expression groups parens exactly like the Spark side
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 3600000000 * 3600000000 AS bucket_us,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |a AS (
        |  SELECT event_type, bucket_us, COUNT(*) AS n_events,
        |    CAST(SUM(v) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY event_type, bucket_us),
        |bounds AS (SELECT event_type, MIN(bucket_us) AS lo,
        |    MAX(bucket_us) AS hi FROM a GROUP BY event_type),
        |spine AS (
        |  SELECT event_type, unnest(range(lo, hi + 1, 3600000000))
        |    AS bucket_us FROM bounds),
        |filled AS (
        |  SELECT s.event_type, s.bucket_us,
        |    COALESCE(a.n_events, 0) AS n_events,
        |    COALESCE(a.sum_value, 0.0) AS sum_value
        |  FROM spine s LEFT JOIN a
        |    ON s.event_type = a.event_type AND s.bucket_us = a.bucket_us),
        |win AS (
        |  SELECT event_type, bucket_us, n_events, sum_value,
        |    last_value(CASE WHEN n_events > 0 THEN sum_value END
        |      IGNORE NULLS) OVER wb AS last_sum_value,
        |    last_value(CASE WHEN n_events > 0 THEN bucket_us END
        |      IGNORE NULLS) OVER wb AS prev_b,
        |    first_value(CASE WHEN n_events > 0 THEN sum_value END
        |      IGNORE NULLS) OVER wf AS next_v,
        |    first_value(CASE WHEN n_events > 0 THEN bucket_us END
        |      IGNORE NULLS) OVER wf AS next_b
        |  FROM filled
        |  WINDOW wb AS (PARTITION BY event_type ORDER BY bucket_us
        |      ROWS UNBOUNDED PRECEDING),
        |    wf AS (PARTITION BY event_type ORDER BY bucket_us
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, bucket_us, n_events, sum_value, last_sum_value,
        |  floor((CASE WHEN n_events > 0 THEN sum_value
        |    WHEN last_sum_value IS NULL THEN next_v
        |    WHEN next_v IS NULL THEN last_sum_value
        |    ELSE last_sum_value + (next_v - last_sum_value) *
        |      ((bucket_us - prev_b) / (next_b - prev_b)) END) * 10000)
        |    / 10000 AS interp_value
        |FROM win ORDER BY event_type, bucket_us""".stripMargin)
  )
}
