package graft
package driver

import graft.driver.Fixtures._
import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver queries of the operators family: event analytics, temporal and
 * range joins, linkage, privacy and sketches. */
object OperatorQueries {

  /** The click events (user, event id, ts) and the view events (user, ts,
   * value) that the as-of joins align. */
  private def clicksAndViews(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = events(s, dir)
    (ev.where(col("event_type") === "click").select(col("user_id"), col("event_id"), col("ts")),
      ev.where(col("event_type") === "view").select(col("user_id"), col("ts"), col("value")))
  }

  val all: Seq[DriverQuery] = Seq(
    DriverQuery("q_events_window", (s, dir) => {
      // batch shape of the streaming windowed pass-rate (events table)
      events(s, dir)
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("rows"),
          sum(when(col("value") >= 0, 1L).otherwise(0L)).as("passed"))
    },
      Sql("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
        |       count(*) AS rows, CAST(sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS passed
        |FROM events GROUP BY 1, 2""".stripMargin)),
    DriverQuery("q_session_paths", (s, dir) =>
      // common user journeys: 30-minute gap sessions, ordered event-type
      // paths, top 25 — ties at one second break by type
      graft.pipeline.Curation.topSessionPaths(
        events(s, dir).select(col("user_id"),
          expr("unix_micros(ts) div 1000000L").as("tsec"), col("event_type")),
        "user_id", "tsec", "event_type", maxGap = 1800L, k = 25),
      Sql("""WITH ev AS (
        |  SELECT user_id AS u, epoch_us(ts) // 1000000 AS tsec, event_type AS t
        |  FROM events
        |), b AS (
        |  SELECT u, tsec, t,
        |    CASE WHEN tsec - lag(tsec) OVER (PARTITION BY u ORDER BY tsec) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM ev
        |), s AS (
        |  SELECT u, tsec, t,
        |    sum(brk) OVER (PARTITION BY u ORDER BY tsec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM b
        |), p AS (
        |  SELECT CASE WHEN len(l) > 12
        |              THEN array_to_string(l[1:12], '>') || '>…'
        |              ELSE array_to_string(l, '>') END AS path
        |  FROM (SELECT u, seq, list(t ORDER BY tsec, t) AS l FROM s GROUP BY u, seq)
        |), c AS (
        |  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY path
        |)
        |SELECT path, n_sessions,
        |       CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT) AS rank
        |FROM c ORDER BY n_sessions DESC, path LIMIT 25""".stripMargin)),
    DriverQuery("q_quantile_normalize", (s, dir) =>
      // cross-domain score calibration: per-lang percent-rank of n_chars
      // in exact ppm (one group-partitioned window)
      graft.pipeline.Curation.quantileNormalize(
          docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
          col("lang"), col("n_chars"), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("pct_ppm")),
      Sql("""SELECT doc_id, lang,
        |  CASE WHEN n = 1 THEN 0
        |       ELSE (r - 1) * 1000000 // (n - 1) END AS pct_ppm
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM documents)""".stripMargin)),
    DriverQuery("q_event_funnel", (s, dir) =>
      // ordered user-journey funnel with a 3-day window: strict
      // view -> click -> signup -> purchase chains, earliest-chain
      graft.pipeline.Curation.eventFunnel(events(s, dir),
        col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "signup", "purchase"), windowSeconds = 259200L),
      Sql("""WITH ev AS (SELECT user_id AS u, event_type AS t, epoch(ts) AS s FROM events),
        |c0 AS (SELECT u, min(s) AS t0 FROM ev WHERE t = 'view' GROUP BY u),
        |c1 AS (
        |  SELECT c0.u, c0.t0,
        |    min(CASE WHEN e.s > c0.t0 AND e.s - c0.t0 <= 259200 THEN e.s END) AS t1
        |  FROM c0 LEFT JOIN ev e ON e.u = c0.u AND e.t = 'click'
        |  GROUP BY c0.u, c0.t0
        |), c2 AS (
        |  SELECT c1.u, c1.t0, c1.t1,
        |    min(CASE WHEN e.s > c1.t1 AND e.s - c1.t0 <= 259200 THEN e.s END) AS t2
        |  FROM c1 LEFT JOIN ev e ON e.u = c1.u AND e.t = 'signup'
        |  GROUP BY c1.u, c1.t0, c1.t1
        |), c3 AS (
        |  SELECT c2.u, c2.t0, c2.t1, c2.t2,
        |    min(CASE WHEN e.s > c2.t2 AND e.s - c2.t0 <= 259200 THEN e.s END) AS t3
        |  FROM c2 LEFT JOIN ev e ON e.u = c2.u AND e.t = 'purchase'
        |  GROUP BY c2.u, c2.t0, c2.t1, c2.t2
        |), n AS (
        |  SELECT CAST(count(t0) AS BIGINT) AS n0, CAST(count(t1) AS BIGINT) AS n1,
        |         CAST(count(t2) AS BIGINT) AS n2, CAST(count(t3) AS BIGINT) AS n3
        |  FROM c3
        |)
        |SELECT 0 AS step, 'view' AS event_type, n0 AS n_users,
        |       n0 * 1000000 // nullif(n0, 0) AS conv_from_first_ppm,
        |       n0 * 1000000 // nullif(n0, 0) AS conv_from_prev_ppm FROM n
        |UNION ALL SELECT 1, 'click', n1, n1 * 1000000 // nullif(n0, 0),
        |       n1 * 1000000 // nullif(n0, 0) FROM n
        |UNION ALL SELECT 2, 'signup', n2, n2 * 1000000 // nullif(n0, 0),
        |       n2 * 1000000 // nullif(n1, 0) FROM n
        |UNION ALL SELECT 3, 'purchase', n3, n3 * 1000000 // nullif(n0, 0),
        |       n3 * 1000000 // nullif(n2, 0) FROM n""".stripMargin)),
    DriverQuery("q_cohort_retention", (s, dir) =>
      // daily cohorts over the events table: first-activity day buckets,
      // exact comeback counts per day offset
      graft.pipeline.Curation.cohortRetention(
        events(s, dir), col("user_id"), col("ts")),
      Sql("""WITH acts AS (
        |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 1000000 // 86400 AS p
        |  FROM events
        |), cohorts AS (
        |  SELECT u, min(p) AS c0 FROM acts GROUP BY u
        |), cells AS (
        |  SELECT c.c0 AS cohort, a.p - c.c0 AS "offset", count(*) AS n_active
        |  FROM acts a JOIN cohorts c USING (u)
        |  GROUP BY 1, 2
        |)
        |SELECT x.cohort, x."offset", CAST(x.n_active AS BIGINT) AS n_active,
        |       CAST(z.n_active AS BIGINT) AS cohort_size,
        |       CAST(x.n_active AS BIGINT) * 1000000
        |         // CAST(z.n_active AS BIGINT) AS retained_ppm
        |FROM cells x JOIN cells z
        |  ON x.cohort = z.cohort AND z."offset" = 0""".stripMargin)),
    DriverQuery("q_ewma_anomalies", (s, dir) => {
      // per-user EWMA control chart over event values, alpha 0.25 (an
      // exact binary fraction: the fold replays bit-for-bit in DuckDB's
      // list_reduce), alert band 75 above the running average's pull
      val ev = events(s, dir)
      graft.pipeline.Anomaly.ewmaAnomalies(ev,
        col("user_id"), struct(col("ts"), col("event_id")), col("value"),
        alpha = 0.25, band = 75.0)
    },
      // the same sequential fold, same IEEE doubles, same fixed-point floor.
      // SCALAR reduces only: DuckDB 1.0's list_reduce with a multi-field
      // struct accumulator whose fields read each other evaluates them
      // in-place on longer lists (field `a` sees the already-updated `s`),
      // so the alert test refolds the value prefix per position instead —
      // O(events²) per key, fine at gate SF, bit-identical semantics
      Sql("""WITH evs AS (
        |  SELECT user_id AS key,
        |         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS l
        |  FROM events GROUP BY user_id
        |)
        |SELECT key, CAST(len(l) AS BIGINT) AS n_events,
        |  CAST(floor(list_reduce(l, (acc, x) -> acc + 0.25 * (x - acc))
        |    * 1000000) AS BIGINT) AS ewma_fp,
        |  CAST(len(list_filter(range(2, len(l) + 1), i ->
        |    abs(l[i] - list_reduce(l[1:i-1], (acc, x) -> acc + 0.25 * (x - acc)))
        |      > 75.0)) AS BIGINT) AS n_alerts
        |FROM evs""".stripMargin)),
    DriverQuery("q_sessionize", (s, dir) => {
      // gap-based sessions over the events table (30-minute gap, epoch secs)
      val ev = events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("tsec"))
      graft.operators.Sessionize.sessionStats(ev, "user_id", "tsec", maxGap = 1800L)
        .select(col("user_id"), col("session_seq"), col("events"),
          col("session_start"), col("duration"))
    },
      Sql("""WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS tsec FROM events
        |), flagged AS (
        |  SELECT user_id, tsec,
        |         CASE WHEN tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec) > 1800
        |              THEN 1 ELSE 0 END AS brk
        |  FROM e
        |), s AS (
        |  SELECT user_id, tsec,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, session_seq, count(*) AS events,
        |       min(tsec) AS session_start, max(tsec) - min(tsec) AS duration
        |FROM s GROUP BY 1, 2""".stripMargin)),
    DriverQuery("q_delta_attribution", (s, dir) => {
      // root-cause slicing: cents-weighted order volume between two
      // deterministic snapshot slices, attributed by priority — DuckDB
      // replays the outer join and the signed truncating share division
      val o = s.read.parquet(s"$dir/orders.parquet")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      graft.rules.DatasetChecks.deltaAttribution(
        o.where(col("o_orderkey") % 2 === 0),
        o.where(col("o_orderkey") % 3 =!= 0),
        col("o_orderpriority"), col("cents"))
    },
      Sql("""WITH o AS (
        |  SELECT o_orderpriority AS d, CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), n AS (
        |  SELECT o_orderpriority AS d, CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |), oa AS (SELECT d, CAST(sum(c) AS BIGINT) AS m FROM o GROUP BY 1),
        |na AS (SELECT d, CAST(sum(c) AS BIGINT) AS m FROM n GROUP BY 1),
        |j AS (
        |  SELECT coalesce(oa.d, na.d) AS dim_value,
        |         coalesce(oa.m, 0) AS metric_old, coalesce(na.m, 0) AS metric_new
        |  FROM oa FULL OUTER JOIN na ON oa.d = na.d
        |)
        |SELECT dim_value, metric_old, metric_new,
        |       metric_new - metric_old AS delta,
        |       CAST((metric_new - metric_old) * 1000000
        |            // nullif((SELECT sum(metric_new - metric_old) FROM j), 0)
        |         AS BIGINT) AS share_ppm
        |FROM j""".stripMargin)),
    DriverQuery("q_token_bucket", (s, dir) => {
      // politeness enforcement (batch twin of StreamingThrottle, parity
      // spec-pinned): event time compressed 20000x so the synthetic
      // stream actually exceeds its budget; DuckDB replays the exact
      // micro-token recursion with a recursive CTE
      val e = events(s, dir).select(col("user_id"),
        timestamp_millis(expr("unix_micros(ts) div 1000 div 20000")).as("ts"),
        col("event_id"))
      graft.streaming.StreamingThrottle.tokenBucketBatch(
        e, "user_id", "ts", "event_id", ratePerSec = 1L, burst = 2L)
    },
      Sql("""WITH RECURSIVE e AS (
        |  SELECT user_id AS k, epoch_ms(ts) // 20000 AS t, event_id AS id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ms(ts) // 20000, event_id) AS rn
        |  FROM events
        |), s AS (
        |  SELECT k, rn, t, id, TRUE AS allowed, CAST(1000000 AS BIGINT) AS tokens
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.k, e.rn, e.t, e.id,
        |         least(2000000, s.tokens + greatest(0, e.t - s.t) * 1000) >= 1000000
        |           AS allowed,
        |         least(2000000, s.tokens + greatest(0, e.t - s.t) * 1000)
        |           - CASE WHEN least(2000000, s.tokens + greatest(0, e.t - s.t) * 1000)
        |                       >= 1000000 THEN 1000000 ELSE 0 END AS tokens
        |  FROM s JOIN e ON e.k = s.k AND e.rn = s.rn + 1
        |)
        |SELECT k AS key, id, allowed FROM s""".stripMargin)),
    DriverQuery("q_transition_matrix", (s, dir) => {
      // Markov next-step report over per-user event streams, event_id as
      // the same-timestamp tiebreak; SQL replays the lead window and the
      // integer row normalization
      val e = events(s, dir)
      graft.pipeline.Curation.transitionMatrix(
        e, col("user_id"), col("ts"), col("event_id"), col("event_type"))
    },
      Sql("""WITH steps AS (
        |  SELECT event_type AS from_state,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_state
        |  FROM events
        |), m AS (
        |  SELECT from_state, to_state, count(*) AS n FROM steps
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_state, to_state, n,
        |       CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_state)
        |            AS BIGINT) AS p_ppm
        |FROM m""".stripMargin)),
    DriverQuery("q_fd_discovery", (s, dir) => {
      // FD mining over every ordered column pair of orders: o_orderkey
      // determines everything (it's the key); nothing determines it back
      graft.rules.DatasetChecks.discoverFunctionalDependencies(
        s.read.parquet(s"$dir/orders.parquet"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    },
      Sql({
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      (for (a <- cols; b <- cols if a != b) yield
        s"""SELECT '$a' AS determinant, '$b' AS dependent,
           |       count(*) AS n_keys,
           |       CAST(coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           |         AS violating_keys,
           |       coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0) = 0 AS holds
           |FROM (SELECT $a, count(DISTINCT ROW($b)) AS d
           |      FROM orders GROUP BY 1)""".stripMargin)
        .mkString("", "\nUNION ALL\n", "")
    })),
    DriverQuery("q_key_skew", (s, dir) => {
      // pre-salting diagnostic: per-key-column row/distinct/null/max-share
      // profile with deterministic top-3 heavy keys, replayed in SQL
      graft.sources.Skew.keySkewReport(
        lineitem(s, dir), Seq("l_returnflag", "l_linestatus", "l_suppkey"),
        topK = 3)
    },
      Sql(Seq("l_returnflag", "l_linestatus", "l_suppkey").map(c =>
      s"""SELECT '$c' AS key_col, total_rows, distinct_keys, null_rows,
         |       max_key_rows, max_key_rows * 1000000 // total_rows AS max_share_ppm,
         |       (SELECT string_agg(kc, ',' ORDER BY c DESC, kc)
         |        FROM (SELECT k || ':' || c AS kc, c FROM (
         |                SELECT CAST($c AS VARCHAR) AS k, count(*) AS c
         |                FROM lineitem GROUP BY 1) WHERE k IS NOT NULL
         |              ORDER BY c DESC, k || ':' || c LIMIT 3)) AS top_keys
         |FROM (
         |  SELECT CAST(sum(c) AS BIGINT) AS total_rows,
         |         count(k) AS distinct_keys,
         |         CAST(coalesce(sum(CASE WHEN k IS NULL THEN c END), 0) AS BIGINT)
         |           AS null_rows,
         |         CAST(max(CASE WHEN k IS NOT NULL THEN c END) AS BIGINT)
         |           AS max_key_rows
         |  FROM (SELECT CAST($c AS VARCHAR) AS k, count(*) AS c
         |        FROM lineitem GROUP BY 1))""".stripMargin)
      .mkString("", "\nUNION ALL\n", ""))),
    DriverQuery("q_frequent_pairs", (s, dir) => {
      // market-basket pairs over user event-type baskets: exact
      // co-occurrence counts + floored micro-lift, replayed in SQL
      graft.operators.Itemsets.frequentPairs(
        events(s, dir), col("user_id"), col("event_type"), minCount = 2)
    },
      Sql("""WITH base AS (
        |  SELECT DISTINCT user_id AS b, event_type AS i FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |), n AS (SELECT count(DISTINCT b) AS nb FROM base),
        |ic AS (SELECT i, count(*) AS ni FROM base GROUP BY 1),
        |p AS (
        |  SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_baskets
        |  FROM base a JOIN base c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT item_a, item_b, n_baskets,
        |       CAST(CAST(n_baskets AS HUGEINT) * 1000000 * n.nb
        |            // (CAST(ia.ni AS HUGEINT) * ib.ni) AS BIGINT) AS lift_ppm
        |FROM p
        |JOIN ic ia ON p.item_a = ia.i
        |JOIN ic ib ON p.item_b = ib.i, n""".stripMargin)),
    DriverQuery("q_rfm", (s, dir) =>
      // behavioral segmentation: recency/frequency/monetary quintiles via
      // the distributed exact rank; DuckDB replays ranks and ceil buckets
      graft.pipeline.Curation.rfmScores(
        events(s, dir), col("user_id"), col("ts"), col("value")),
      Sql("""WITH base AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, max(ts) AS last_ts,
        |         count(*) AS n_events,
        |         CAST(coalesce(sum(CAST(floor(value * 1e6) AS BIGINT)), 0) AS BIGINT)
        |           AS total_value_e6
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM base),
        |r AS (
        |  SELECT base.*,
        |    CAST((row_number() OVER (ORDER BY last_ts, key) * 5
        |          + (SELECT n FROM n) - 1) // (SELECT n FROM n) AS INT) AS r_score,
        |    CAST((row_number() OVER (ORDER BY n_events, key) * 5
        |          + (SELECT n FROM n) - 1) // (SELECT n FROM n) AS INT) AS f_score,
        |    CAST((row_number() OVER (ORDER BY total_value_e6, key) * 5
        |          + (SELECT n FROM n) - 1) // (SELECT n FROM n) AS INT) AS m_score
        |  FROM base
        |)
        |SELECT key, last_ts, CAST(n_events AS BIGINT) AS n_events, total_value_e6,
        |       r_score, f_score, m_score,
        |       r_score * 100 + f_score * 10 + m_score AS rfm
        |FROM r""".stripMargin)),
    DriverQuery("q_concentration", (s, dir) =>
      // corpus concentration across users: exact Gini over the scalable
      // distributed rank, effective-key inverse Simpson, top shares —
      // DuckDB replays ranks, decimal products and integral division
      graft.pipeline.Curation.concentrationReport(
        events(s, dir), col("user_id")),
      Sql("""WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1
        |), r AS (
        |  SELECT c, row_number() OVER (ORDER BY c, k) AS rk FROM c
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(sum(c) AS BIGINT) AS total_rows,
        |         CAST(max(c) AS BIGINT) AS mx,
        |         sum(CAST(c AS HUGEINT) * c) AS c2,
        |         sum(CAST(rk AS HUGEINT) * c) AS rc
        |  FROM r
        |), t10 AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS s10
        |  FROM (SELECT c FROM c ORDER BY c DESC LIMIT 10)
        |)
        |SELECT n_keys, total_rows,
        |       mx * 1000000 // total_rows AS top1_ppm,
        |       (SELECT s10 FROM t10) * 1000000 // total_rows AS top10_ppm,
        |       CAST((2 * rc - CAST(n_keys + 1 AS HUGEINT) * total_rows) * 1000000
        |            // (CAST(n_keys AS HUGEINT) * total_rows) AS BIGINT) AS gini_ppm,
        |       CAST(CAST(total_rows AS HUGEINT) * total_rows * 1000000 // c2
        |            AS BIGINT) AS inv_simpson_e6
        |FROM t""".stripMargin)),
    DriverQuery("q_neyman_allocation", (s, dir) => {
      // minimum-variance labeling budget across event types: micro-unit
      // quantization keeps Σv/Σv² exact integers, sqrt is IEEE-exact, and
      // DuckDB replays quotients, remainder seats and tie-breaks
      graft.pipeline.Curation.neymanAllocation(
        events(s, dir), col("event_type"), col("value"), budget = 100L)
    },
      Sql("""WITH st AS (
        |  SELECT event_type AS stratum, count(*) AS n_rows,
        |         CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS s,
        |         sum(CAST(CAST(floor(value * 1e6) AS BIGINT) AS HUGEINT)
        |             * CAST(floor(value * 1e6) AS BIGINT)) AS s2
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1
        |), sd AS (
        |  SELECT stratum, n_rows,
        |         CAST(floor(sqrt(greatest(0.0,
        |           CAST(s2 AS DOUBLE) / n_rows
        |             - (CAST(s AS DOUBLE) / n_rows) * (CAST(s AS DOUBLE) / n_rows))))
        |           AS BIGINT) AS sd_e6
        |  FROM st
        |), w AS (
        |  SELECT stratum, n_rows, sd_e6, n_rows * sd_e6 AS weight_e6,
        |         (SELECT sum(n_rows * sd_e6) FROM sd) AS tw
        |  FROM sd
        |), q AS (
        |  SELECT stratum, n_rows, sd_e6, weight_e6,
        |         least(100 * weight_e6 // tw, n_rows) AS base,
        |         100 * weight_e6 % tw AS rem
        |  FROM w
        |), seats AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rk,
        |         (SELECT 100 - sum(base) FROM q) AS leftover
        |  FROM q WHERE base < n_rows
        |)
        |SELECT q.stratum, q.n_rows, q.sd_e6, q.weight_e6,
        |       CAST(q.base + CASE WHEN s.rk IS NOT NULL AND s.rk <= s.leftover
        |                          THEN 1 ELSE 0 END AS BIGINT) AS allocation
        |FROM q LEFT JOIN seats s ON q.stratum = s.stratum""".stripMargin)),
    DriverQuery("q_interval_attribution", (s, dir) => {
      // batch face of StreamingJoin.intervalJoin (same column algebra the
      // streaming parity spec pins): every purchase attributed to the
      // same user's clicks in the preceding hour
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val buys = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.streaming.StreamingJoin.intervalJoin(
          clicks, buys, "user_id", "ts", "ts", "1 hour")
        .select(col("l_user_id").as("user_id"),
          col("l_event_id").as("click_id"), col("r_event_id").as("buy_id"),
          col("r_value").as("amount"))
    },
      Sql("""SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id,
        |       b.value AS amount
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') b
        |  ON c.user_id = b.user_id
        | AND c.ts <= b.ts AND c.ts >= b.ts - INTERVAL 1 HOUR""".stripMargin)),
    DriverQuery("q_heavy_hitters", (s, dir) => {
      // misra-gries sketch: EXACT when distinct values fit in k (3 flags < 10),
      // so the DuckDB group-by is a strict oracle
      lineitem(s, dir)
        .select(RuleRunner.parseRule("approx_heavy_hitters(l_returnflag, 10)",
          RuleSuite(Id(0, 0), Nil)).as("hh"))
        .select(explode(col("hh")).as(Seq("flag", "cnt")))
    },
      Sql("SELECT l_returnflag AS flag, count(*) AS cnt FROM lineitem GROUP BY 1")),
    DriverQuery("q_asof_join", (s, dir) => {
      // point-in-time enrichment: each click gets the latest preceding view's
      // value per user (window-based asof — one key shuffle, no range join)
      val (clicks, views) = clicksAndViews(s, dir)
      graft.operators.AsOf.asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
          rightPrefix = "view_")
        .select(col("event_id"), col("view_value"))
    },
      Sql("""SELECT c.event_id, v.value AS view_value
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin)),
    DriverQuery("q_scd2", (s, dir) => {
      // SCD2 dimension from the event log: per-user state history with
      // no-change collapse and duplicate-instant dedup — the oracle
      // replays the full window pipeline
      val log = events(s, dir).select(col("user_id").as("id"),
        col("event_type").as("state"),
        expr("unix_micros(ts) div 1000000L").as("ts"))
      graft.operators.Scd.fromChangeLog(log, Seq("id"), "ts")
    },
      Sql("""WITH log AS (
        |  SELECT user_id AS id, event_type AS state,
        |         epoch_us(ts) // 1000000 AS ts
        |  FROM events
        |), d AS (
        |  SELECT id, state, ts FROM (
        |    SELECT id, state, ts,
        |           row_number() OVER (PARTITION BY id, ts ORDER BY state DESC) AS rn
        |    FROM log) WHERE rn = 1
        |), o AS (
        |  SELECT id, state, ts,
        |         lag(state) OVER (PARTITION BY id ORDER BY ts) AS prev
        |  FROM d
        |), v AS (
        |  SELECT id, state, ts AS valid_from FROM o
        |  WHERE prev IS NULL OR prev <> state
        |)
        |SELECT id, state, valid_from,
        |       lead(valid_from) OVER (PARTITION BY id ORDER BY valid_from) AS valid_to,
        |       lead(valid_from) OVER (PARTITION BY id ORDER BY valid_from) IS NULL AS is_current
        |FROM v""".stripMargin)),
    DriverQuery("q_asof_forward", (s, dir) => {
      // recovery attribution: each error gets the next view's value per
      // user (earliest at-or-after) — the forward mirror, same one-shuffle
      // window shape
      val ev = events(s, dir)
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOf.asofJoinForward(errors, views, Seq("user_id"),
          "ts", "ts", rightPrefix = "next_")
        .select(col("event_id"), col("next_value"))
    },
      Sql("""SELECT e.event_id, v.value AS next_value
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
        |  ON e.user_id = v.user_id AND v.ts >= e.ts""".stripMargin)),
    DriverQuery("q_asof_nearest", (s, dir) => {
      // sensor-alignment shape: each click takes the view minimizing
      // |delta| within 10 minutes, ties to the earlier row; the oracle
      // replays it from DuckDB's own backward+forward ASOF joins
      val (clicks, views) = clicksAndViews(s, dir)
      graft.operators.AsOf.asofJoinNearest(clicks, views, Seq("user_id"),
          "ts", "ts", rightPrefix = "near_", toleranceSeconds = 600.0)
        .select(col("event_id"), col("near_value"))
    },
      // DuckDB's own backward and forward ASOF joins, then min-|delta| with
      // ties to the earlier row and the 600 s tolerance — exactly the
      // operator's pick rule
      Sql("""WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
        |b AS (
        |  SELECT c.event_id, epoch(c.ts) - epoch(v.ts) AS bd, v.value AS bval
        |  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
        |), f AS (
        |  SELECT c.event_id, epoch(v.ts) - epoch(c.ts) AS fd, v.value AS fval
        |  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts > c.ts
        |)
        |SELECT c.event_id,
        |  CASE WHEN bd IS NOT NULL AND bd <= 600.0
        |         AND (fd IS NULL OR fd > 600.0 OR bd <= fd) THEN bval
        |       WHEN fd IS NOT NULL AND fd <= 600.0 THEN fval
        |  END AS near_value
        |FROM c JOIN b USING (event_id) JOIN f USING (event_id)""".stripMargin)),
    DriverQuery("q_range_join", (s, dir) => {
      // price-band assignment via the bin-bucketed interval join (overlapping
      // bands, so rows can match twice) — equi-join on buckets, no cross
      val bands = s.range(100).select(col("id").as("band_id"),
        (col("id") * 1000).cast("double").as("lo"),
        (col("id") * 1000 + 1500).cast("double").as("hi"))
      val pts = lineitem(s, dir).select(col("l_extendedprice").as("p"))
      graft.operators.RangeJoin.pointInInterval(pts, bands, "p", "lo", "hi", binWidth = 1000)
        .groupBy(col("band_id")).agg(count(lit(1)).as("cnt"))
    },
      Sql("""SELECT r.range AS band_id, count(*) AS cnt
        |FROM lineitem l
        |JOIN range(100) r
        |  ON l.l_extendedprice >= r.range * 1000
        | AND l.l_extendedprice <= r.range * 1000 + 1500
        |GROUP BY 1""".stripMargin)),
    DriverQuery("q_interval_join", (s, dir) => {
      // interval × interval overlap via the binned first-shared-bin join:
      // every overlapping pair emits exactly once, no distinct, no cross
      val a = orders(s, dir).select(col("o_orderkey").as("a_id"),
        (col("o_orderkey") * 37 % 1000000).as("a_lo"),
        (col("o_orderkey") * 37 % 1000000 + col("o_orderkey") % 500).as("a_hi"))
      val b = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("b_id"),
          (col("c_custkey") * 91 % 1000000).as("b_lo"),
          (col("c_custkey") * 91 % 1000000 + col("c_custkey") % 800).as("b_hi"))
      graft.operators.RangeJoin.intervalOverlap(
          a, b, "a_lo", "a_hi", "b_lo", "b_hi", binWidth = 1000.0)
        .select(col("a_id"), col("b_id"))
    },
      Sql("""WITH a AS (
        |  SELECT o_orderkey AS a_id, (o_orderkey * 37) % 1000000 AS a_lo,
        |         (o_orderkey * 37) % 1000000 + o_orderkey % 500 AS a_hi
        |  FROM orders
        |), b AS (
        |  SELECT c_custkey AS b_id, (c_custkey * 91) % 1000000 AS b_lo,
        |         (c_custkey * 91) % 1000000 + c_custkey % 800 AS b_hi
        |  FROM customer
        |)
        |SELECT a_id, b_id FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi""".stripMargin)),
    DriverQuery("q_k_anonymity", (s, dir) =>
      // re-identification risk over (nation, segment) quasi-identifiers
      graft.pipeline.Pii.kAnonymityReport(
        s.read.parquet(s"$dir/customer.parquet"), 5,
        col("c_nationkey"), col("c_mktsegment")),
      Sql("""WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS c
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT CAST(sum(c) AS BIGINT) AS rows,
        |       CAST(count(*) AS BIGINT) AS classes,
        |       CAST(min(c) AS BIGINT) AS min_class_size,
        |       CAST(count(CASE WHEN c < 5 THEN 1 END) AS BIGINT) AS classes_below_k,
        |       CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS rows_below_k,
        |       CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(sum(c) AS BIGINT), 0) AS risk_ppm
        |FROM g""".stripMargin)),
    DriverQuery("q_l_diversity", (s, dir) =>
      // attribute disclosure: bucketed balance as the sensitive value
      graft.pipeline.Pii.lDiversityReport(
        s.read.parquet(s"$dir/customer.parquet"), 3,
        floor(col("c_acctbal") / 1000).cast("long"),
        col("c_nationkey"), col("c_mktsegment")),
      Sql("""WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS rows_in_class,
        |         count(DISTINCT CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR)) AS div
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT CAST(sum(rows_in_class) AS BIGINT) AS rows,
        |       CAST(count(*) AS BIGINT) AS classes,
        |       CAST(min(div) AS BIGINT) AS min_diversity,
        |       CAST(count(CASE WHEN div < 3 THEN 1 END) AS BIGINT) AS classes_below_l,
        |       CAST(sum(CASE WHEN div < 3 THEN rows_in_class ELSE 0 END) AS BIGINT) AS rows_below_l,
        |       CAST(sum(CASE WHEN div < 3 THEN rows_in_class ELSE 0 END) AS BIGINT) * 1000000
        |         // NULLIF(CAST(sum(rows_in_class) AS BIGINT), 0) AS risk_ppm
        |FROM cls""".stripMargin)),
    DriverQuery("q_robust_outliers", (s, dir) =>
      // median/MAD length outliers per language — integral signal, so
      // every median and MAD is an exact binary fraction and even the
      // boundary comparison hash-matches DuckDB
      graft.pipeline.Curation.robustOutliers(
        docs(s, dir), col("lang"), col("doc_id"), col("n_chars")),
      Sql("""WITH b AS (
        |  SELECT lang AS key, doc_id AS id, CAST(n_chars AS DOUBLE) AS value
        |  FROM documents
        |), m AS (
        |  SELECT key, quantile_cont(value, 0.5) AS median FROM b GROUP BY 1
        |), d AS (
        |  SELECT b.key, b.id, b.value, m.median, abs(b.value - m.median) AS dev
        |  FROM b JOIN m ON b.key = m.key
        |), md AS (
        |  SELECT key, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1
        |)
        |SELECT d.key, d.id, d.value, d.median, md.mad,
        |       d.dev > 3.5 * 1.4826 * md.mad AS outlier
        |FROM d JOIN md ON d.key = md.key""".stripMargin)),
    DriverQuery("q_fuzzy_join", (s, dir) => {
      // edit-distance <= 3 title join: ASCII-normalized 48-char prefixes as
      // titles (byte==char both engines), PassJoin segment blocking on the
      // Spark side, TRUE all-pairs levenshtein in DuckDB
      val titles = docs(s, dir).select(col("doc_id"),
        substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 48).as("title"))
      graft.operators.FuzzyJoin.editDistancePairs(
        titles, col("doc_id"), col("title"), maxDist = 3)
    },
      // the blocked join must equal TRUE all-pairs levenshtein (len-diff
      // prefilter is implied by dist <= 3)
      Sql("""WITH t AS (
        |  SELECT doc_id, substring(regexp_replace(text, '[^ -~]', '', 'g'), 1, 48) AS title
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.title, b.title) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.title) - length(b.title)) <= 3
        |  AND levenshtein(a.title, b.title) <= 3""".stripMargin)),
    DriverQuery("q_fuzzy_crosscorpus", (s, dir) => {
      // incoming-batch-vs-reference fuzzy attribution: the batch carries
      // every title with its 3rd character deleted (distance 1 to its
      // source, distance <= 3 to that source's near-titles); DuckDB
      // computes TRUE all-pairs A x B levenshtein
      val t = substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 48)
      val left = docs(s, dir).select(col("doc_id"), t.as("title"))
      val right = docs(s, dir).select((col("doc_id") + 5000).as("doc_id"),
        concat(t.substr(lit(1), lit(2)), t.substr(lit(4), length(t))).as("title"))
      graft.operators.FuzzyJoin.editDistanceJoin(
        left, col("doc_id"), col("title"),
        right, col("doc_id"), col("title"), maxDist = 3)
    },
      Sql("""WITH t AS (
        |  SELECT doc_id, substring(regexp_replace(text, '[^ -~]', '', 'g'), 1, 48) AS title
        |  FROM documents
        |), r AS (
        |  SELECT doc_id + 5000 AS doc_id,
        |         substring(title, 1, 2) || substring(title, 4) AS title
        |  FROM t
        |)
        |SELECT t.doc_id AS id_l, r.doc_id AS id_r,
        |       levenshtein(t.title, r.title) AS dist
        |FROM t, r
        |WHERE abs(length(t.title) - length(r.title)) <= 3
        |  AND levenshtein(t.title, r.title) <= 3""".stripMargin)),
    DriverQuery("q_record_linkage", (s, dir) => {
      // Fellegi–Sunter scoring over a dirty customer file: a char-dropped
      // copy for every 7th key (name 1 edit off, balance nudged 0.5), a
      // relocated copy for every 11th (segment changed); nationkey blocking,
      // integer micro-bit weights — DuckDB replays blocking, levenshtein
      // and the exact weight arithmetic
      import graft.operators.Linkage
      val out = Linkage.classify(
        Linkage.scoredPairs(linkageCorpus(s, dir), col("id"),
          linkageBlockKeys, linkageFields),
        tUpperMicro = 7000000L, tLowerMicro = 3000000L)
      out.where(col("decision") =!= "nonmatch")
        .select(col("id_a"), col("id_b"), col("name_agree"),
          col("segment_agree"), col("bal_agree"), col("score_micro"),
          col("decision"))
    },
      Sql(s"""WITH corpus AS (
        |$LinkageCorpusSql
        |), scored AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |         levenshtein(a.name, b.name) <= 1 AS name_agree,
        |         a.seg = b.seg AS segment_agree,
        |         abs(a.bal - b.bal) <= 1.0 AS bal_agree,
        |         CAST(CASE WHEN levenshtein(a.name, b.name) <= 1 THEN 4000000 ELSE -3000000 END
        |            + CASE WHEN a.seg = b.seg THEN 1500000 ELSE -700000 END
        |            + CASE WHEN abs(a.bal - b.bal) <= 1.0 THEN 3000000 ELSE -400000 END
        |           AS BIGINT) AS score_micro
        |  FROM corpus a JOIN corpus b ON a.nk = b.nk AND a.id < b.id
        |   AND (floor(a.bal / 2) = floor(b.bal / 2)
        |     OR floor((a.bal + 1) / 2) = floor((b.bal + 1) / 2))
        |)
        |SELECT id_a, id_b, name_agree, segment_agree, bal_agree, score_micro,
        |       CASE WHEN score_micro >= 7000000 THEN 'match' ELSE 'possible' END AS decision
        |FROM scored WHERE score_micro > 3000000""".stripMargin)),
    DriverQuery("q_jaro_winkler", (s, dir) => {
      // every customer scored against a char-dropped and a reversed copy
      // of its name — DuckDB's independent jaro_winkler_similarity must
      // reproduce every double bit for bit (byte semantics, 0.7 boost
      // threshold, prefix cap 4)
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      c.select(col("id"),
        graft.functions.StringSim.jaroWinkler(col("name"),
          concat(substring(col("name"), 1, 4), expr("substring(name, 6)")))
          .as("jw_dropped"),
        graft.functions.StringSim.jaroWinkler(col("name"), reverse(col("name")))
          .as("jw_reversed"))
    },
      Sql("""SELECT c_custkey AS id,
        |       jaro_winkler_similarity(c_name,
        |         substr(c_name, 1, 4) || substr(c_name, 6)) AS jw_dropped,
        |       jaro_winkler_similarity(c_name, reverse(c_name)) AS jw_reversed
        |FROM customer""".stripMargin)),
    DriverQuery("q_sorted_neighborhood", (s, dir) => {
      // merge/purge blocking: the dirty customer file ordered by name —
      // char-dropped copies sort next to their originals even though no
      // equality key survives the typo; DuckDB replays the exact global
      // (name, id) rank and the rank-distance-< 3 pairing
      graft.operators.Linkage.sortedNeighborhood(
        linkageCorpus(s, dir), col("id"), col("name"), window = 3)
    },
      Sql("""WITH corpus AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, substr(c_name, 1, 4) || substr(c_name, 6)
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name
        |  FROM customer WHERE c_custkey % 11 = 0
        |), ranked AS (
        |  SELECT id, row_number() OVER (ORDER BY name, id) AS r
        |  FROM corpus WHERE name IS NOT NULL
        |)
        |SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
        |       CAST(b.r - a.r AS INT) AS dist
        |FROM ranked a, ranked b
        |WHERE b.r > a.r AND b.r - a.r < 3""".stripMargin)),
    DriverQuery("q_entity_resolution", (s, dir) =>
      // match pairs (all three fields agreeing) collapse to entities via
      // min-label components; the oracle closes the same match set with a
      // recursive CTE — transitivity included, not assumed
      graft.operators.Linkage.resolveEntities(
        linkageCorpus(s, dir), col("id"), linkageBlockKeys,
        linkageFields, tUpperMicro = 7000000L),
      Sql(s"""WITH RECURSIVE corpus AS (
        |$LinkageCorpusSql
        |), m AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM corpus a JOIN corpus b ON a.nk = b.nk AND a.id < b.id
        |   AND (floor(a.bal / 2) = floor(b.bal / 2)
        |     OR floor((a.bal + 1) / 2) = floor((b.bal + 1) / 2))
        |  WHERE levenshtein(a.name, b.name) <= 1 AND a.seg = b.seg
        |    AND abs(a.bal - b.bal) <= 1.0
        |), edges AS (
        |  SELECT id_a AS s, id_b AS d FROM m UNION SELECT id_b, id_a FROM m
        |), reach(id, r) AS (
        |  SELECT id, id FROM corpus
        |  UNION
        |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s
        |)
        |SELECT id, min(r) AS entity_id FROM reach GROUP BY id""".stripMargin)),
    DriverQuery("q_bot_detection", (s, dir) => {
      // traffic profiling: organic per-user clients from events, plus a
      // planted 60s-metronome (undeclared) and a declared spider; the
      // oracle replays the lag-window gaps and exact cv² arithmetic
      val e = events(s, dir)
      val organic = e.select(
        concat(lit("u"), col("user_id").cast("string")).as("client"),
        unix_timestamp(col("ts")).as("te"),
        concat(lit("/"), col("event_type")).as("path"),
        when(col("event_type") === "error", lit(500)).otherwise(lit(200)).as("st"),
        lit("Mozilla/5.0").as("ua"))
      val metronome = e.where(col("event_id") % 5 === 0).select(
        lit("bot-1").as("client"),
        (lit(1704067200L) + expr("event_id div 5") * 60).as("te"),
        concat(lit("/page"), (col("event_id") % 7).cast("string")).as("path"),
        lit(200).as("st"), lit("cron/1.0").as("ua"))
      val spider = e.where(col("event_id") % 11 === 0).select(
        lit("spider-9").as("client"), unix_timestamp(col("ts")).as("te"),
        concat(lit("/"), col("event_type")).as("path"),
        lit(200).as("st"), lit("FancySpider/2.0").as("ua"))
      graft.pipeline.Traffic.botReport(
        organic.unionAll(metronome).unionAll(spider),
        col("client"), col("te"), col("path"), col("st"), col("ua"))
    },
      Sql("""WITH t AS (
        |  SELECT 'u' || user_id AS client, CAST(floor(epoch(ts)) AS BIGINT) AS te,
        |         '/' || event_type AS path,
        |         CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS st,
        |         'Mozilla/5.0' AS ua
        |  FROM events
        |  UNION ALL
        |  SELECT 'bot-1', 1704067200 + (event_id // 5) * 60,
        |         '/page' || (event_id % 7), 200, 'cron/1.0'
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL
        |  SELECT 'spider-9', CAST(floor(epoch(ts)) AS BIGINT), '/' || event_type,
        |         200, 'FancySpider/2.0'
        |  FROM events WHERE event_id % 11 = 0
        |), g AS (
        |  SELECT client, path, st, ua,
        |         te - lag(te) OVER (PARTITION BY client ORDER BY te, path) AS gap
        |  FROM t
        |), a AS (
        |  SELECT client, count(*) AS n_requests,
        |         count(DISTINCT path) AS distinct_paths,
        |         count(CASE WHEN path = '/robots.txt' THEN 1 END) AS robots_hits,
        |         count(CASE WHEN st >= 400 THEN 1 END) AS errors,
        |         bool_or(regexp_matches(ua,
        |           '(?i)(bot|crawler|spider|scrapy|curl|wget|python-requests)'))
        |           AS declared_bot,
        |         count(gap) AS m, sum(gap) AS s, sum(gap * gap) AS s2
        |  FROM g GROUP BY 1
        |), r AS (
        |  SELECT client, n_requests, distinct_paths, robots_hits,
        |         CAST(errors * 1000000 // nullif(n_requests, 0) AS BIGINT) AS err_ppm,
        |         declared_bot,
        |         CASE WHEN m >= 1
        |           THEN CAST(floor(s / m) AS BIGINT) END AS mean_gap_s,
        |         CASE WHEN s > 0
        |           THEN CAST(floor((CAST(m AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
        |                  / (CAST(s AS DOUBLE) * s) * 1e6) AS BIGINT) END AS cv2_ppm
        |  FROM a
        |)
        |SELECT client, n_requests, distinct_paths, robots_hits, err_ppm,
        |       declared_bot, mean_gap_s, cv2_ppm,
        |       coalesce(cv2_ppm <= 10000 AND n_requests >= 10, false) AS metronomic,
        |       coalesce(mean_gap_s < 2 AND n_requests >= 30, false) AS hammering,
        |       CAST(CASE WHEN declared_bot THEN 500000 ELSE 0 END
        |          + CASE WHEN coalesce(cv2_ppm <= 10000 AND n_requests >= 10, false)
        |                 THEN 300000 ELSE 0 END
        |          + CASE WHEN coalesce(mean_gap_s < 2 AND n_requests >= 30, false)
        |                 THEN 200000 ELSE 0 END AS BIGINT) AS bot_score_ppm
        |FROM r""".stripMargin)),
    DriverQuery("q_mutual_information", (s, dir) =>
      // leakage/relevance check: MI(lang, source) with the fixed-point ln
      // contract — every cell term and entropy term refloored identically
      // by the oracle
      graft.rules.DatasetChecks.mutualInformation(
        docs(s, dir), col("lang"), col("source")),
      Sql("""WITH cells AS (
        |  SELECT lang AS x, source AS y, count(*) AS nxy FROM documents GROUP BY 1, 2
        |), mx AS (SELECT x, sum(nxy) AS nx FROM cells GROUP BY 1),
        |my AS (SELECT y, sum(nxy) AS ny FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells),
        |mi AS (
        |  SELECT max(n) AS n, count(*) AS cells,
        |         sum(CAST(floor((CAST(nxy AS DOUBLE) / n)
        |               * ln((CAST(nxy AS DOUBLE) * n) / (CAST(nx AS DOUBLE) * ny))
        |               * 1e9) AS BIGINT)) AS mi_e9
        |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
        |), hx AS (
        |  SELECT count(*) AS x_values,
        |         sum(CAST(floor(-(CAST(nx AS DOUBLE) / n)
        |               * ln(CAST(nx AS DOUBLE) / n) * 1e9) AS BIGINT)) AS hx_e9
        |  FROM mx CROSS JOIN tot
        |), hy AS (
        |  SELECT count(*) AS y_values,
        |         sum(CAST(floor(-(CAST(ny AS DOUBLE) / n)
        |               * ln(CAST(ny AS DOUBLE) / n) * 1e9) AS BIGINT)) AS hy_e9
        |  FROM my CROSS JOIN tot
        |)
        |SELECT n, x_values, y_values, cells,
        |       CAST(mi_e9 AS BIGINT) AS mi_e9, CAST(hx_e9 AS BIGINT) AS hx_e9,
        |       CAST(hy_e9 AS BIGINT) AS hy_e9,
        |       CAST(coalesce(2 * mi_e9 * 1000000 // nullif(hx_e9 + hy_e9, 0), 0)
        |            AS BIGINT) AS nmi_ppm
        |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin)),
    DriverQuery("q_gap_fill", (s, dir) =>
      // 6-hour per-user grid over the sparse event stream, LOCF-filled;
      // max is the bucket reducer (order-independent → hash-exact), and
      // the oracle rebuilds grid, join and carry-forward with window SQL
      graft.operators.GapFill.gapFill(
        events(s, dir), col("user_id"), col("ts"), col("value"),
        stepSeconds = 21600L, fill = "locf"),
      Sql("""WITH a AS (
        |  SELECT user_id AS key,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 21600 * 21600 AS bucket_ts,
        |         max(value) AS v
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT key, unnest(range(lo, hi + 21600, 21600)) AS bucket_ts
        |  FROM (SELECT key, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM a GROUP BY 1)
        |), j AS (
        |  SELECT g.key, g.bucket_ts, a.v, a.v IS NULL AS filled
        |  FROM g LEFT JOIN a USING (key, bucket_ts)
        |)
        |SELECT key, bucket_ts,
        |       last_value(v IGNORE NULLS) OVER (PARTITION BY key ORDER BY bucket_ts)
        |         AS value,
        |       filled
        |FROM j""".stripMargin)),
    DriverQuery("q_pareto_front", (s, dir) =>
      // multi-objective selection: the 3-D efficient frontier over
      // (length, two independent pseudo-scores); the two-phase pivot-prune
      // plan must return EXACTLY the quadratic NOT-EXISTS oracle's rows
      graft.operators.Skyline.pareto(
        docs(s, dir).select(col("doc_id"),
          col("n_chars").cast("long").as("x"),
          (col("doc_id") * 37 % 1000).as("y"),
          (col("doc_id") * 91 % 773).as("z")),
        Seq(col("x"), col("y"), col("z")), buckets = 16),
      Sql("""WITH s AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x, doc_id * 37 % 1000 AS y,
        |         doc_id * 91 % 773 AS z
        |  FROM documents
        |)
        |SELECT a.doc_id, a.x, a.y, a.z FROM s a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM s b
        |  WHERE b.x >= a.x AND b.y >= a.y AND b.z >= a.z
        |    AND (b.x > a.x OR b.y > a.y OR b.z > a.z))""".stripMargin)),
    DriverQuery("q_dp_count", (s, dir) => {
      // ε-DP per-nation release: geometric-mechanism noise derived
      // deterministically from md5(key:seed) with exact integer bit-length
      // arithmetic — the oracle recomputes the identical noise, so the
      // privately-released counts hash-match bit-for-bit
      val c = s.read.parquet(s"$dir/customer.parquet")
      val counts = graft.pipeline.Pii.dpCounts(
        c, Seq(col("c_nationkey").as("nk")), kLog2 = 1, seed = 42L)
      val sums = graft.pipeline.Pii.dpSums(
        c, Seq(col("c_nationkey").as("nk")), floor(col("c_acctbal")),
        cap = 5000L, kLog2 = 1, seed = 7L)
      counts.join(sums, Seq("nk"))
    },
      Sql("""WITH g AS (
        |  SELECT c_nationkey AS nk, count(*) AS n,
        |         sum(least(greatest(CAST(floor(c_acctbal) AS BIGINT), 0), 5000)) AS sm
        |  FROM customer GROUP BY 1
        |), u AS (
        |  SELECT nk, n, sm,
        |    list_reduce([strpos('0123456789abcdef', substr(md5(nk || ':42:0'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ua,
        |    list_reduce([strpos('0123456789abcdef', substr(md5(nk || ':42:1'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ub,
        |    list_reduce([strpos('0123456789abcdef', substr(md5(nk || ':7:0'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS uc,
        |    list_reduce([strpos('0123456789abcdef', substr(md5(nk || ':7:1'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ud
        |  FROM g
        |)
        |SELECT nk,
        |  CAST(n + (CASE WHEN ua = 0 THEN 52 ELSE 52 - length(bin(ua)) END)
        |         - (CASE WHEN ub = 0 THEN 52 ELSE 52 - length(bin(ub)) END) AS BIGINT) AS dp_count,
        |  CAST(sm + (CASE WHEN uc = 0 THEN 52 ELSE 52 - length(bin(uc)) END)
        |          - (CASE WHEN ud = 0 THEN 52 ELSE 52 - length(bin(ud)) END) AS BIGINT) AS dp_sum
        |FROM u""".stripMargin)),
    DriverQuery("q_dp_quantile", (s, dir) => {
      // ε-DP order statistics: exponential-mechanism median + p90 of
      // customer balances on a public 64-cell grid, Gumbel-max draw made
      // deterministic via md5(seed:bucket) — the oracle replays the
      // histogram, utility, Gumbel and argmax bit-for-bit; distinct
      // releases use distinct seeds (composition)
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.pipeline.Pii.dpQuantile(c, col("c_acctbal"),
          q = 0.5, lo = -1000.0, hi = 10000.0, bins = 64, kLog2 = 4, seed = 42L)
        .unionByName(graft.pipeline.Pii.dpQuantile(c, col("c_acctbal"),
          q = 0.9, lo = -1000.0, hi = 10000.0, bins = 64, kLog2 = 4, seed = 43L))
    },
      Sql("""WITH v AS (
        |  SELECT least(greatest(CAST(c_acctbal AS DOUBLE), -1000.0), 10000.0) AS x
        |  FROM customer
        |), tot AS (SELECT count(*) AS n FROM v),
        |h AS (
        |  SELECT CAST(least(floor((x - (-1000.0)) / 11000.0 * 64), 63) AS BIGINT) AS b,
        |         count(*) AS cnt
        |  FROM v GROUP BY 1
        |), g AS (SELECT unnest(range(0, 64)) AS b),
        |cum AS (
        |  SELECT g.b, sum(coalesce(h.cnt, 0)) OVER (ORDER BY g.b) AS c
        |  FROM g LEFT JOIN h USING (b)
        |), s50 AS (
        |  SELECT b,
        |    -abs(CAST(c AS DOUBLE) - floor(0.5 * CAST((SELECT n FROM tot) AS DOUBLE))) AS u,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dpq:42:' || CAST(b AS VARCHAR)), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS u52
        |  FROM cum
        |), p50 AS (
        |  SELECT CAST(0.5 AS DOUBLE) AS q,
        |         -1000.0 + (CAST(b AS DOUBLE) + 0.5) * 171.875 AS dp_value,
        |         CAST(b AS BIGINT) AS bucket
        |  FROM s50
        |  ORDER BY 1.3862943611198906 * u +
        |           (-ln(-ln((CAST(u52 AS DOUBLE) + 0.5) / 4503599627370496.0))) DESC,
        |           b ASC LIMIT 1
        |), s90 AS (
        |  SELECT b,
        |    -abs(CAST(c AS DOUBLE) - floor(0.9 * CAST((SELECT n FROM tot) AS DOUBLE))) AS u,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dpq:43:' || CAST(b AS VARCHAR)), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS u52
        |  FROM cum
        |), p90 AS (
        |  SELECT CAST(0.9 AS DOUBLE) AS q,
        |         -1000.0 + (CAST(b AS DOUBLE) + 0.5) * 171.875 AS dp_value,
        |         CAST(b AS BIGINT) AS bucket
        |  FROM s90
        |  ORDER BY 1.3862943611198906 * u +
        |           (-ln(-ln((CAST(u52 AS DOUBLE) + 0.5) / 4503599627370496.0))) DESC,
        |           b ASC LIMIT 1
        |)
        |SELECT * FROM p50 UNION ALL SELECT * FROM p90""".stripMargin)),
    DriverQuery("q_dp_quantiles", (s, dir) => {
      // per-group ε-DP order statistics: one exponential-mechanism median
      // of account balance PER NATION, group-keyed uniforms (independent
      // draws per group under one seed) — oracle replays all 25 draws
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.pipeline.Pii.dpQuantiles(c, Seq(col("c_nationkey").as("nk")),
        col("c_acctbal"), q = 0.5, lo = -1000.0, hi = 10000.0, bins = 64,
        kLog2 = 4, seed = 7L)
    },
      Sql("""WITH v AS (
        |  SELECT c_nationkey AS nk,
        |         least(greatest(CAST(c_acctbal AS DOUBLE), -1000.0), 10000.0) AS x
        |  FROM customer
        |), h AS (
        |  SELECT nk,
        |         CAST(least(floor((x - (-1000.0)) / 11000.0 * 64), 63) AS BIGINT) AS b,
        |         count(*) AS cnt
        |  FROM v GROUP BY 1, 2
        |), g AS (
        |  SELECT nk, gb.b
        |  FROM (SELECT DISTINCT nk FROM v)
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS b) gb
        |), cum AS (
        |  SELECT g.nk, g.b,
        |         sum(coalesce(h.cnt, 0)) OVER (PARTITION BY g.nk ORDER BY g.b) AS c,
        |         sum(coalesce(h.cnt, 0)) OVER (PARTITION BY g.nk) AS tot
        |  FROM g LEFT JOIN h ON h.nk = g.nk AND h.b = g.b
        |), s AS (
        |  SELECT nk, b,
        |    -abs(CAST(c AS DOUBLE) - floor(0.5 * CAST(tot AS DOUBLE))) AS u,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dpq:' || CAST(nk AS VARCHAR) || ':7:' || CAST(b AS VARCHAR)), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS u52
        |  FROM cum
        |), ranked AS (
        |  SELECT nk, b,
        |         row_number() OVER (PARTITION BY nk ORDER BY
        |           1.3862943611198906 * u +
        |           (-ln(-ln((CAST(u52 AS DOUBLE) + 0.5) / 4503599627370496.0))) DESC,
        |           b ASC) AS rk
        |  FROM s
        |)
        |SELECT nk, CAST(0.5 AS DOUBLE) AS q,
        |       -1000.0 + (CAST(b AS DOUBLE) + 0.5) * 171.875 AS dp_value,
        |       CAST(b AS BIGINT) AS bucket
        |FROM ranked WHERE rk = 1""".stripMargin)),
    DriverQuery("q_dp_histogram", (s, dir) => {
      // per-group ε-DP histogram release: noised per-bucket counts of
      // account balance per nation on a public 32-cell grid — every
      // observed nation releases ALL 32 buckets (zeros carry noise, so
      // the support hides true emptiness); the oracle re-derives each
      // bucket's two-sided-geometric draw (md5 → leading zeros → floor
      // division) bit-for-bit
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.pipeline.Pii.dpHistograms(c, Seq(col("c_nationkey").as("nk")),
        col("c_acctbal"), lo = -1000.0, hi = 10000.0, bins = 32,
        kLog2 = 2, seed = 9L)
    },
      Sql("""WITH v AS (
        |  SELECT c_nationkey AS nk,
        |         least(greatest(CAST(c_acctbal AS DOUBLE), -1000.0), 10000.0) AS x
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |), h AS (
        |  SELECT nk,
        |         CAST(least(floor((x - (-1000.0)) / 11000.0 * 32), 31) AS BIGINT) AS b,
        |         count(*) AS cnt
        |  FROM v GROUP BY 1, 2
        |), g AS (
        |  SELECT nk, gb.b
        |  FROM (SELECT DISTINCT nk FROM v)
        |  CROSS JOIN (SELECT unnest(range(0, 32)) AS b) gb
        |), filled AS (
        |  SELECT g.nk, g.b, coalesce(h.cnt, 0) AS n
        |  FROM g LEFT JOIN h ON h.nk = g.nk AND h.b = g.b
        |), u AS (
        |  SELECT nk, b, n,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dph:' || CAST(nk AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':9:0'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ua,
        |    list_reduce([strpos('0123456789abcdef', substr(md5('dph:' || CAST(nk AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':9:1'), i, 1)) - 1
        |                 for i in range(1, 14)], (acc, d) -> acc * 16 + d) AS ub
        |  FROM filled
        |)
        |SELECT nk, CAST(b AS BIGINT) AS bucket,
        |       -1000.0 + CAST(b AS DOUBLE) * 343.75 AS bucket_lo,
        |       CAST(n + (CASE WHEN ua = 0 THEN 52 ELSE 52 - length(bin(ua)) END) // 2
        |              - (CASE WHEN ub = 0 THEN 52 ELSE 52 - length(bin(ub)) END) // 2 AS BIGINT) AS dp_count
        |FROM u""".stripMargin)),
    DriverQuery("q_hll_domains", (s, dir) => {
      // rows-only (xxhash64-seeded registers aren't SQL-portable): per-source
      // HLL distinct-doc sketches built per half-corpus batch, rolled up with
      // hll_merge — the incremental cross-batch telemetry path; HllSpec pins
      // union==full-scan byte identity and the error bound
      val d = docs(s, dir)
      val half = d.select(col("source"), col("doc_id"),
        (col("doc_id") % 2).as("graft_batch"))
      half.groupBy(col("source"), col("graft_batch"))
        .agg(graft.functions.dsl.hll_sketch(col("doc_id")).as("graft_s"))
        .groupBy(col("source"))
        .agg(graft.functions.dsl.hll_merge(col("graft_s")).as("graft_m"))
        .select(col("source"), graft.functions.dsl.hll_estimate(col("graft_m")).as("est_docs"))
    },
      RowsOnly("xxhash64-seeded registers are not SQL-portable", "graft.functions.HllSpec")),
    DriverQuery("q_cms_langs", (s, dir) => {
      // per-key frequency telemetry from a stored sketch, not a rescan:
      // per-source CMS of the lang column built per half-corpus batch,
      // sum-merged (the cross-batch path), then point-estimated for every
      // observed (source, lang) pair. Width 65536 over a handful of langs
      // is collision-free, so estimates are exact and the DuckDB oracle is
      // a plain GROUP BY count; any seed-collision would surface as a
      // hash mismatch here.
      import graft.functions.dsl.{cms_estimate, cms_merge, cms_sketch}
      val d = docs(s, dir)
      val sk = d.select(col("source"), col("lang"), (col("doc_id") % 2).as("graft_batch"))
        .groupBy(col("source"), col("graft_batch"))
        .agg(cms_sketch(col("lang"), 65536, 4).as("graft_s"))
        .groupBy(col("source")).agg(cms_merge(col("graft_s")).as("graft_s"))
      d.select(col("source"), col("lang")).distinct()
        .join(broadcast(sk), "source")
        .select(col("source"), col("lang"),
          cms_estimate(col("graft_s"), col("lang")).as("n_docs"))
    },
      Sql("SELECT source, lang, count(*) AS n_docs FROM documents GROUP BY source, lang")),
    DriverQuery("q_theta_overlap", (s, dir) => {
      // cross-corpus overlap WITHOUT joining the corpora: per-half theta
      // sketches of 5-word shingles built per doc_id%4 batch (the
      // incremental telemetry path), rolled up with theta_union, then
      // shared/novel mass via sketch set algebra on two blobs. k=2^18 far
      // exceeds the distinct-shingle count at the gate SFs, so theta never
      // moves and every estimate is EXACT — the oracle runs true set ops.
      import graft.functions.dsl.{theta_a_not_b, theta_estimate, theta_intersect, theta_sketch, theta_union}
      val sh = docs(s, dir).select(
        (col("doc_id") % 2).as("corpus"), (col("doc_id") % 4).as("graft_batch"),
        explode(graft.pipeline.Text.shingles(col("text"), 5)).as("g"))
      val merged = sh.groupBy(col("corpus"), col("graft_batch"))
        .agg(theta_sketch(col("g"), 1 << 18).as("sk"))
        .groupBy(col("corpus")).agg(theta_union(col("sk")).as("sk"))
      val a = merged.where(col("corpus") === 0).select(col("sk").as("ska"))
      val b = merged.where(col("corpus") === 1).select(col("sk").as("skb"))
      a.crossJoin(b).select( // single-row frames
        theta_estimate(col("ska")).as("n_a"),
        theta_estimate(col("skb")).as("n_b"),
        theta_estimate(theta_intersect(col("ska"), col("skb"))).as("n_shared"),
        theta_estimate(theta_a_not_b(col("skb"), col("ska"))).as("n_novel_b"))
    },
      Sql("""WITH w AS (
        |  SELECT doc_id % 2 AS corpus, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents
        |), sh AS (
        |  SELECT DISTINCT corpus,
        |    unnest([array_to_string(ws[i:i+4], ' ') for i in range(1, greatest(len(ws) - 4, 1) + 1)]) AS g
        |  FROM w
        |), a AS (SELECT g FROM sh WHERE corpus = 0), b AS (SELECT g FROM sh WHERE corpus = 1)
        |SELECT (SELECT count(*) FROM a) AS n_a,
        |       (SELECT count(*) FROM b) AS n_b,
        |       (SELECT count(*) FROM (SELECT g FROM a INTERSECT SELECT g FROM b)) AS n_shared,
        |       (SELECT count(*) FROM (SELECT g FROM b EXCEPT SELECT g FROM a)) AS n_novel_b""".stripMargin)))
}
