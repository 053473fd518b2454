package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.TextFns._

/** Event-stream (batch twin) + scalar-function coverage: tumbling
  * event-time windows, gap-based sessionization, JSON extraction, the
  * scalar cleaning-function gauntlet (SURVEY §2.8), null filtering, and
  * top-k. The streaming execution of the same window aggregation lives in
  * [[graft.streaming.EventStream]] (Structured Streaming, AvailableNow)
  * and is asserted equal to the batch twin in StreamingSpec.
  */
object EventQueries extends QueryModule {
  private val dec = DecimalType(18, 2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T-analog — tumbling 1-hour event-time windows; epoch-second window
    // start so the hash compare never sees timestamp formatting.
    "st_window_counts" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // Type-2 SCD history build (r9): the warehouse dimension pattern the
    // reference's Type-1 upsert (D2/D5) cannot express — every status
    // change opens a validity interval, the next change closes it.
    // Change stream = each user's event stream with consecutive repeats
    // collapsed (lag window); valid_to = lead over the collapsed stream;
    // the open interval is the current row. Two user-keyed windows, no
    // global state — at scale this is one shuffle on the dimension key.
    "d7_scd2_history" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val changes = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      changes
        .withColumn("valid_from", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
        .withColumn("valid_to", lead(expr("unix_micros(CAST(ts AS TIMESTAMP))"), 1).over(byUser))
        .select(col("user_id"), col("event_type").as("status"),
          col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    }),

    // Hourly z-score anomaly flags (r9): per event type, each hour's
    // count against the type's own hourly distribution. Integer-cleared
    // z = (c·n − Σc)/√(n·Σc² − (Σc)²): numerator BIGINT, denominator one
    // IEEE sqrt of a BIGINT, one division — hash-exact cross-engine. The
    // per-type stats frame is |types| rows, broadcast; the only shuffle
    // is the hourly rollup itself.
    "evt_zscore_anomaly" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("c"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"))
      hourly.join(broadcast(stats), "event_type")
        .withColumn("sd",
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double")))
        .select(col("window_start"), col("event_type"),
          col("c").as("n_events"),
          when(col("sd") === 0.0, lit(null).cast("double"))
            .otherwise((col("c") * col("n") - col("s1")).cast("double") /
              col("sd")).as("z"))
        .withColumn("anomaly", coalesce(abs(col("z")) > lit(2.0), lit(false)))
        .orderBy(col("event_type"), col("window_start"))
    }),

    // Hourly top-k users (r9): the windowed leaderboard, via the native
    // BoundedTopK aggregate — map-side compaction keeps state at k rows
    // per window, no rank window over the full hourly fan-out.
    "evt_hourly_top_users" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("user_id"), col("c"))
      graft.plans.GraftExtensions.topKPerGroup(hourly, Seq("window_start"), 3,
          descFirst = true)(col("c"), col("user_id"))
        .select(col("window_start"), col("user_id"), col("rnk"), col("c"))
        .orderBy(col("window_start"), col("rnk"))
    }),

    // Gap-based sessionization (30-min inactivity): lag + running session
    // counter — the window-frame idiom every funnel pipeline uses.
    "evt_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
            .as("duration_s"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Built-in session windows — same 30-min-gap semantics as
    // evt_sessionize, via Spark's native merge-based session_window
    // operator (the streaming-capable formulation). The oracle derives
    // sessions with the lag+running-count construction, proving the two
    // formulations agree.
    "evt_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("sw.start")).as("session_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // F20-analog — JSON field extraction from the props column.
    "evt_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_value"))
        .filter(col("k_value") > 80)
        .orderBy(col("event_id"))
    }),

    // P3 — null-subset filter (na.drop on chosen columns).
    "p3_null_filter" -> ((s, dir) => {
      Tables.events(s, dir).na.drop(Seq("event_type", "value"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // F1/F2/F6/F7/F9/F10 — the scalar cleaning gauntlet on customer names.
    "f_scalar_gauntlet" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      c.select(
          col("c_custkey"),
          normalise(col("c_name")).as("norm_name"),
          stripNewlines(col("c_name")).as("clean_name"),
          fillUnknown(col("c_mktsegment")).as("segment"),
          normalizeYear(concat(lit("199"), (col("c_custkey") % 10).cast("string"),
            lit(".0"))).as("norm_year"),
          fullName(col("c_mktsegment"), col("c_name")).as("full_name"),
          firstToken(col("c_name")).as("first_token"))
        .orderBy(col("c_custkey"))
    }),

    // O5/O4 — global top-k with deterministic tiebreak + limit.
    "topk_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // As-of join: each click picks the same user's most recent purchase
    // at or before it — ONE shuffle on user_id via the union +
    // carry-forward window ([[graft.operators.TemporalJoins.asofJoin]]),
    // no join explosion, no unbounded broadcast. Oracle = DuckDB's native
    // ASOF LEFT JOIN. Purchases pre-aggregated per (user, ts) so the
    // nearest row is unique; times emitted as epoch seconds.
    "evt_asof_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          max(col("value")).as("p_value"))
        .withColumn("p_ts", unix_timestamp(col("ts")))
      graft.operators.TemporalJoins
        .asofJoin(clicks, purchases, "user_id", "ts",
          Seq("p_event_id", "p_ts", "p_value"))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"),
          col("p_event_id"), col("p_ts"), col("p_value"))
        .orderBy(col("event_id"))
    }),

    // Funnel analysis: earliest strictly-ordered view → click →
    // purchase per user, plus how far each user got.
    "evt_funnel" -> ((s, dir) =>
      graft.operators.TemporalJoins.funnel(Tables.events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))),

    // Range join: 10-minute incident windows (one per error event)
    // counted against clicks inside them — the inequality predicate
    // binned into an equi-join on 600 s time bins
    // ([[graft.operators.TemporalJoins.rangeJoinBinned]]); oracle is the
    // plain inequality join.
    "evt_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val windows = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("win_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 600 SECONDS")).as("w_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("ts").as("c_ts"))
      val counts = graft.operators.TemporalJoins
        .rangeJoinBinned(windows, clicks, "c_ts", 600L)
        .groupBy(col("win_id")).agg(count(lit(1)).as("n_clicks"))
      windows.join(counts, Seq("win_id"), "left")
        .select(col("win_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy(col("win_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "evt_asof_purchase" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events
        |                WHERE event_type = 'click'),
        |purch AS (SELECT user_id, ts, MAX(event_id) AS p_event_id,
        |                 CAST(floor(epoch(ts)) AS BIGINT) AS p_ts,
        |                 MAX(value) AS p_value
        |          FROM events WHERE event_type = 'purchase'
        |          GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id,
        |       CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_s,
        |       p.p_event_id, p.p_ts, p.p_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "evt_range_join" ->
      """WITH w AS (SELECT event_id AS win_id, ts AS w_start,
        |                  ts + INTERVAL 600 SECOND AS w_end
        |           FROM events WHERE event_type = 'error'),
        |c AS (SELECT ts FROM events WHERE event_type = 'click')
        |SELECT w.win_id, COUNT(c.ts) AS n_clicks
        |FROM w LEFT JOIN c ON c.ts >= w.w_start AND c.ts < w.w_end
        |GROUP BY w.win_id ORDER BY w.win_id""".stripMargin,

    "evt_funnel" ->
      (graft.operators.TemporalJoins.funnelSql("events",
        Seq("view", "click", "purchase")) + "\nORDER BY user_id"),

    "st_window_counts" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |       event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY window_start, event_type""".stripMargin,

    "d7_scd2_history" ->
      """WITH ch AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flt AS (SELECT user_id, ts, event_id, event_type FROM ch
        |        WHERE prev IS NULL OR prev <> event_type),
        |h AS (SELECT user_id, event_type AS status,
        |             epoch_us(ts) AS valid_from,
        |             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS valid_to
        |      FROM flt)
        |SELECT user_id, status, valid_from, valid_to,
        |       valid_to IS NULL AS is_current
        |FROM h ORDER BY user_id, valid_from""".stripMargin,

    "evt_hourly_top_users" ->
      """WITH hu AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |                   user_id, CAST(COUNT(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |rk AS (SELECT window_start, user_id, c,
        |              ROW_NUMBER() OVER (PARTITION BY window_start
        |                ORDER BY c DESC, user_id) AS rnk
        |       FROM hu)
        |SELECT window_start, user_id, CAST(rnk AS INT) AS rnk, c
        |FROM rk WHERE rnk <= 3 ORDER BY window_start, rnk""".stripMargin,

    "evt_zscore_anomaly" ->
      """WITH zh AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |                   event_type, CAST(COUNT(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |zs AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |              CAST(SUM(c) AS BIGINT) AS s1,
        |              CAST(SUM(c * c) AS BIGINT) AS s2
        |       FROM zh GROUP BY event_type),
        |zz AS (SELECT h.window_start, h.event_type, h.c AS n_events,
        |              CAST(h.c * s.n - s.s1 AS DOUBLE)
        |                / NULLIF(sqrt(CAST(s.n * s.s2 - s.s1 * s.s1 AS DOUBLE)), 0) AS z
        |       FROM zh h JOIN zs s ON s.event_type = h.event_type)
        |SELECT window_start, event_type, n_events, z,
        |       COALESCE(abs(z) > 2.0, FALSE) AS anomaly
        |FROM zz ORDER BY event_type, window_start""".stripMargin,

    "evt_sessionize" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN prev_ts IS NULL
        |                OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM lagged),
        |sessions AS (
        |  SELECT user_id, event_id, ts,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        |       CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "evt_session_window" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN prev_ts IS NULL
        |                OR ts - prev_ts > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM lagged),
        |sessions AS (
        |  SELECT user_id, ts,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id,
        |       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
        |       COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "evt_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_value
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INT) > 80
        |ORDER BY event_id""".stripMargin,

    "p3_null_filter" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "f_scalar_gauntlet" ->
      """SELECT c_custkey,
        |       lower(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g')) AS norm_name,
        |       regexp_replace(c_name, chr(10), '', 'g') AS clean_name,
        |       COALESCE(c_mktsegment, 'Unknown') AS segment,
        |       COALESCE(CAST(string_split('199' || CAST(c_custkey % 10 AS VARCHAR) || '.0', '.')[1] AS INT), 0) AS norm_year,
        |       concat_ws(' ', c_mktsegment, c_name) AS full_name,
        |       string_split(c_name, ' ')[1] AS first_token
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin
  )
}
