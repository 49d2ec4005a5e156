package graft.queries

import graft.Tables
import graft.operators.Election
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Event-time analytics over the `events` table — the batch equivalents of
  * the streaming surface (SURVEY.md §2.9). Tumbling windows via
  * `date_trunc` (oracle-comparable; the streaming variant in
  * [[graft.streaming.StreamingPipelines]] uses `window()` +- watermark) and
  * gap-based sessionization via window functions.
  */
object EventQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- tumbling event-time window aggregation ----
    "event_hourly" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
        .orderBy("hour", "event_type")
    }),

    // ---- gap-based sessionization (30-min inactivity ends a session) ----
    "event_sessions" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_id")
    }),

    // ---- range join: events within the hour BEFORE each purchase, same
    // user. Equi key (user_id) bounds the shuffle; the range predicate
    // filters inside each key group, so per-key work is O(events/user ×
    // purchases/user) — bounded by per-user activity, not corpus size. ----
    "event_range_join" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      e.join(p,
          col("user_id") === col("p_user") &&
            col("ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("ts") < col("p_ts"))
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_preceding"),
          count(when(col("event_type") === "click", 1)).as("n_clicks"))
        .orderBy("purchase_id")
    }),

    // ---- as-of join (composed, per prompt preference (a)): for each
    // purchase, the latest SAME-USER event strictly before it, looking
    // back at most 1 day. The bound keeps per-key candidate volume
    // proportional to per-user daily activity; rank-1 via an Election
    // (ts DESC, event_id DESC). ----
    "event_asof" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      val prior = e.join(p,
          col("user_id") === col("p_user") &&
            col("ts") < col("p_ts") &&
            col("ts") >= col("p_ts") - expr("INTERVAL 1 DAY"))
      Election.winners(prior, Seq("purchase_id"),
          Seq(Election.desc("ts"), Election.desc("event_id")),
          Seq("event_id", "event_type", "ts"))
        .select(col("purchase_id"),
          col("event_id").as("prev_event_id"),
          col("event_type").as("prev_event_type"),
          col("ts").as("prev_ts"))
        .orderBy("purchase_id")
    }),

    // ---- JSON property extraction (SURVEY §2.8: JSON-path scalar
    // functions): pull a typed value out of the free-form props column.
    // get_json_object is a codegen'd path evaluation — no UDF, pushes
    // through the scan like any projection. ----
    "event_props" -> ((s, dir) => {
      Tables(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // ---- pivot: per-user event counts, one column per event type ----
    // Explicit pivot values pin the output schema (and skip the extra
    // distinct-values job Spark otherwise runs); Catalyst plans this as a
    // single pass of conditional partial aggregates — the oracle mirrors
    // with CASE-filtered counts.
    "event_pivot" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivot output columns: an unrestricted fill(0)
        // would also rewrite a NULL group key to 0, diverging from the
        // oracle (which preserves the NULL key)
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id")
    }),

    // ---- per-user funnel-ish stats: conditional aggregation ----
    "event_user_stats" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
          count(when(col("event_type") === "error", 1)).as("n_errors"),
          sum(when(col("event_type") === "purchase", col("value").cast(DecimalType(12, 2)))
            .otherwise(lit(0).cast(DecimalType(12, 2)))).cast(DoubleType).as("purchase_value"),
          min(col("ts")).as("first_seen"),
          max(col("ts")).as("last_seen"))
        .orderBy("user_id")
    }),

    // ---- conversion funnel: users whose FIRST view precedes their first
    // click precedes their first purchase. One partial-aggregable pass —
    // three fixed conditional-min cells per user, map-side combined, then
    // a filter on the aggregated row; no window, no self-join, no
    // per-step shuffle (the naive funnel joins events per stage). NULL
    // steps (never clicked/purchased) fail the < comparisons and drop,
    // which is the funnel semantics. ----
    "event_funnel" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .filter(col("first_view") < col("first_click") &&
          col("first_click") < col("first_purchase"))
        .orderBy("user_id")
    }),

    // ---- cohort retention: users bucketed by first-seen week ----
    // The classic product-analytics triangle: cohort = the user's first
    // active week, one output row per (cohort, week offset) counting the
    // cohort's users still active that week. The week index is pure
    // integer arithmetic — epoch-microseconds div one week — so there is
    // no week-start convention to pin across engines (Spark `div` truncates
    // toward zero, DuckDB `//` floors: identical for the positive epoch
    // range). Shapes, corpus-scale first: DISTINCT (user, week) is the one
    // corpus-scale exchange (partial-aggregable); the per-user min week
    // aggregates THAT (already user×weeks-sized), joins back on user_id,
    // and the final (cohort, offset) count is over distinct pairs — so
    // count(*) IS the distinct-user count, no count-distinct state. No
    // window anywhere.
    "event_retention" -> ((s, dir) => {
      val uw = Tables(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      uw.join(cohort, "user_id")
        .groupBy(col("cohort_wk"),
          (col("wk") - col("cohort_wk")).cast("int").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "week_offset")
    }),

    // ---- last-touch attribution: each purchase's most recent prior
    // touchpoint (click/view) by the same user. The classic conversion-
    // attribution operator: ONE window pass partitioned by user —
    // millions of partitions at scale, no funnel — with the
    // ignore-nulls LAST_VALUE over the preceding frame picking the
    // latest touch; all three touch columns ride the SAME window (one
    // sort), and the (ts, event_id) ordering is total, so the pick is
    // deterministic on both engines. A purchase with no prior touch
    // emits NULLs (organic conversion — the report's left-join
    // semantics). Microsecond integer arithmetic throughout
    // (event_sessions' epoch convention). ----
    "event_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = col("event_type").isin("click", "view")
      Tables(s, dir, "events")
        .withColumn("touch_id",
          last(when(touch, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("touch_type",
          last(when(touch, col("event_type")), ignoreNulls = true).over(w))
        .withColumn("touch_us",
          last(when(touch, unix_micros(col("ts"))), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("touch_id"), col("touch_type"),
          when(col("touch_id").isNotNull,
            unix_micros(col("ts")) - col("touch_us")).as("us_since_touch"))
        .orderBy("purchase_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "event_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "event_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM (
        |  SELECT user_id, ts, event_id,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "event_asof" ->
      (Election.winnersSql(
        "p.event_id AS purchase_id, e.event_id AS prev_event_id, e.event_type AS prev_event_type, e.ts AS prev_ts",
        """events e JOIN events p
          |  ON e.user_id = p.user_id AND p.event_type = 'purchase'
          |  AND e.ts < p.ts AND e.ts >= p.ts - INTERVAL 1 DAY""".stripMargin,
        "p.event_id", "e.ts DESC, e.event_id DESC") + " ORDER BY purchase_id"),

    "event_range_join" ->
      """SELECT p.event_id AS purchase_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_preceding,
        |  CAST(COUNT(CASE WHEN e.event_type = 'click' THEN 1 END) AS BIGINT) AS n_clicks
        |FROM events e JOIN events p
        |  ON e.user_id = p.user_id AND p.event_type = 'purchase'
        |  AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts
        |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin,

    "event_props" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "event_pivot" ->
      """SELECT user_id,
        |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "event_user_stats" ->
      """SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases,
        |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_errors,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase_value,
        |  MIN(ts) AS first_seen, MAX(ts) AS last_seen
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "event_funnel" ->
      """SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |  MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
        |  MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |FROM events GROUP BY user_id
        |HAVING first_view < first_click AND first_click < first_purchase
        |ORDER BY user_id""".stripMargin,

    "event_retention" ->
      // `//` is DuckDB's integer division (floors; identical to Spark's
      // `div` on the positive epoch range); COUNT over the DISTINCT
      // (user, week) pairs is the distinct-user count by construction
      """WITH uw AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        |            FROM events),
        |     c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY 1)
        |SELECT c.cohort_wk, CAST(uw.wk - c.cohort_wk AS INT) AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "event_attribution" ->
      """WITH a AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN event_id END
        |               IGNORE NULLS) OVER w AS touch_id,
        |    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN event_type END
        |               IGNORE NULLS) OVER w AS touch_type,
        |    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN epoch_us(ts) END
        |               IGNORE NULLS) OVER w AS touch_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS purchase_id, user_id, touch_id, touch_type,
        |  CASE WHEN touch_id IS NOT NULL THEN us - touch_us END AS us_since_touch
        |FROM a WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin
  )
}
