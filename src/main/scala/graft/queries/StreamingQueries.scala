package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}

/** §2.B streaming surface, batch-equivalent forms (the oracle-checkable
  * side; the true Structured Streaming variants live in
  * [[graft.streaming.StreamOps]] and are covered by MemoryStream smoke
  * tests — identical groupBy(window…) plans, incremental execution).
  *
  * Time axis: `events.ts` is parquet timestamp[ns]; the canonical
  * cross-engine column is `ts_us` (bigint micros, Tables.events). Window
  * starts are emitted as epoch-micros bigints — Spark's `window()` is
  * epoch-aligned, so DuckDB reproduces it with integer bucket arithmetic.
  */
object StreamingQueries {

  private val HourUs = 3600000000L
  private val DayUs = 86400000000L
  private val SlideUs = 900000000L // 15 min
  // 30 min session gap; package-visible so StreamBatchParitySpec builds its
  // streaming side from the SAME constant the batch queries use.
  private[graft] val GapUs = 1800000000L
  private val LateUs = 600000000L // 10 min watermark delay
  private val SessionGapUs = 28800000000L // 8 h batch-sessionize gap

  /** Decimal-exact sum of `value` (double) emitted as double — float sums
    * across shuffle partitions would not be deterministic (§7.5).
    */
  private def sumValue = sum(col("value").cast(DecimalType(18, 6))).cast("double")

  /** Shared composite-key dual-feed fixture of the `*_multi` keys and
    * their TVF twins: event_type NULLed on user%17==3 on BOTH feeds
    * (the null-key-part side-split class); the right feed drops user%11
    * (→D), drifts value on %5 (→C), and re-keys %13 by appending '_x' to
    * the string key part (→D+I pairs).
    */
  private def ssMultiPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
      .withColumn("event_type",
        when(col("user_id") % 17 === 3, lit(null).cast("string"))
          .otherwise(col("event_type")))
    val rsrc = ev.filter(col("user_id") % 11 =!= 0)
      .withColumn("value",
        when(col("user_id") % 5 === 0, col("value") + 1.0)
          .otherwise(col("value")))
      // `concat` nulls out on a null arg in BOTH engines (|| in DuckDB),
      // so the %13∩%17 class stays a null key part
      .withColumn("event_type",
        when(col("user_id") % 13 === 0, concat(col("event_type"), lit("_x")))
          .otherwise(col("event_type")))
    (ev, rsrc)
  }

  /** Shared oracle of stream_diff_stream_multi and its TVF twin. */
  private lazy val SsMultiCensusOracle: String =
      s"""WITH base AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id,
         |  CASE WHEN user_id % 17 = 3 THEN NULL ELSE event_type END AS event_type,
         |  value FROM events),
         |lc AS (SELECT ws, user_id, event_type, value,
         |  COALESCE(CASE WHEN isnan(value) THEN 'NaN'
         |                WHEN isinf(value) AND value > 0 THEN 'Inf'
         |                WHEN isinf(value) THEN '-Inf'
         |                ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END,
         |           '␀') AS pay
         |  FROM base),
         |lf AS (SELECT ws, user_id, event_type, CAST(count(*) AS BIGINT) AS n,
         |       max(value) AS mx,
         |       CAST(sum(('0x' || substr(sha256(pay), 1, 8))::BIGINT) AS BIGINT) AS dg1,
         |       CAST(sum(('0x' || substr(sha256(pay), 9, 8))::BIGINT) AS BIGINT) AS dg2
         |       FROM lc GROUP BY 1, 2, 3),
         |rb AS (SELECT ws, user_id,
         |         CASE WHEN user_id % 13 = 0 THEN event_type || '_x'
         |              ELSE event_type END AS event_type,
         |         CASE WHEN user_id % 5 = 0 THEN value + 1.0 ELSE value END AS value
         |       FROM base WHERE user_id % 11 <> 0),
         |rc AS (SELECT ws, user_id, event_type, value,
         |  COALESCE(CASE WHEN isnan(value) THEN 'NaN'
         |                WHEN isinf(value) AND value > 0 THEN 'Inf'
         |                WHEN isinf(value) THEN '-Inf'
         |                ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END,
         |           '␀') AS pay
         |  FROM rb),
         |rf AS (SELECT ws, user_id, event_type, CAST(count(*) AS BIGINT) AS n,
         |       max(value) AS mx,
         |       CAST(sum(('0x' || substr(sha256(pay), 1, 8))::BIGINT) AS BIGINT) AS dg1,
         |       CAST(sum(('0x' || substr(sha256(pay), 9, 8))::BIGINT) AS BIGINT) AS dg2
         |       FROM rc GROUP BY 1, 2, 3)
         |SELECT COALESCE(lf.ws, rf.ws) AS window_start_us,
         |       COALESCE(lf.user_id, rf.user_id) AS user_id,
         |       COALESCE(lf.event_type, rf.event_type) AS event_type,
         |       CASE WHEN lf.n IS NULL THEN 'I'
         |            WHEN rf.n IS NULL THEN 'D'
         |            WHEN lf.n <> rf.n OR lf.mx IS DISTINCT FROM rf.mx
         |              OR lf.dg1 <> rf.dg1 OR lf.dg2 <> rf.dg2 THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       lf.n AS left_n, rf.n AS right_n,
         |       lf.mx AS left_max, rf.mx AS right_max,
         |       CAST(lf.dg1 AS VARCHAR) || ':' || CAST(lf.dg2 AS VARCHAR) AS left_digest,
         |       CAST(rf.dg1 AS VARCHAR) || ':' || CAST(rf.dg2 AS VARCHAR) AS right_digest
         |FROM lf FULL OUTER JOIN rf
         |  ON lf.ws = rf.ws AND lf.user_id = rf.user_id
         |  AND lf.event_type = rf.event_type""".stripMargin

  /** Shared oracle of stream_diff_values_multi and its TVF twin. */
  private lazy val SsMultiLatestOracle: String =
      s"""WITH base AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id,
         |  CASE WHEN user_id % 17 = 3 THEN NULL ELSE event_type END AS event_type,
         |  epoch_us(ts) AS t, value, CAST(event_id AS DOUBLE) AS eid
         |  FROM events),
         |lr AS (SELECT ws, user_id, event_type, value, eid FROM (
         |         SELECT ws, user_id, event_type, value, eid,
         |                row_number() OVER (PARTITION BY ws, user_id, event_type
         |                  ORDER BY t DESC NULLS LAST, value DESC NULLS LAST,
         |                           eid DESC NULLS LAST) AS rn
         |         FROM base) WHERE rn = 1),
         |rb AS (SELECT ws, user_id,
         |         CASE WHEN user_id % 13 = 0 THEN event_type || '_x'
         |              ELSE event_type END AS event_type,
         |         t,
         |         CASE WHEN user_id % 5 = 0 THEN value + 1.0 ELSE value END AS value,
         |         eid
         |       FROM base WHERE user_id % 11 <> 0),
         |rr AS (SELECT ws, user_id, event_type, value, eid FROM (
         |         SELECT ws, user_id, event_type, value, eid,
         |                row_number() OVER (PARTITION BY ws, user_id, event_type
         |                  ORDER BY t DESC NULLS LAST, value DESC NULLS LAST,
         |                           eid DESC NULLS LAST) AS rn
         |         FROM rb) WHERE rn = 1)
         |SELECT COALESCE(lr.ws, rr.ws) AS window_start_us,
         |       COALESCE(lr.user_id, rr.user_id) AS user_id,
         |       COALESCE(lr.event_type, rr.event_type) AS event_type,
         |       CASE WHEN lr.ws IS NULL THEN 'I'
         |            WHEN rr.ws IS NULL THEN 'D'
         |            WHEN lr.value IS DISTINCT FROM rr.value
         |              OR lr.eid IS DISTINCT FROM rr.eid THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       lr.value AS left_value, rr.value AS right_value,
         |       lr.eid AS left_event_id, rr.eid AS right_event_id
         |FROM lr FULL OUTER JOIN rr
         |  ON lr.ws = rr.ws AND lr.user_id = rr.user_id
         |  AND lr.event_type = rr.event_type""".stripMargin

  /** Shared ordered-funnel CTE prefix: `v`/`c`/`p` are the per-user first
    * view / first click-after-view / first purchase-after-click times —
    * consumed by events_funnel (stage census) and events_funnel_time
    * (latency distribution).
    */
  private val FunnelCtes: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, min(ts_us) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts_us) AS t_click
      |      FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND e.ts_us >= v.t_view GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts_us) AS t_purchase
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND e.ts_us >= c.t_click GROUP BY 1)""".stripMargin

  /** Spark twin of [[FunnelCtes]], built ONCE per (session, dir):
    * (user_id, t_view, t_click, t_purchase) with left-join nulls for
    * users who stalled mid-funnel.
    */
  private def funnelFrame(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/funnel-frame") {
      val e = Tables.events(s, d).select("user_id", "event_type", "ts_us")
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t_view"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts_us") >= col("t_view"))
        .groupBy("user_id").agg(min("ts_us").as("t_click"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts_us") >= col("t_click"))
        .groupBy("user_id").agg(min("ts_us").as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
    }

  /** Fresh-per-call TxnLog sink tables for stream_txn_sink (pid-scoped
    * root + counter, same discipline as RelationalQueries' roundtrips).
    */
  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private lazy val sinkRoot: String =
    s"/tmp/graft-streamsink-${java.lang.ProcessHandle.current().pid()}"

  def all: Seq[Q] = Seq(
    Q("stream_tumbling",
      s"""SELECT (epoch_us(ts) // $HourUs) * $HourUs AS window_start_us, event_type,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        // The genuine streaming operator shape: groupBy(window(...)). In a
        // readStream plan this becomes stateful incremental aggregation;
        // batch and stream share the same window assignment (epoch-aligned).
        Tables.events(s, d)
          .withColumn("tsm", timestamp_micros(col("ts_us")))
          .groupBy(window(col("tsm"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
          .select(
            unix_micros(col("window.start")).as("window_start_us"),
            col("event_type"), col("n"), col("sum_value"))
    },

    Q("stream_distinct_users",
      s"""WITH e AS (SELECT (epoch_us(ts) // $HourUs) * $HourUs AS window_start_us,
         |                  user_id FROM events)
         |SELECT window_start_us,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM e GROUP BY 1""".stripMargin) {
      (s, d) =>
        // Windowed distinct-user census — the audience metric every event
        // pipeline publishes. Batch: per-window exact distinct (two-level
        // agg). Streaming twin (StreamBatchParitySpec): COUNT DISTINCT is
        // not incrementally maintainable, so the stream plans
        // dropDuplicates(user, window) inside the watermark THEN a
        // windowed count — state = live (window, user) keys, exactly the
        // stream_dedup state shape; at 100 TB horizon the HLL registers
        // (agg_hll_sketch) replace exact state per window.
        Tables.events(s, d)
          .withColumn("tsm", timestamp_micros(col("ts_us")))
          .groupBy(window(col("tsm"), "1 hour"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("n_events"), col("n_users"))
    },

    // stream_distinct_users' 100 TB horizon made concrete (r8g): per-hour
    // approximate distinct via the own-HLL aggregate. Exact windowed
    // distinct keeps one state row per LIVE (window, user) — unbounded in
    // key cardinality; the sketch keeps 4 KB of registers per window, and
    // its partial-merge IS the streaming update, so the streamed estimate
    // is bit-identical to this batch twin (StreamOps.hllDistinct, pinned
    // by StreamBatchParitySpec). Exact count rides alongside as the audit
    // column. Estimate-valued → no cross-engine oracle.
    Q.noOracle("stream_hll") { (s, d) =>
      // Shared-distinct shape (r11): countDistinct alongside the HLL in
      // one agg expands the HLL partials to (window, user) grain — a
      // register array per live user (measured 0.94 s vs 0.21 s at sf0.1;
      // per-value sketch state is the exact thing the sketch exists to
      // avoid). One distinct pass feeds both; HLL registers are
      // duplicate-insensitive so the estimate is bit-identical — and the
      // distinct-then-count shape IS the streaming twin's own plan
      // (dropDuplicates inside the watermark, then a windowed count).
      val dw = Tables.events(s, d)
        .withColumn("tsm", timestamp_micros(col("ts_us")))
        .select(window(col("tsm"), "1 hour").as("window"), col("user_id"))
        .distinct()
      val est = dw.groupBy("window")
        .agg(graft.functions.HyperLogLog.agg(col("user_id")).as("n_est"),
          count(col("user_id")).as("n_exact"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("n_est"), col("n_exact"),
          ((abs(col("n_est") - col("n_exact")) * 1000000) / col("n_exact"))
            .cast("long").as("err_ppm"))
      // In-query band (r9 ask #7): 25% relative OR ≤3 absolute — hourly
      // windows can hold a handful of users, where one register collision
      // is a large RELATIVE error but a tiny absolute one (observed max
      // 11% at sf0.01). A broken sketch blows both arms at once.
      graft.Q.requireBand(est,
        col("err_ppm") <= 250000 || abs(col("n_est") - col("n_exact")) <= 3,
        "stream_hll: windowed estimate left the 25%-or-±3 band vs exact")
    },

    Q("stream_sliding",
      s"""SELECT ((epoch_us(ts) // $SlideUs) - g.k) * $SlideUs AS window_start_us, event_type,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events, (SELECT unnest(generate_series(0, 3)) AS k) g
         |GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        // 1h window, 15m slide → each event lands in exactly 4 windows;
        // the oracle replays Spark's epoch-aligned window set via the
        // k ∈ 0..3 shifted 15-min buckets.
        Tables.events(s, d)
          .withColumn("tsm", timestamp_micros(col("ts_us")))
          .groupBy(window(col("tsm"), "1 hour", "15 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
          .select(
            unix_micros(col("window.start")).as("window_start_us"),
            col("event_type"), col("n"), col("sum_value"))
    },

    Q("stream_session",
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         |s AS (SELECT user_id, ts_us, event_id,
         |        CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
         |                  OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > $GapUs
         |             THEN 1 ELSE 0 END AS new_s
         |      FROM e),
         |g AS (SELECT user_id, ts_us,
         |        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |      FROM s)
         |SELECT user_id, session_id,
         |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
         |       CAST(count(*) AS BIGINT) AS n_events
         |FROM g GROUP BY user_id, session_id""".stripMargin) {
      (s, d) =>
        // Gap-detection sessionization (30 min): lag + running sum — the
        // ANSI-portable batch equivalent of session_window(ts, gap). One
        // shuffle on user_id serves both window passes and the final agg.
        val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        val lagTs = lag(col("ts_us"), 1).over(byUser)
        Tables.events(s, d)
          .withColumn(
            "new_s",
            when(lagTs.isNull || col("ts_us") - lagTs > GapUs, 1).otherwise(0))
          .withColumn(
            "session_id",
            sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("long"))
          .groupBy("user_id", "session_id")
          .agg(
            min(col("ts_us")).as("session_start_us"),
            max(col("ts_us")).as("session_end_us"),
            count(lit(1)).as("n_events"))
    },

    Q("stream_session_native",
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         |s AS (SELECT user_id, ts_us, event_id,
         |        CASE WHEN lag(ts_us) OVER w IS NULL
         |                  OR ts_us - lag(ts_us) OVER w >= $GapUs
         |             THEN 1 ELSE 0 END AS new_s
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |g AS (SELECT user_id, ts_us,
         |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |      FROM s)
         |SELECT user_id, min(ts_us) AS session_start_us,
         |       max(ts_us) + $GapUs AS session_end_us,
         |       CAST(count(*) AS BIGINT) AS n_events
         |FROM g GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      // The NATIVE session-window operator (stream_session is the
      // ANSI-portable manual form): groupBy(session_window(ts, gap)) — the
      // exact plan a readStream would run incrementally with state-store
      // session merging. Two semantic deltas vs the manual form, both
      // pinned by the oracle: the boundary is STRICT (events exactly `gap`
      // apart do NOT merge — the manual form merges on ==, Spark merges
      // while next.start < current.end), and session_end = last event + gap
      // (the window's half-open end), not the last event itself. One
      // user-hash shuffle; session merging is per-group state, never a
      // corpus-wide window.
      Tables.events(s, d)
        .withColumn("tsc", expr("timestamp_micros(ts_us)"))
        .groupBy(col("user_id"),
          // microsecond-exact gap: whole-second truncation here would
          // silently diverge from the oracle's $GapUs if the constant ever
          // stops being second-aligned
          session_window(col("tsc"), s"$GapUs microseconds").as("w"))
        .agg(count(lit(1)).cast("long").as("n_events"))
        .select(col("user_id"),
          expr("unix_micros(w.start)").as("session_start_us"),
          expr("unix_micros(w.end)").as("session_end_us"),
          col("n_events"))
    },

    Q("stream_late_data",
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |                  json_extract(props, '$$.k')::BIGINT AS arrival_k
         |           FROM events),
         |w AS (SELECT user_id, event_id, ts_us,
         |        max(ts_us) OVER (PARTITION BY user_id ORDER BY arrival_k, event_id
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_seen
         |      FROM e)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(CASE WHEN ts_us < max_seen - $LateUs THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         |       max(ts_us) AS max_ts_us
         |FROM w GROUP BY user_id""".stripMargin) {
      (s, d) =>
        // Watermark semantics in batch form: replay events in a
        // deterministic shuffled arrival order (the JSON props.k field —
        // event-time ts is monotone in event_id, so event_id order would
        // have zero lateness), track max-seen event time per user, and
        // count rows older than max_seen - 10min: exactly the rows a
        // 10-min watermark would drop. First-arrival rows have NULL
        // max_seen → never late (matches streaming: watermark starts at
        // -inf).
        val byArrival = Window.partitionBy("user_id")
          .orderBy(col("arrival_k"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("arrival_k", get_json_object(col("props"), "$.k").cast("long"))
          .withColumn("max_seen", max(col("ts_us")).over(byArrival))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_events"),
            sum(when(col("ts_us") < col("max_seen") - LateUs, 1).otherwise(0))
              .cast("long").as("n_late"),
            max(col("ts_us")).as("max_ts_us"))
    },

    // Watermark-closed windowed diff (r12; closes the r11 verdict's ask
    // #5): the one diff status the append-mode stream_diff deliberately
    // omits is D — a plain stream can never assert absence. A closed
    // event-time WINDOW can: once the watermark passes a window's end, a
    // snapshot key with no arrival in it is a certified per-window
    // deletion (the missing-heartbeat / feed-completeness check every
    // ingest monitor runs). Fixture: daily windows over events keyed by
    // user; snapshot = day-1 per-user event counts MINUS user_id%7==0
    // (a deliberately incomplete snapshot, so I rows exist); every later
    // observed window diffs against it — I (user not in snapshot),
    // C (count drifted), N (count matches), D (expected user silent).
    // Windows with no events at all emit nothing on BOTH forms (true
    // empty-window detection is a heartbeat policy, not a diff
    // semantic). The true streaming twin is StreamOps.diffStreamComplete
    // (flatMapGroupsWithState keyed by window, event-time timeout at
    // window end — emit-once-then-evict), parity-pinned INCLUDING the
    // watermark-flush rows in StreamBatchParitySpec. 100 TB shape: the
    // census agg is map-side combinable; the expected frame is
    // windows × snapshot with the snapshot broadcast (dimension-sized by
    // contract — expected feeds/sensors); the only data-sized exchange is
    // the (window, key) agg + full-outer join, both on the same key.
    Q("stream_diff_complete",
      s"""WITH w AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id,
         |                  CAST(count(*) AS BIGINT) AS n
         |           FROM events GROUP BY 1, 2),
         |f AS (SELECT min(ws) AS ws0 FROM w),
         |snap AS (SELECT user_id, n AS left_n FROM w, f
         |         WHERE ws = ws0 AND user_id % 7 <> 0),
         |seen AS (SELECT ws, user_id, n AS right_n FROM w, f WHERE ws > f.ws0),
         |wins AS (SELECT DISTINCT ws FROM seen),
         |exp AS (SELECT wins.ws, snap.user_id, snap.left_n
         |        FROM wins CROSS JOIN snap)
         |SELECT COALESCE(exp.ws, seen.ws) AS window_start_us,
         |       COALESCE(exp.user_id, seen.user_id) AS user_id,
         |       CASE WHEN exp.user_id IS NULL THEN 'I'
         |            WHEN seen.user_id IS NULL THEN 'D'
         |            WHEN exp.left_n <> seen.right_n THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       exp.left_n AS left_n, seen.right_n AS right_n
         |FROM exp FULL OUTER JOIN seen
         |  ON exp.ws = seen.ws AND exp.user_id = seen.user_id""".stripMargin) {
      (s, d) =>
        // Shared daily (window, user) census — the one aggregation pass
        // all four legs (snapshot, seen, window list, join) read.
        val w = Tables.cached(s, s"$d/events-daily-census") {
          Tables.events(s, d)
            .withColumn("tsm", timestamp_micros(col("ts_us")))
            .groupBy(window(col("tsm"), "1 day"), col("user_id"))
            .agg(count(lit(1)).as("n"))
            .select(unix_micros(col("window.start")).as("ws"),
              col("user_id"), col("n"))
        }
        val w0 = w.agg(min("ws").as("ws0"))
        val snap = w.join(broadcast(w0), col("ws") === col("ws0"))
          .filter(col("user_id") % 7 =!= 0)
          .select(col("user_id"), col("n").as("left_n"))
        val seen = w.join(broadcast(w0), col("ws") > col("ws0"))
          .select(col("ws"), col("user_id"), col("n").as("right_n"))
        val wins = seen.select("ws").distinct()
        val expected = wins.crossJoin(broadcast(snap))
        expected.join(seen, Seq("ws", "user_id"), "full_outer")
          .select(col("ws").as("window_start_us"), col("user_id"),
            when(col("left_n").isNull, "I")
              .when(col("right_n").isNull, "D")
              .when(col("left_n") =!= col("right_n"), "C")
              .otherwise("N").as("diff_status"),
            col("left_n"), col("right_n"))
    },

    // Stream-STREAM keyed census diff: per daily window per user, each
    // feed folds to (count, max value, content digest), all
    // order-independent, and the closed window certifies I (right only),
    // D (left only), C (count, max or digest drifted) or N. The digest is
    // two exact BIGINT sums of per-event 32-bit sha-256 slices over the
    // canonical FULL payload (value at DECIMAL(18,6) + event_type,
    // U+001F-joined, NULL=U+2400 — StreamOps.payloadCanon; DuckDB
    // recomputes it verbatim), so compensating sub-max drift cannot
    // certify N. Fixture: left = events; right = events minus user%11
    // (→D), value+1.0 on user%5 (→C by max+digest), event_type REVERSED on
    // user%7==3 (→C by DIGEST ONLY: count and max untouched — pinned
    // non-vacuous in StreamBatchParitySpec), re-keyed +100000 copies of
    // user%13 (→I). The live twin is StreamOps.diffStreamStream, pinned
    // row for row against this key in StreamBatchParitySpec, watermark-
    // flushed D rows included. Plan: two map-side-combinable
    // (window, key) aggs meeting in one full-outer exchange.
    Q("stream_diff_stream",
      s"""WITH lc AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id, value,
         |  concat_ws(chr(31),
         |    COALESCE(CASE WHEN isnan(value) THEN 'NaN'
         |                  WHEN isinf(value) AND value > 0 THEN 'Inf'
         |                  WHEN isinf(value) THEN '-Inf'
         |                  ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END, '␀'),
         |    COALESCE(event_type, '␀')) AS pay
         |  FROM events),
         |lf AS (SELECT ws, user_id, CAST(count(*) AS BIGINT) AS n, max(value) AS mx,
         |       CAST(sum(('0x' || substr(sha256(pay), 1, 8))::BIGINT) AS BIGINT) AS dg1,
         |       CAST(sum(('0x' || substr(sha256(pay), 9, 8))::BIGINT) AS BIGINT) AS dg2
         |       FROM lc GROUP BY 1, 2),
         |rsrc AS (
         |  SELECT user_id, ts,
         |         CASE WHEN user_id % 5 = 0 THEN value + 1.0 ELSE value END AS value,
         |         CASE WHEN user_id % 7 = 3 THEN reverse(event_type)
         |              ELSE event_type END AS event_type
         |  FROM events WHERE user_id % 11 <> 0
         |  UNION ALL
         |  SELECT user_id + 100000, ts, value, event_type
         |  FROM events WHERE user_id % 13 = 0),
         |rc AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id, value,
         |  concat_ws(chr(31),
         |    COALESCE(CASE WHEN isnan(value) THEN 'NaN'
         |                  WHEN isinf(value) AND value > 0 THEN 'Inf'
         |                  WHEN isinf(value) THEN '-Inf'
         |                  ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END, '␀'),
         |    COALESCE(event_type, '␀')) AS pay
         |  FROM rsrc),
         |rf AS (SELECT ws, user_id, CAST(count(*) AS BIGINT) AS n, max(value) AS mx,
         |       CAST(sum(('0x' || substr(sha256(pay), 1, 8))::BIGINT) AS BIGINT) AS dg1,
         |       CAST(sum(('0x' || substr(sha256(pay), 9, 8))::BIGINT) AS BIGINT) AS dg2
         |       FROM rc GROUP BY 1, 2)
         |SELECT COALESCE(lf.ws, rf.ws) AS window_start_us,
         |       COALESCE(lf.user_id, rf.user_id) AS user_id,
         |       CASE WHEN lf.n IS NULL THEN 'I'
         |            WHEN rf.n IS NULL THEN 'D'
         |            WHEN lf.n <> rf.n OR lf.mx IS DISTINCT FROM rf.mx
         |              OR lf.dg1 <> rf.dg1 OR lf.dg2 <> rf.dg2 THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       lf.n AS left_n, rf.n AS right_n,
         |       lf.mx AS left_max, rf.mx AS right_max,
         |       CAST(lf.dg1 AS VARCHAR) || ':' || CAST(lf.dg2 AS VARCHAR) AS left_digest,
         |       CAST(rf.dg1 AS VARCHAR) || ':' || CAST(rf.dg2 AS VARCHAR) AS right_digest
         |FROM lf FULL OUTER JOIN rf
         |  ON lf.ws = rf.ws AND lf.user_id = rf.user_id""".stripMargin) {
      (s, d) =>
        // ONE body serves this oracle-checked key, the historical-
        // reconciliation API (StreamOps.diffStreamStreamBatch), and the
        // property-model pin (StreamCensusPropSpec).
        val ev = Tables.events(s, d)
        val rsrc = ev.filter(col("user_id") % 11 =!= 0)
          .withColumn("value",
            when(col("user_id") % 5 === 0, col("value") + 1.0)
              .otherwise(col("value")))
          .withColumn("event_type",
            when(col("user_id") % 7 === 3, reverse(col("event_type")))
              .otherwise(col("event_type")))
          .unionByName(ev.filter(col("user_id") % 13 === 0)
            .withColumn("user_id", col("user_id") + 100000L))
        graft.streaming.StreamOps.diffStreamStreamBatch(
          ev, rsrc, "ts_us", "user_id", Seq("value", "event_type"), DayUs)
    },

    // Latest-VALUE stream-stream diff, the CDC last-write-wins sibling of
    // stream_diff_stream: per (window, key) each feed reduces to its
    // LATEST observation — greatest (ts, value, event_id), the payload
    // tie-break making equal-timestamp races deterministic in both
    // engines — and the status compares the two final payloads per
    // column null-safely ("did both sinks END the window agreeing?" where
    // the census asks "did they SEE the same traffic?"). Fixture as
    // stream_diff_stream's value leg: %11 drop → D, %5 value drift → C,
    // %13 re-keys → I; event_id rides as the second payload column (never
    // perturbed — it widens the compare and the tie-break). Live twin:
    // StreamOps.diffStreamStreamLatest, parity-pinned incl. D rows. Plan:
    // greatest-(ts, v…) is a map-side-combinable struct MAX — no
    // row_number over raw traffic (PlanSpec pins a window-free plan) —
    // meeting in one full-outer on the same (window, key).
    Q("stream_diff_values",
      s"""WITH le AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id,
         |                   epoch_us(ts) AS t, value,
         |                   CAST(event_id AS DOUBLE) AS eid FROM events),
         |lr AS (SELECT ws, user_id, value, eid FROM (
         |         SELECT ws, user_id, value, eid,
         |                row_number() OVER (PARTITION BY ws, user_id
         |                  ORDER BY t DESC, value DESC NULLS LAST,
         |                           eid DESC NULLS LAST) AS rn
         |         FROM le) WHERE rn = 1),
         |rsrc AS (
         |  SELECT user_id, ts, event_id,
         |         CASE WHEN user_id % 5 = 0 THEN value + 1.0 ELSE value END AS value
         |  FROM events WHERE user_id % 11 <> 0
         |  UNION ALL
         |  SELECT user_id + 100000, ts, event_id, value
         |  FROM events WHERE user_id % 13 = 0),
         |re AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id,
         |              epoch_us(ts) AS t, value,
         |              CAST(event_id AS DOUBLE) AS eid FROM rsrc),
         |rr AS (SELECT ws, user_id, value, eid FROM (
         |         SELECT ws, user_id, value, eid,
         |                row_number() OVER (PARTITION BY ws, user_id
         |                  ORDER BY t DESC, value DESC NULLS LAST,
         |                           eid DESC NULLS LAST) AS rn
         |         FROM re) WHERE rn = 1)
         |SELECT COALESCE(lr.ws, rr.ws) AS window_start_us,
         |       COALESCE(lr.user_id, rr.user_id) AS user_id,
         |       CASE WHEN lr.ws IS NULL THEN 'I'
         |            WHEN rr.ws IS NULL THEN 'D'
         |            WHEN lr.value IS DISTINCT FROM rr.value
         |              OR lr.eid IS DISTINCT FROM rr.eid THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       lr.value AS left_value, rr.value AS right_value,
         |       lr.eid AS left_event_id, rr.eid AS right_event_id
         |FROM lr FULL OUTER JOIN rr
         |  ON lr.ws = rr.ws AND lr.user_id = rr.user_id""".stripMargin) {
      (s, d) =>
        // ONE body serves this key, the historical API
        // (StreamOps.diffStreamStreamLatestBatch), and the property-model
        // pin — greatest-(ts, v…) as ONE struct max: map-side combinable,
        // no per-group row buffer, no window; the oracle's row_number
        // picks the identical row because struct order == (t DESC, v DESC
        // NULLS LAST, eid DESC NULLS LAST) pick-first.
        val ev = Tables.events(s, d)
        val rsrc = ev.filter(col("user_id") % 11 =!= 0)
          .withColumn("value",
            when(col("user_id") % 5 === 0, col("value") + 1.0)
              .otherwise(col("value")))
          .unionByName(ev.filter(col("user_id") % 13 === 0)
            .withColumn("user_id", col("user_id") + 100000L))
        graft.streaming.StreamOps.diffStreamStreamLatestBatch(
          ev, rsrc, "ts_us", "user_id", Seq("value", "event_id"), DayUs)
    },

    // COMPOSITE + STRING keys for the stream-stream census: row identity
    // = (user_id, event_type), the batch differ's diff_composite_key
    // contract, with a STRING key column. Fixture (ssMultiPair): a key
    // tuple with a null part never pairs under `=`, so each side's
    // null-part census is its own D/I row; the %13 '_x' re-key moves
    // traffic between composite identities (D+I pairs). Live twin:
    // StreamOps.diffStreamStreamKeyed (parity in StreamBatchParitySpec,
    // tuple-key model in StreamCensusPropSpec). Plan: the composite key
    // hashes through ONE exchange as a tuple — two map-side-combinable
    // (window, keys) aggs into one full-outer.
    Q("stream_diff_stream_multi", SsMultiCensusOracle) {
      (s, d) =>
        val (ev, rsrc) = ssMultiPair(s, d)
        graft.streaming.StreamOps.diffStreamStreamBatchKeyed(
          ev, rsrc, "ts_us", Seq("user_id", "event_type"), Seq("value"), DayUs)
    },

    // Composite-key LATEST-value diff: stream_diff_values on the
    // (user_id, event_type) tuple of stream_diff_stream_multi's fixture.
    // Per closed (window, user, type) each feed reduces to its latest
    // (ts, value, event_id) observation and the status compares the final
    // payloads per column null-safely. Live twin:
    // StreamOps.diffStreamStreamLatestKeyed. Plan: one struct-MAX per side
    // into one full-outer on (window, user_id, event_type).
    Q("stream_diff_values_multi", SsMultiLatestOracle) {
      (s, d) =>
        val (ev, rsrc) = ssMultiPair(s, d)
        graft.streaming.StreamOps.diffStreamStreamLatestBatchKeyed(
          ev, rsrc, "ts_us", Seq("user_id", "event_type"),
          Seq("value", "event_id"), DayUs)
    },

    // ANY-TYPE payload for the latest-value diff: last-write-wins over
    // string/struct CDC rows, which the numeric form refuses. The payload
    // is (value, event_type); the status compares each side's final
    // CANONICAL PAYLOAD STRING (doubles at DECIMAL(18,6) grain, NULL =
    // U+2400, fields on U+001F), and the numeric columns still display as
    // doubles. Fixture: %11 drop → D, %5 value drift → C, %13 re-key → I,
    // and event_type REVERSED on user%7==3 with the value untouched: a
    // doubles-only compare reads N there, the canonical payload reads C
    // (pinned non-vacuous in StreamBatchParitySpec). Latest pick =
    // greatest (ts, payload, display) with the payload in UTF-8 byte
    // order, identical in the live fold, the batch struct-max and
    // DuckDB's memcmp. Live twin: StreamOps.diffStreamStreamLatestAny.
    Q("stream_diff_values_any",
      s"""WITH le AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id,
         |  epoch_us(ts) AS t, value, event_type,
         |  concat_ws(chr(31),
         |    COALESCE(CASE WHEN isnan(value) THEN 'NaN'
         |                  WHEN isinf(value) AND value > 0 THEN 'Inf'
         |                  WHEN isinf(value) THEN '-Inf'
         |                  ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END, '␀'),
         |    COALESCE(event_type, '␀')) AS pay
         |  FROM events),
         |lr AS (SELECT ws, user_id, pay, value, event_type FROM (
         |         SELECT ws, user_id, pay, value, event_type,
         |                row_number() OVER (PARTITION BY ws, user_id
         |                  ORDER BY t DESC NULLS LAST, pay DESC,
         |                           value DESC NULLS LAST) AS rn
         |         FROM le) WHERE rn = 1),
         |rsrc AS (
         |  SELECT user_id, ts,
         |         CASE WHEN user_id % 5 = 0 THEN value + 1.0 ELSE value END AS value,
         |         CASE WHEN user_id % 7 = 3 THEN reverse(event_type)
         |              ELSE event_type END AS event_type
         |  FROM events WHERE user_id % 11 <> 0
         |  UNION ALL
         |  SELECT user_id + 100000, ts, value, event_type
         |  FROM events WHERE user_id % 13 = 0),
         |re AS (SELECT (epoch_us(ts) // $DayUs) * $DayUs AS ws, user_id,
         |  epoch_us(ts) AS t, value, event_type,
         |  concat_ws(chr(31),
         |    COALESCE(CASE WHEN isnan(value) THEN 'NaN'
         |                  WHEN isinf(value) AND value > 0 THEN 'Inf'
         |                  WHEN isinf(value) THEN '-Inf'
         |                  ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END, '␀'),
         |    COALESCE(event_type, '␀')) AS pay
         |  FROM rsrc),
         |rr AS (SELECT ws, user_id, pay, value, event_type FROM (
         |         SELECT ws, user_id, pay, value, event_type,
         |                row_number() OVER (PARTITION BY ws, user_id
         |                  ORDER BY t DESC NULLS LAST, pay DESC,
         |                           value DESC NULLS LAST) AS rn
         |         FROM re) WHERE rn = 1)
         |SELECT COALESCE(lr.ws, rr.ws) AS window_start_us,
         |       COALESCE(lr.user_id, rr.user_id) AS user_id,
         |       CASE WHEN lr.ws IS NULL THEN 'I'
         |            WHEN rr.ws IS NULL THEN 'D'
         |            WHEN lr.pay <> rr.pay THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       lr.pay AS left_payload, rr.pay AS right_payload,
         |       lr.value AS left_value, rr.value AS right_value,
         |       lr.event_type AS left_event_type,
         |       rr.event_type AS right_event_type
         |FROM lr FULL OUTER JOIN rr
         |  ON lr.ws = rr.ws AND lr.user_id = rr.user_id""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val rsrc = ev.filter(col("user_id") % 11 =!= 0)
          .withColumn("value",
            when(col("user_id") % 5 === 0, col("value") + 1.0)
              .otherwise(col("value")))
          .withColumn("event_type",
            when(col("user_id") % 7 === 3, reverse(col("event_type")))
              .otherwise(col("event_type")))
          .unionByName(ev.filter(col("user_id") % 13 === 0)
            .withColumn("user_id", col("user_id") + 100000L))
        graft.streaming.StreamOps.diffStreamStreamLatestAnyBatch(
          ev, rsrc, "ts_us", Seq("user_id"), Seq("value", "event_type"), DayUs)
    },

    // Stream-stream census from SQL: `SELECT * FROM
    // graft_diff_streams('l', 'r', 'ts_us', 'user_id,event_type',
    // 'value', <width>)` — the keyed batch twin reachable with zero
    // Scala, for the backfill-reconciliation question ("re-run last
    // month's replica check") asked from a SQL console. Same fixture
    // views and the SAME oracle as stream_diff_stream_multi — the TVF
    // must be plan-equivalent to the API call (ExtensionsSpec pins it);
    // width is an integral literal by construction (it IS the window
    // assignment).
    Q("sql_diff_stream_tvf", SsMultiCensusOracle) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        val (ev, rsrc) = ssMultiPair(s, d)
        ev.createOrReplaceTempView("gss_multi_l")
        rsrc.createOrReplaceTempView("gss_multi_r")
        s.sql("SELECT * FROM graft_diff_streams('gss_multi_l', " +
          s"'gss_multi_r', 'ts_us', 'user_id,event_type', 'value', $DayUs)")
    },

    // Last-write-wins stream-stream diff from SQL:
    // `graft_diff_streams_latest(...)`; `payload => 'any'` selects the
    // canonical-payload any-type form (pinned in ExtensionsSpec). Same
    // fixture views and oracle as stream_diff_values_multi.
    Q("sql_diff_stream_values_tvf", SsMultiLatestOracle) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        val (ev, rsrc) = ssMultiPair(s, d)
        ev.createOrReplaceTempView("gss_multi_l")
        rsrc.createOrReplaceTempView("gss_multi_r")
        s.sql("SELECT * FROM graft_diff_streams_latest('gss_multi_l', " +
          s"'gss_multi_r', 'ts_us', 'user_id,event_type', 'value,event_id', $DayUs)")
    },

    // Continuous-ingest CONTENT dedup vs the persisted corpus (r12) —
    // dedup_delta's streaming sibling at content grain: arriving docs
    // fingerprint (sha-256 of utf-8 text), drop if the fingerprint is in
    // the historical set, dedup within the stream, emit each NOVEL
    // fingerprint once — the feed a continuous crawler publishes. Fixture:
    // re-sends of the %13 docs (historical content — all dropped) plus
    // %23 docs with genuinely new text (the novel set). ONE body serves
    // this batch key and the readStream pipeline
    // (StreamOps.dedupDeltaStream: stateless stream-static anti join —
    // history is the build side — THEN the in-stream dedup, so state is
    // one row per novel fingerprint, bounded by novelty rate, not
    // arrival rate); StreamBatchParitySpec pins set equality.
    Q("stream_dedup_delta",
      """WITH arr AS (
        |  SELECT doc_id + 3000000 AS arr_id, text FROM documents
        |  WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' zzfresh' FROM documents
        |  WHERE doc_id % 23 = 0),
        |hist AS (SELECT DISTINCT sha256(text) AS h FROM documents)
        |SELECT DISTINCT sha256(text) AS h FROM arr
        |WHERE sha256(text) NOT IN (SELECT h FROM hist)""".stripMargin) {
      (s, d) =>
        val docs = Tables.cachedTable(s, d, "documents")
        val arr = docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 3000000L).as("arr_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 23 === 0)
            .select((col("doc_id") + 2000000L).as("arr_id"),
              concat(col("text"), lit(" zzfresh")).as("text")))
        val hist = docs
          .select(sha2(col("text").cast("binary"), 256).as("h")).distinct()
        graft.streaming.StreamOps.dedupDeltaStream(arr, "text", hist)
    },

    Q("stream_dedup",
      """SELECT DISTINCT user_id, event_type,
        |       (epoch_us(ts) // 60000000) * 60000000 AS minute_us
        |FROM events""".stripMargin) {
      (s, d) =>
        // Batch-equivalent of StreamOps.dedupStream (dropDuplicates
        // WithinWatermark): collapse to at most one event per
        // (user, type, minute). Emitting only the dedup key makes the
        // result arrival-order-independent — exactly the set semantics the
        // streaming operator guarantees within its watermark. One
        // key-hash shuffle with map-side partial dedup; at 100 TB state
        // is the live key set inside the watermark horizon, not history.
        Tables.events(s, d)
          .withColumn("minute_us", expr("(ts_us div 60000000) * 60000000"))
          .dropDuplicates("user_id", "event_type", "minute_us")
          .select("user_id", "event_type", "minute_us")
    },

    // Exactly-once streaming sink into the transactional table (r8): the
    // foreachBatch + TxnLog integration — micro-batch N commits as table
    // version N, so a REPLAYED batch id (crash between "sink ran" and
    // "offsets committed", Spark's documented at-least-once foreachBatch
    // contract) is a structural no-op. The query drives the sink function
    // through a deterministic 3-micro-batch schedule (event_id % 3) AND
    // REPLAYS batch 1; the oracle is the plain batch aggregate of events
    // — if the replay double-committed, every batch-1 count/sum doubles
    // and the hash flips. True-streaming twin (MemoryStream + foreachBatch
    // + checkpoint) is pinned in StreamBatchParitySpec; snapshot isolation
    // means readers never see a half-written micro-batch and time travel
    // reproduces any stream prefix.
    Q("stream_txn_sink",
      """WITH e AS (SELECT event_type, value FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.StreamOps
      val table = s"$sinkRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/t${sinkSeq.incrementAndGet()}"
      val sink = StreamOps.txnLogSink(table)
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "ts_us", "event_type", "value")
      (0L to 2L).foreach(b => sink(ev.filter(col("event_id") % 3 === b), b))
      sink(ev.filter(col("event_id") % 3 === 1), 1L) // crash-replay: no-op
      graft.sources.TxnLog.read(s, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
    },

    // Exactly-once streaming CDC UPSERT into the transactional table (r8):
    // the composite a production pipeline actually runs — base snapshot at
    // version 0, then each micro-batch of change rows MERGES
    // file-granularly (stat-pruned copy-on-write) as version batchId + 1.
    // The query applies two deterministic change batches (price bump on
    // %31 keys; then %41 re-price + %89 new keys) and REPLAYS batch 0;
    // a replayed id is a structural no-op, so the oracle — the closed-form
    // merged end state over raw orders, last-writer-wins per key — flips
    // if replay double-applies or the merge loses an untouched file. The
    // table IS the streaming state: readers time-travel to any batch with
    // snapshot isolation.
    Q("stream_txn_merge",
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 41 = 0 THEN o_totalprice * 0.9
        |              WHEN o_orderkey % 31 = 0 THEN o_totalprice * 1.1
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      import graft.streaming.StreamOps
      val orders = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val table = s"$sinkRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/m${sinkSeq.incrementAndGet()}"
      TxnLog.initKeyed(orders, table, "o_orderkey")
      val sink = StreamOps.txnLogMergeSink(table, "o_orderkey")
      val b0 = orders.filter(col("o_orderkey") % 31 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      val b1 = orders.filter(col("o_orderkey") % 41 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 0.9)
        .unionByName(orders.filter(col("o_orderkey") % 89 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      sink(b0, 0L)
      sink(b1, 1L)
      sink(b0, 0L) // crash-replayed micro-batch: structural no-op
      TxnLog.read(s, table)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(27,6)")).cast("double")
            .as("sum_price"))
    },

    // GENUINE file-source streaming ingest (r9) — the production landing
    // pattern every other stream_* key assumes: a directory of JSON part
    // files read with readStream (explicit schema — no inference scan),
    // maxFilesPerTrigger=1 forcing one micro-batch PER FILE (the
    // backfill/catch-up sequencing), Trigger.AvailableNow draining to a
    // terminal checkpoint, append sink. file_seq is derived from the
    // deterministic file assignment (key % 3 picks the part file), so the
    // oracle proves every file's rows arrived exactly once — a file
    // skipped, double-read, or mangled by the multi-batch replay flips
    // the hash. At 100 TB this is the S3-landing→Bronze hop; the memory
    // sink stands in for the transactional one stream_txn_sink already
    // gates.
    Q("stream_file_ingest",
      """SELECT r_regionkey, r_name,
        |       CAST(r_regionkey % 3 AS BIGINT) AS file_seq
        |FROM region""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      val seq = sinkSeq.incrementAndGet()
      val dir = s"$sinkRoot/file-ingest/${d.replaceAll("[^A-Za-z0-9]", "_")}/i$seq"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val rows = Tables.cachedTable(s, d, "region")
        .select("r_regionkey", "r_name").collect() // region: 5 rows, fixture-sized
      (0 to 2).foreach { f =>
        val lines = rows.filter(_.getInt(0) % 3 == f)
          .map(r => s"""{"r_regionkey": ${r.getInt(0)}, "r_name": "${r.getString(1)}"}""")
          .sorted
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"part-$f.json"),
          lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
      val name = s"file_ingest_$seq"
      val sq = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .json(dir)
        .withColumn("file_seq", (col("r_regionkey") % 3).cast("long"))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      s.table(name)
    },

    Q("stream_changelog",
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |                  epoch_us(ts) AS ts_us FROM events)
        |SELECT user_id, event_type, value AS latest_value,
        |       ts_us AS latest_ts_us, event_id AS latest_event_id
        |FROM e
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |          ORDER BY ts_us DESC, event_id DESC) = 1""".stripMargin) {
      (s, d) =>
        // Changelog compaction: the current row per (user, type) under the
        // total order (ts, event_id) — the batch materialization of what
        // StreamOps.applyCdcStream maintains incrementally (its
        // mapGroupsWithState parity with Differ.applyChangeset is pinned
        // in StreamingSmokeSpec). ONE key-partitioned window over a
        // high-cardinality key — no funnel; at 100 TB this is the
        // compaction job a CDC lake runs to collapse day-files, and the
        // same single shuffle a groupBy max_by would plan.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("ts_us"))
          .withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1)
          .select(col("user_id"), col("event_type"),
            col("value").as("latest_value"), col("ts_us").as("latest_ts_us"),
            col("event_id").as("latest_event_id"))
    },

    Q("stream_join",
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS (SELECT event_id AS view_id, user_id, ts_us AS t_view_us FROM e
        |      WHERE event_type = 'view'),
        |c AS (SELECT event_id AS click_id, user_id, ts_us AS t_click_us FROM e
        |      WHERE event_type = 'click')
        |SELECT v.user_id, view_id, t_view_us, click_id,
        |       t_click_us - t_view_us AS delta_us
        |FROM v JOIN c ON v.user_id = c.user_id
        | AND c.t_click_us >= v.t_view_us
        | AND c.t_click_us <= v.t_view_us + 600000000""".stripMargin) {
      (s, d) =>
        // Batch-equivalent of StreamOps.intervalJoin: views matched to
        // same-user clicks within [t_view, t_view + 10 min] — the
        // stream-stream interval-join shape whose time bound is what lets
        // streaming state expire. In batch it is ONE user-keyed equi-join
        // with a sargable range filter (never a time-theta cartesian);
        // both sides prune to (id, user, ts) before the shuffle.
        val e = Tables.events(s, d).select("event_id", "user_id", "event_type", "ts_us")
        val v = e.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"),
            col("ts_us").as("t_view_us"))
        val c = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts_us").as("t_click_us"))
        v.join(c, Seq("user_id"))
          .filter(col("t_click_us") >= col("t_view_us") &&
            col("t_click_us") <= col("t_view_us") + 600000000L)
          .select(col("user_id"), col("view_id"), col("t_view_us"),
            col("click_id"), (col("t_click_us") - col("t_view_us")).as("delta_us"))
    },

    // LEFT OUTER interval join (r8b) — the funnel question stream_join's
    // inner form cannot answer: which views got NO click within their 10
    // minutes (the unconverted rows ARE the product — abandonment
    // analytics). In batch it is one left-outer with the range bounds in
    // the ON clause (a post-filter would silently delete the NULL rows —
    // the classic outer-join bug the oracle would catch). The streaming
    // twin is real: StreamOps.intervalJoin(joinType = leftOuter), where
    // NULL rows legally emit only after the watermark passes the view's
    // window — StreamBatchParitySpec forces the horizon with a flush
    // event and pins stream == batch exactly.
    Q("stream_join_outer",
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS (SELECT event_id AS view_id, user_id, ts_us AS t_view_us FROM e
        |      WHERE event_type = 'view'),
        |c AS (SELECT event_id AS click_id, user_id, ts_us AS t_click_us FROM e
        |      WHERE event_type = 'click')
        |SELECT v.user_id, view_id, t_view_us, click_id,
        |       t_click_us - t_view_us AS delta_us
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        | AND c.t_click_us >= v.t_view_us
        | AND c.t_click_us <= v.t_view_us + 600000000""".stripMargin) {
      (s, d) =>
        val e = Tables.events(s, d).select("event_id", "user_id", "event_type", "ts_us")
        val v = e.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"),
            col("ts_us").as("t_view_us"))
        val c = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user_id"), col("ts_us").as("t_click_us"))
        v.join(c,
            col("user_id") === col("c_user_id") &&
              col("t_click_us") >= col("t_view_us") &&
              col("t_click_us") <= col("t_view_us") + 600000000L,
            "left_outer")
          .select(col("user_id"), col("view_id"), col("t_view_us"),
            col("click_id"), (col("t_click_us") - col("t_view_us")).as("delta_us"))
    },

    Q("events_resample",
      s"""WITH e AS (SELECT user_id, (epoch_us(ts) // $HourUs) * $HourUs AS hour_us, value
         |           FROM events),
         |a AS (SELECT user_id, hour_us, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |      FROM e GROUP BY 1, 2),
         |s AS (SELECT user_id, min(hour_us) AS h0, max(hour_us) AS h1 FROM e GROUP BY 1),
         |g AS (SELECT user_id, unnest(generate_series(h0, h1, $HourUs)) AS hour_us FROM s)
         |SELECT g.user_id, g.hour_us, coalesce(a.n, 0) AS n, a.sum_value,
         |       last_value(a.sum_value IGNORE NULLS) OVER (
         |         PARTITION BY g.user_id ORDER BY g.hour_us
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
         |FROM g LEFT JOIN a USING (user_id, hour_us)""".stripMargin) {
      (s, d) =>
        // Time-series resample onto a fixed hourly grid with
        // last-observation-carried-forward gap fill — the missing-bucket
        // complement of the window queries (aggregation alone emits no row
        // for an empty hour). Grid bounds are per-user (bounded explode:
        // span/hour rows per user, never global-min to global-max for
        // every user); the value sum is the house decimal-exact double;
        // the LOCF window partitions by user over the unique hour key, so
        // fill is deterministic. At 100 TB: grid explode and fill both
        // stay inside one user-hash shuffle; no driver-side calendar.
        val grid = Tables.events(s, d)
          .withColumn("hour_us", expr(s"(ts_us div $HourUs) * $HourUs"))
        val agg = grid.groupBy("user_id", "hour_us")
          .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
        val span = grid.groupBy("user_id")
          .agg(min("hour_us").as("h0"), max("hour_us").as("h1"))
        val w = Window.partitionBy("user_id").orderBy("hour_us")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        span.select(col("user_id"),
            explode(sequence(col("h0"), col("h1"), lit(HourUs))).as("hour_us"))
          .join(agg, Seq("user_id", "hour_us"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .withColumn("filled_value",
            last(col("sum_value"), ignoreNulls = true).over(w))
    },

    // Linear gap interpolation (r8g): events_resample's LOCF holds the
    // last value flat through a gap; sensor/finance series want the
    // LINE between the neighbors instead (pandas interpolate('linear')).
    // Windows only — prev/next observed (value, time) via IGNORE-NULLS
    // frames in both directions, then one closed-form lerp per gap row:
    // pv + (nv−pv)·(t−pt)/(nt−pt). All inputs are exact (epoch-µs grid
    // ints < 2^53, decimal-exact value sums), the lerp is one identical
    // IEEE tree in both engines; edges beyond the first/last observation
    // fall back to the nearest observed value. Same single user-keyed
    // exchange as the resample.
    Q("window_interpolate",
      s"""WITH e AS (SELECT user_id, (epoch_us(ts) // $HourUs) * $HourUs AS hour_us, value
         |           FROM events),
         |a AS (SELECT user_id, hour_us,
         |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
         |      FROM e GROUP BY 1, 2),
         |s AS (SELECT user_id, min(hour_us) AS h0, max(hour_us) AS h1 FROM e GROUP BY 1),
         |g AS (SELECT user_id, unnest(generate_series(h0, h1, $HourUs)) AS hour_us FROM s),
         |j AS (SELECT g.user_id, g.hour_us, a.v
         |      FROM g LEFT JOIN a USING (user_id, hour_us)),
         |nb AS (SELECT user_id, hour_us, v,
         |         last_value(v IGNORE NULLS) OVER wp AS pv,
         |         last_value(CASE WHEN v IS NOT NULL THEN hour_us END IGNORE NULLS)
         |           OVER wp AS pt,
         |         first_value(v IGNORE NULLS) OVER wf AS nv,
         |         first_value(CASE WHEN v IS NOT NULL THEN hour_us END IGNORE NULLS)
         |           OVER wf AS nt
         |       FROM j
         |       WINDOW wp AS (PARTITION BY user_id ORDER BY hour_us
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |              wf AS (PARTITION BY user_id ORDER BY hour_us
         |                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, hour_us,
         |       CASE WHEN v IS NOT NULL THEN v
         |            WHEN pv IS NULL THEN nv
         |            WHEN nv IS NULL THEN pv
         |            ELSE pv + (nv - pv) * (CAST(hour_us - pt AS DOUBLE)
         |                                   / CAST(nt - pt AS DOUBLE))
         |       END AS interp_value,
         |       CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS was_gap
         |FROM nb""".stripMargin) { (s, d) =>
      // r11 rewrite: the first cut ran BOTH ignore-nulls windows over the
      // exploded per-hour GRID, and the backward frame (CURRENT ROW TO
      // UNBOUNDED FOLLOWING) is Spark's quadratic frame — each row
      // re-scans to partition end (measured 22 s at sf0.1 on a 1M-row
      // grid, ~700 rows/user squared). Segment-wise instead: ONE lag
      // window over the OBSERVED points only (|events-hours| rows) hands
      // every gap its (pv, pt) / (nv, nt) endpoints, and each gap row is
      // minted by the explode ALREADY KNOWING them — no grid join, no
      // grid window, nothing quadratic. The oracle's pv/nv-NULL edge
      // branches are dead by construction (the grid spans min..max
      // OBSERVED hour per user), so observed ∪ lerped-gaps is exact —
      // the unchanged naive-window oracle hash is the proof.
      val agg = Tables.events(s, d)
        .withColumn("hour_us", expr(s"(ts_us div $HourUs) * $HourUs"))
        .groupBy("user_id", "hour_us").agg(sumValue.as("v"))
      val wLag = Window.partitionBy("user_id").orderBy("hour_us")
      val observed = agg.select(col("user_id"), col("hour_us"),
        col("v").as("interp_value"), lit(0).as("was_gap"))
      val gaps = agg
        .withColumn("pv", lag(col("v"), 1).over(wLag))
        .withColumn("pt", lag(col("hour_us"), 1).over(wLag))
        .filter(col("pt").isNotNull && col("hour_us") - col("pt") > HourUs)
        .select(col("user_id"), col("pv"), col("pt"),
          col("v").as("nv"), col("hour_us").as("nt"))
        .select(col("user_id"), col("pv"), col("pt"), col("nv"), col("nt"),
          explode(sequence(col("pt") + lit(HourUs), col("nt") - lit(HourUs),
            lit(HourUs))).as("hour_us"))
        .select(col("user_id"), col("hour_us"),
          (col("pv") + (col("nv") - col("pv")) *
            ((col("hour_us") - col("pt")).cast("double") /
              (col("nt") - col("pt")).cast("double"))).as("interp_value"),
          lit(1).as("was_gap"))
      observed.unionByName(gaps)
    },

    Q("events_cohort",
      """WITH s AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT e.user_id,
        |         s.t0 // 604800000000 AS cohort_week,
        |         (epoch_us(e.ts) // 604800000000) - (s.t0 // 604800000000) AS week_offset
        |  FROM events e JOIN s USING (user_id))
        |SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM a WHERE week_offset >= 0
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        // Cohort retention matrix: users bucketed by first-signup week,
        // counted once per (cohort, weeks-since-signup) they were active
        // in. Epoch-aligned integer week buckets on bigint micros — the
        // same cross-engine time discipline as the window queries; state
        // is one row per (user, week) before the final count.
        val weekUs = 604800000000L
        val ev = Tables.events(s, d)
        val signup = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts_us").as("t0"))
        ev.join(signup, "user_id")
          .select(
            col("user_id"),
            expr(s"t0 div $weekUs").as("cohort_week"),
            (expr(s"ts_us div $weekUs") - expr(s"t0 div $weekUs")).as("week_offset"))
          .filter(col("week_offset") >= 0)
          .distinct()
          .groupBy("cohort_week", "week_offset")
          .agg(count(lit(1)).as("n_users"))
    },

    Q("events_funnel",
      s"""$FunnelCtes
        |SELECT v.user_id, v.t_view AS t_view_us, c.t_click AS t_click_us,
        |       p.t_purchase AS t_purchase_us,
        |       CAST(1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
        |              + (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS stage
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |       LEFT JOIN p ON p.user_id = v.user_id""".stripMargin) {
      (s, d) =>
        // Ordered funnel (view -> click-after-view -> purchase-after-
        // click): three user-keyed conditional-min aggregations chained by
        // narrow equi-joins — each stage's state is one timestamp per
        // user, so the whole funnel is a few user-hash shuffles at any
        // scale (never a per-user event-array collect).
        funnelFrame(s, d)
          .select(
            col("user_id"),
            col("t_view").as("t_view_us"),
            col("t_click").as("t_click_us"),
            col("t_purchase").as("t_purchase_us"),
            (lit(1) +
              when(col("t_click").isNotNull, 1).otherwise(0) +
              when(col("t_purchase").isNotNull, 1).otherwise(0)).cast("long").as("stage"))
    },

    // Time-to-convert distribution per funnel transition (r8) — the "how
    // long does the funnel take", the product-analytics twin of "how many
    // make it": per transition, exact count / mean / median / p90 of the
    // inter-stage latency. Integer-exact: latencies are bigint micro
    // deltas, the mean is a DECIMAL sum over count (one IEEE division),
    // the percentiles ride the pinned exact-interpolation parity
    // (agg_percentile) on integer inputs. Rides the SAME funnel frame as
    // events_funnel; the extra cost is one two-row aggregate.
    Q("events_funnel_time",
      s"""$FunnelCtes,
         |f AS (
         |  SELECT 'view->click' AS transition, c.t_click - v.t_view AS dt_us
         |  FROM v JOIN c USING (user_id)
         |  UNION ALL
         |  SELECT 'click->purchase', p.t_purchase - c.t_click
         |  FROM c JOIN p USING (user_id))
         |SELECT transition, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(dt_us AS DECIMAL(27,0))) AS DOUBLE) / count(*) AS mean_us,
         |       quantile_cont(dt_us, 0.5) AS median_us,
         |       quantile_cont(dt_us, 0.9) AS p90_us
         |FROM f GROUP BY 1""".stripMargin) { (s, d) =>
      val fr = funnelFrame(s, d)
      val dts = fr.filter(col("t_click").isNotNull)
        .select(lit("view->click").as("transition"),
          (col("t_click") - col("t_view")).as("dt_us"))
        .unionByName(fr.filter(col("t_purchase").isNotNull)
          .select(lit("click->purchase").as("transition"),
            (col("t_purchase") - col("t_click")).as("dt_us")))
      dts.groupBy("transition")
        .agg(count(lit(1)).as("n"),
          (sum(col("dt_us").cast(DecimalType(27, 0))).cast("double") /
            count(lit(1))).as("mean_us"),
          percentile(col("dt_us"), lit(0.5)).as("median_us"),
          percentile(col("dt_us"), lit(0.9)).as("p90_us"))
    },

    Q("events_sessionize",
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         |b AS (SELECT user_id, event_id, ts_us,
         |        CASE WHEN lag(ts_us) OVER w IS NULL
         |               OR ts_us - lag(ts_us) OVER w > $SessionGapUs
         |             THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (SELECT user_id, ts_us,
         |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |          AS session_idx
         |      FROM b)
         |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
         |       min(ts_us) AS t_start_us, max(ts_us) AS t_end_us,
         |       max(ts_us) - min(ts_us) AS duration_us
         |FROM s GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        // Batch sessionization — the offline twin of stream_session: a new
        // session starts at the first event or after a gap > SessionGapUs
        // (8 h; the fixture's median inter-event gap is ~7.3 h, so real
        // sessions split AND merge). The break flag (lag) and the running
        // session index (sum) share one user-hash partitioning + (ts_us,
        // event_id) sort, so the whole lineage is ONE exchange + one sort
        // before the final per-(user, session) aggregation — never a
        // global window. Bigint-micro arithmetic end to end; ties are
        // impossible per user in the fixture but event_id tie-breaks the
        // order anyway (house determinism rule). At 100 TB: sessions are
        // per-user state, so the shape is one user_id shuffle regardless
        // of corpus size — the classic sessionize plan. The reusable
        // parametrized form lives in operators.CurateOps.
        graft.operators.CurateOps.sessionize(Tables.events(s, d), SessionGapUs)
    },

    // Time-decay MULTI-touch attribution (r8g): events_attribution's
    // last-touch gives the newest click 100% of the credit; marketing
    // mix models split it across EVERY touch in the lookback with
    // exponential decay exp(−Δt/τ), τ = 1 day — so the channel totals
    // answer "which channel actually assists". Ladder: Δt is exact µs,
    // each decay weight and each normalized share is DECIMAL(18,6)-
    // quantized before its exact sum (the ln/exp discipline), the
    // normalization is one IEEE division of exact decimals. Shape: the
    // purchase×touch pairing is a user-keyed equi join with a time-range
    // residual (bounded per-user fan-out = purchases × touches-in-
    // window), then purchase-sized and channel-sized aggs — never a
    // global cartesian.
    Q("events_attribution_decay",
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |           FROM events),
        |p AS (SELECT event_id AS pid, user_id, ts_us AS pt FROM e
        |      WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_type AS channel, ts_us AS tt FROM e
        |      WHERE event_type IN ('click', 'view')),
        |pairs AS (
        |  SELECT p.pid, t.channel,
        |         CAST(exp(-(CAST(p.pt - t.tt AS DOUBLE) / 86400000000.0))
        |              AS DECIMAL(18,6)) AS w
        |  FROM p JOIN t ON t.user_id = p.user_id
        |    AND t.tt <= p.pt AND t.tt > p.pt - 604800000000),
        |tot AS (SELECT pid, sum(w) AS sw FROM pairs GROUP BY 1),
        |sh AS (SELECT pairs.channel,
        |              CAST(CAST(pairs.w AS DOUBLE) / CAST(tot.sw AS DOUBLE)
        |                   AS DECIMAL(18,6)) AS share
        |       FROM pairs JOIN tot USING (pid))
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(share) AS DOUBLE) AS credit
        |FROM sh GROUP BY 1""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("ts_us").as("pt"))
      val t = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("channel"),
          col("ts_us").as("tt"))
      val pairs = p.join(t, Seq("user_id"))
        .filter(col("tt") <= col("pt") && col("tt") > col("pt") - 604800000000L)
        .select(col("pid"), col("channel"),
          exp(-((col("pt") - col("tt")).cast("double") / 86400000000.0))
            .cast("decimal(18,6)").as("w"))
      val tot = pairs.groupBy("pid").agg(sum("w").as("sw"))
      pairs.join(tot, "pid")
        .select(col("channel"),
          (col("w").cast("double") / col("sw").cast("double"))
            .cast("decimal(18,6)").as("share"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_pairs"), sum("share").cast("double").as("credit"))
    },

    Q("events_attribution",
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |           FROM events),
        |t AS (SELECT *,
        |        max(CASE WHEN event_type IN ('click', 'view')
        |                 THEN struct_pack(t_us := ts_us, eid := event_id,
        |                                  et := event_type) END)
        |          OVER (PARTITION BY user_id ORDER BY ts_us
        |                RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS lt
        |      FROM e)
        |SELECT event_id, user_id, ts_us,
        |       lt.eid AS touch_event_id, lt.et AS touch_type,
        |       lt.t_us AS touch_ts_us,
        |       CAST(CASE WHEN lt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS organic
        |FROM t WHERE event_type = 'purchase'""".stripMargin) {
      (s, d) =>
        // Last-touch attribution: each purchase is credited to the same
        // user's most recent click/view within a 7-day lookback, else
        // marked organic — the funnel-adjacent report every event
        // pipeline ships. The touch is a MAX over a range frame of
        // (ts_us, event_id, type) structs: the frame bounds the lookback
        // in exact microseconds and the struct ordering makes same-ts
        // ties deterministic on event_id. 100 TB shape: one user_id
        // shuffle + one range-frame window — attribution is per-user
        // state, so the plan is sessionize-shaped regardless of corpus
        // size; no self-join of purchases against touches (the naive
        // as-of formulation), no driver state.
        val touch = when(col("event_type").isin("click", "view"),
          struct(col("ts_us").as("t_us"), col("event_id").as("eid"),
            col("event_type").as("et")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us")
          .rangeBetween(-604800000000L, 0L)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
          .withColumn("lt", max(touch).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("lt.eid").as("touch_event_id"), col("lt.et").as("touch_type"),
            col("lt.t_us").as("touch_ts_us"),
            col("lt").isNull.cast("long").as("organic"))
    },

    // Volume-spike detection over the event stream: per (type, day) counts
    // vs a trailing-7-day calendar window. RANGE frame on the integer day
    // index (not ROWS): a day with zero rows is simply absent, and a rows
    // frame would silently stretch the lookback across the gap. Spike =
    // full 7-day history present AND count > 2× trailing mean, kept
    // integer-exact as 7·n > 2·trail. At 100 TB the groupBy collapses the
    // stream to (types × days) rows BEFORE the window — the window input
    // is tiny regardless of event volume, and the partition key (type)
    // bounds each window task.
    Q("events_spike",
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx
        |           FROM events),
        |c AS (SELECT event_type, day_idx, count(*) AS n FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, day_idx, n,
        |        CAST(coalesce(sum(n) OVER tw, 0) AS BIGINT) AS trail_n,
        |        count(*) OVER tw AS n_prev_days
        |      FROM c
        |      WINDOW tw AS (PARTITION BY event_type ORDER BY day_idx
        |                    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day_idx, n, trail_n,
        |       CASE WHEN n_prev_days = 7 AND 7 * n > 2 * trail_n
        |            THEN 1 ELSE 0 END AS is_spike
        |FROM w""".stripMargin) {
      (s, d) =>
        val tw = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("day_idx")
          .rangeBetween(-7, -1)
        Tables.events(s, d)
          .select(col("event_type"), expr("ts_us div 86400000000").as("day_idx"))
          .groupBy("event_type", "day_idx")
          .agg(count(lit(1)).as("n"))
          .withColumn("trail_n", coalesce(sum("n").over(tw), lit(0L)))
          .withColumn("n_prev_days", count(lit(1)).over(tw))
          .select(col("event_type"), col("day_idx"), col("n"), col("trail_n"),
            when(col("n_prev_days") === 7 && lit(7) * col("n") > lit(2) * col("trail_n"),
              lit(1)).otherwise(lit(0)).as("is_spike"))
    },

    // Peak concurrency (r7) — the sweep-line census capacity planning
    // reads ("how many sessions were live at once"): each event holds a
    // 30-minute activity interval [ts, ts+30m); concurrency is the
    // running sum of +1/−1 boundary deltas, peak is its max per type.
    // Tie semantics pinned for determinism: at an equal instant the −1
    // sorts before the +1 (delta ASC), i.e. half-open intervals — an
    // interval ending exactly when another starts never overlaps it;
    // event_id breaks the remaining ties so the (t, delta, event_id)
    // order key is unique and ROWS ≡ RANGE framing. The 100 TB shape is
    // the budget_select band decomposition: a single per-type cumsum
    // would funnel each type's whole boundary stream through ONE task,
    // so the running sum splits into per-(type, day) partitioned windows
    // plus a broadcast join of per-day offsets (the cumulative delta of
    // all earlier days — a days-sized window, corpus-independent);
    // integer addition is associative, so the decomposition is exact and
    // the oracle states the single-cumsum form directly.
    // Seasonal-naive forecast backtest (r7) — the monitoring baseline every
    // alerting pipeline needs before anything fancier: predict each
    // event's value by its (type, hour-of-day) training mean and report
    // the per-type MAE. Deterministic split: even epoch-days train, odd
    // days test (no rand(), balanced across the fixture's 30 days).
    // Exactness ladder: per-row floor(value·10⁶) BIGINT quantization,
    // the mean ONE IEEE division of exact integers, the error re-quantized
    // per row, MAE an exact integer division — no float summation.
    Q("events_forecast",
      """WITH ev AS (SELECT event_type, value,
        |              epoch_us(ts) // 86400000000 AS day_idx,
        |              (epoch_us(ts) // 3600000000) % 24 AS hod
        |            FROM events),
        |tr AS (SELECT event_type, hod,
        |         sum(CAST(floor(value * 1000000) AS BIGINT)) AS svq,
        |         count(*) AS n
        |       FROM ev WHERE day_idx % 2 = 0 GROUP BY 1, 2),
        |pr AS (SELECT event_type, hod,
        |         CAST(svq AS DOUBLE) / (n * 1000000) AS pred FROM tr),
        |te AS (SELECT ev.event_type, ev.value, pr.pred
        |       FROM ev LEFT JOIN pr USING (event_type, hod)
        |       WHERE ev.day_idx % 2 = 1),
        |tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_train
        |       FROM tr GROUP BY 1),
        |ag AS (SELECT event_type,
        |         CAST(sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_test,
        |         CAST(sum(CASE WHEN pred IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_unpred,
        |         sum(CASE WHEN pred IS NOT NULL
        |                  THEN CAST(floor(abs(value - pred) * 1000000) AS BIGINT)
        |                  ELSE 0 END) AS serr
        |       FROM te GROUP BY event_type)
        |SELECT ag.event_type, tt.n_train, ag.n_test, ag.n_unpred,
        |       CAST(ag.serr // ag.n_test AS BIGINT) AS mae_micro
        |FROM ag JOIN tt USING (event_type)""".stripMargin) {
      (s, d) =>
        // Shape: one (type, hod)-keyed map-side-combinable training agg
        // (≤ types×24 rows — broadcast at any scale) joined back into the
        // one test scan, then a types-sized rollup: the quality_outliers
        // two-scan budget, zero wide shuffles.
        val ev = Tables.events(s, d).select(col("event_type"), col("value"),
          expr("ts_us div 86400000000").as("day_idx"),
          expr("(ts_us div 3600000000) % 24").as("hod"))
        val tr = ev.filter(col("day_idx") % 2 === 0)
          .groupBy("event_type", "hod")
          .agg(sum(floor(col("value") * 1000000).cast("long")).as("svq"),
               count(lit(1)).as("n"))
        val trTot = tr.groupBy("event_type").agg(sum("n").cast("long").as("n_train"))
        val pr = tr.select(col("event_type"), col("hod"),
          (col("svq").cast("double") / (col("n") * 1000000)).as("pred"))
        ev.filter(col("day_idx") % 2 === 1)
          .join(broadcast(pr), Seq("event_type", "hod"), "left")
          .groupBy("event_type")
          .agg(sum(when(col("pred").isNotNull, 1L).otherwise(0L)).as("n_test"),
               sum(when(col("pred").isNull, 1L).otherwise(0L)).as("n_unpred"),
               sum(when(col("pred").isNotNull,
                     floor(abs(col("value") - col("pred")) * 1000000).cast("long"))
                   .otherwise(0L)).as("serr"))
          .join(broadcast(trTot), Seq("event_type"))
          .select(col("event_type"), col("n_train"),
                  col("n_test").cast("long").as("n_test"),
                  col("n_unpred").cast("long").as("n_unpred"),
                  expr("serr div n_test").cast("long").as("mae_micro"))
    },

    Q("events_concurrency",
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id FROM events),
        |dl AS (
        |  SELECT event_type, ts_us AS t, 1 AS delta, event_id FROM ev
        |  UNION ALL
        |  SELECT event_type, ts_us + 1800000000, -1, event_id FROM ev),
        |rs AS (SELECT event_type, delta,
        |         sum(delta) OVER (PARTITION BY event_type
        |                          ORDER BY t, delta, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS conc
        |       FROM dl)
        |SELECT event_type,
        |       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
        |       CAST(max(conc) AS BIGINT) AS peak_concurrency
        |FROM rs GROUP BY 1""".stripMargin) {
      (s, d) =>
        val dayUs = 86400000000L
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("ts_us"), col("event_id"))
        val deltas = ev.select(col("event_type"), col("ts_us").as("t"),
                               lit(1L).as("delta"), col("event_id"))
          .unionByName(ev.select(col("event_type"),
                                 (col("ts_us") + 1800000000L).as("t"),
                                 lit(-1L).as("delta"), col("event_id")))
          .withColumn("band", expr(s"t div $dayUs"))
        val wOff = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("band")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val offsets = deltas.groupBy("event_type", "band")
          .agg(sum("delta").as("bsum"))
          .withColumn("off", coalesce(sum("bsum").over(wOff), lit(0L)))
          .select("event_type", "band", "off")
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type", "band")
          .orderBy(col("t"), col("delta"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        deltas
          .join(broadcast(offsets), Seq("event_type", "band"))
          .withColumn("conc", sum("delta").over(wIn) + col("off"))
          .groupBy("event_type")
          .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L)).cast("long").as("n_events"),
               max("conc").cast("long").as("peak_concurrency"))
    }
  )
}
