package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.reflect.runtime.universe.TypeTag

/** Open-session accumulator for [[StreamOps.sessionizeWithState]]. */
final case class OpenSession(startUs: Long, endUs: Long, n: Long)

/** A closed session emitted by the custom sessionizer. */
final case class SessionOut(
    user_id: Long, session_start_us: Long, session_end_us: Long, n_events: Long)

/** One typed event for [[StreamOps.funnelWithState]] (kind: 0 = view,
  * 1 = click, 2 = purchase — the fold's tie-break order at equal ts).
  */
final case class FunnelEvent(
    user_id: Long, ts_us: Long, kind: Int, tsm: java.sql.Timestamp)

/** Per-user funnel state: the three conditional-min scalars (−1 = unset)
  * plus the not-yet-finalizable buffer of events above the watermark.
  */
final case class FunnelState(
    tView: Long, tClick: Long, tPurchase: Long, buf: List[FunnelEvent])

/** One user's final funnel row (stage 1..3; nulls where the user stalled). */
final case class FunnelAnswer(
    user_id: Long, t_view_us: Long, t_click_us: Option[Long],
    t_purchase_us: Option[Long], stage: Long)

/** One typed event for [[StreamOps.alertWithState]]. */
final case class AlertEvent(
    user_id: Long, ts_us: Long, event_id: Long, value: Double,
    tsm: java.sql.Timestamp)

/** Buffered not-yet-finalizable alert event (above the watermark). */
final case class AlertBufEvt(ts_us: Long, event_id: Long, value: Double)

/** Per-user hysteresis-machine state: current alert level, the open
  * episode's accumulators (start/end/count/peak; start < 0 = no open
  * episode), and the buffer.
  */
final case class AlertState(
    level: Int, epStart: Long, epEnd: Long, epN: Long, epPeak: Double,
    buf: List[AlertBufEvt])

/** One completed (or stream-final open) alert episode. */
final case class AlertEpisode(
    user_id: Long, t_start_us: Long, t_end_us: Long, n_events: Long,
    peak_value: Double)

/** One CDC change row for [[StreamOps.applyCdcStream]]: seq orders changes
  * within a key; status follows the diff vocabulary (I/C/D).
  */
final case class CdcChange(key: Long, seq: Long, status: String, value: Double)

/** Current state of one key emitted by the CDC apply (Update mode). */
final case class CdcRow(key: Long, value: Double, last_seq: Long)

/** One keyed arrival for [[StreamOps.diffStreamComplete]]: the window it
  * lands in (floor(ts_us / width) * width) plus the watermark-tagged
  * timestamp that must reach the stateful operator verbatim.
  */
final case class WinDiffEvent(window_start_us: Long, key: Long,
    tsm: java.sql.Timestamp)

/** Per-open-window diff state: key → arrival count inside the window. */
final case class WinDiffState(counts: Map[Long, Long])

/** One row of the watermark-closed windowed diff: per closed window, the
  * arriving side's per-key count (`right_n`) vs the snapshot's expected
  * count (`left_n`), with the full I, C, N and D vocabulary — D is a
  * snapshot key SILENT in the closed window, the status plain append
  * streams cannot assert (stream_diff omits it by design).
  */
final case class WinDiffOut(window_start_us: Long, key: Long,
    diff_status: String, left_n: Option[Long], right_n: Option[Long])

/** One row of the stream-STREAM keyed census diff: per closed (window, key),
  * both feeds' per-window aggregates (count, max, content digest) and the
  * I/C/N/D status. The digest renders as `"<sum1>:<sum2>"`: two exact
  * BIGINT sums of per-event 32-bit sha-256 slices over the canonical
  * payload.
  */
final case class SsDiffOut(window_start_us: Long, key: Option[Long],
    diff_status: String, left_n: Option[Long], right_n: Option[Long],
    left_max: Option[Double], right_max: Option[Double],
    left_digest: Option[String], right_digest: Option[String])

/** One side's census inside an open (window, key) group: arrival count,
  * running max of the headline column (None while every value was NULL,
  * like the batch `max()`), and the two content-digest sums.
  */
private[streaming] final case class CensusSide(n: Long, max: Option[Double],
    d1: Long, d2: Long)

/** One side's latest observation in the numeric last-write-wins form. */
final case class SsvSide(ts_us: Long, values: Seq[Option[Double]])

/** One row of the latest-VALUE stream-stream diff: per closed
  * (window, key), each feed's last-write-wins payload tuple (one entry per
  * requested value column, in call order) and the I/C/N/D status on the
  * values.
  */
final case class SsvOut(window_start_us: Long, key: Option[Long],
    diff_status: String, left_values: Option[Seq[Option[Double]]],
    right_values: Option[Seq[Option[Double]]])

/** One side's latest observation in the any-type form: the pick-order
  * fields (ts, canonical payload, numeric display doubles) plus the
  * per-non-numeric-column canonicals (`cvals`, functionally determined by
  * `pay`) that restore the typed display columns on output. A NULL event
  * time sorts smallest, like the batch struct max.
  */
final case class SsvASide(ts_us: Option[Long], pay: String,
    disp: Seq[Option[Double]], cvals: Seq[Option[String]])

/** One side-tagged arrival of the stream-stream family: the window, the key
  * tuple as canonical strings (None = that part is NULL), the side and the
  * variant's observation, plus the watermark-tagged event time.
  */
private[streaming] final case class PairEvent[X](window_start_us: Long,
    kp: Seq[Option[String]], left_side: Boolean, obs: X,
    tsm: java.sql.Timestamp)

/** One closed (window, key) group of the stream-stream family: the status
  * and each side's folded observation (None = the side stayed silent).
  */
private[streaming] final case class PairOut[X](window_start_us: Long,
    kp: Seq[Option[String]], diff_status: String, l: Option[X], r: Option[X])

/** True Structured Streaming operators over an event stream with an
  * event-time column. These are the incremental-execution twins of the
  * batch-equivalent queries in [[graft.queries.StreamingQueries]]: the same
  * `groupBy(window(...))` logical plans, run under `readStream` with
  * watermark-bounded state.
  *
  * Scale design: each aggregation is keyed on (window, dims) so state is
  * hash-partitioned across executors by the same shuffle as the batch
  * plan; the watermark bounds state size (windows older than the watermark
  * are finalized and evicted). Covered end-to-end by StreamingSmokeSpec via
  * MemoryStream — no oracle, per SURVEY §2.B (stream rows are
  * scalatest-only).
  */
object StreamOps {

  private def sumValue(valueCol: String): Column =
    sum(col(valueCol).cast(DecimalType(18, 6))).cast("double")

  /** Tumbling event-time windows with late-data drop at `delay`. */
  def tumbling(events: DataFrame, tsCol: String, width: String, delay: String,
               dims: Seq[String] = Seq("event_type"),
               valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width) +: dims.map(col): _*)
      .agg(count(lit(1)).as("n"), sumValue(valueCol).as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us") +:
          (dims.map(col) ++ Seq(col("n"), col("sum_value"))): _*)

  /** Sliding event-time windows (width, slide). */
  def sliding(events: DataFrame, tsCol: String, width: String, slide: String,
              delay: String, dims: Seq[String] = Seq("event_type"),
              valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width, slide) +: dims.map(col): _*)
      .agg(count(lit(1)).as("n"), sumValue(valueCol).as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us") +:
          (dims.map(col) ++ Seq(col("n"), col("sum_value"))): _*)

  /** Session windows per key with `gap` inactivity timeout — Spark's native
    * session_window keeps per-key open-session state and merges
    * overlapping/adjacent events incrementally; the watermark closes and
    * emits sessions once event time passes session_end + delay.
    */
  def sessions(events: DataFrame, tsCol: String, gap: String, delay: String,
               keyCol: String = "user_id"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(keyCol),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))

  /** Streaming exact dedup by key within the watermark horizon — the
    * ingestion-feed shape where retries/replays of the same record land
    * within a bounded delay. `dropDuplicatesWithinWatermark` keeps one
    * state entry per key and EXPIRES it once the watermark passes the
    * key's last-seen time + delay, so state is bounded by the horizon's
    * key cardinality (a plain `dropDuplicates` on a stream never expires
    * and OOMs at 100 TB); after expiry a replayed key is emitted again —
    * the documented at-least-once contract, pinned by StreamingSmokeSpec.
    */
  def dedupStream(events: DataFrame, tsCol: String, delay: String,
                  keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Windowed approximate-distinct over a stream: per-window HLL register
    * state instead of the per-(window, key) exact state stream_distinct_
    * users carries — 4 KB per LIVE window regardless of key cardinality,
    * which is the 100 TB state-store survival story (exact distinct state
    * grows with users/window; sketch state doesn't). The register merge is
    * the aggregation's own partial-merge, so update-mode incremental
    * maintenance is exact w.r.t. the sketch: the streamed estimate is
    * bit-identical to the batch sketch of the same rows (pinned by
    * StreamBatchParitySpec).
    */
  def hllDistinct(events: DataFrame, tsCol: String, width: String,
                  delay: String, keyCol: String): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width))
      .agg(graft.functions.HyperLogLog.agg(col(keyCol)).as("n_est"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("n_est"))

  /** Continuous diff of an arriving stream against a static snapshot —
    * each row classifies as I (key new to the snapshot), C (key present,
    * values differ) or N (identical) the moment it arrives. Delegates to
    * [[graft.operators.Differ.diffVsStatic]], whose plan is a STATELESS
    * stream-static left-outer join (no state store, no watermark): the
    * exact same body computes the oracle-checked batch key `stream_diff`,
    * and StreamBatchParitySpec pins the two row-for-row. 'D' is absent by
    * design — append-mode streams cannot assert "key never arrives".
    */
  def diffStream(stream: DataFrame, snapshot: DataFrame,
                 keys: Seq[String]): DataFrame =
    graft.operators.Differ.diffVsStatic(stream, snapshot, keys)

  /** Running census of the continuous diff — the I/C/N counts of
    * everything that has arrived so far, re-emitted per micro-batch
    * (complete output mode). State is O(3 statuses) counters TOTAL,
    * independent of stream volume: the keyed [[diffStream]] feed is
    * append-only and unbounded, the census is the bounded thing a
    * reconciliation dashboard retains. Parity with the batch
    * `stream_diff_summary` key is pinned by StreamBatchParitySpec.
    */
  def diffStreamSummary(stream: DataFrame, snapshot: DataFrame,
                        keys: Seq[String]): DataFrame =
    diffStream(stream, snapshot, keys)
      .groupBy("diff_status").agg(count(lit(1)).as("n"))

  /** Watermark-closed WINDOWED diff — completes the continuous-diff story
    * with the one status [[diffStream]] cannot emit: **D**. A plain append
    * stream can never assert a key's absence (the row might still arrive),
    * but a watermark CAN close an event-time window; once closed, a
    * snapshot key with no arrival in that window is a certified deletion
    * for that window (the missing-heartbeat / feed-completeness check).
    * Per closed window every key classifies as
    *   I (arrived, not in snapshot), C (count differs from the snapshot's
    *   expected count), N (matches), D (expected, silent).
    *
    * Mechanics: `flatMapGroupsWithState` keyed by the window start (the
    * same floor(ts/width) assignment Spark's `window()` uses — epoch-
    * aligned micros); state = the per-key arrival counts of the OPEN
    * window; the event-time timeout is set to window end, so the rows for
    * a window emit exactly once, when the watermark passes its end, and
    * the state evicts — state SIZE is bounded by (open windows × keys
    * seen), the same bound the native windowed agg carries, but the
    * DISTRIBUTION is not: keying by window concentrates each window's
    * full arrival traffic and key map in ONE task (the native agg spreads
    * (window, key) groups across tasks). That concentration is the price
    * of emitting the D census (no single (window,key) group can know
    * which snapshot keys stayed silent) and is safe precisely because the
    * snapshot side is dimension-sized by contract — a fact-rate feed
    * needs a pre-aggregated (window,key) count stream in front of this
    * operator. Windows with no
    * arrivals at all emit nothing (no event ever opens them) — true
    * empty-window detection needs a processing-time heartbeat, which is a
    * policy decision, not a diff semantic; the batch twin
    * (`stream_diff_complete`, StreamBatchParitySpec-pinned) scopes itself
    * to observed windows the same way.
    *
    * The snapshot rides into the closure as a plain Map — it is the
    * DIMENSION side of this operator by contract (expected feeds /
    * sensors / partners: thousands to millions of keys, the codebook-
    * collect precedent), broadcast once per executor with the task
    * closure. A fact-sized snapshot belongs to the batch diff, not to a
    * per-window census.
    */
  def diffStreamComplete(stream: DataFrame, tsCol: String, widthUs: Long,
                         delay: String, snapshot: Map[Long, Long],
                         keyCol: String): Dataset[WinDiffOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    require(widthUs > 0, s"diffStreamComplete: width must be positive, got $widthUs")

    def step(ws: Long, it: Iterator[WinDiffEvent],
             state: GroupState[WinDiffState]): Iterator[WinDiffOut] = {
      if (state.hasTimedOut) {
        // Window closed: emit the full census once, then evict.
        val counts = state.getOption.map(_.counts).getOrElse(Map.empty)
        state.remove()
        val arrived = counts.iterator.map { case (k, n) =>
          snapshot.get(k) match {
            case None => WinDiffOut(ws, k, "I", None, Some(n))
            case Some(sn) if sn == n => WinDiffOut(ws, k, "N", Some(sn), Some(n))
            case Some(sn) => WinDiffOut(ws, k, "C", Some(sn), Some(n))
          }
        }
        val silent = snapshot.iterator.collect {
          case (k, sn) if !counts.contains(k) => WinDiffOut(ws, k, "D", Some(sn), None)
        }
        arrived ++ silent
      } else {
        // One mutable map per TRIGGER, not one immutable copy per EVENT
        // (r13 review fix): the fold over an immutable Map allocated a new
        // tree node path for every arrival — O(events × log keys) garbage
        // in the single task that already concentrates the window.
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        state.getOption.foreach(s => m ++= s.counts)
        it.foreach(e => m.update(e.key, m.getOrElse(e.key, 0L) + 1L))
        state.update(WinDiffState(m.toMap))
        // Fire when the watermark passes window end. A window whose end is
        // already below the watermark (late-but-not-dropped arrivals) gets
        // the earliest legal wake instead — setTimeoutTimestamp rejects
        // timestamps at or below the current watermark.
        val endMs = (ws + widthUs) / 1000L
        state.setTimeoutTimestamp(math.max(endMs, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      }
    }

    requireEventTime(stream, tsCol, "diffStreamComplete")
      .withWatermark(tsCol, delay)
      .select(
        // exact integer floor-to-window (no double division anywhere),
        // derived from tsCol ITSELF — the window clock and the watermark
        // clock must be the same column or a closed window could still
        // receive rows (r12 review fix: this previously read a hardcoded
        // ts_us column)
        (unix_micros(col(tsCol)) - pmod(unix_micros(col(tsCol)), lit(widthUs)))
          .as("window_start_us"),
        col(keyCol).cast("long").as("key"),
        // watermark-tagged column must reach the stateful operator verbatim
        col(tsCol).as("tsm"))
      .as[WinDiffEvent]
      .groupByKey(_.window_start_us)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
  }

  /** Canonical string form of one payload column for content digesting —
    * [[graft.operators.Differ.rowHashCol]]'s cross-engine discipline at
    * DECIMAL(18,6) value grain: doubles/floats render as scale-6 decimals
    * with NaN/±Inf named explicitly (they cast to NULL decimal, which
    * would collide with genuine NULLs), timestamps as epoch micros,
    * everything else as its plain string cast. NULL renders as U+2400 at
    * the [[payloadCanon]] concat level. Every branch is replayable
    * byte-for-byte in DuckDB (`CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)`
    * / `isnan` / `isinf` / `epoch_us`), so a digest built on this form can
    * sit in an oracle-checked key.
    */
  def canonCol(dt: DataType, c: Column): Column = dt match {
    case DoubleType | FloatType =>
      when(isnan(c), lit("NaN"))
        .when(c === Double.PositiveInfinity, lit("Inf"))
        .when(c === Double.NegativeInfinity, lit("-Inf"))
        .otherwise(c.cast(DecimalType(18, 6)).cast(StringType))
    // NTZ must cast to TimestampType BEFORE unix_micros (unix_micros
    // rejects NTZ at analysis) — deterministic under the house UTC
    // session timezone, exactly rowHashCol's NTZ branch.
    case TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(StringType)
    case _: TimestampType => unix_micros(c).cast(StringType)
    // A map's stored entry order is a construction accident: plain string
    // cast would digest equal maps differently. Key-sorted JSON rendering
    // (Differ.mapCanon — the diff-output discipline) keeps the digest
    // order-insensitive; maps nested deeper inside arrays/structs stay
    // stored-order in the rendering, same documented bound as rowHashCol.
    case _: MapType => graft.operators.Differ.mapCanon(c)
    case _ => c.cast(StringType)
  }

  /** Canonical payload string over `cols`: each column canonicalized via
    * [[canonCol]], NULLs named U+2400 (concat_ws SKIPS null args — a
    * (a, NULL) payload must not collide with (a)), fields joined on
    * U+001F. Injective per column by construction.
    */
  def payloadCanon(df: DataFrame, cols: Seq[String]): Column =
    concat_ws("",
      cols.map(c => coalesce(canonCol(df.schema(c).dataType, col(c)),
        lit("␀"))): _*)

  /** The event's two order-independent content-digest slices: the first
    * and second 8 hex chars of sha-256 over the canonical payload, each a
    * 32-bit value in a BIGINT. Summed per group they form an exact,
    * map-side-combinable, arrival-order-free 64-bit content digest
    * (collision ≈ 2^-64 per compared group) that DuckDB replays verbatim
    * (`('0x' || substr(sha256(pay), 1, 8))::BIGINT`). A BIGINT sum of
    * 32-bit slices overflows only past 2^31 events per (window, key)
    * group — and then loudly, under ANSI arithmetic, never silently.
    */
  def digestSlices(payload: Column): (Column, Column) = {
    val sha = sha2(payload.cast("binary"), 256)
    (conv(substring(sha, 1, 8), 16, 10).cast("long"),
      conv(substring(sha, 9, 8), 16, 10).cast("long"))
  }

  /** The single-key stream-stream surfaces emit a LONG `key`; a silent
    * cast of a string key would NULL every key and collapse all traffic
    * into the two unpairable null-key groups, so non-integral key columns
    * are refused at construction (the keyed forms take any admitted type).
    */
  private def requireIntegralKey(df: DataFrame, keyCol: String, fn: String): Unit =
    df.schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case dt => throw new IllegalArgumentException(
        s"$fn: key column '$keyCol' must be integral (TINYINT/SMALLINT/INT/" +
          s"BIGINT), got ${dt.sql} — the state encodes keys as LONG; hash or " +
          "dictionary-encode the key upstream (e.g. xxhash64/conv-of-sha)")
    }

  /** The content digest canonicalizes BY TYPE ([[canonCol]]), so the two
    * feeds must agree on every payload column's dtype — a DOUBLE-vs-
    * DECIMAL skew would canonicalize "1.500000" vs "1.50" and read every
    * paired group C — refuse loudly at construction.
    */
  private def requireMatchedPayload(left: DataFrame, right: DataFrame,
                                    valCols: Seq[String], fn: String): Unit = {
    val skew = valCols.filter(c => left.schema(c).dataType != right.schema(c).dataType)
    require(skew.isEmpty,
      s"$fn: payload column(s) ${skew.mkString(", ")} differ in type between " +
        s"the feeds (${skew.map(c => s"$c: ${left.schema(c).dataType.sql} vs " +
          s"${right.schema(c).dataType.sql}").mkString("; ")}) — the content " +
        "digest canonicalizes by type, so a dtype skew would read every " +
        "group C; cast the feeds to one schema first")
  }

  /** Headline metric for the census forms: `valCols.head` as double when
    * numeric, NULL otherwise (the digest carries the compare for
    * non-numeric payloads).
    */
  private def headlineCol(df: DataFrame, valCols: Seq[String]): Column =
    df.schema(valCols.head).dataType match {
      case _: NumericType => col(valCols.head).cast("double")
      case _ => lit(null).cast("double")
    }

  /** Numeric-only payload contract of the numeric latest-value forms. */
  private def requireNumericPayload(df: DataFrame, valCols: Seq[String],
                                    fn: String): Unit = {
    val bad = valCols.filterNot(c => df.schema(c).dataType.isInstanceOf[NumericType])
    require(bad.isEmpty,
      s"$fn: value column(s) ${bad.mkString(", ")} are non-numeric — the " +
        "latest-value payload is carried as doubles; use the census + " +
        "content-digest form for arbitrary types")
  }

  /** Key contract of the stream-stream family. The state carries the key tuple as canonical STRINGS (one per
    * key column), so grouping on the tuple must partition rows exactly
    * like the batch twin's multi-column `=` join, and the canonical form
    * must restore to the declared type losslessly. Both hold for
    * integral / STRING / BOOLEAN / DATE / DECIMAL columns (plain string
    * cast is injective and `=`-consistent there) and for TIMESTAMP /
    * TIMESTAMP_NTZ columns via an epoch-micros rendering (`=` on
    * timestamps IS micros equality; NTZ routes through the session
    * timezone — exact under the house UTC default, and deterministic
    * under any fixed zone) — and for NOTHING else, loudly: FLOAT/DOUBLE
    * keys break `=` itself (NaN never pairs, -0.0 = 0.0 but renders
    * differently). Both feeds must declare the SAME dtype per key column
    * (a BIGINT vs STRING skew would canonicalize '42' on both sides and
    * silently pair rows the batch `=` join refuses at analysis). The
    * batch twins enforce the identical contract so the stream/batch pair
    * stays interchangeable; key names are checked by
    * [[requireOutputNames]].
    */
  private def requireKeyedKeys(left: DataFrame, right: DataFrame,
                               keys: Seq[String], fn: String): Unit = {
    require(keys.nonEmpty, s"$fn: need at least one key column")
    def ok(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | StringType | TimestampNTZType => true
      case _: DecimalType | _: TimestampType => true
      case _ => false
    }
    keys.foreach { k =>
      val (lt, rt) = (left.schema(k).dataType, right.schema(k).dataType)
      require(lt == rt,
        s"$fn: key column '$k' differs in type between the feeds " +
          s"(${lt.sql} vs ${rt.sql}) — keys canonicalize by type; cast the " +
          "feeds to one schema first")
      if (!ok(lt)) throw new IllegalArgumentException(
        s"$fn: key column '$k' has type ${lt.sql} — keyed state carries the " +
          "key tuple as canonical strings, admitted for integral/STRING/" +
          "BOOLEAN/DATE/DECIMAL/TIMESTAMP[_NTZ] columns where the canonical " +
          "form coincides with SQL `=`; FLOAT/DOUBLE keys break `=` " +
          "(NaN/-0.0) — dictionary-encode or quantize them upstream")
    }
  }

  /** Loud NULL-event-time guard for the live preps: a NULL timestamp
    * makes the window assignment NULL, which would otherwise die as an
    * opaque encoder NPE mid-stream. The batch twins CLASSIFY
    * null-ts rows (a null window group in the full-outer); a stream can
    * never close a null window, so the honest behavior is a named
    * construction-visible failure on the first such row. `assert_true`
    * returns NULL when the condition holds, so the filter keeps every
    * valid row at one codegen'd null-check per row (the Q.requireBand
    * mechanism).
    */
  private def requireEventTime(df: DataFrame, tsCol: String, fn: String): DataFrame =
    df.filter(assert_true(col(tsCol).isNotNull,
      lit(s"$fn: NULL event time in '$tsCol' — a stream cannot close a " +
        "null window (the batch twin classifies null-ts rows into a null " +
        "window group); filter or repair event times upstream")).isNull)

  /** Typed display restore for a NON-NUMERIC value column's canonical
    * string (the any-type latest form): lossless for the atomic
    * types whose [[canonCol]] rendering is invertible — strings
    * (identity), boolean/date/decimal (plain cast), timestamps (epoch
    * micros back through timestamp_micros). Nested/binary canonicals are
    * NOT invertible (key-sorted JSON for maps, utf8-interpreted casts) —
    * those display AS the canonical string, documented.
    */
  private def displayRestore(dt: DataType, c: Column): Column = dt match {
    case StringType => c
    case BooleanType | DateType => c.cast(dt)
    case d: DecimalType => c.cast(d)
    case _: TimestampType => timestamp_micros(c.cast(LongType))
    case TimestampNTZType => timestamp_micros(c.cast(LongType)).cast(TimestampNTZType)
    case _ => c
  }

  /** Canonical string of ONE key part — plain string cast except the
    * timestamp types, which render as epoch micros (`=` on timestamps IS
    * micros equality; a plain string cast would be session-timezone-
    * formatted, and NTZ wouldn't even order like `=`).
    */
  private def keyCanon(dt: DataType, c: Column): Column = dt match {
    case _: TimestampType => unix_micros(c).cast(StringType)
    case TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(StringType)
    case _ => c.cast(StringType)
  }

  /** The key tuple in canonical-string form — see [[requireKeyedKeys]]. */
  private def keyPartsCol(schema: StructType, keys: Seq[String]): Column =
    array(keys.map(k => keyCanon(schema(k).dataType, col(k))): _*)

  /** Restore the typed key columns from the state's canonical strings —
    * lossless for every admitted key type by [[requireKeyedKeys]]'
    * admission rule (timestamps restore from the epoch-micros rendering;
    * NTZ re-enters wall-clock through the same session timezone the canon
    * left it by, so the roundtrip is exact under any fixed zone).
    */
  private def restoredKeyCols(template: StructType, keys: Seq[String]): Seq[Column] =
    keys.zipWithIndex.map { case (k, i) =>
      val raw = element_at(col("kp"), i + 1)
      (template(k).dataType match {
        case _: TimestampType => timestamp_micros(raw.cast(LongType))
        case TimestampNTZType =>
          timestamp_micros(raw.cast(LongType)).cast(TimestampNTZType)
        case dt => raw.cast(dt)
      }).as(k)
    }

  // ---- the stream-stream diff family ---------------------------------------

  /** One member of the stream-stream diff family: the parts the two
    * skeletons ([[liveWindowDiff]], [[batchWindowDiff]]) take from it.
    * `obs` builds one observation struct per event with `X`'s fields,
    * given the event time in epoch micros. The live fold combines
    * observations with `merge`, which is associative and commutative, so
    * shuffle arrival order never changes a result, and reads N when `same`.
    * The batch twin aggregates the observations per side with `agg` and
    * reads C when `changed`. `fixed` names the variant's fixed value
    * outputs; `displays` says whether it also emits a `left_<c>`/`right_<c>`
    * pair per value column.
    */
  private final case class Variant[X](
      requirePayload: (DataFrame, DataFrame, String) => Unit,
      fixed: Seq[String], displays: Boolean,
      obs: (DataFrame, Column) => Column,
      merge: (X, X) => X, same: (X, X) => Boolean,
      agg: Column => Column, changed: (Column, Column) => Column)

  private val censusOut = Seq("left_n", "right_n", "left_max", "right_max",
    "left_digest", "right_digest")
  private val payloadOut = Seq("left_payload", "right_payload")

  /** Spark's struct-field order on a nullable double: NULL smallest, NaN
    * greatest and equal to itself, -0.0 equal to 0.0 (what `max()`, `<=>`
    * and struct comparison apply).
    */
  private def cmpD(a: Option[Double], b: Option[Double]): Int = (a, b) match {
    case (None, None)       => 0
    case (None, Some(_))    => -1
    case (Some(_), None)    => 1
    case (Some(x), Some(y)) =>
      if (x == y || (x.isNaN && y.isNaN)) 0
      else if (y.isNaN || (!x.isNaN && x < y)) -1
      else 1
  }

  /** [[cmpD]] extended lexicographically to equal-length tuples. */
  private def cmpDs(a: Seq[Option[Double]], b: Seq[Option[Double]]): Int =
    a.iterator.zip(b).map { case (x, y) => cmpD(x, y) }.find(_ != 0).getOrElse(0)

  /** The batch `max()` on nullable doubles: NULLs skipped, NaN greatest. */
  private def foldMax(a: Option[Double], b: Option[Double]): Option[Double] =
    if (cmpD(b, a) > 0) b else a

  /** Traffic census: per side the count, the max of `valCols.head` (NULL
    * while that column is non-numeric) and the two digest sums over the
    * full canonical payload; C when any of them drifts. The digest makes N
    * a real certificate: {1, 5} vs {2, 5} share count and max. The live
    * fold adds with `Math.addExact` because the batch `sum()` fails under
    * ANSI, so both halves overflow loudly past 2^31 events per group.
    */
  private def census(valCols: Seq[String]): Variant[CensusSide] = Variant(
    (l, r, fn) => requireMatchedPayload(l, r, valCols, fn),
    censusOut, displays = false,
    obs = (df, _) => {
      val (d1, d2) = digestSlices(payloadCanon(df, valCols))
      struct(lit(1L).as("n"), headlineCol(df, valCols).as("max"),
        d1.as("d1"), d2.as("d2"))
    },
    merge = (a, b) => CensusSide(Math.addExact(a.n, b.n), foldMax(a.max, b.max),
      Math.addExact(a.d1, b.d1), Math.addExact(a.d2, b.d2)),
    same = (a, b) => a.n == b.n && cmpD(a.max, b.max) == 0 &&
      a.d1 == b.d1 && a.d2 == b.d2,
    agg = o => struct(count(lit(1)).as("n"), max(o("max")).as("max"),
      sum(o("d1")).as("d1"), sum(o("d2")).as("d2")),
    changed = (l, r) => !(l <=> r))

  private def censusCols(l: Column, r: Column): Seq[Column] = {
    def digest(s: Column) = concat(s("d1").cast("string"), lit(":"), s("d2").cast("string"))
    Seq(l("n").as("left_n"), r("n").as("right_n"),
      l("max").as("left_max"), r("max").as("right_max"),
      digest(l).as("left_digest"), digest(r).as("right_digest"))
  }

  /** Numeric last-write-wins: per side the greatest (ts, v1, v2, …) in
    * struct order, so the payload breaks equal-timestamp races the same
    * way in both engines; C when any value column of the two picks differs
    * under `<=>`.
    */
  private def latest(valCols: Seq[String]): Variant[SsvSide] = Variant(
    (l, r, fn) => Seq(l, r).foreach(requireNumericPayload(_, valCols, fn)),
    Nil, displays = true,
    obs = (_, tsUs) => struct(tsUs.as("ts_us"),
      array(valCols.map(c => col(c).cast("double")): _*).as("values")),
    merge = (a, b) => {
      val c = java.lang.Long.compare(b.ts_us, a.ts_us)
      if (c > 0 || (c == 0 && cmpDs(b.values, a.values) > 0)) b else a
    },
    same = (a, b) => cmpDs(a.values, b.values) == 0,
    agg = max(_),
    changed = (l, r) => !(l("values") <=> r("values")))

  private def latestCols(valCols: Seq[String])(l: Column, r: Column): Seq[Column] =
    valCols.zipWithIndex.flatMap { case (c, i) => Seq(
      element_at(l("values"), i + 1).as(s"left_$c"),
      element_at(r("values"), i + 1).as(s"right_$c")) }

  private def splitNumeric(schema: StructType, valCols: Seq[String]) =
    valCols.partition(c => schema(c).dataType.isInstanceOf[NumericType])

  /** Any-type last-write-wins: the status compares the two picks'
    * canonical payload strings ([[payloadCanon]] over every value column).
    * The pick is the greatest (ts, payload, numeric display doubles), with
    * a NULL ts smallest and the payload in UTF-8 byte order; the per-column
    * canonicals of the non-numeric columns ride along to restore their
    * typed displays.
    */
  private def latestAny(valCols: Seq[String]): Variant[SsvASide] = {
    def arr(cs: Seq[Column], dt: DataType) =
      if (cs.isEmpty) array().cast(ArrayType(dt)) else array(cs: _*)
    Variant(
      (l, r, fn) => requireMatchedPayload(l, r, valCols, fn),
      payloadOut, displays = true,
      obs = (df, tsUs) => {
        val (num, other) = splitNumeric(df.schema, valCols)
        struct(tsUs.as("ts_us"), payloadCanon(df, valCols).as("pay"),
          arr(num.map(c => col(c).cast("double")), DoubleType).as("disp"),
          // NULL stays NULL here (not U+2400): the display restores it
          arr(other.map(c => canonCol(df.schema(c).dataType, col(c))), StringType)
            .as("cvals"))
      },
      merge = (a, b) => if (cmpAny(b, a) > 0) b else a,
      same = (a, b) => a.pay == b.pay,
      agg = max(_),
      // payload strings are never NULL (each field coalesces to U+2400)
      changed = (l, r) => l("pay") =!= r("pay"))
  }

  /** The any-type pick order: ts (NULL smallest), then the payload in
    * Spark's UTF-8 byte order, then the display doubles.
    */
  private def cmpAny(a: SsvASide, b: SsvASide): Int = {
    val t = (a.ts_us, b.ts_us) match {
      case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
      case (x, y)             => java.lang.Boolean.compare(x.isDefined, y.isDefined)
    }
    lazy val p = UTF8String.fromString(a.pay).binaryCompare(UTF8String.fromString(b.pay))
    if (t != 0) t else if (p != 0) p else cmpDs(a.disp, b.disp)
  }

  private def anyCols(template: StructType, valCols: Seq[String])(
      l: Column, r: Column): Seq[Column] = {
    val (num, other) = splitNumeric(template, valCols)
    def show(s: Column, c: String): Column = num.indexOf(c) match {
      case -1 => displayRestore(template(c).dataType,
        element_at(s("cvals"), other.indexOf(c) + 1))
      case i => element_at(s("disp"), i + 1)
    }
    l("pay").as("left_payload") +: r("pay").as("right_payload") +:
      valCols.flatMap(c => Seq(show(l, c).as(s"left_$c"), show(r, c).as(s"right_$c")))
  }

  /** The one output-name check of the family. A key may not take a fixed
    * output name of any family member (so the variants stay
    * interchangeable), nor one of this call's display names; a value
    * column's display pair may not take one of the variant's fixed names.
    */
  private def requireOutputNames(keys: Seq[String], valCols: Seq[String],
                                 v: Variant[_], fn: String): Unit = {
    val reserved = Set("window_start_us", "diff_status") ++ censusOut ++ payloadOut
    val clash = keys.filter(reserved)
    require(clash.isEmpty,
      s"$fn: key column(s) ${clash.mkString(", ")} collide with the " +
        "operator's fixed output columns — rename them upstream")
    val shown = if (v.displays) valCols else Nil
    val display = shown.flatMap(c => Seq(s"left_$c", s"right_$c")).toSet
    val shadow = keys.filter(display)
    require(shadow.isEmpty,
      s"$fn: key column(s) ${shadow.mkString(", ")} collide with the " +
        "left_<col>/right_<col> display columns — rename them upstream")
    val hidden = shown.filter(c =>
      v.fixed.contains(s"left_$c") || v.fixed.contains(s"right_$c"))
    require(hidden.isEmpty,
      s"$fn: value column(s) ${hidden.mkString(", ")} display as " +
        "left_<col>/right_<col> columns that collide with the operator's " +
        "fixed output columns — rename them upstream")
  }

  private def requireFamily(left: DataFrame, right: DataFrame, keys: Seq[String],
                            valCols: Seq[String], widthUs: Long, fn: String,
                            v: Variant[_]): Unit = {
    require(widthUs > 0, s"$fn: width must be positive, got $widthUs")
    require(valCols.nonEmpty, s"$fn: need at least one value column")
    requireOutputNames(keys, valCols, v, fn)
    requireKeyedKeys(left, right, keys, fn)
    v.requirePayload(left, right, fn)
  }

  /** Epoch-aligned tumbling window start of an epoch-micros column: an
    * exact integer floor, the assignment Spark's `window()` uses.
    */
  private def windowStart(tsUs: Column, widthUs: Long): Column =
    tsUs - pmod(tsUs, lit(widthUs))

  /** The live skeleton of the stream-stream family: two LIVE feeds
    * (primary vs replica, dual CDC) reconciled per event-time window of
    * `widthUs` and per key tuple. When the watermark passes a window's end,
    * each (window, key) group emits exactly once:
    *   I (right feed only), D (left feed only: the absence status only a
    *   closed window can certify), N (the variant's `same`), C otherwise.
    * Keys silent on both feeds emit nothing, like the batch full-outer.
    *
    * Contract of every member:
    *  - MIN policy. Each feed is watermarked BEFORE the side-tagged union,
    *    so the engine's default `multipleWatermarkPolicy = min` holds the
    *    horizon at the lagging feed: a feed lagging more than `delay` keeps
    *    the window open instead of having its rows dropped as late and its
    *    keys certified D.
    *  - O(1) state. One `flatMapGroupsWithState` keyed by (window, key
    *    tuple) with the event-time timeout at window end; the state is at
    *    most one folded observation per side, evicted at emission. It is
    *    bounded by (open windows × keys active in them), and the groups
    *    hash across tasks, so no task holds a whole window. Parity is also
    *    pinned under `RocksDBStateStoreProvider`, which spills that state
    *    to local disk.
    *  - Null-part side-split. The key tuple travels as canonical strings
    *    ([[requireKeyedKeys]]). A tuple with ANY NULL part never pairs,
    *    because the batch twin joins every key column with plain `=`, so
    *    such a group is split by side into its own D and I rows.
    *  - Doubles. The numeric latest form carries values as doubles, exact
    *    for integral values up to 2^53 on both halves; wider BIGINTs
    *    belong to the census digest. The census digest and the any-type
    *    status read doubles at DECIMAL(18,6) grain ([[canonCol]]).
    *  - Tie order. The latest picks break equal-timestamp races by the
    *    payload in Spark struct order, strings in UTF-8 byte order (Spark's
    *    UTF8String order, DuckDB's memcmp), never Java's UTF-16 order.
    *  - A NULL event time fails loudly ([[requireEventTime]]).
    *
    * Output: window start, the typed key columns restored from the
    * canonical strings, `diff_status`, then `out(l, r)` over the two side
    * structs (NULL for a silent side). StreamBatchParitySpec pins each
    * member against its [[batchWindowDiff]] twin row for row, D rows
    * included.
    */
  private def liveWindowDiff[X <: Product : TypeTag](
      left: DataFrame, right: DataFrame, tsCol: String, keys: Seq[String],
      valCols: Seq[String], widthUs: Long, delay: String, fn: String,
      v: Variant[X])(out: (Column, Column) => Seq[Column]): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    requireFamily(left, right, keys, valCols, widthUs, fn, v)
    val (merge, same) = (v.merge, v.same)

    def prep(df: DataFrame, isLeft: Boolean): DataFrame = {
      val tsUs = unix_micros(col(tsCol))
      requireEventTime(df, tsCol, fn).select(
          windowStart(tsUs, widthUs).as("window_start_us"),
          keyPartsCol(df.schema, keys).as("kp"),
          lit(isLeft).as("left_side"),
          v.obs(df, tsUs).as("obs"),
          col(tsCol).as("tsm"))
        .withWatermark("tsm", delay)
    }

    def step(g: (Long, Seq[Option[String]], Option[Boolean]),
             events: Iterator[PairEvent[X]],
             state: GroupState[(Option[X], Option[X])]): Iterator[PairOut[X]] = {
      var (l, r) = state.getOption.getOrElse((None, None))
      if (state.hasTimedOut) {
        state.remove()
        val status = (l, r) match {
          case (Some(_), None)                  => "D"
          case (None, Some(_))                  => "I"
          case (Some(a), Some(b)) if same(a, b) => "N"
          case _                                => "C"
        }
        Iterator.single(PairOut(g._1, g._2, status, l, r))
      } else {
        events.foreach { e =>
          if (e.left_side) l = Some(l.fold(e.obs)(merge(_, e.obs)))
          else r = Some(r.fold(e.obs)(merge(_, e.obs)))
        }
        state.update((l, r))
        // setTimeoutTimestamp refuses a time at or below the watermark, so
        // a window already behind it wakes at the earliest legal time
        val endMs = (g._1 + widthUs) / 1000L
        state.setTimeoutTimestamp(math.max(endMs, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      }
    }

    prep(left, isLeft = true).unionByName(prep(right, isLeft = false))
      .as[PairEvent[X]]
      .groupByKey(e => (e.window_start_us, e.kp,
        if (e.kp.exists(_.isEmpty)) Some(e.left_side) else None))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
      .select(col("window_start_us") +: restoredKeyCols(left.schema, keys) ++:
        col("diff_status") +: out(col("l"), col("r")): _*)
  }

  /** The batch skeleton of the stream-stream family: the same per-(window,
    * key tuple) diff over two HISTORICAL feeds (backfill reconciliation).
    * `tsUsCol` is an epoch-micros BIGINT (the live twin takes a timestamp
    * because the watermark needs one). Each side aggregates its
    * observations to one struct `__graft_m` per (window, keys), a
    * map-side-combinable aggregate, and the two sides meet in ONE
    * full-outer on the window plus every key column under plain `=`: two
    * hash exchanges in all, whatever the number of key columns. A side is
    * present when its `__graft_m` is not NULL; that struct is never NULL
    * for a present group, even with a NULL window or key, so NULL-key and
    * NULL-ts groups classify as their own D/I rows. The oracle-checked
    * `stream_diff_*` keys run this body, and StreamCensusPropSpec pins
    * every variant against an independent JVM model on random feeds.
    */
  private def batchWindowDiff(left: DataFrame, right: DataFrame, tsUsCol: String,
                              keys: Seq[String], valCols: Seq[String],
                              widthUs: Long, fn: String, v: Variant[_])(
      out: (Column, Column) => Seq[Column]): DataFrame = {
    requireFamily(left, right, keys, valCols, widthUs, fn, v)
    def side(df: DataFrame): DataFrame = df
      .withColumn("__graft_ws", windowStart(col(tsUsCol), widthUs))
      .groupBy(col("__graft_ws") +: keys.map(col): _*)
      .agg(v.agg(v.obs(df, col(tsUsCol))).as("__graft_m"))
    val (l, r) = (col("l.__graft_m"), col("r.__graft_m"))
    side(left).alias("l").join(side(right).alias("r"),
        col("l.__graft_ws") === col("r.__graft_ws") &&
          keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _),
        "full_outer")
      .select(
        coalesce(col("l.__graft_ws"), col("r.__graft_ws")).as("window_start_us") +:
          keys.map(k => coalesce(col(s"l.$k"), col(s"r.$k")).as(k)) ++:
          when(l.isNull, "I").when(r.isNull, "D").when(v.changed(l, r), "C")
            .otherwise("N").as("diff_status") +: out(l, r): _*)
  }

  /** Batch census diff over two historical feeds, single-key form of
    * [[diffStreamStreamBatchKeyed]]. The oracle-checked
    * `stream_diff_stream` key runs this body.
    */
  def diffStreamStreamBatch(left: DataFrame, right: DataFrame,
                            tsUsCol: String, keyCol: String,
                            valCols: Seq[String],
                            widthUs: Long): DataFrame =
    diffStreamStreamBatchKeyed(left, right, tsUsCol, Seq(keyCol), valCols, widthUs)

  /** Batch census diff keyed by the key TUPLE `keys` (the
    * `keys: Seq[String]` contract of [[graft.operators.Differ.diff]]; key
    * types per [[requireKeyedKeys]]).
    * Per (window, keys) each side folds to (count, max of `valCols.head`
    * when numeric, two digest sums over the full canonical payload); C on
    * count, max or digest drift. Output: `window_start_us`, the key
    * columns, `diff_status`, `left_n`/`right_n`, `left_max`/`right_max`,
    * `left_digest`/`right_digest`. The live twin is
    * [[diffStreamStreamKeyed]].
    */
  def diffStreamStreamBatchKeyed(left: DataFrame, right: DataFrame,
                                 tsUsCol: String, keys: Seq[String],
                                 valCols: Seq[String],
                                 widthUs: Long): DataFrame =
    batchWindowDiff(left, right, tsUsCol, keys, valCols, widthUs,
      "diffStreamStreamBatch", census(valCols))(censusCols)

  /** Single-value-column convenience form of [[diffStreamStream]]. */
  def diffStreamStream(leftFeed: DataFrame, rightFeed: DataFrame,
                       tsCol: String, keyCol: String, valCol: String,
                       widthUs: Long, delay: String): Dataset[SsDiffOut] =
    diffStreamStream(leftFeed, rightFeed, tsCol, keyCol, Seq(valCol), widthUs, delay)

  /** Stream-STREAM census diff ([[liveWindowDiff]]): per event-time window
    * of `widthUs` and per key, both feeds fold to the count, the max of
    * `valCols.head` (NULL while it is non-numeric) and an order-independent
    * content digest over the full payload: the exact BIGINT sums of each
    * event's two 32-bit sha-256 slices ([[digestSlices]] over
    * [[payloadCanon]]). NULL values skip the max like `max()` but still
    * count and digest; NaN folds as the greatest double and equals NaN.
    * Status: I, D, C (count, max or digest drifted), N. This single-key
    * surface keeps its long-typed `key` column and its integral-key
    * contract ([[requireIntegralKey]]); the batch twin is
    * [[diffStreamStreamBatch]].
    */
  def diffStreamStream(leftFeed: DataFrame, rightFeed: DataFrame,
                       tsCol: String, keyCol: String, valCols: Seq[String],
                       widthUs: Long, delay: String): Dataset[SsDiffOut] = {
    val spark = leftFeed.sparkSession
    import spark.implicits._
    Seq(leftFeed, rightFeed).foreach(requireIntegralKey(_, keyCol, "diffStreamStream"))
    liveWindowDiff(leftFeed, rightFeed, tsCol, Seq(keyCol), valCols, widthUs,
        delay, "diffStreamStream", census(valCols))(censusCols)
      .select(col("window_start_us") +: col(keyCol).cast("long").as("key") +:
        ("diff_status" +: censusOut).map(col): _*)
      .as[SsDiffOut]
  }

  /** Composite/string-key stream-stream census diff: the live twin of
    * [[diffStreamStreamBatchKeyed]], row identity = the key tuple (key
    * types per [[requireKeyedKeys]], so UUID/string CDC identities work
    * natively). Output restores the typed key columns by name.
    */
  def diffStreamStreamKeyed(leftFeed: DataFrame, rightFeed: DataFrame,
                            tsCol: String, keys: Seq[String],
                            valCols: Seq[String],
                            widthUs: Long, delay: String): DataFrame =
    liveWindowDiff(leftFeed, rightFeed, tsCol, keys, valCols, widthUs, delay,
      "diffStreamStreamKeyed", census(valCols))(censusCols)

  /** Batch last-write-wins diff, single key ([[diffStreamStreamLatest]]'s
    * semantics). The oracle-checked `stream_diff_values` key runs this body.
    */
  def diffStreamStreamLatestBatch(left: DataFrame, right: DataFrame,
                                  tsUsCol: String, keyCol: String,
                                  valCols: Seq[String],
                                  widthUs: Long): DataFrame =
    diffStreamStreamLatestBatchKeyed(left, right, tsUsCol, Seq(keyCol),
      valCols, widthUs)

  /** Batch last-write-wins diff keyed by the key tuple: per (window, keys)
    * each side reduces to its greatest (ts, v1, v2, …) with ONE
    * map-side-combinable struct `max` (no row_number over raw traffic),
    * and the status compares the two picks per column under `<=>`.
    * Output carries `left_<col>`/`right_<col>` pairs in `valCols` order.
    */
  def diffStreamStreamLatestBatchKeyed(left: DataFrame, right: DataFrame,
                                       tsUsCol: String, keys: Seq[String],
                                       valCols: Seq[String],
                                       widthUs: Long): DataFrame =
    batchWindowDiff(left, right, tsUsCol, keys, valCols, widthUs,
      "diffStreamStreamLatestBatch", latest(valCols))(latestCols(valCols))

  /** Single-value-column convenience form of [[diffStreamStreamLatest]]. */
  def diffStreamStreamLatest(leftFeed: DataFrame, rightFeed: DataFrame,
                             tsCol: String, keyCol: String, valCol: String,
                             widthUs: Long, delay: String): Dataset[SsvOut] =
    diffStreamStreamLatest(leftFeed, rightFeed, tsCol, keyCol, Seq(valCol),
      widthUs, delay)

  /** Latest-VALUE stream-stream diff ([[liveWindowDiff]]), the CDC
    * last-write-wins sibling of [[diffStreamStream]]: each side keeps only
    * its latest observation per (window, key), the greatest (ts, payload
    * tuple), and the closed window compares the two final payloads per
    * column under `<=>` (NULL equals NULL, NaN equals NaN). It asks "did
    * both sinks END the window agreeing?" where the census asks "did they
    * SEE the same traffic?". `valCols` must be numeric (the payload rides
    * as doubles; other types belong to [[diffStreamStreamLatestAny]] or
    * the census digest). Integral keys only ([[requireIntegralKey]]); the
    * batch twin is [[diffStreamStreamLatestBatch]].
    */
  def diffStreamStreamLatest(leftFeed: DataFrame, rightFeed: DataFrame,
                             tsCol: String, keyCol: String, valCols: Seq[String],
                             widthUs: Long, delay: String): Dataset[SsvOut] = {
    val spark = leftFeed.sparkSession
    import spark.implicits._
    Seq(leftFeed, rightFeed).foreach(
      requireIntegralKey(_, keyCol, "diffStreamStreamLatest"))
    liveWindowDiff(leftFeed, rightFeed, tsCol, Seq(keyCol), valCols, widthUs,
        delay, "diffStreamStreamLatest", latest(valCols))((l, r) =>
        Seq(l("values").as("left_values"), r("values").as("right_values")))
      .select(col("window_start_us"), col(keyCol).cast("long").as("key"),
        col("diff_status"), col("left_values"), col("right_values"))
      .as[SsvOut]
  }

  /** Composite/string-key latest-value stream-stream diff: the live twin
    * of [[diffStreamStreamLatestBatchKeyed]], with the typed key columns
    * and `left_<col>`/`right_<col>` pairs on output.
    */
  def diffStreamStreamLatestKeyed(leftFeed: DataFrame, rightFeed: DataFrame,
                                  tsCol: String, keys: Seq[String],
                                  valCols: Seq[String],
                                  widthUs: Long, delay: String): DataFrame =
    liveWindowDiff(leftFeed, rightFeed, tsCol, keys, valCols, widthUs, delay,
      "diffStreamStreamLatestKeyed", latest(valCols))(latestCols(valCols))

  /** Any-type last-write-wins diff, batch twin of
    * [[diffStreamStreamLatestAny]]: per (window, keys) each side's
    * greatest (ts, canonical payload, display doubles) by one struct `max`;
    * the status compares the two canonical payload strings, so its grain
    * is DECIMAL(18,6) for doubles, coarser than the numeric form's `<=>`.
    * Output: the key columns, the status, `left_payload`/`right_payload`,
    * and a `left_<c>`/`right_<c>` display pair for EVERY value column:
    * numeric columns as exact doubles, atomic non-numeric columns restored
    * to their declared type ([[displayRestore]]; nested/binary canonicals
    * display as the canonical string).
    */
  def diffStreamStreamLatestAnyBatch(left: DataFrame, right: DataFrame,
                                     tsUsCol: String, keys: Seq[String],
                                     valCols: Seq[String],
                                     widthUs: Long): DataFrame =
    batchWindowDiff(left, right, tsUsCol, keys, valCols, widthUs,
      "diffStreamStreamLatestAnyBatch", latestAny(valCols))(
      anyCols(left.schema, valCols))

  /** Any-type last-write-wins stream-stream diff ([[liveWindowDiff]]):
    * last-write-wins over string/struct CDC rows, which the numeric form
    * refuses; same pick, status and output as
    * [[diffStreamStreamLatestAnyBatch]].
    */
  def diffStreamStreamLatestAny(leftFeed: DataFrame, rightFeed: DataFrame,
                                tsCol: String, keys: Seq[String],
                                valCols: Seq[String],
                                widthUs: Long, delay: String): DataFrame =
    liveWindowDiff(leftFeed, rightFeed, tsCol, keys, valCols, widthUs, delay,
      "diffStreamStreamLatestAny", latestAny(valCols))(
      anyCols(leftFeed.schema, valCols))

  /** Continuous-ingest CONTENT dedup against a persisted corpus — the
    * streaming half of dedup_delta: each arriving document hashes to its
    * SHA-256 content fingerprint, drops if the fingerprint exists in the
    * historical set (stream-static LEFT ANTI join — stateless, the
    * history is the build side exactly like [[diffStream]]'s snapshot),
    * and then dedups WITHIN the stream so each novel fingerprint emits
    * once. Output = the novel-content fingerprint feed (sha grain — at
    * sha grain batch and stream agree as a SET regardless of which
    * arrival won a race, so the parity pin is deterministic).
    *
    * State = one row per NOVEL fingerprint seen (the anti join runs
    * first, so re-sends of historical content never enter the dedup
    * state) — bounded by the novelty rate, not the arrival rate; a
    * production pipeline bounds it further with
    * dropDuplicatesWithinWatermark once arrival time enters the row.
    * The SAME body computes the oracle-checked batch key
    * (`stream_dedup_delta`); StreamBatchParitySpec pins set equality.
    */
  def dedupDeltaStream(arriving: DataFrame, textCol: String,
                       historyShas: DataFrame): DataFrame = {
    require(historyShas.columns.contains("h"),
      s"historyShas must carry the fingerprint column 'h' " +
        s"(have: ${historyShas.columns.mkString(", ")})")
    arriving
      .select(sha2(col(textCol).cast("binary"), 256).as("h"))
      .join(historyShas, Seq("h"), "left_anti")
      .dropDuplicates("h")
  }

  /** Exactly-once parquet sink for `foreachBatch`: every micro-batch
    * overwrites its own `batch_id=<id>` partition directory, so a replayed
    * batch (restart between sink write and offset commit — the at-least-
    * once window every foreachBatch sink has) REWRITES the same directory
    * instead of appending duplicates. Readers see `batch_id` as a normal
    * Hive partition column. Pinned by StreamingSmokeSpec's replay test.
    *
    * Usage: `df.writeStream.foreachBatch(StreamOps.idempotentParquetSink(path)).start()`
    */
  def idempotentParquetSink(path: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Exactly-once foreachBatch sink into a [[graft.sources.TxnLog]]
    * table: micro-batch N commits as table version N; a replayed batch id
    * (crash between sink and offset commit) is a no-op because the
    * version already exists. Unlike [[idempotentParquetSink]]'s
    * overwrite-by-batch-dir, readers here get SNAPSHOT isolation — they
    * never observe a half-written batch, and time travel reproduces any
    * prefix of the stream.
    */
  def txnLogSink(table: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      graft.sources.TxnLog.commitBatch(batch, table, batchId)
      ()
    }

  /** Exactly-once streaming SCD2 DIMENSION sink: each micro-batch is a
    * FULL dimension snapshot (the nightly extract arriving as a stream);
    * the sink diffs it against the table's current rows and applies the
    * changeset incrementally ([[graft.operators.Differ.applyScd2]] —
    * close C/D keys' intervals at the batch id, open fresh current rows
    * for C/I), committing the new history as table version = batchId via
    * copy-on-write overwrite. Batch 0 initializes every row at
    * valid_from 0. Version = batchId gives foreachBatch idempotence: a
    * crash-replayed batch sees latestVersion ≥ batchId and is a
    * structural no-op — VERIFIED structural, not assumed (r13 review
    * fix): the replay path diffs the arriving snapshot against the
    * committed version's current rows and fails loudly on any non-N row,
    * because the other way to reach latest ≥ batchId is CHECKPOINT LOSS
    * (a restarted stream's batch ids begin again at 0 against a table at
    * version N), where silently swallowing batches until ids catch up
    * would drop real snapshots. A true replay passes the check free of
    * false alarms; checkpoint loss trips it on the first divergent
    * snapshot with the recovery options named. A SKIPPED batch id fails
    * loudly (a gap would
    * silently mis-stamp every later interval). The oracle-checked key
    * `stream_scd2_sink` pins the read-back history == the full SCD2
    * rebuild from the snapshot stack; work per batch is changeset-sized
    * plus the history rewrite (at 100 TB the overwrite becomes a keyed
    * MERGE on the dimension table — dimension-sized, not fact-sized).
    */
  def scd2Sink(table: String, keys: Seq[String]): (DataFrame, Long) => Unit =
    (snapshot, batchId) => {
      import graft.sources.TxnLog
      val spark = snapshot.sparkSession
      val latest = TxnLog.latestVersion(table)
      if (latest < batchId) {
        require(latest == batchId - 1,
          s"scd2Sink: version gap — table at $latest, batch $batchId arrived " +
            "(a skipped micro-batch would mis-stamp every later interval)")
        if (batchId == 0L)
          TxnLog.init(
            snapshot.withColumn("valid_from", lit(0L))
              .withColumn("valid_to", lit(null).cast("long")), table)
        else {
          val dim = TxnLog.read(spark, table)
          val current = dim.filter(col("valid_to").isNull)
            .drop("valid_from", "valid_to")
          val changes = graft.operators.Differ.diff(current, snapshot, keys)
          TxnLog.overwrite(
            graft.operators.Differ.applyScd2(dim, changes, keys, newVersion = batchId),
            table)
        }
        ()
      } else {
        // latest >= batchId: idempotent replay — OR checkpoint loss. Prove
        // it is the former: the replayed batch's snapshot must equal the
        // current rows committed AT that version. Cost is one changeset-
        // sized diff on a path taken at most once per crash recovery.
        val committed = TxnLog.read(spark, table, asOf = Some(batchId))
          .filter(col("valid_to").isNull)
          .drop("valid_from", "valid_to")
        val divergent = graft.operators.Differ.diff(committed, snapshot, keys)
          .filter(col("diff_status") =!= "N").limit(1).count()
        require(divergent == 0L,
          s"scd2Sink: batch $batchId arrived for '$table' already at version " +
            s"$latest, but its snapshot DIFFERS from the committed version " +
            s"$batchId — this is checkpoint loss (restarted batch ids against " +
            "existing history), not an idempotent replay; restore the stream " +
            "checkpoint, or re-init the table to rebase ids")
        ()
      }
    }

  /** Exactly-once streaming CDC UPSERT into a keyed TxnLog table: each
    * micro-batch of change rows merges file-granularly (stat-pruned
    * copy-on-write) as table version batchId + 1 — version 0 is the
    * initKeyed base snapshot. Replayed batch ids are structural no-ops;
    * time travel reproduces the table as of any applied batch. This is
    * the streaming twin of [[applyCdcStream]]'s in-memory state: the
    * state lives in the TABLE, so it survives the query and serves
    * readers mid-stream with snapshot isolation.
    */
  def txnLogMergeSink(table: String, keyCol: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      graft.sources.TxnLog.mergeBatch(
        batch.sparkSession, table, batch, keyCol, batchId + 1)
      ()
    }

  /** Stream-stream interval join: each left event matches right events
    * with the same key whose event time lies in
    * `[leftTs + lowerUs, leftTs + upperUs]`. Both sides carry watermarks,
    * which is what lets the join state expire — without the time bound the
    * state would grow forever. The time-range condition on raw micros
    * keeps the predicate sargable for the state-store range scan.
    */
  /** Stream-stream interval join. `joinType = "leftOuter"` adds the
    * unmatched-left rows with a NULL right side — but ONLY once the
    * watermark passes the left row's join window (the engine cannot know
    * "no match will come" earlier), so outer results trail the inner ones
    * by the watermark delay and rows inside the final horizon of an
    * ending stream never emit. StreamBatchParitySpec drives a future
    * flush event through both streams to force the horizon past every
    * real row and pins stream == batch left-outer exactly.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String,
                   lowerUs: Long, upperUs: Long, delay: String,
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, delay).alias("l")
    val r = right.withWatermark(rightTs, delay).alias("r")
    l.join(
      r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") + expr(s"INTERVAL $lowerUs MICROSECOND") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $upperUs MICROSECOND"),
      joinType)
  }

  /** Custom-state sessionizer via `flatMapGroupsWithState` — the escape
    * hatch when session semantics outgrow `session_window` (e.g. emitting
    * event counts at close time, per-key gap policies, session TTL caps).
    *
    * State = one open session per key, hash-partitioned by the groupByKey
    * shuffle; the event-time timeout fires when the watermark passes
    * session_end + gap, emitting and evicting the session, which bounds
    * state size exactly like the native operator. Emitted sessions report
    * [start, last-event] in epoch micros (note: session_window's `end` is
    * last-event + gap; this emits the tighter bound).
    */
  /** Streaming ORDERED FUNNEL via `flatMapGroupsWithState` — the stateful
    * operator the windowed aggs can't express: t_view = first view,
    * t_click = first click AT OR AFTER t_view, t_purchase = first
    * purchase at or after t_click (the events_funnel batch semantics),
    * maintained incrementally under out-of-order arrival.
    *
    * The conditional mins cannot be finalized from arrival order alone (a
    * still-earlier view could retroactively qualify an already-seen
    * click), so per user the state buffers events ABOVE the watermark and,
    * each batch, drains the now-complete prefix (ts ≤ watermark) through
    * an event-time-ordered fold with kind as the tie-break — after which
    * those events are dropped. State is therefore bounded by the
    * watermark horizon, exactly like the native streaming aggs; the final
    * row emits when the event-time timeout fires (watermark passed the
    * user's last buffered event). Users with no view emit nothing, like
    * the batch form's view-anchored base. StreamBatchParitySpec pins
    * stream == events_funnel exactly (flush event forces the horizon).
    */
  def funnelWithState(events: DataFrame, tsCol: String, delay: String): Dataset[FunnelAnswer] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fold(st: FunnelState, upToUs: Long): FunnelState = {
      val (ready, later) = st.buf.partition(_.ts_us <= upToUs)
      var (v, c, p) = (st.tView, st.tClick, st.tPurchase)
      ready.sortBy(e => (e.ts_us, e.kind)).foreach { e =>
        e.kind match {
          case 0 => if (v < 0) v = e.ts_us
          case 1 => if (v >= 0 && c < 0 && e.ts_us >= v) c = e.ts_us
          case _ => if (c >= 0 && p < 0 && e.ts_us >= c) p = e.ts_us
        }
      }
      FunnelState(v, c, p, later)
    }

    def step(user: Long, it: Iterator[FunnelEvent],
             state: GroupState[FunnelState]): Iterator[FunnelAnswer] = {
      val st0 = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L, Nil))
      if (state.hasTimedOut) {
        val fin = fold(st0, Long.MaxValue)
        state.remove()
        if (fin.tView < 0) Iterator.empty
        else Iterator.single(FunnelAnswer(user, fin.tView,
          Some(fin.tClick).filter(_ >= 0), Some(fin.tPurchase).filter(_ >= 0),
          1L + (if (fin.tClick >= 0) 1 else 0) + (if (fin.tPurchase >= 0) 1 else 0)))
      } else {
        val wmMs = state.getCurrentWatermarkMs()
        val st1 = fold(st0.copy(buf = st0.buf ++ it), wmMs * 1000L)
        state.update(st1)
        // wake when the watermark passes the last unfinalized event (or
        // just past the current watermark if everything already drained)
        val next = if (st1.buf.isEmpty) wmMs + 1
                   else st1.buf.map(_.ts_us).max / 1000L + 1
        state.setTimeoutTimestamp(next)
        Iterator.empty
      }
    }

    events
      .withWatermark(tsCol, delay)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("long").as("user_id"),
        col("ts_us").cast("long").as("ts_us"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .otherwise(2).cast("int").as("kind"),
        // the watermark-tagged column must reach the stateful operator
        // verbatim (a cast would strip the tag) — tsCol must already be
        // TimestampType
        col(tsCol).as("tsm"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
  }

  /** Streaming HYSTERESIS ALERTING — the stateful twin of
    * events_alert_hysteresis' LOCF-window batch form: alert ON above
    * `hi`, OFF only below `lo`, episodes emitted as they CLOSE (the
    * alert-resolved notification), with the state machine folded in
    * event-time order under out-of-order arrival (same buffer-above-
    * watermark / drain-complete-prefix discipline as [[funnelWithState]]).
    * On the event-time timeout the final open episode (if any) emits —
    * matching the batch form, which reports in-progress episodes too.
    * State per user = one level + 4 episode scalars + the horizon-bounded
    * buffer. StreamBatchParitySpec pins stream episodes == batch exactly.
    */
  def alertWithState(events: DataFrame, tsCol: String, delay: String,
                     hi: Double = 90.0, lo: Double = 70.0): Dataset[AlertEpisode] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(hi > lo, s"hysteresis needs hi > lo, got $hi <= $lo")

    def fold(user: Long, st: AlertState, upToUs: Long)
        : (AlertState, List[AlertEpisode]) = {
      val (ready, later) = st.buf.partition(_.ts_us <= upToUs)
      var s = st.copy(buf = later)
      var out = List.empty[AlertEpisode]
      ready.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val level =
          if (e.value > hi) 1 else if (e.value < lo) 0 else s.level
        if (level == 1) {
          if (s.epStart < 0)
            s = s.copy(level = 1, epStart = e.ts_us, epEnd = e.ts_us,
              epN = 1L, epPeak = e.value)
          else
            s = s.copy(level = 1, epEnd = e.ts_us, epN = s.epN + 1,
              epPeak = math.max(s.epPeak, e.value))
        } else {
          if (s.epStart >= 0)
            out ::= AlertEpisode(user, s.epStart, s.epEnd, s.epN, s.epPeak)
          s = s.copy(level = 0, epStart = -1L, epEnd = -1L, epN = 0L,
            epPeak = Double.MinValue)
        }
      }
      (s, out.reverse)
    }

    def step(user: Long, it: Iterator[AlertEvent],
             state: GroupState[AlertState]): Iterator[AlertEpisode] = {
      val st0 = state.getOption.getOrElse(
        AlertState(0, -1L, -1L, 0L, Double.MinValue, Nil))
      if (state.hasTimedOut) {
        val (fin, closed) = fold(user, st0, Long.MaxValue)
        state.remove()
        val open =
          if (fin.epStart >= 0)
            List(AlertEpisode(user, fin.epStart, fin.epEnd, fin.epN, fin.epPeak))
          else Nil
        (closed ++ open).iterator
      } else {
        val wmMs = state.getCurrentWatermarkMs()
        val withNew = st0.copy(buf = st0.buf ++
          it.map(e => AlertBufEvt(e.ts_us, e.event_id, e.value)))
        val (st1, closed) = fold(user, withNew, wmMs * 1000L)
        state.update(st1)
        val next = if (st1.buf.isEmpty) wmMs + 1
                   else st1.buf.map(_.ts_us).max / 1000L + 1
        state.setTimeoutTimestamp(next)
        closed.iterator
      }
    }

    events
      .withWatermark(tsCol, delay)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts_us").cast("long").as("ts_us"),
        col("event_id").cast("long").as("event_id"),
        col("value").cast("double").as("value"),
        col(tsCol).as("tsm"))
      .as[AlertEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
  }

  /** Streaming CDC apply — the incremental twin of
    * [[graft.operators.Differ.applyChangeset]]: maintain the current value
    * of every key from a stream of I/C/D change rows, emitting each key's
    * latest row whenever it changes (Update mode). A deleted key's state is
    * evicted (`state.remove()`), so live state is exactly the live key set
    * — the materialized-view maintenance loop a 100 TB snapshot pipeline
    * runs between full diffs.
    *
    * Ordering: within a micro-batch a key's changes are applied in `seq`
    * order (change-log position — diff outputs carry no ordering, so the
    * caller stamps it); across batches the state's `last_seq` guards
    * against replayed/out-of-order deliveries (at-least-once sources),
    * making the apply idempotent. State is hash-partitioned by the
    * groupByKey shuffle, same scale shape as the native streaming aggs.
    */
  def applyCdcStream(changes: Dataset[CdcChange]): Dataset[CdcRow] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .groupByKey(_.key)
      .mapGroupsWithState[CdcRow, CdcRow](GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[CdcChange], state: GroupState[CdcRow]) =>
          val ordered = rows.toArray.sortBy(_.seq)
          var cur = state.getOption
          for (c <- ordered if cur.forall(_.last_seq < c.seq)) c.status match {
            case "D" => cur = None
            case _   => cur = Some(CdcRow(key, c.value, c.seq))
          }
          cur match {
            case Some(r) => state.update(r); r
            case None =>
              if (state.exists) state.remove()
              // Update-mode contract needs a row per touched key; a dead
              // key is emitted once with its tombstone sequence so sinks
              // can propagate the delete.
              CdcRow(key, Double.NaN, ordered.last.seq)
          }
      }
  }

  def sessionizeWithState(events: DataFrame, tsCol: String, gapUs: Long,
                          delay: String, keyCol: String = "user_id"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    def usOf(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    events
      .withWatermark(tsCol, delay)
      .select(col(keyCol).cast("long"), col(tsCol))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) =>
          if (!rows.hasNext && state.hasTimedOut) {
            // watermark passed session_end + gap: close and evict.
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.startUs, s.endUs, s.n))
          } else {
            // micro-batch rows arrive unordered — sort before merging.
            val ts = rows.map(r => usOf(r._2)).toArray.sorted
            val closed = Array.newBuilder[SessionOut]
            var cur = state.getOption
            for (t <- ts) cur match {
              case None =>
                cur = Some(OpenSession(t, t, 1))
              case Some(s) if t - s.endUs > gapUs =>
                closed += SessionOut(user, s.startUs, s.endUs, s.n)
                cur = Some(OpenSession(t, t, 1))
              case Some(s) =>
                cur = Some(s.copy(endUs = math.max(s.endUs, t), n = s.n + 1))
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.endUs + gapUs) / 1000L)
            }
            closed.result().iterator
          }
      }
  }
}
