package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

/** Event record for the typed streaming surface (events table shape,
  * FIXTURES.md §B). */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Per-user running aggregate maintained by the stateful operator. */
case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

/** The latest click a user has produced — the O(1) per-user state of
  * [[EventsStream.attributionLatest]] (micros since epoch + event id,
  * the same composite order q117's batch window ranks by). */
case class ClickRef(ts_us: Long, id: Long)

/** A FINAL per-purchase attribution (q117's output shape, streamed). */
case class Attribution(purchase_id: Long, user_id: Long,
    purchase_ts: java.sql.Timestamp, click_id: Long,
    click_ts: java.sql.Timestamp, gap_us: Long)

/** Structured-Streaming twin of the incremental ingestion job (SURVEY.md
  * §2.3): the same windowed/sessionized aggregations as
  * graft.queries.TimeWindows, but incremental — state lives in the
  * checkpointed state store, watermarks bound it, and the foreachBatch
  * sink commits offsets only after a successful idempotent write
  * (sink-then-commit, the reference's delivery bug fixed).
  *
  * Every transform takes and returns streaming DataFrames/Datasets, so
  * they compose identically in batch tests (MemoryStream) and production.
  */
object EventsStream {

  /** Every ts-consuming twin normalizes its input through the SAME helper
    * the batch loader uses (graft.core.Tables.normalizeTs): a twin wired
    * to a parquet `readStream` of the fixture would otherwise hit the
    * identical TIMESTAMP_NTZ wall the round-9 regeneration hit on the
    * batch path. MemoryStream-fed specs pass through untouched (already
    * TimestampType). */
  private def norm(events: DataFrame): DataFrame =
    graft.core.Tables.normalizeTs(events)

  /** Tumbling-window counts with a watermark: late rows beyond the
    * watermark are dropped from state — bounded memory at any scale. */
  def tumblingCounts(rawEvents: DataFrame, window: String = "10 minutes",
      watermark: String = "5 minutes"): DataFrame =
    norm(rawEvents)
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count("*").as("n_events"), round(sum("value"), 2).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the PRIMARY-KEY enforcement the reference's Snowflake DDL implies
    * but never enforces (reference README.md:268). */
  def dedup(rawEvents: DataFrame, watermark: String = "5 minutes"): DataFrame =
    norm(rawEvents).withWatermark("ts", watermark)
      .dropDuplicates("event_id", "ts")

  /** Session windows (gap-based) per user. */
  def sessions(rawEvents: DataFrame, gap: String = "30 minutes",
      watermark: String = "5 minutes"): DataFrame =
    norm(rawEvents)
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count("*").as("n_events"), round(sum("value"), 2).as("total"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total"))

  /** Watermarked STREAM-STREAM interval join — the correlation surface
    * none of the other twins exercise: clicks and purchases are two
    * watermarked views of the event stream, and each purchase joins
    * every click by the same user in its trailing 3-day window. State
    * is BOUNDED on both sides: a buffered click only matches purchases
    * up to 3 days later (evicted once the purchase watermark passes
    * click_ts + 3 days), and a buffered purchase only matches clicks at
    * or before its own timestamp (evicted once the click watermark
    * passes purchase_ts) — both bounds live in TOP-LEVEL conjuncts so
    * the engine can extract them; the watermark + interval bound is
    * what makes an unbounded stream joinable at all. Emits the candidate PAIR stream (append mode
    * cannot also pick "most recent" — that per-purchase argmax is
    * q117's batch window, or a downstream micro-batch rollup); pair
    * semantics match q117's join exactly, strict (ts, event_id)
    * composite order included, so the spec can hold the streamed pairs
    * to the batch query's candidate set. */
  def attributionPairs(rawEvents: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val events = norm(rawEvents)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id").as("click_user"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("user_id"))
      .withWatermark("purchase_ts", watermark)
    // The redundant top-level click_ts <= purchase_ts conjunct matters:
    // the strict ordering lives inside an OR (tie-break on event_id), and
    // Spark only extracts watermark range bounds from TOP-LEVEL
    // conjuncts — without it the purchase side has no upper bound and
    // its buffered state is never evicted on a long-running stream.
    // (<= not <: the OR admits click_ts == purchase_ts pairs.)
    purchases.join(clicks,
      col("click_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        (col("click_ts") < col("purchase_ts") ||
          (col("click_ts") === col("purchase_ts") &&
            col("click_id") < col("purchase_id"))) &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 3 DAYS"))
      .select("purchase_id", "user_id", "purchase_ts", "click_id",
        "click_ts")
  }

  /** True microseconds since the epoch from a [[java.sql.Timestamp]].
    * `getTime` alone is MILLIS — the events fixture is physical
    * timestamp[us], and `getTime * 1000` would manufacture zeros where
    * the fixture carries real sub-millisecond digits (wrong tie-breaks,
    * wrong `gap_us` low digits, and an accept/reject flip at the 3-day
    * boundary vs q117's `unix_micros`). `getNanos` holds the FULL
    * fractional second, so rebuild: whole seconds from `getTime`
    * (floorDiv for pre-epoch correctness), micros from `getNanos`. */
  private[streaming] def timestampMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Inverse of [[timestampMicros]] — reconstructs the Timestamp at full
    * µs precision (the constructor-from-millis would truncate). */
  private[streaming] def microsTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  final class LatestClickAttributor
      extends StatefulProcessor[Long, Event, Attribution] {
    @transient private var latest: ValueState[ClickRef] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[ClickRef]("latest_click",
        Encoders.product[ClickRef], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Attribution] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
      // (ts, event_id) composite order inside the batch: a same-batch
      // click is visible to a later purchase, exactly like q117's
      // strictly-earlier-in-composite-order window frame
      rows.toSeq.sortBy(e => (timestampMicros(e.ts), e.event_id))
        .foreach { e =>
          val tsUs = timestampMicros(e.ts)
          e.event_type match {
            case "click" =>
              val cur = if (latest.exists()) Option(latest.get()) else None
              if (cur.forall(c => c.ts_us < tsUs ||
                  (c.ts_us == tsUs && c.id < e.event_id)))
                latest.update(ClickRef(tsUs, e.event_id))
            case "purchase" if latest.exists() =>
              val c = latest.get()
              val gap = tsUs - c.ts_us
              if (gap >= 0 && gap <= 3L * 24 * 3600 * 1000000L)
                out += Attribution(e.event_id, key, e.ts, c.id,
                  microsTimestamp(c.ts_us), gap)
            case _ => ()
          }
        }
      out.iterator
    }
  }

  /** One FINAL attribution row per purchase (streaming argmax) — the
    * half of q117 [[attributionPairs]] provably cannot deliver: an
    * append-mode stream-stream join emits candidate pairs (every click
    * in the window), because "most recent" over an unbounded stream is
    * a per-purchase argmax that append mode cannot retract. This
    * operator keeps the argmax itself as state instead: ONE ValueState
    * per user holding the latest click seen — O(1) per user, unlike
    * the pair join's O(clicks-in-window) buffered rows — and each
    * purchase emits exactly once, reading that state. Batch rows are
    * processed in (ts, event_id) composite order, so the emitted
    * attribution equals q117's batch argmax whenever events arrive in
    * event-time order across batches (the differential spec's
    * contract); a click arriving AFTER its purchase's batch cannot
    * retro-attribute — the documented as-of-processing semantics every
    * streaming attribution system carries. */
  def attributionLatest(events: Dataset[Event]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new LatestClickAttributor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Custom state: per-user running totals via mapGroupsWithState — the
    * engine's generic stateful-operator surface (cursor-like state the
    * reference keeps in last_repo_id generalizes to arbitrary per-key
    * state here). */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserTotal(userId, n, math.rint(v * 100) / 100)
          state.update(next)
          next
      }
  }

  /** The same running totals on the `transformWithState` successor API
    * (SURVEY §2.5): typed ValueState through a StatefulProcessor handle —
    * the surface that adds composable state variables, timers, and TTL
    * over what mapGroupsWithState offers. Requires the RocksDB state
    * store provider (the operator rejects the default HDFS-backed one). */
  final class RunningTotalsProcessor
      extends StatefulProcessor[Long, Event, UserTotal] {
    @transient private var totals: ValueState[UserTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal]("totals",
        Encoders.product[UserTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserTotal] = {
      val prev = if (totals.exists()) totals.get() else UserTotal(key, 0L, 0.0)
      val (n, v) = rows.foldLeft((prev.n_events, prev.total_value)) {
        case ((cn, cv), e) => (cn + 1, cv + e.value)
      }
      val next = UserTotal(key, n, math.rint(v * 100) / 100)
      totals.update(next)
      Iterator.single(next)
    }
  }

  def runningUserTotalsTws(events: Dataset[Event]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Exactly-once sink: idempotent per-batch overwrite keyed by batchId.
    * Re-delivery of a batch after a crash rewrites the same directory —
    * offsets (checkpoint) advance only after this function returns, so
    * sink-then-commit ordering holds (fixes reference
    * src/extract_github_data.py:714 vs :746). */
  def writeBatchIdempotent(out: String)(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$out/batch=$batchId")

  def startToParquet(stream: DataFrame, out: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(writeBatchIdempotent(out) _)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
