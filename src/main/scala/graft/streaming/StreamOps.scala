package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming tier (SURVEY.md §2.9): the reference's latent streaming
  * semantics as Structured Streaming transforms. Every function takes a
  * (possibly streaming) DataFrame of the `events` shape
  * `(event_id, ts, user_id, event_type, value, props)` and returns a lazy
  * transform — the same code runs on `readStream` and on batch DataFrames.
  *
  *  - tumbling windows + watermark: the month-folder landing
  *    partitioning (email_fetcher.py:71-74) generalized (the sliding
  *    variant is `SetOpsWindows.slidingWindow`, query `stream_sliding`);
  *  - session windows: A1's gap-based clustering transposed to time
  *    (pdf_parser.py:259-281 ≈ `session_window(ts, gap)`);
  *  - watermarked dedup: the skip-if-exists download guard
  *    (email_fetcher.py:86-90) as exactly-once state;
  *  - flatMapGroupsWithState: custom running per-user counters, the general
  *    stateful escape hatch.
  */
object StreamOps {

  /** Tumbling hourly counts with late-data handling: events later than the
    * watermark are dropped, so state is bounded — the property that lets
    * this run forever at 100 TB/day. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows: per-user sessions closed by a 10-minute gap — the
    * streaming twin of Aggregates.a01Sessionize (same gap, same semantics;
    * the batch window formulation and this must agree on closed sessions). */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join: each purchase joins the same user's
    * clicks from the trailing 10 minutes — the streaming twin of the J4
    * band join (operators.Joins.j04BandJoin's shape). Both sides carry
    * watermarks and the join condition bounds event time in BOTH
    * directions, which is what lets Structured Streaming GC join state:
    * a click older than purchase-watermark − 10 min can never match again.
    * The transform is batch/stream agnostic — StreamingSpec asserts the
    * replayed-stream result equals the batch execution of this same
    * function. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** Stream-stream LEFT OUTER interval join — [[clickPurchaseJoin]] with
    * the unmatched side kept: a purchase with NO click in its trailing
    * window still emits, null click columns, but only once the click-side
    * watermark passes the last instant a matching click could arrive.
    * That is the semantics that separates outer stream joins from batch:
    * the null row comes from STATE EXPIRY, not from scanning the other
    * side, so state stays bounded by the watermark horizon and the final
    * sink equals the batch left outer (StreamingSpec pins both the
    * equality and that the null row does NOT emit before the watermark
    * advances). Same both-sides-bounded condition as the inner form —
    * without it Spark rejects the outer join (state would be immortal). */
  def clickPurchaseLeftOuter(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
      .select(col("p_id"), col("c_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** Stream-stream FULL OUTER interval join — the remaining stateful join
    * mode after [[clickPurchaseLeftOuter]]: BOTH sides' unmatched rows
    * emit null-padded, each on ITS OWN watermark-driven state expiry. An
    * unmatched purchase surfaces once the click watermark passes the last
    * instant a matching click could carry; an unmatched click surfaces
    * once the purchase watermark passes the last instant a purchase whose
    * trailing 10-minute window could still cover it. The user key
    * coalesces across sides so the output schema is total. Same
    * both-sides-bounded time condition — the GC contract. StreamingSpec
    * pins final sink ≡ batch AND that null rows for BOTH sides emit only
    * after the opposing watermark passes. */
  def clickPurchaseFullOuter(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "full_outer")
      .select(col("p_id"), col("c_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** Stream-static enrichment join: each streaming event picks up its
    * user's dimension attributes from a STATIC (batch) customer frame —
    * the canonical streaming-ETL shape (fact stream ⋈ slowly-refreshed
    * dim). No watermark is needed on either side: the static side carries
    * no event time, so the join keeps NO state at all — each micro-batch
    * broadcast-joins the dim and moves on. At 100 TB/day the dim side
    * stays executor-resident (broadcast, refreshed per trigger from the
    * batch frame), which is why this shape scales where a stream-stream
    * join would not. Inner join: events from users outside the dim are
    * dropped identically in batch and stream. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("dim_key"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("dim_segment"), col("value"))

  /** Exactly-once landing dedup: drop duplicate event_ids arriving within
    * the watermark horizon (state is GC'd beyond it). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Landing pipeline: at-least-once dedup THEN windowed aggregation as
    * chained stateful operators in ONE streaming query. The aggregation
    * reuses the dedup stage's watermark — Spark disallows redefining a
    * watermark downstream, so composed pipelines set it exactly once at
    * the source. This is the production shape for bus ingestion: redelivery
    * collapses in the dedup state, and the agg sees exactly-once rows. */
  def dedupedTumblingCounts(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    dedupWithinWatermark(events)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Dedup → session-window twin of [[dedupedTumblingCounts]]. */
  def dedupedSessionCounts(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    dedupWithinWatermark(events)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stateful burst suppression — the streaming twin of
    * `Aggregates.f07DedupBursts`: emit only the FIRST event of each < 5 s
    * same-(user, type) chain. Unlike `dropDuplicatesWithinWatermark` (exact
    * id dedup) the chain condition depends on the PREVIOUS event's time, so
    * it needs real user state: one long per key (last seen event time, µs) —
    * bounded, and GC-able via a state timeout at production scale. Within a
    * micro-batch events are folded in (ts, event_id) order, so replaying
    * history in event-time order reproduces the batch answer exactly
    * (StreamingSpec pins ≡ f07 on real data). */
  def burstDebounce(events: Dataset[UserEvent], gapUs: Long = 5000000L): Dataset[UserEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, UserEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (_: (Long, String), batch: Iterator[UserEvent], state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = Seq.newBuilder[UserEvent]
          batch.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val t = micros(e.ts)
            if (last == Long.MinValue || t - last >= gapUs) out += e
            last = t
          }
          state.update(last)
          out.result().iterator
      }
  }

  private def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Idempotent `foreachBatch` upsert sink: merge each micro-batch into a
    * parquet target, last-wins per key by (batch id, tie-break columns) —
    * the K2 upsert semantics (database.py's INSERT OR REPLACE) as a
    * streaming sink. Replay-safe: reprocessing the same rows under any
    * batch id converges to the same target state, which is exactly the
    * guarantee foreachBatch needs under at-least-once delivery.
    *
    * The merged frame is `localCheckpoint`ed (materialized) BEFORE the
    * overwrite so the job never reads the directory it is rewriting. At
    * 100 TB this read-merge-rewrite becomes a partitioned merge into a
    * transactional table format; the per-batch dataflow (union + keyed
    * last-wins window) is identical — only the commit protocol changes. */
  def upsertBatch(targetDir: String, key: String, tieBreak: Seq[String])
                 (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                  batchId: Long): Unit = {
    val spark = batch.sparkSession
    val incoming = batch.toDF().withColumn("__batch", lit(batchId))
    val merged =
      if (new java.io.File(targetDir).exists())
        spark.read.parquet(targetDir).unionByName(incoming)
      else incoming
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
      .orderBy(col("__batch").desc +: tieBreak.map(col(_).desc): _*)
    merged.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
      .localCheckpoint()
      .write.mode("overwrite").parquet(targetDir)
  }

  case class UserEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  // ---- count-capped sessions with TTL (arbitrary custom state) -----------

  val cappedGapUs = 600000000L // the house 10-minute session gap (A1 rule)
  val cappedCap = 2 // driver-query cap; production caps are larger

  case class CappedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long,
                           sum_value: Double, close_reason: String)

  /** Per-key state: `frontier_us` = the event time through which this key's
    * history is already folded (the watermark at last processing — anything
    * at or before it is late or a duplicate of a processed event);
    * `pending` = buffered events not yet provably complete (ts beyond the
    * watermark); `open_*` = the in-progress session (n = 0 ⇔ none). All
    * three are BOUNDED by the watermark horizon: pending holds at most the
    * delay window's events, the session is one row, and the state itself
    * expires via the event-time timeout. */
  case class CappedState(frontier_us: Long, pending: List[(Long, Long, Long)],
                         open_start: Long, open_last: Long, open_n: Long,
                         open_sum_q: Long)

  /** DECIMAL(18,4) quantization of a value — the `dec()` money convention
    * as a long carrier, so the fold's sum is order-independent and equals
    * the batch twin's decimal aggregate exactly. */
  private def quant4(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()

  private def tsOf(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Count-capped sessions with TTL — the arbitrary-state operator no
    * built-in expresses: sessions close on the 10-minute gap (A1's rule)
    * OR when they reach `cap` events, whichever first. `session_window`
    * cannot cap (window merge is count-blind), and the cap rule is
    * sequential per key — real custom state.
    *
    * Event-time-correct under ANY at-least-once feed: arriving events are
    * BUFFERED in state and folded only once the watermark proves no
    * earlier event can arrive — so arrival order, micro-batch splits, and
    * redelivery (dropped against the frontier / the pending buffer) all
    * yield the identical sink (StreamingSpec replay proof). The TTL is the
    * event-time timeout armed at the earliest actionable instant
    * (min(next pending event, open-session gap expiry)); when the
    * watermark passes it with no new data, the open session flushes and
    * the key's state is REMOVED — state lives exactly as long as the
    * watermark horizon requires, the property that lets per-key state run
    * forever at 100 TB/day. */
  def cappedSessions(events: Dataset[UserEvent], gapUs: Long = cappedGapUs,
                     cap: Int = cappedCap,
                     watermark: String = "30 minutes"): Dataset[CappedSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CappedState, CappedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[CappedState]) =>
          val st = state.getOption.getOrElse(
            CappedState(Long.MinValue, Nil, 0L, 0L, 0L, 0L))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // ingest: drop late rows and duplicates (frontier / in-flight ids)
          var pending = st.pending
          if (!state.hasTimedOut) {
            val ids = scala.collection.mutable.Set(pending.map(_._2): _*)
            batch.foreach { e =>
              val t = micros(e.ts)
              if (t > st.frontier_us && ids.add(e.event_id))
                pending = (t, e.event_id, quant4(e.value)) :: pending
            }
          }
          // fold every event the watermark has made final, in event order
          val (ready, rest) = pending.partition(_._1 <= wmUs)
          val out = Seq.newBuilder[CappedSession]
          var (oStart, oLast, oN, oSum) =
            (st.open_start, st.open_last, st.open_n, st.open_sum_q)
          def close(reason: String): Unit = {
            out += CappedSession(uid, tsOf(oStart), tsOf(oLast), oN,
              new java.math.BigDecimal(java.math.BigInteger.valueOf(oSum), 4)
                .doubleValue(), reason)
            oN = 0
          }
          ready.sortBy(p => (p._1, p._2)).foreach { case (t, _, q) =>
            if (oN > 0 && t - oLast < gapUs) { oLast = t; oN += 1; oSum += q }
            else {
              if (oN > 0) close("gap")
              oStart = t; oLast = t; oN = 1; oSum = q
            }
            if (oN >= cap) close("cap")
          }
          // the gap may have elapsed in EVENT time already — flush eagerly
          // so every armed timeout target stays strictly beyond the watermark
          if (oN > 0 && wmUs >= oLast + gapUs) close("gap")
          if (rest.isEmpty && oN == 0) state.remove()
          else {
            state.update(CappedState(math.max(st.frontier_us, wmUs), rest,
              oStart, oLast, oN, oSum))
            val targets = rest.map(_._1) ++
              (if (oN > 0) Seq(oLast + gapUs) else Nil)
            state.setTimeoutTimestamp(targets.min / 1000L + 1)
          }
          out.result().iterator
      }
  }

  /** Custom state: running per-user totals via flatMapGroupsWithState —
    * emits an updated `UserRunning` row per input batch per user. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val evs = batch.toSeq
          val next = UserRunning(uid, prev.n_events + evs.size,
            prev.total_value + evs.map(_.value).sum)
          state.update(next)
          Iterator(next)
      }
  }
}
