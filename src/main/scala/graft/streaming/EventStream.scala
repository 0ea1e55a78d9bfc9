package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §2.8: streaming absent — its
  * incrementality is ArgumentTainter graph patching, which our store layer
  * mirrors as per-bucket recompute). This module adds the streaming surface
  * a training-data pipeline needs anyway: watermarked windowed aggregation,
  * late-data handling, and custom sessionization state — all standard
  * Structured Streaming (`readStream` → transform → `writeStream`), tested
  * through `MemoryStream` in StreamingSpec.
  *
  * Scale notes: stateful operators shuffle by their grouping key; the
  * watermark bounds state size (late rows beyond it are dropped); session
  * state is per-user and O(1) per update — the state store grows with
  * |active keys|, not |events|.
  */
object EventStream {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Tumbling-window counts/sums per event type with a watermark: late events
    * older than `watermark` are dropped (deterministic under replay). */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class SessionState(intervals: List[(Long, Long, Int)])
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              n_events: Int, duration_sec: Long)

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * after `gapSec` of event-time inactivity. The streaming twin of the
    * batch q20_sessionize window query.
    *
    * A session is emitted ONLY once the watermark passes its end + gap —
    * never merely because a gap appeared inside one micro-batch. Until then
    * every still-reachable interval stays in state, so an in-watermark
    * straggler can extend or merge ANY open interval instead of becoming a
    * spurious singleton next to an already-emitted session. Emission is
    * therefore a pure function of (input set, watermark trajectory) — the
    * determinism-under-replay invariant — and closed sessions are final: an
    * event that could still touch one (ts ≤ end + gap ≤ watermark) is by
    * definition behind the watermark and already dropped. State is bounded:
    * intervals die as soon as the watermark passes them.
    *
    * Interval arithmetic is MICROSECOND-exact (the q20 lesson: the event
    * timestamps carry micros, and comparing gaps at ms resolution flips
    * session boundaries for gaps within 1 ms of the threshold — which is
    * exactly the kind of divergence the batch-oracle gate would catch). */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800,
                 watermark: String = "30 minutes"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    // java.sql.Timestamp: getTime is floor-to-ms, getNanos the FULL
    // fractional second — micros = floor(ms/1000)·1e6 + nanos/1000
    def us(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // ONE body for both data batches and timeouts (rows is empty on
          // timeout): merge, close what the watermark has passed, keep the rest
          val gapUs = gapSec * 1000000L
          val intervals = (state.getOption.map(_.intervals).getOrElse(Nil) ++
            rows.map(e => (us(e.ts), us(e.ts), 1))).sortBy(iv => (iv._1, iv._2))
          // uniform interval merge: stored intervals plus each event (a point
          // interval), merged when within the gap — stragglers chaining with
          // each other, interior events and backward extension all fall out
          // of the one rule
          val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          intervals.foreach { iv =>
            merged.lastOption match {
              case Some(m) if iv._1 <= m._2 + gapUs =>
                merged(merged.length - 1) = (m._1, math.max(m._2, iv._2), m._3 + iv._3)
              case _ => merged += iv
            }
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = merged.partition(iv => iv._2 + gapUs <= wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionState(open.toList))
            // wake when the earliest open interval becomes closable; timeout
            // timestamps are ms — floor+1 stays strictly > wm (as
            // setTimeoutTimestamp requires) and fires ≤1 ms past closable
            state.setTimeoutTimestamp(
              Math.floorDiv(open.map(_._2).min + gapUs, 1000L) + 1L)
          }
          closed.iterator.map { case (stUs, enUs, n) =>
            val t = new Timestamp(Math.floorDiv(stUs, 1000000L) * 1000L)
            t.setNanos((Math.floorMod(stUs, 1000000L) * 1000L).toInt)
            SessionOut(userId, t, n, (enUs - stUs) / 1000000L)
          }
      }
  }

  /** Stream-stream attribution join: each purchase matched to the clicks of
    * the SAME user in the preceding `windowSec` of event time. Watermarks on
    * both sides bound the join state (clicks older than purchase-watermark −
    * window are evicted); the time-bound predicate is what makes the state
    * finite — an unbounded stream-stream equi-join never evicts. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      windowSec: Long = 1800,
                      watermark: String = "30 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
    p.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSec seconds"))
      .select("purchase_id", "click_id", "user_id", "value")
  }

  /** Within-watermark event dedup on `event_id`: re-deliveries inside the
    * watermark window are dropped; state for ids older than the watermark
    * is evicted (O(|recent ids|), not O(|stream|)) — which also means a
    * re-delivery AFTER eviction passes through (at-least-once beyond the
    * watermark horizon; only the batch exact-dedup operator is exact). */
  def dedupEvents(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming triple extraction: the build's `TripleExtractor.flat`, read
    * through its unsorted view (a stateless mapPartitions and a projection,
    * so it lifts to streaming unchanged: append mode, no state). NOTE this
    * selects the TRIPLE rows only: failed pages are visible in the metrics
    * accumulators, and a consumer that needs the per-page error rows should
    * read the view itself and keep the rowKind = "p" rows alongside. */
  def streamingTriples(spark: SparkSession, pages: DataFrame,
                       nPersons: Int = 500): DataFrame = {
    import spark.implicits._
    graft.extract.TripleExtractor.flat(pages.as[graft.model.Page], nPersons).view
      .filter($"rowKind" === "t" && $"pred" =!= "same_as")
      .select($"subj", $"pred", $"obj", $"objValue", $"url", $"conf")
  }
}
