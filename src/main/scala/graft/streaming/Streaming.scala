package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.engine.LocalCheckpointFiles

/** Structured-Streaming twins of the reference's stateful topologies
  * (SURVEY.md §2.5): the same declarative plans as the batch queries, run
  * incrementally with watermarks and state stores. Batch and streaming share
  * one definition wherever Spark allows it — the KTable/aggregate duality
  * the reference builds by hand is Catalyst's `IncrementalExecution` here.
  *
  * Tested via MemoryStream in StreamingParitySpec: final streaming state
  * must equal the batch recompute on the same rows (SURVEY.md §5.2).
  */
object Streaming {

  /** Typed event row mirroring events.parquet (FIXTURES.md). */
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  /** A2 (AggregationsExample.scala:36-38) as a streaming update query:
    * per-key running sum, one update row per micro-batch per changed key —
    * the micro-batch granularity of the reference's per-record changelog
    * (documented divergence, SURVEY.md §4.2). The sum runs in DECIMAL(18,2)
    * and casts back to double — the same money-sum the batch twin uses:
    * decimal addition is exact, so the converged total is independent of
    * arrival/partition order and the DuckDB oracle replays it bit-for-bit.
    */
  def runningSumUpdates(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double").as("total"))

  /** S2 (KTableExample.scala:52-56) streaming form: latest-record-per-key
    * changelog view maintained incrementally. `max_by(struct(...), struct(ts,
    * event_id))` works unchanged in update mode — same single-shuffle plan
    * as the batch KTable.
    */
  def latestPerKeyUpdates(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("latest"))
      .select(col("user_id"), col("latest.event_id"), col("latest.ts"),
        col("latest.event_type"), col("latest.value"))

  /** J1 (JoinsExample.scala:47-56) streaming form: stream–stream interval
    * equi-join with watermarks. `grace` is the watermark delay — "0 seconds"
    * reproduces JoinWindows.ofTimeDifferenceWithNoGrace (late records
    * dropped once the watermark passes). State on both sides is bounded by
    * watermark + tolerance — the symmetric-hash-join state Kafka Streams
    * keeps in its window store, managed by Spark.
    */
  /** `joinType` extends the same topology to outer forms: "leftOuter"
    * emits the null-padded left row once the watermark closes its window —
    * the streaming twin of the batch left interval join (J3).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         tolerance: String, grace: String = "0 seconds",
                         joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", grace).alias("l")
    val r = right.withWatermark("ts", grace).alias("r")
    l.join(r,
      col("l.user_id") === col("r.user_id") &&
        col("r.ts") >= col("l.ts") - expr(s"INTERVAL $tolerance") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $tolerance"),
      joinType)
  }

  /** A3/W1 (ProcessorApiExample.scala:60-67): per-record read-modify-write
    * of a persistent per-key store, via the Spark 4 `transformWithState`
    * API. Emits the updated (key, total) after every input record — the
    * reference's per-record changelog granularity, exactly.
    */
  final class RunningTotalProcessor
      extends StatefulProcessor[Long, Event, (Long, Double)] {
    @transient private var total: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Double](
        "total-price-store", Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[(Long, Double)] =
      rows.map { e =>
        val t = (if (total.exists()) total.get() else 0.0) + e.value
        total.update(t)
        (key, t)
      }
  }

  /** A3/W1 in ORACLE-CHECKABLE form: the same per-record read-modify-write
    * as [[RunningTotalProcessor]], accumulating in integer CENTS. Every
    * emission is a per-key prefix sum; cents are exact and event values are
    * non-negative, so the prefix sums are monotone and `max(emissions)`
    * per key equals the converged total REGARDLESS of arrival order —
    * which is what lets a per-record changelog be verified against a batch
    * SQL oracle (StreamParity.processorStreamParity). The double form
    * keeps the reference's exact emission values; this form makes the
    * changelog itself deterministic.
    */
  final class RunningCentsProcessor
      extends StatefulProcessor[Long, Event, (Long, Long)] {
    @transient private var cents: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cents = getHandle.getValueState[Long](
        "total-cents-store", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[(Long, Long)] =
      rows.map { e =>
        // CentsSum.cents, NOT math.round(v*100): the binary product of a
        // value like 8.115 rounds the other way, diverging from the
        // oracle's CAST(v AS DECIMAL(18,2)) * 100 (latent on 2-decimal
        // fixtures, wrong on the first 3-decimal value)
        val t = (if (cents.exists()) cents.get() else 0L) +
          graft.functions.CentsSum.cents(e.value)
        cents.update(t)
        (key, t)
      }
  }

  /** W1 with a MAP-shaped store: per-user counters per event type held in
    * a `MapState[String, Long]` — the reference's KeyValueStore whose
    * value is itself a map (the common "counters per dimension" processor
    * shape). Each record increments its type's entry and emits the updated
    * (user, type, n): every emission is a per-(user, type) prefix count,
    * monotone, so `max(emissions)` per (user, type) equals the converged
    * count regardless of arrival order — the same changelog-foldability
    * argument as [[RunningCentsProcessor]], which is what lets the DuckDB
    * batch oracle check a real MapState execution
    * (StreamParity.mapStateStreamParity). State per key is bounded by the
    * type cardinality, not the stream length.
    */
  final class TypeCountsProcessor
      extends StatefulProcessor[Long, Event, (Long, String, Long)] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "type-counts-store", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[(Long, String, Long)] =
      rows.map { e =>
        val n = (if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L) + 1L
        counts.updateValue(e.event_type, n)
        (key, e.event_type, n)
      }
  }

  /** W1 with a LIST-shaped store: the 3 most recent events per user BY
    * EVENT TIME, held in a `ListState` (the reference's windowed-buffer
    * store shape). Keeping the buffer ordered by (ts, event_id) — not by
    * arrival — makes the converged buffer a pure function of the input
    * SET, so it is batch-checkable; a per-key version counter (monotone)
    * lets the changelog fold to "the last emission per key" with a plain
    * max, the same trick as the other processors. Emissions carry the
    * buffer as one comma-joined id string (deterministic order). State
    * per key: ≤ 3 entries + a long.
    */
  final class RecentEventsProcessor
      extends StatefulProcessor[Long, Event, (Long, Long, String)] {
    @transient private var buf: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var version: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[(Long, Long)]("recent-events-store",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
      version = getHandle.getValueState[Long]("recent-version",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[(Long, Long, String)] =
      rows.map { e =>
        val cur = buf.get().toSeq
        // microsecond precision: Timestamp.getTime is millis, and a
        // millis-collapsed tie would rank by id where the oracle (micro-
        // second timestamps) still ranks by time
        val micros = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
        val next = ((micros, e.event_id) +: cur)
          .sortBy { case (t, id) => (-t, -id) }.take(3)
        buf.clear()
        buf.appendList(next.toArray)
        val v = (if (version.exists()) version.get() else 0L) + 1L
        version.update(v)
        (key, v, next.map(_._2).mkString(","))
      }
  }

  /** Typed order-changelog row (orders.parquet with exact cents). */
  final case class OrderVersion(o_custkey: Long, o_orderkey: Long,
                                o_orderstatus: String, o_orderpriority: String,
                                o_orderdate: Timestamp, cents: Long)

  /** Adder/subtractor delta emission for `KGroupedTable.aggregate` IVM
    * semantics, streaming form (the batch twin is
    * `AnalyticsQueries.ivmAgg`): per customer key, each arriving changelog
    * version RETRACTS the previous live version from its group (−1,
    * −cents) and, unless it is a tombstone (status 'F'), ADDS itself to
    * its own group (+1, +cents). State per key: the last live (priority,
    * cents) — cleared on tombstone, so a version after a delete retracts
    * nothing. Emissions are deltas, so the materialized changelog folds to
    * the converged view by plain SUM per group — order-independent, which
    * is what lets the batch snapshot oracle check a real streaming run.
    *
    * Versions are applied in (o_orderdate, o_orderkey) order WITHIN a
    * batch; across batches the source must deliver per-key versions in
    * order — exactly Kafka's per-partition offset-order changelog
    * contract (a single-file AvailableNow backfill is one batch, so the
    * in-batch sort alone fixes the file source's arbitrary row order).
    */
  final class IvmDeltaProcessor
      extends StatefulProcessor[Long, OrderVersion, (String, Long, Long)] {
    @transient private var last: ValueState[(String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[(String, Long)]("ivm-last-live",
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[OrderVersion],
                                 timers: TimerValues): Iterator[(String, Long, Long)] =
      rows.toSeq
        .sortBy(v => (v.o_orderdate.getTime, v.o_orderkey))
        .iterator.flatMap { v =>
          val retract = if (last.exists()) {
            val (pg, pc) = last.get()
            Seq((pg, -1L, -pc))
          } else Seq.empty
          if (v.o_orderstatus == "F") {
            last.clear()
            retract
          } else {
            last.update((v.o_orderpriority, v.cents))
            retract :+ ((v.o_orderpriority, 1L, v.cents))
          }
        }
  }

  /** W2 (ProcessorApiExample.scala:44-58): stream-time punctuation. The
    * reference scans the whole store every 10 s of stream time and forwards
    * every (key, total); Spark timers are per-key, so each key registers an
    * event-time timer and re-arms it on expiry — the union over keys is the
    * same emission. Nothing is emitted on input (`process` returns unit in
    * the reference); only timers emit.
    */
  final class PunctuationProcessor(intervalMs: Long)
      extends StatefulProcessor[Long, Event, (Long, Double)] {
    @transient private var total: ValueState[Double] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      total = getHandle.getValueState[Double]("total-price-store",
        Encoders.scalaDouble, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed-at",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[(Long, Double)] = {
      rows.foreach(e => total.update((if (total.exists()) total.get() else 0.0) + e.value))
      if (!armed.exists()) {
        val at = timers.getCurrentWatermarkInMs() + intervalMs
        getHandle.registerTimer(at)
        armed.update(at)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[(Long, Double)] = {
      val at = expired.getExpiryTimeInMs() + intervalMs
      getHandle.registerTimer(at)
      armed.update(at)
      Iterator.single((key, if (total.exists()) total.get() else 0.0))
    }
  }

  /** One update of a filtered changelog view: an upsert carries
    * `Some(value)`, a tombstone carries `None` — the Spark rendering of
    * Kafka Streams' `(key, null)` delete record.
    */
  final case class TableUpdate(user_id: Long, value: Option[Double])

  /** KTable.filter as an UPDATE STREAM with retraction semantics
    * (KTableExample.scala:59-62). The batch [[graft.api.KTable.filter]]
    * computes the converged filtered view; this processor emits what the
    * changelog must carry between those views:
    *
    *  - a key whose latest value matches the predicate emits an upsert
    *    `TableUpdate(key, Some(v))`;
    *  - a key that WAS visible and whose new latest value stops matching
    *    emits a tombstone `TableUpdate(key, None)` — the `(key, null)`
    *    delete record Kafka Streams forwards downstream;
    *  - a key that never matched emits nothing (no spurious deletes).
    *
    * Latest-per-key is tracked across micro-batches in a ValueState keyed by
    * (ts, event_id) — the same tie-break as the batch KTable reduction — so
    * out-of-order upserts within the watermark cannot regress the view.
    * Granularity is per micro-batch (documented divergence, SURVEY.md §4.2).
    */
  final class FilteredTableProcessor(pred: Double => Boolean)
      extends StatefulProcessor[Long, Event, TableUpdate] {
    @transient private var latest: ValueState[(Long, Long, Double)] = _
    @transient private var visible: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      latest = getHandle.getValueState[(Long, Long, Double)]("latest-upsert",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble),
        TTLConfig.NONE)
      visible = getHandle.getValueState[Boolean]("visible",
        Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[TableUpdate] = {
      // microsecond precision (same fix as RecentEventsProcessor): the
      // fixtures carry sub-millisecond timestamps, and a millis-collapsed
      // tie here would pick a different "latest" than the batch
      // max_by(struct(ts, event_id)) reduction this processor mirrors
      def micros(e: Event): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
      val newest = rows.maxBy(e => (micros(e), e.event_id))
      val cur = if (latest.exists()) Some(latest.get()) else None
      val advanced = cur.forall { case (t, id, _) =>
        micros(newest) > t || (micros(newest) == t && newest.event_id > id)
      }
      if (!advanced) Iterator.empty
      else {
        latest.update((micros(newest), newest.event_id, newest.value))
        val wasVisible = visible.exists() && visible.get()
        if (pred(newest.value)) {
          visible.update(true)
          Iterator.single(TableUpdate(key, Some(newest.value)))
        } else if (wasVisible) {
          visible.update(false)
          Iterator.single(TableUpdate(key, None))
        } else Iterator.empty
      }
    }
  }

  /** Tagged input for the streaming as-of processor: one keyed stream
    * carrying both sides (`isLeft` = enrichment target; right rows are the
    * reference data). Carries the event-time TIMESTAMP so the upstream
    * watermark column survives into the typed stream; the processor works
    * in microseconds (the fixtures' precision).
    *
    * `K` is the equi-key — a single column (`Long`) or any product
    * (tuples/case classes), matching the batch operator's multi-column
    * `keys`: the processor never interprets the key beyond grouping, so
    * composite keys cost only the wider grouping encoder.
    */
  final case class AsofEvent[K](key: K, ts: Timestamp, event_id: Long,
                                isLeft: Boolean)

  /** One enriched left row: the direction's as-of right id (or None) —
    * emitted exactly once, when the watermark proves its candidate set is
    * complete. Carries the left row's event-time micros so a finite-input
    * parity run can bound its OUTPUT (emitted ⇔ matured) without touching
    * the watermark's input.
    */
  final case class AsofMatch[K](left_id: Long, key: K,
                                right_id: Option[Long], left_micros: Long)

  /** STREAMING as-of enrichment — the streaming twin of the native batch
    * operator ([[graft.plans.AsofJoinExec]]), a shape Spark has no built-in
    * stream–stream form for (interval joins need a two-sided window; as-of
    * needs "latest ≤ t", which is order-sensitive).
    *
    * Correctness under out-of-order arrival: a left row at time t may NOT
    * be answered on arrival — a right row with rt ≤ t can still arrive
    * late (within the watermark delay) and CHANGE the answer (a newer
    * "latest"). So left rows buffer until the watermark passes t; at that
    * point any still-missing right candidate would be late-dropped by
    * contract, the candidate set is final, and the match is emitted
    * exactly once (append semantics, batch-oracle-checkable).
    *
    * State per key, both watermark-bounded:
    *  - rights: candidates with rt ≥ watermark − tolerance (older ones can
    *    only match already-emitted lefts — pruned every maturation);
    *  - lefts: rows with t > watermark (pending), drained as the watermark
    *    advances — fired by one re-armed event-time timer per key, so keys
    *    with no further input still emit.
    *
    * This is the reference's temporal-enrichment processor shape
    * (state-store lookup by event time) with the arrival-order hazard made
    * explicit and handled by stream time, not arrival luck.
    */
  final class AsofEnrichProcessor[K](tolMicros: Long, direction: Int = 0)
      extends StatefulProcessor[K, AsofEvent[K], AsofMatch[K]] {
    // 0 = backward, 1 = forward, 2 = nearest — same codes and semantics
    // as the batch AsofMerger (ASOF.md). Forward/nearest must WAIT for
    // the candidate window's far edge, so a finite tolerance is required
    // (an unbounded lookahead would never mature).
    require(direction == 0 || (tolMicros > 0 && tolMicros < Long.MaxValue / 4),
      "forward/nearest streaming as-of requires a finite tolerance")
    @transient private var rights: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var lefts: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      rights = getHandle.getListState[(Long, Long)]("asof-rights", pairEnc, TTLConfig.NONE)
      lefts = getHandle.getListState[(Long, Long)]("asof-pending-lefts", pairEnc, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("asof-timer",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    /** How long past a left's own time the watermark must advance before
      * its candidate set is final: backward needs rt ≤ lt only (0);
      * forward/nearest need every right up to lt + τ. */
    private def matureLag: Long = if (direction == 0) 0L else tolMicros

    /** Oldest right a STILL-PENDING left could reference: pending lefts
      * have lt ≥ wm − matureLag, and the earliest candidate a left needs
      * is lt − τ (nearest) / lt (forward) / lt − τ (backward). */
    private def pruneBound(wmMicros: Long): Long = direction match {
      case 1 => wmMicros - tolMicros            // forward: rt ≥ lt ≥ wm − τ
      case 2 => wmMicros - 2 * tolMicros        // nearest: rt ≥ lt − τ ≥ wm − 2τ
      case _ => wmMicros - tolMicros            // backward: rt ≥ lt − τ ≥ wm − τ
    }

    /** The direction's match among final candidates — the batch merge's
      * rules via binary search over the (rt, id)-SORTED candidate array:
      * backward = the greatest (rt, id) at-or-before (the element just
      * below the first index with rt > lt — equal-rt candidates sort
      * id-ascending, so the last of them is the greatest id); forward =
      * the smallest (rt, id) at-or-after (the first index with rt ≥ lt);
      * nearest the closer side, equal distance preferring backward.
      * O(log R) per left instead of an O(R) filter scan — a HOT KEY's
      * maturation batch costs (L + R)·log R, not L × R: the streaming
      * counterpart of the batch merge's linearity under skew. */
    private def pick(sorted: Array[(Long, Long)], lt: Long): Option[Long] = {
      // first index with rt > lt (upper bound by time)
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid)._1 <= lt) lo = mid + 1 else hi = mid
      }
      val back =
        if (lo > 0 && lt - sorted(lo - 1)._1 <= tolMicros) Some(sorted(lo - 1))
        else None
      // first index with rt >= lt (lower bound by time)
      var lo2 = 0; var hi2 = sorted.length
      while (lo2 < hi2) {
        val mid = (lo2 + hi2) >>> 1
        if (sorted(mid)._1 < lt) lo2 = mid + 1 else hi2 = mid
      }
      val fwd =
        if (lo2 < sorted.length && sorted(lo2)._1 - lt <= tolMicros) Some(sorted(lo2))
        else None
      (direction match {
        case 0 => back
        case 1 => fwd
        case _ => (back, fwd) match {
          case (None, f) => f
          case (b, None) => b
          case (Some(b), Some(f)) =>
            if (f._1 - lt < lt - b._1) Some(f) else Some(b)
        }
      }).map(_._2)
    }

    /** Emit every pending left whose whole candidate window is STRICTLY
      * below the watermark; prune rights the surviving lefts can no
      * longer need. Returns the emissions. Strict, not ≤: Spark drops
      * late rows with ts < watermark, so a right AT the watermark can
      * still arrive in a later batch and be a valid better match.
      */
    private def mature(key: K, wmMicros: Long): Seq[AsofMatch[K]] = {
      val allLefts = lefts.get().toSeq
      val (ready, pending) = allLefts.partition(_._1 + matureLag < wmMicros)
      if (ready.isEmpty) Seq.empty
      else {
        // one sort per maturation, then O(log R) binary-search picks
        val rs = rights.get().toArray.sorted
        val out = ready.sorted.map { case (lt, lid) =>
          AsofMatch(lid, key, pick(rs, lt), lt)
        }
        lefts.clear()
        if (pending.nonEmpty) lefts.appendList(pending.toArray)
        val keep = rs.filter(_._1 >= pruneBound(wmMicros))
        if (keep.length < rs.length) {
          rights.clear()
          if (keep.nonEmpty) rights.appendList(keep)
        }
        out
      }
    }

    /** Keep exactly one live timer per key, at the earliest pending left's
      * maturation instant (+1 ms: the watermark is millisecond-floored).
      */
    private def rearm(): Unit = {
      val pending = lefts.get().toSeq
      if (pending.nonEmpty) {
        val at = (pending.map(_._1).min + matureLag) / 1000L + 1L
        if (!armed.exists() || armed.get() != at) {
          if (armed.exists()) getHandle.deleteTimer(armed.get())
          getHandle.registerTimer(at)
          armed.update(at)
        }
      } else if (armed.exists()) {
        getHandle.deleteTimer(armed.get())
        armed.clear()
      }
    }

    override def handleInputRows(key: K, rows: Iterator[AsofEvent[K]],
                                 timers: TimerValues): Iterator[AsofMatch[K]] = {
      // microsecond precision (same fix as RecentEventsProcessor):
      // Timestamp.getTime is millis, and the fixtures are micros
      def micros(e: AsofEvent[K]): Long =
        e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
      rows.foreach { e =>
        if (e.isLeft) lefts.appendValue((micros(e), e.event_id))
        else rights.appendValue((micros(e), e.event_id))
      }
      val out = mature(key, timers.getCurrentWatermarkInMs() * 1000L)
      rearm()
      out.iterator
    }

    override def handleExpiredTimer(key: K, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[AsofMatch[K]] = {
      armed.clear()
      val out = mature(key, timers.getCurrentWatermarkInMs() * 1000L)
      rearm()
      out.iterator
    }
  }

  /** Wire the as-of processor over a tagged, watermarked stream.
    * `direction` as in the batch operator: 0 backward (default),
    * 1 forward, 2 nearest (finite tolerance required past backward).
    * `K` is the grouping key — single-column or composite (any product
    * type), mirroring the batch operator's multi-column `keys`; both
    * encoders resolve from `spark.implicits` at the call site.
    */
  def asofEnrichStream[K](tagged: Dataset[AsofEvent[K]],
                          tolMicros: Long,
                          direction: Int = 0)(
      implicit kEnc: org.apache.spark.sql.Encoder[K],
      mEnc: org.apache.spark.sql.Encoder[AsofMatch[K]]): Dataset[AsofMatch[K]] =
    tagged.groupByKey(_.key)(kEnc)
      .transformWithState(new AsofEnrichProcessor[K](tolMicros, direction),
        TimeMode.EventTime(), OutputMode.Append())(mEnc)

  /** Wire the filtered-table processor over a typed event stream. */
  def filteredTableUpdates(events: Dataset[Event],
                           pred: Double => Boolean): Dataset[TableUpdate] =
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new FilteredTableProcessor(pred),
        TimeMode.None(), OutputMode.Update())(Encoders.product[TableUpdate])

  /** Wire a processor over a typed event stream (shared by both processors
    * above). Requires the RocksDB state-store provider (set in
    * [[sessionForStreaming]]) — the Spark analogue of the reference's
    * RocksDB-backed `Stores.persistentKeyValueStore`.
    */
  def withProcessor(events: Dataset[Event],
                    processor: StatefulProcessor[Long, Event, (Long, Double)],
                    timeMode: TimeMode = TimeMode.None(),
                    outputMode: OutputMode = OutputMode.Update()): Dataset[(Long, Double)] = {
    implicit val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(processor, timeMode, outputMode)
  }

  /** Streaming exact deduplication — the streaming twin of
    * [[graft.llm.Dedup.exact]] for a continuously-arriving corpus: drop
    * rows whose dedup key was already seen, with state BOUNDED by the
    * watermark (`dropDuplicatesWithinWatermark`, not `dropDuplicates`,
    * whose key state grows without limit — the difference between a
    * pipeline that runs for a year and one that OOMs). Duplicates arriving
    * within `delay` of the first occurrence are suppressed; later
    * re-occurrences re-emit, which is the correct trade-off for
    * training-data ingestion where the batch compaction pass (exact/MinHash
    * dedup) has global scope anyway.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], delay: String): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(keyCols)

  /** Streaming ingest twin of the flagship curation pipeline: the stateless
    * per-row half ([[graft.queries.LlmQueries.perRowCuration]] — quality,
    * language-ID, repetition signals + filters, one codegen stage) runs on
    * the document stream UNCHANGED, composed with bounded-state exact dedup
    * ([[dedupStream]]) when an event-time column is present. The MinHash
    * near-dup stage is inherently corpus-global and stays the periodic
    * batch compaction pass — the standard ingest-filter + batch-compaction
    * curation topology, with one shared code path for the shared stages.
    */
  def curationStream(docs: DataFrame): DataFrame =
    graft.queries.LlmQueries.perRowCuration(docs)
      .select("doc_id", "pred_lang", "score_bp")

  /** Streaming near-dup filter against a HISTORICAL corpus with ZERO
    * streaming state: each arriving document is signed per row by the
    * stateless SimHash kernel, banded, and stream-static-joined against
    * the precomputed corpus index — no aggregation, no watermark, no state
    * store; multi-band collisions dedup via the row-level first-matching-
    * band predicate ([[graft.llm.Dedup.incrementalNeardupPairs]] verbatim
    * — one code path for the oracled batch query `neardup_incremental`
    * and the stream). At scale the index is a compact static table
    * (one 8-byte sig × 6 band rows per corpus doc) that Spark re-reads
    * per micro-batch or caches; refreshing it is a batch job, which is the
    * standard ingest-filter + periodic-compaction curation topology.
    */
  def neardupStream(docs: DataFrame, corpusIndex: DataFrame, maxDist: Int): DataFrame =
    graft.llm.Dedup.incrementalNeardupPairs(docs, corpusIndex, maxDist)

  /** Session configs streaming stateful ops need: RocksDB state store
    * (transformWithState requires it; also W1 parity), checkpoint files
    * written without forking ([[graft.engine.LocalCheckpointFiles]]) and a
    * right-sized shuffle-partition count — every state partition costs a
    * store commit per micro-batch per stateful operator, so a local run at
    * the 200 default pays ~25× the commit overhead of the actual work.
    * Returns a CHILD session (own SQLConf): the caller's session is
    * untouched. Production sets `partitions` to the cluster's width before
    * a query's FIRST run — state partitioning is fixed at checkpoint
    * creation.
    */
  def sessionForStreaming(spark: SparkSession, partitions: Int = 8): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Commit time at fixture scale was Hadoop's local file system forking
    // `chmod`/`stat`/`ls` for every checkpoint file (no native Hadoop
    // library), not RocksDB flush work; LocalCheckpointFiles removes it.
    s.conf.set(LocalCheckpointFiles.ConfKey, LocalCheckpointFiles.ClassName)
    // Changelog checkpointing is left OFF. Round 12 rejected it on the 8
    // RocksDB parity rows (22.84 s → 24.45 s), and on `stream_ingest` it
    // gave p50 −12% and −24% on two seeds — both measured while every
    // checkpoint file still forked, neither a reliable gain past the
    // benchmark's 0.24 bound. On a cluster whose checkpoint DFS is remote
    // and state is large, enable `spark.sql.streaming.stateStore.rocksdb
    // .changelogCheckpointing.enabled` — upload bytes then dominate.
    // `...rocksdb.trackTotalNumberOfRows=false` (drops the point-GET each
    // put pays for insert-vs-update accounting) is left at default too: the
    // 8 RocksDB parity rows moved 22.84 s → 22.91 s (round 12, min-of-2) —
    // the per-record work is encoder/processor bound at this state size.
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }
}
