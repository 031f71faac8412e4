package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

import graft.engine.{LocalCheckpointFiles, Tables}
import graft.llm.Dedup
import graft.streaming.Streaming

/** Streaming EXECUTION under the DuckDB oracle.
  *
  * Every topology in [[graft.streaming.Streaming]] is MemoryStream
  * spec-tested, but specs assert against a batch recompute inside the same
  * JVM — a "trust me" loop. These queries close it: each one runs a real
  * `StreamingQuery` (file-stream source → `IncrementalExecution` →
  * streaming sink, `Trigger.AvailableNow`), materializes the sink, and
  * registers the result against the SAME batch oracle SQL the driver
  * already replays in DuckDB. A green row here is end-to-end evidence that
  * the incremental plans converge to the declared batch semantics — the
  * KTable/changelog duality the reference builds by hand
  * (AggregationsExample.scala:36-41, ProcessorApiExample.scala:44-58).
  *
  * Scale notes: `Trigger.AvailableNow` is the production backfill/catch-up
  * trigger — the same checkpointed incremental execution as a live stream,
  * self-terminating when the source is drained. The parquet sink commits
  * per micro-batch via the streaming file-sink log (exactly-once on
  * retry); the complete-mode aggregation goes through `foreachBatch` +
  * idempotent overwrite, the standard converged-table sink pattern.
  */
object StreamParity {

  /** Child session for the streaming runs on the default state store:
    * same SparkContext, own SQLConf, shuffle partitions right-sized to the
    * run and checkpoint files written without forking
    * ([[graft.engine.LocalCheckpointFiles]]). Streaming has no AQE to
    * coalesce partitions, and every state partition costs a store commit
    * per micro-batch per stateful operator (a stream–stream join keeps 4
    * stores per partition) — at 32 partitions the commit overhead dwarfs
    * the actual join at test scale. 8 is the local parity size; production
    * sets this to the cluster's width before the FIRST run of a query
    * (state partitioning is fixed at checkpoint creation). The child
    * session leaves the caller's conf untouched. The RocksDB rows
    * (`transformWithState` requires it) use
    * [[graft.streaming.Streaming.sessionForStreaming]] with the same 8.
    */
  private def streamSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set(LocalCheckpointFiles.ConfKey, LocalCheckpointFiles.ClassName)
    s
  }

  /** Drain `stream` through a parquet streaming sink (append mode) and read
    * the committed files back. The read-back carries the stream's schema, so
    * an empty result stays a typed empty table instead of an inference error.
    */
  private def runAppend(spark: SparkSession, stream: DataFrame): DataFrame = {
    val out = Files.createTempDirectory("graft-stream-out").toString
    val q = stream.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-stream-ck").toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(q.recentProgress.nonEmpty, "streaming query recorded no progress")
    spark.read.schema(stream.schema).parquet(out)
  }

  /** Drain an AGGREGATING `stream` in complete mode: each micro-batch's
    * output is the full converged table, so an idempotent overwrite leaves
    * exactly the final state — the materialized-view sink pattern.
    * `fixedCk`/`fixedOut` pin the checkpoint and sink across CALLS — the
    * restart-recovery parity runs this twice against one checkpoint.
    */
  private def runComplete(spark: SparkSession, stream: DataFrame,
                          fixedCk: Option[String] = None,
                          fixedOut: Option[String] = None,
                          transform: DataFrame => DataFrame = identity): DataFrame = {
    val out = fixedOut.getOrElse(
      Files.createTempDirectory("graft-stream-out").toString)
    val q = stream.writeStream
      .outputMode("complete")
      // `transform` runs per micro-batch on the full converged table —
      // the place a materialized-view sink joins its changelog against
      // static dimensions before the idempotent overwrite
      .foreachBatch { (batch: DataFrame, _: Long) =>
        transform(batch).write.mode("overwrite").parquet(out)
      }
      .option("checkpointLocation", fixedCk.getOrElse(
        Files.createTempDirectory("graft-stream-ck").toString))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(q.recentProgress.nonEmpty, "streaming query recorded no progress")
    val outSchema = transform(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stream.schema)).schema
    spark.read.schema(outSchema).parquet(out)
  }

  /** Drain an update-mode `stream`, APPENDING every micro-batch's emissions
    * to the sink — the materialized per-record/per-batch CHANGELOG, which
    * the caller then folds to its converged state. This is how a
    * Kafka-Streams-style update stream lands in storage.
    */
  private def runUpdateAppend(spark: SparkSession, stream: DataFrame): DataFrame = {
    val out = Files.createTempDirectory("graft-stream-out").toString
    val q = stream.writeStream
      .outputMode("update")
      // per-batch directory keyed by batchId, overwritten on write: a
      // micro-batch REPLAY after a failure (foreachBatch is at-least-once)
      // rewrites its own directory instead of appending duplicate rows —
      // the idempotent-sink discipline exactly-once requires of foreachBatch
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-stream-ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(q.recentProgress.nonEmpty, "streaming query recorded no progress")
    spark.read.schema(stream.schema.add("batch", "long"))
      .option("basePath", out).parquet(out).drop("batch")
  }

  /** File-stream source over the documents fixture (schema from the batch
    * loader). The fixture is a single FILE; the source requires its
    * `basePath` to be a directory, so address the file through a one-match
    * brace glob — basePath then resolves to the parent directory.
    */
  private def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Tables.documents(spark, dir).schema)
      .parquet(s"$dir/{documents}.parquet")

  /** File-stream source over events, with the same TIMESTAMP(NANOS)
    * handling as the batch loader ([[Tables.events]]): read nanos as long,
    * truncate to micros.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir) // sets the nanosAsLong conf (applies to the stream source too)
    val raw = Tables.table(spark, dir, "events") // post-conf probe: ts arrives as long nanos
    val s = spark.readStream.schema(raw.schema).parquet(s"$dir/{events}.parquet")
    if (raw.schema("ts").dataType == LongType)
      s.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else s
  }

  /** The curation ingest twin ([[Streaming.curationStream]]) as a real
    * streaming run: stateless per-row quality/lang/repetition filters over
    * the document stream, append sink. Oracle: the per-row curation SQL.
    */
  def curationStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runAppend(ss, Streaming.curationStream(documentsStream(ss, dir)))
  }

  /** The A2 running sum ([[Streaming.runningSumUpdates]]) executed as a
    * streaming aggregation with real state-store-backed incremental
    * execution, converged via complete mode. Oracle: the batch running-sum
    * SQL — decimal money-sum makes the total arrival-order independent.
    */
  def runningSumStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runComplete(ss, Streaming.runningSumUpdates(eventsStream(ss, dir)))
  }

  /** W5/W6 windowed aggregation as a real streaming run: event-time
    * tumbling windows maintained in streaming state, converged via complete
    * mode. Shares the batch `windowed_agg` oracle — the streaming window
    * assignment must equal DuckDB's `time_bucket` exactly.
    */
  def windowedAggStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runComplete(ss, eventsStream(ss, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total")))
  }

  /** W5 (suppress / emit-final) through real streaming execution: the SAME
    * tumbling aggregation as [[windowedAggStreamParity]] but in APPEND
    * output mode under a zero-delay watermark — Spark's append mode IS the
    * reference's `suppress(untilWindowCloses)`: a window's single final row
    * is emitted only once the watermark passes its end, so the open tail
    * window (the one containing max(ts)) NEVER appears in the sink. The
    * oracle replays exactly that semantics in batch: the windowed
    * aggregation restricted to windows whose end ≤ the corpus' max event
    * time. (The MemoryStream-granular emit-once behavior is additionally
    * spec-pinned in StreamingSourcesSpec; this row puts the semantics
    * under the driver's hash gate.)
    */
  def windowedAggEmitFinalStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runAppend(ss, eventsStream(ss, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total")))
  }

  /** A3/W1 (the ProcessorApi family) through real streaming execution: a
    * custom `StatefulProcessor` over a RocksDB `ValueState` performs the
    * reference's per-record read-modify-write
    * (ProcessorApiExample.scala:60-67) and emits the updated total after
    * EVERY record — the per-record changelog granularity itself. The
    * materialized changelog is folded to its converged state (per-key max
    * of the monotone integer-cents prefix sums) and checked against the
    * batch SQL total. State store: RocksDB, exercised for real.
    */
  def processorStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = Streaming.sessionForStreaming(spark, 8)
    import ss.implicits._
    val typed = eventsStream(ss, dir).as[Streaming.Event]
    val changelog = typed.groupByKey(_.user_id)(
        org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new Streaming.RunningCentsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      .toDF("user_id", "cents")
    runUpdateAppend(ss, changelog)
      .groupBy(col("user_id"))
      .agg(max(col("cents")).as("total_cents"))
  }

  /** W6 session windows through real streaming execution: per-user
    * sessions closed by a 30-minute inactivity gap, maintained by the
    * streaming session-window state (merging sessions on late-arriving
    * members is the stateful part), converged via complete mode. Shares
    * the batch `session_agg` oracle, whose gaps-and-islands SQL must
    * reconstruct the identical sessions.
    */
  def sessionAggStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runComplete(ss, eventsStream(ss, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n"), col("total")))
  }

  /** E2 (permissive serde) through real streaming execution: the same
    * tolerant JSON parse + aggregate as the batch `error_tolerant_parse`,
    * run incrementally — malformed payloads become nulls IN the stream and
    * are filtered, never failing the query. Shares the batch oracle.
    */
  def errorTolerantParseStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val ss = streamSession(spark)
    runComplete(ss, eventsStream(ss, dir)
      .withColumn("parsed", graft.engine.Serde.parseJson(col("props"), schema))
      .filter(col("parsed").isNotNull && col("parsed.k").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_parsed"), sum(col("parsed.k")).as("sum_k"))
      .select("event_type", "n_parsed", "sum_k"))
  }

  /** J1 as a real stream–stream interval join ([[Streaming
    * .intervalJoinStream]], zero grace): both sides arrive as streams,
    * symmetric-hash-join state managed by Spark, inner results emitted
    * eagerly (watermarks gate state CLEANUP, not inner-join emission, so
    * the drained output equals the batch join exactly). Shares the batch
    * `interval_join` oracle.
    */
  def intervalJoinStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val clicks = eventsStream(ss, dir).filter(col("event_type") === "click")
    val purchases = eventsStream(ss, dir).filter(col("event_type") === "purchase")
    runAppend(ss,
      Streaming.intervalJoinStream(clicks, purchases, tolerance = "10 MINUTES")
        .select(
          col("l.user_id").as("user_id"),
          col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"),
          col("l.ts").as("click_ts"),
          col("r.ts").as("purchase_ts")))
  }

  /** J3's LEFT OUTER form through real streaming execution — the semantics
    * the inner parity row cannot exercise: a null-extended left row is
    * emitted ONLY when the watermark proves no match can still arrive
    * (watermark > l.ts + tolerance), i.e. correctness depends on state
    * EVICTION itself, not just symmetric-hash matching.
    *
    * Finite-input subtlety, measured not guessed: Catalyst pushes the
    * event-type filters below the `withWatermark` nodes, so each side's
    * event-time stats track its own post-filter maximum and the global
    * watermark converges to `min(max click ts, max purchase ts)` — which
    * means clicks inside the final tolerance window of that bound sit in
    * state forever (their no-match proof never completes; watermarking
    * before filtering cannot help, the pushdown reorders it). The fix
    * bounds the OUTPUT, not the input: rows with `l.ts <
    * min(max click, max purchase) − tolerance − 1s` are exactly the ones
    * whose window provably closed, every one of them has been emitted
    * (matched eagerly, unmatched on eviction), and the oracle applies the
    * same static bound. The scalar comes from the batch table
    * (metadata-sized driver traffic). Production equivalent: an unbounded
    * stream's watermark keeps advancing, so every window eventually
    * closes; the bound is the finite-input stand-in for "the stream
    * outlives the window".
    */
  def intervalJoinLeftStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val cutoff = Tables.events(ss, dir)
      .agg(least(
        max(when(col("event_type") === "click", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts"))))
        .as("c"))
      .select(col("c") - expr("INTERVAL 10 MINUTES") - expr("INTERVAL 1 SECOND"))
      .head.getTimestamp(0)
    val clicks = eventsStream(ss, dir).filter(col("event_type") === "click")
    val purchases = eventsStream(ss, dir).filter(col("event_type") === "purchase")
    runAppend(ss,
      Streaming.intervalJoinStream(clicks, purchases, tolerance = "10 MINUTES",
          joinType = "leftOuter")
        .filter(col("l.ts") < lit(cutoff))
        .select(
          col("l.user_id").as("user_id"),
          col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id")))
  }

  val intervalJoinLeftStreamParitySql: String =
    """WITH b AS (SELECT least(
      |    max(ts) FILTER (event_type = 'click'),
      |    max(ts) FILTER (event_type = 'purchase'))
      |    - INTERVAL '10 minutes' - INTERVAL '1 second' AS cutoff FROM events)
      |SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
      |FROM (SELECT * FROM events, b
      |      WHERE event_type = 'click' AND ts < cutoff) c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts - INTERVAL '10 minutes'
      | AND p.ts <= c.ts + INTERVAL '10 minutes'""".stripMargin

  /** J3's FULL OUTER form through real streaming execution (Spark 4
    * supports full-outer stream–stream joins): null extension on EITHER
    * side requires the watermark to close that side's window, so state
    * eviction correctness is exercised for both join inputs at once.
    * Finite-input bound, symmetric version of the left-parity rule: a row
    * (either side) is provably final once its ts sits a full tolerance
    * window below the converged watermark `min(max click, max purchase)`
    * — matched pairs were emitted eagerly, unmatched rows null-extended
    * on eviction. The output filter keeps exactly the rows where every
    * PRESENT side is below the cutoff, and the oracle applies the same
    * bound to the batch full outer join.
    */
  def fullOuterStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val cutoff = Tables.events(ss, dir)
      .agg(least(
        max(when(col("event_type") === "click", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts"))))
        .as("c"))
      .select(col("c") - expr("INTERVAL 10 MINUTES") - expr("INTERVAL 1 SECOND"))
      .head.getTimestamp(0)
    val clicks = eventsStream(ss, dir).filter(col("event_type") === "click")
    val purchases = eventsStream(ss, dir).filter(col("event_type") === "purchase")
    runAppend(ss,
      Streaming.intervalJoinStream(clicks, purchases, tolerance = "10 MINUTES",
          joinType = "fullOuter")
        .filter((col("l.ts").isNull || col("l.ts") < lit(cutoff)) &&
          (col("r.ts").isNull || col("r.ts") < lit(cutoff)))
        .select(
          coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
          col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id")))
  }

  val fullOuterStreamParitySql: String =
    """WITH b AS (SELECT least(
      |    max(ts) FILTER (event_type = 'click'),
      |    max(ts) FILTER (event_type = 'purchase'))
      |    - INTERVAL '10 minutes' - INTERVAL '1 second' AS cutoff FROM events),
      |c AS (SELECT * FROM events WHERE event_type = 'click'),
      |p AS (SELECT * FROM events WHERE event_type = 'purchase')
      |SELECT coalesce(c.user_id, p.user_id) AS user_id,
      |       c.event_id AS click_id, p.event_id AS purchase_id
      |FROM c FULL JOIN p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts - INTERVAL '10 minutes'
      | AND p.ts <= c.ts + INTERVAL '10 minutes'
      |WHERE (c.ts IS NULL OR c.ts < (SELECT cutoff FROM b))
      |  AND (p.ts IS NULL OR p.ts < (SELECT cutoff FROM b))""".stripMargin

  /** STREAMING AS-OF ENRICHMENT through real streaming execution — the
    * streaming twin of the native batch operator (`asof_join_native_left`
    * family): each purchase waits until the watermark passes its event
    * time, then is matched to the latest click at-or-before it within a
    * 1-hour lookback ([[Streaming.AsofEnrichProcessor]] — buffered lefts,
    * watermark-pruned rights, re-armed event-time timers). Spark has NO
    * built-in stream–stream as-of join; this is the custom-state shape the
    * reference's temporal-enrichment processors hand-build.
    *
    * Finite-input bound (same rule as the interval-join parity rows, on
    * the OUTPUT): a purchase is provably matured once its ts sits below
    * the converged watermark max(click∪purchase ts); rows under
    * `cutoff = that max − 1 s` are exactly the ones emitted — the 1 s
    * absorbs the watermark's millisecond floor — and the oracle applies
    * the same static bound. The watermark input is NOT filtered, so the
    * bound never shifts the watermark basis itself.
    */
  def asofStreamParity(spark: SparkSession, dir: String): DataFrame =
    asofParityRun[Long](spark, dir, tolMicros = 3600L * 1000000L,
        direction = 0, matureLagMicros = 0L,
        keyExpr = col("user_id"),
        isLeftExpr = col("event_type") === "purchase")
      .select(col("left_id").as("purchase_id"), col("key").as("user_id"),
        col("right_id").as("click_id"))

  /** Shared body of the four as-of parity rows: RocksDB-provider child
    * session, the finite-input cutoff (max click∪purchase event time −
    * the direction's maturation lag − 1 s, the 1 s absorbing the
    * watermark's millisecond floor), the tagged watermarked stream, the
    * processor, and the append sink read back filtered to matured lefts
    * (columns left_id / key / right_id). Callers choose only the key
    * shape, which side enriches, tolerance/direction/lag, and the output
    * renames — so a cutoff or tagging fix lands in every row at once.
    */
  private def asofParityRun[K](spark: SparkSession, dir: String,
      tolMicros: Long, direction: Int, matureLagMicros: Long,
      keyExpr: org.apache.spark.sql.Column,
      isLeftExpr: org.apache.spark.sql.Column)(
      implicit evEnc: org.apache.spark.sql.Encoder[Streaming.AsofEvent[K]],
      kEnc: org.apache.spark.sql.Encoder[K],
      mEnc: org.apache.spark.sql.Encoder[Streaming.AsofMatch[K]]): DataFrame = {
    val ss = Streaming.sessionForStreaming(spark, 8)
    val maxTs = Tables.events(ss, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .agg(max(col("ts"))).head.getTimestamp(0)
    val cutoffMicros = maxTs.getTime / 1000 * 1000000L + maxTs.getNanos / 1000 -
      matureLagMicros - 1000000L
    val tagged = eventsStream(ss, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withWatermark("ts", "0 seconds")
      .select(keyExpr.as("key"), col("ts"), col("event_id"),
        isLeftExpr.as("isLeft"))
      .as[Streaming.AsofEvent[K]]
    val matches = Streaming.asofEnrichStream(tagged, tolMicros, direction)
    runAppend(ss, matches.toDF().filter(col("left_micros") < cutoffMicros))
  }

  /** FORWARD streaming as-of — the direction family under real
    * incremental execution: each click waits until the watermark passes
    * its event time PLUS the 10-minute lookahead (only then is the
    * forward candidate window final — the maturation-lag rule ASOF.md
    * derives), then matches the user's EARLIEST purchase at-or-after it.
    * Finite-input bound shifts by the same lag: a click is provably
    * matured once `ts + lookahead` sits below the converged watermark, so
    * `cutoff = max(click∪purchase ts) − 10 min − 1 s`; the oracle applies
    * the identical static bound.
    */
  def asofForwardStreamParity(spark: SparkSession, dir: String): DataFrame =
    asofParityRun[Long](spark, dir, tolMicros = 600L * 1000000L,
        direction = 1, matureLagMicros = 600L * 1000000L,
        keyExpr = col("user_id"),
        isLeftExpr = col("event_type") === "click")
      .select(col("left_id").as("click_id"), col("key").as("user_id"),
        col("right_id").as("purchase_id"))

  /** NEAREST streaming as-of — the last cell of the direction × surface
    * matrix under the oracle: each purchase matched to the click CLOSEST
    * in time within ±10 minutes (equal distance prefers the backward
    * side), through real incremental execution. Nearest shares forward's
    * maturation rule — a left's candidate window closes only when the
    * watermark passes `lt + τ` (the lookAHEAD edge), so the finite-input
    * cutoff shifts by τ exactly like the forward row.
    */
  def asofNearestStreamParity(spark: SparkSession, dir: String): DataFrame =
    asofParityRun[Long](spark, dir, tolMicros = 600L * 1000000L,
        direction = 2, matureLagMicros = 600L * 1000000L,
        keyExpr = col("user_id"),
        isLeftExpr = col("event_type") === "purchase")
      .select(col("left_id").as("purchase_id"), col("key").as("user_id"),
        col("right_id").as("click_id"))

  /** MULTI-KEY streaming as-of: the processor grouped on a COMPOSITE key
    * — (user_id, calendar day) — matching the batch operator's
    * multi-column `keys` (and the SQL TVF's csv key lists): a purchase
    * only matches clicks of the same user on the same day, the
    * "enrich within session/day" shape. `K = (Long, String)` exercises
    * the product-key encoder path end-to-end under the oracle; backward
    * direction, so the finite-input cutoff is the unshifted rule.
    */
  def asofMultikeyStreamParity(spark: SparkSession, dir: String): DataFrame =
    asofParityRun[(Long, String)](spark, dir, tolMicros = 3600L * 1000000L,
        direction = 0, matureLagMicros = 0L,
        keyExpr = struct(col("user_id").as("_1"),
          date_format(col("ts"), "yyyy-MM-dd").as("_2")),
        isLeftExpr = col("event_type") === "purchase")
      .select(col("left_id").as("purchase_id"), col("key._1").as("user_id"),
        col("key._2").as("day"), col("right_id").as("click_id"))

  // session-independent encoders for the parity helper's typed stream
  // (derived from TypeTags, not a SparkSession, so object-level vals work)
  private implicit val asofKeyLongEnc: org.apache.spark.sql.Encoder[Long] =
    org.apache.spark.sql.Encoders.scalaLong
  private implicit val asofKeyPairEnc: org.apache.spark.sql.Encoder[(Long, String)] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING)
  private implicit val asofEvLongEnc:
      org.apache.spark.sql.Encoder[Streaming.AsofEvent[Long]] =
    org.apache.spark.sql.Encoders.product
  private implicit val asofEvPairEnc:
      org.apache.spark.sql.Encoder[Streaming.AsofEvent[(Long, String)]] =
    org.apache.spark.sql.Encoders.product
  private implicit val asofMatchLongEnc:
      org.apache.spark.sql.Encoder[Streaming.AsofMatch[Long]] =
    org.apache.spark.sql.Encoders.product
  private implicit val asofMatchPairEnc:
      org.apache.spark.sql.Encoder[Streaming.AsofMatch[(Long, String)]] =
    org.apache.spark.sql.Encoders.product

  val asofNearestStreamParitySql: String =
    """WITH b AS (SELECT max(ts) - INTERVAL '10 minutes' - INTERVAL '1 second' AS cutoff
      |           FROM events WHERE event_type IN ('click', 'purchase'))
      |SELECT purchase_id, user_id, click_id FROM (
      |  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
      |         c.event_id AS click_id,
      |         row_number() OVER (PARTITION BY p.event_id
      |           ORDER BY ABS(epoch_us(c.ts::TIMESTAMP) - epoch_us(p.ts::TIMESTAMP)) ASC,
      |                    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END ASC,
      |                    CASE WHEN c.ts <= p.ts THEN -c.event_id ELSE c.event_id END ASC) AS rn
      |  FROM (SELECT e.* FROM events e, b
      |        WHERE e.event_type = 'purchase' AND e.ts < b.cutoff) p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON c.user_id = p.user_id
      |   AND c.ts >= p.ts - INTERVAL '10 minutes'
      |   AND c.ts <= p.ts + INTERVAL '10 minutes')
      |WHERE rn = 1""".stripMargin

  val asofMultikeyStreamParitySql: String =
    """WITH b AS (SELECT max(ts) - INTERVAL '1 second' AS cutoff
      |           FROM events WHERE event_type IN ('click', 'purchase'))
      |SELECT purchase_id, user_id, day, click_id FROM (
      |  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
      |         strftime(p.ts::TIMESTAMP, '%Y-%m-%d') AS day,
      |         c.event_id AS click_id,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |  FROM (SELECT e.* FROM events e, b
      |        WHERE e.event_type = 'purchase' AND e.ts < b.cutoff) p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON c.user_id = p.user_id
      |   AND strftime(c.ts::TIMESTAMP, '%Y-%m-%d') = strftime(p.ts::TIMESTAMP, '%Y-%m-%d')
      |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '1 hour')
      |WHERE rn = 1""".stripMargin

  val asofForwardStreamParitySql: String =
    """WITH b AS (SELECT max(ts) - INTERVAL '10 minutes' - INTERVAL '1 second' AS cutoff
      |           FROM events WHERE event_type IN ('click', 'purchase'))
      |SELECT click_id, user_id, purchase_id FROM (
      |  SELECT c.event_id AS click_id, c.user_id AS user_id,
      |         p.event_id AS purchase_id,
      |         row_number() OVER (PARTITION BY c.event_id
      |                            ORDER BY p.ts ASC, p.event_id ASC) AS rn
      |  FROM (SELECT e.* FROM events e, b
      |        WHERE e.event_type = 'click' AND e.ts < b.cutoff) c
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |    ON p.user_id = c.user_id
      |   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '10 minutes')
      |WHERE rn = 1""".stripMargin

  val asofStreamParitySql: String =
    """WITH b AS (SELECT max(ts) - INTERVAL '1 second' AS cutoff
      |           FROM events WHERE event_type IN ('click', 'purchase'))
      |SELECT purchase_id, user_id, click_id FROM (
      |  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
      |         c.event_id AS click_id,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |  FROM (SELECT e.* FROM events e, b
      |        WHERE e.event_type = 'purchase' AND e.ts < b.cutoff) p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON c.user_id = p.user_id
      |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '1 hour')
      |WHERE rn = 1""".stripMargin

  /** S2/T6 — the KTable itself through real streaming execution: the
    * orders CHANGELOG arrives as a stream, and latest-per-key
    * materialization runs as an incremental `max_by` aggregation (the
    * same single-state-row-per-key shape the reference's KTable store
    * keeps, KTableExample.scala:52-56), converged via complete mode.
    * Shares the batch `ktable_latest` oracle: the streaming state's final
    * content must equal the batch row_number()-over-changelog view
    * bit-for-bit. The (o_orderdate, o_orderkey) ordering struct makes
    * "latest" arrival-order independent — the KTable converges to the
    * same row whatever the micro-batch boundaries were.
    */
  def ktableLatestStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val schema = Tables.orders(ss, dir)
      .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .schema
    val stream = ss.readStream.schema(schema).parquet(s"$dir/{orders}.parquet")
      .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    runComplete(ss, stream
      .groupBy(col("o_custkey"))
      .agg(max_by(
        struct(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate")),
        struct(col("o_orderdate"), col("o_orderkey"))).as("v"))
      .select(col("o_custkey"), col("v.o_orderkey").as("o_orderkey"),
        col("v.o_orderstatus").as("o_orderstatus"),
        col("v.o_totalprice").as("o_totalprice"),
        col("v.o_orderdate").as("o_orderdate")))
  }

  /** CDC / MERGE apply through real streaming execution — the reference's
    * table-materialization-with-deletes semantic (tombstones,
    * `ProcessorApiExample.scala:44-58`) as a live pipeline: the order
    * changelog streams through a stateful latest-per-key aggregation
    * (complete mode), and each micro-batch's converged changelog is merged
    * into the static customer snapshot inside `foreachBatch` — upserts
    * override, status-'F' tombstones drop, untouched keys pass through —
    * then idempotently overwritten. Shares `cdc_apply`'s batch oracle:
    * green means `IncrementalExecution` + the merge converge to the
    * declared MERGE semantics.
    */
  def cdcApplyStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val base = Tables.orders(ss, dir)
      .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val delta = ss.readStream.schema(base.schema).parquet(s"$dir/{orders}.parquet")
      .select(base.columns.map(col): _*)
      .groupBy(col("o_custkey"))
      .agg(max_by(
        struct(col("o_orderstatus"), col("o_totalprice"), col("o_orderdate")),
        struct(col("o_orderdate"), col("o_orderkey"))).as("last"))
      .select(col("o_custkey"), col("last.o_orderstatus").as("last_status"),
        col("last.o_totalprice").as("last_total"),
        col("last.o_orderdate").as("last_update"))
    val cust = Tables.customer(ss, dir)
    runComplete(ss, delta, transform = changelog =>
      cust.join(changelog, col("c_custkey") === col("o_custkey"), "left")
        .filter(col("last_status").isNull || col("last_status") =!= "F")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("last_total"), col("c_acctbal")).as("balance"),
          col("last_update")))
  }

  /** Adder/subtractor IVM through real streaming execution: the order
    * changelog drives [[graft.streaming.Streaming.IvmDeltaProcessor]] —
    * every version retracts its live predecessor from the predecessor's
    * group and adds itself to its own (tombstones only retract) — and the
    * materialized delta changelog folds to the converged per-priority view
    * by plain SUM. Kafka Streams' `KGroupedTable.aggregate(adder,
    * subtractor)` as an incremental execution; shares the batch `ivm_agg`
    * snapshot oracle, so a retraction bug in the STREAMING path cannot
    * hash-match.
    */
  def ivmStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = Streaming.sessionForStreaming(spark, 8)
    import ss.implicits._
    val base = Tables.orders(ss, dir)
      .select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate", "o_totalprice")
    val typed = ss.readStream.schema(base.schema).parquet(s"$dir/{orders}.parquet")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_orderdate"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .as[Streaming.OrderVersion]
    val deltas = typed.groupByKey(_.o_custkey)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new Streaming.IvmDeltaProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      .toDF("grp", "dn", "dc")
    runUpdateAppend(ss, deltas)
      .groupBy(col("grp").as("o_orderpriority"))
      .agg(sum(col("dn")).as("n_customers"), sum(col("dc")).as("total_cents"))
      .filter(col("n_customers") =!= 0)
  }

  /** W6 sliding windows through real streaming execution: each event lands
    * in its two overlapping 1-hour/30-minute windows inside the streaming
    * state (window assignment fans out BEFORE the stateful agg), converged
    * via complete mode. Shares the batch `sliding_agg` oracle, whose
    * window-expansion SQL must regenerate identical window starts.
    */
  def slidingAggStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runComplete(ss, eventsStream(ss, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total")))
  }

  /** E1 (dead-letter split + error budget) through real streaming
    * execution: corrupted payloads are injected into the event STREAM, the
    * permissive parse classifies each record in-flight, and every
    * micro-batch writes good rows and dead letters to TWO separate parquet
    * sinks — the dead-letter-queue topology itself, one pass per batch
    * (persist → two filtered writes). The reference's fail-after-budget
    * policy is enforced on the materialized split before the summary.
    * Shares the batch `error_deadletter_split` oracle.
    */
  def deadletterStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", LongType)))
    val goodOut = Files.createTempDirectory("graft-dlq-good").toString
    val deadOut = Files.createTempDirectory("graft-dlq-dead").toString
    val parsed = eventsStream(ss, dir)
      .withColumn("props",
        when(pmod(col("event_id"), lit(20)) === 0, concat(lit("{broken"), col("props")))
          .otherwise(col("props")))
      .withColumn("parsed", graft.engine.Serde.parseJson(col("props"), schema))
    val bad = graft.engine.Serde.isCorrupt(col("parsed"), schema)
    val q = parsed.writeStream
      // same idempotent per-batch layout as runUpdateAppend: a replayed
      // micro-batch overwrites its own batch= directory in BOTH sinks
      // instead of double-counting rows in the budget check below
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist()
        b.filter(!bad).write.mode("overwrite").parquet(s"$goodOut/batch=$id")
        b.filter(bad).drop("parsed").write.mode("overwrite").parquet(s"$deadOut/batch=$id")
        b.unpersist()
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dlq-ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(q.recentProgress.nonEmpty, "streaming query recorded no progress")
    val good = ss.read.schema(parsed.schema.add("batch", "long"))
      .option("basePath", goodOut).parquet(goodOut).drop("batch")
    val dead = ss.read.schema(parsed.drop("parsed").schema.add("batch", "long"))
      .option("basePath", deadOut).parquet(deadOut).drop("batch")
    val (nGood, nDead) = (good.count(), dead.count())
    graft.engine.Errors.checkBudget(nDead, math.max(1L, (nGood + nDead) / 12))
    good.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("parsed.k")).as("sum_k"))
      .select(lit("good").as("side"), col("event_type"), col("n"), col("sum_k"))
      .unionByName(dead.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(lit("dead").as("side"), col("event_type"), col("n"),
          lit(null).cast(LongType).as("sum_k")))
  }

  /** The zero-state streaming near-dup filter ([[Streaming.neardupStream]]):
    * the incoming 5% of documents arrive as a STREAM, signed per row and
    * stream-static-joined against the batch corpus index — identical split
    * and parameters to the batch `neardup_incremental`, so it shares that
    * oracle.
    */
  def neardupStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val docs = Tables.documents(ss, dir)
      .filter(size(graft.llm.TextAnalysis.tokens(col("text"))) > 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val index = Dedup.simhashBands(corpus.select(col("doc_id"),
      graft.functions.TextFunctions.graftSimhash(col("text"), 60).as("sig")))
    val incoming = documentsStream(ss, dir)
      .filter(size(graft.llm.TextAnalysis.tokens(col("text"))) > 0 &&
        pmod(col("doc_id"), lit(20)) === 0)
    runAppend(ss,
      Streaming.neardupStream(incoming, index, maxDist = LlmQueries.simhashMaxDist))
  }

  /** W1 with a MAP-shaped store through real streaming execution:
    * [[Streaming.TypeCountsProcessor]] holds per-user counters per event
    * type in `MapState` (RocksDB-backed) and emits the updated count after
    * every record; the materialized changelog folds to its converged state
    * (per-(user, type) max of the monotone prefix counts) and is checked
    * against the plain batch count. Complements
    * [[processorStreamParity]] (ValueState) with the second state
    * primitive the reference's store API maps to.
    */
  def mapStateStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = Streaming.sessionForStreaming(spark, 8)
    import ss.implicits._
    val typed = eventsStream(ss, dir).as[Streaming.Event]
    val changelog = typed.groupByKey(_.user_id)(
        org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new Streaming.TypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
      .toDF("user_id", "event_type", "n")
    runUpdateAppend(ss, changelog)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
  }

  /** W1 with a LIST-shaped store through real streaming execution:
    * [[Streaming.RecentEventsProcessor]] maintains each user's 3 most
    * recent events by event time in a RocksDB-backed `ListState`; the
    * per-key version counter makes the changelog foldable (row with the
    * max version per user = converged buffer), and the buffer's
    * (ts, event_id)-ordering makes that converged state a pure function
    * of the input set — checked against a batch window-rank oracle.
    * Completes the Value/Map/List state-primitive triad under the oracle.
    */
  def listStateStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = Streaming.sessionForStreaming(spark, 8)
    import ss.implicits._
    val typed = eventsStream(ss, dir).as[Streaming.Event]
    val changelog = typed.groupByKey(_.user_id)(
        org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new Streaming.RecentEventsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING))
      .toDF("user_id", "version", "recent_ids")
    val folded = runUpdateAppend(ss, changelog)
    val latest = folded.groupBy(col("user_id")).agg(max(col("version")).as("version"))
    folded.join(latest, Seq("user_id", "version"))
      .select("user_id", "recent_ids")
  }

  /** J2 (stream–table join) through real streaming execution: the order
    * stream enriches against the static customer table — the Structured
    * Streaming form of KStream⋈KTable (reference: JoinsExample.scala:35-45,
    * `orders.join(customersTable, ...)`). The static side is broadcast per
    * micro-batch (no state stores: stream–static joins are stateless), the
    * enriched stream lands in an append sink. Shares the batch
    * `stream_table_join` oracle verbatim.
    */
  def streamTableJoinStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val orders = ss.readStream.schema(Tables.orders(ss, dir).schema)
      .parquet(s"$dir/{orders}.parquet")
    runAppend(ss, orders
      .join(broadcast(Tables.customer(ss, dir)),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_mktsegment"), col("o_totalprice")))
  }

  /** T8 (flatMapValues) + A4 through real streaming execution: the token
    * explode runs stateless on the document stream, the token counts are a
    * streaming aggregation converged via complete mode. Shares the batch
    * `flatmap_tokens` oracle.
    */
  def flatmapTokensStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runComplete(ss, documentsStream(ss, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .select("token", "n"))
  }

  /** Exactly-once ACROSS A RESTART, under the oracle: the running-sum
    * aggregation runs as TWO separate `StreamingQuery` executions against
    * ONE checkpoint — phase 1 sees half the events (by event_id parity),
    * stops at source exhaustion (`Trigger.AvailableNow`), phase 2 starts a
    * NEW query from the same checkpoint after the remaining files appear.
    * The restored state + file-source log must resume without re-counting
    * phase-1 input or missing phase-2 input, so the converged table equals
    * the batch recompute over ALL events — the delivery-guarantee claim
    * (reference: processing.guarantee, BasicStreams.scala:29-31; Spark:
    * checkpointed exactly-once) made driver-verifiable. This is the
    * production backfill-resume lifecycle: a catch-up job that dies or is
    * rescheduled picks up where the checkpoint says, never double-applying
    * a micro-batch (the foreachBatch sink stays idempotent by overwrite).
    */
  def restartRecoveryStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val src = Files.createTempDirectory("graft-restart-src").toString
    val ck = Files.createTempDirectory("graft-restart-ck").toString
    val out = Files.createTempDirectory("graft-restart-out").toString
    val ev = Tables.events(ss, dir)
    def arrive(parity: Int): Unit = ev
      .filter(pmod(col("event_id"), lit(2)) === parity)
      .write.mode("append").parquet(src)
    def phase(): DataFrame = runComplete(ss,
      Streaming.runningSumUpdates(ss.readStream.schema(ev.schema).parquet(src)),
      fixedCk = Some(ck), fixedOut = Some(out))
    arrive(0); phase() // first run drains the initial half and stops
    arrive(1)
    phase() // restart from the SAME checkpoint over the late files
  }

  /** Streaming DEDUPLICATION through real incremental execution — Spark's
    * `StreamingDeduplicate` state operator (the streaming twin of the A6
    * distinct family): every arriving (user, event_type) pair consults the
    * keyed state store and only first arrivals pass, so the appended
    * output IS the distinct set. Projecting to exactly the dedup key
    * before the operator makes the result arrival-order independent
    * (whichever arrival wins, the emitted row is the same), which is what
    * lets a state-ordered streaming run share the batch DISTINCT oracle.
    * Unbounded-key caveat: state grows with the key domain — the bounded
    * production form adds a watermark (`dropDuplicatesWithinWatermark`),
    * traded here for an oracle-exact unbounded domain of ~user×type size.
    */
  def dedupStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    runAppend(ss, eventsStream(ss, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type"))
  }

  /** The quantile SKETCH maintained by real incremental execution — the
    * sketch-fed-by-a-stream deployment shape: the per-(type, day) bottom-k
    * tier aggregation ([[AnalyticsQueries.quantileTiers]]) runs as a
    * streaming aggregation whose state-store rows ARE the serialized
    * sketch buffers, and the full readout (tier merge → rank selection →
    * DKW envelope) applies per micro-batch to the converged tier table —
    * the materialized-view-sink pattern. Bottom-k is a commutative monoid,
    * so whatever order micro-batches deliver events, the converged tiers
    * equal the batch tiers and the result hash-matches the same flat-replay
    * oracle as `approx_quantiles_sample`. This is the 100 TB ingest shape:
    * the raw stream updates ≤ 2k-pair state rows per (type, day) and is
    * never stored; quantile queries read sketches.
    */
  def quantileSketchStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val tiers = AnalyticsQueries.quantileTiers(
      AnalyticsQueries.quantileTierInput(eventsStream(ss, dir)))
    runComplete(ss, tiers, transform = AnalyticsQueries.quantileReadout(ss, dir))
  }

  /** The streaming face of [[PipelineQueries.observedMetrics]]: `observe`
    * attached to an UNBOUNDED pass. Per micro-batch the CollectMetrics
    * aggregates surface on `StreamingQueryProgress.observedMetrics` — the
    * production hook for pipeline telemetry (row counts, rule counters,
    * value envelopes) with ZERO extra scans and zero state stores: the
    * metrics ride the batch the sink was writing anyway. The fold across
    * batches (sums add, envelopes min/max) is exactly the partial-merge
    * the counters were built from, so the converged readout equals the
    * batch aggregate bit-for-bit — which is what the oracle verifies.
    * Streaming uses the named `observe` + a [[org.apache.spark.sql.streaming.StreamingQueryListener]]
    * accumulating EVERY batch's metrics as they are posted (round-4
    * verdict #2: the earlier `recentProgress` fold read a ring buffer
    * capped at `spark.sql.streaming.numRecentProgressUpdates`, silently
    * dropping early batches past the cap — a long catch-up run would
    * under-count). To keep the independence PROVEN, this query pins the
    * ring buffer to 1 on its child session: any regression back to
    * `recentProgress` fails the oracle immediately. (The blocking
    * `Observation` helper is batch-only by design: a stream never
    * "completes" its one action.)
    */
  def observedStreamParity(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    ss.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1")
    observedFoldRun(ss, eventsStream(ss, dir))
  }

  /** The observe→listener→fold machinery of [[observedStreamParity]],
    * parameterized on the source so the multi-batch spec can drive it with
    * a `maxFilesPerTrigger=1` source (tens of micro-batches) under the
    * same pinned-ring-buffer session. Building the frame RUNS the
    * streaming query (eager, like every parity row).
    */
  private[graft] def observedFoldRun(ss: SparkSession, events: DataFrame): DataFrame = {
    val src = events
      .filter(col("value") > 0)
      .select(col("event_id"), col("event_type"),
        floor(expr("CAST(value AS DECIMAL(18,2))") * 100).cast("long").as("cents"))
      .observe("graft_stream_metrics",
        count(lit(1)).as("rows_out"),
        sum(col("cents")).as("cents_out"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchase_rows"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
    // Accumulate per-batch observation rows on the listener bus — unbounded
    // by any retention conf. Events are delivered async but IN ORDER per
    // listener, so once the terminated event lands, every progress event
    // before it has been folded in.
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Option(e.progress.observedMetrics.get("graft_stream_metrics"))
          .foreach(batches.add)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    ss.streams.addListener(listener)
    try {
      val q = src.writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-obs-ck").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(done.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the query terminate")
    } finally ss.streams.removeListener(listener)
    val perBatch = batches.toArray(Array.empty[org.apache.spark.sql.Row]).toSeq
    require(perBatch.nonEmpty, "streaming query recorded no observed metrics")
    // Null-discipline (round-4 advice): a row-less batch observes NULL for
    // sum/min/max — those batches are excluded from the value folds by the
    // rows_out>0 filter; a NULL in a row-carrying batch is a real defect
    // (e.g. cast overflow) and must fail loudly, never unbox to 0.
    def metric(r: org.apache.spark.sql.Row, k: String): Long =
      r.getAs[java.lang.Long](k) match {
        case null => sys.error(s"observed metric $k is NULL in a row-carrying batch")
        case v    => v.longValue()
      }
    val nonEmpty = perBatch.filter(metric(_, "rows_out") > 0)
    require(nonEmpty.nonEmpty, "no micro-batch carried rows")
    val folded = Seq(
      "rows_out"      -> perBatch.map(metric(_, "rows_out")).sum,
      "cents_out"     -> nonEmpty.map(metric(_, "cents_out")).sum,
      "purchase_rows" -> nonEmpty.map(metric(_, "purchase_rows")).sum,
      "min_cents"     -> nonEmpty.map(metric(_, "min_cents")).min,
      "max_cents"     -> nonEmpty.map(metric(_, "max_cents")).max)
    import ss.implicits._
    folded.toDF("metric", "value")
  }

  /** Oracle for [[observedStreamParity]] — the same counters as one batch
    * aggregate over events.
    */
  val observedStreamSql: String =
    """WITH p AS (SELECT CAST(FLOOR(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents,
      |                  event_type
      |           FROM events WHERE value > 0)
      |SELECT 'rows_out' AS metric, CAST(count(*) AS BIGINT) AS value FROM p
      |UNION ALL SELECT 'cents_out', CAST(SUM(cents) AS BIGINT) FROM p
      |UNION ALL SELECT 'purchase_rows',
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) FROM p
      |UNION ALL SELECT 'min_cents', CAST(MIN(cents) AS BIGINT) FROM p
      |UNION ALL SELECT 'max_cents', CAST(MAX(cents) AS BIGINT) FROM p""".stripMargin
}
