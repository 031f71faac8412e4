package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.engine.Topic
import graft.streaming.Streaming

/** `stream_ingest`: an open loop. A generator thread moves pre-made event
  * files into a file-stream `Topic` directory on a fixed schedule that
  * steps through a ladder of offered rates. Three concurrent streaming
  * queries from one `Streaming.sessionForStreaming` session consume it:
  * `RunningTotalProcessor` (RocksDB read-modify-write), `latestPerKeyUpdates`
  * (KTable upsert) and `intervalJoinStream` (windowed join state with
  * watermark eviction). Each writes through a foreachBatch sink owned here
  * that records when its micro-batch committed.
  *
  * An event's latency runs from the time its file was due to the commit of
  * the micro-batch that consumed it; which batch consumed which file is
  * read back from each query's file-source log after the run.
  */
final class StreamIngest(cfg: JsonNode) {
  import Driver._
  import StreamIngest._

  private val out = cfg.get("out").asText()
  private val work = cfg.get("work").asText()
  private val trace = cfg.get("trace").asBoolean()
  private val sched = new ObjectMapper().readTree(
    new java.io.File(cfg.get("schedule").asText() + "/schedule.json"))
  private val filesDir = cfg.get("schedule").asText() + "/files"

  private val schedule: Seq[Due] = sched.get("files").elements().asScala.map { f =>
    Due(f.get("file").asText(), f.get("due_s").asDouble(), f.get("step").asInt(),
      f.get("events").asInt())
  }.toSeq
  private val warmFiles = schedule.filter(_.step < 0)
  /** The ladder step the latency is timed at; the steps before it warm up. */
  private val nominal = cfg.get("nominal_step").asInt()

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The benchmark's foreachBatch sink: keeps the converged result in
    * driver memory for the output check and the commit time per batch. */
  final class Sink(val name: String) {
    val commitMs = new ConcurrentHashMap[Long, java.lang.Long]()
    val writeMs = mutable.ArrayBuffer.empty[Double]
    @volatile var retried = 0
    val rows = new ConcurrentHashMap[Any, Row]()
    val joined = new java.util.concurrent.ConcurrentLinkedQueue[Row]()

    def write(df: DataFrame, batchId: Long, rec: Option[Recorder], parent: Long): Unit = {
      val t0 = System.nanoTime()
      val got = df.collect()
      name match {
        case "processor_total" =>
          got.foreach { r =>
            val prev = rows.get(r.getLong(0))
            if (prev == null || prev.getDouble(1) < r.getDouble(1)) rows.put(r.getLong(0), r)
          }
        case "ktable_latest" => got.foreach(r => rows.put(r.getLong(0), r))
        case _ => got.foreach(joined.add)
      }
      val now = System.currentTimeMillis()
      if (commitMs.putIfAbsent(batchId, now) != null) { retried += 1; commitMs.put(batchId, now) }
      val ms = (System.nanoTime() - t0) / 1e6
      writeMs.synchronized(writeMs += ms)
      rec.foreach { r =>
        val s = r.open("sink.batch", s"$name batch $batchId", parent)
        s.attrs("write_ms") = ms
        r.close(s)
      }
    }
  }

  final class Run(val dir: Path, val queries: Seq[StreamingQuery],
                  val sinks: Seq[Sink], val ckDirs: Seq[String])

  /** What one query did with the files: which of its batches consumed each
    * file, and when that batch's sink commit landed. */
  final class Consumed(val sink: Sink, val batchOf: Map[String, Long]) {
    /** Epoch ms of the commit that made `file` visible; +inf if none did. */
    def commitMs(file: String): Double = batchOf.get(file)
      .flatMap(b => Option(sink.commitMs.get(b))).map(_.doubleValue).getOrElse(Double.PositiveInfinity)
  }

  private def consumed(run: Run): Seq[Consumed] =
    run.ckDirs.zip(run.sinks).map { case (ck, sink) => new Consumed(sink, batchFiles(ck)) }

  /** Start the three queries on an empty topic directory, feed the warm-up
    * files, and return once every query has committed them. The session
    * runs one state partition per core, as the repository's own streaming
    * yardstick does. */
  private def start(spark: SparkSession, tag: String, rec: Option[Recorder]): Run = {
    val ss = Streaming.sessionForStreaming(spark, spark.sparkContext.defaultParallelism)
    rec.foreach(_.watch(ss))
    val base = Paths.get(work, s"stream-$tag")
    val dir = base.resolve("topic")
    Files.createDirectories(dir.resolve("events.parquet"))
    val events = Topic("events", "user_id", "ts").readStream(ss, dir.toString, schema)
    val typed = events.as[Streaming.Event](Encoders.product[Streaming.Event])
    val clicks = events.filter(col("event_type") === "click")
    val purchases = events.filter(col("event_type") === "purchase")
    val plans: Seq[(String, DataFrame, String)] = Seq(
      ("processor_total",
        Streaming.withProcessor(typed, new Streaming.RunningTotalProcessor).toDF("user_id", "total"),
        "update"),
      ("ktable_latest", Streaming.latestPerKeyUpdates(events), "update"),
      ("interval_join",
        Streaming.intervalJoinStream(clicks, purchases, Tolerance, Grace).select(
          col("l.user_id").as("user_id"), col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"), col("l.ts").as("click_ts"),
          col("r.ts").as("purchase_ts")),
        "append"))
    val sinks = plans.map(p => new Sink(p._1))
    val ckDirs = plans.map(p => base.resolve("ck-" + p._1).toString)
    val queries = plans.zip(sinks).zip(ckDirs).map { case (((name, df, mode), sink), ck) =>
      def startIt(parent: Long): StreamingQuery = df.writeStream
        .queryName(s"$name-$tag")
        .outputMode(mode)
        .option("checkpointLocation", ck)
        .foreachBatch((b: Dataset[Row], id: Long) => sink.write(b, id, rec, parent))
        .start()
      rec match {
        case Some(r) =>
          val span = r.open("stream.query", name, 0)
          val q = r.within("stream.start", name, span.id)(_ => startIt(span.id))
          r.bindStream(q.id.toString, span)
          q
        case None => startIt(0)
      }
    }
    warmFiles.foreach(f => publish(dir, f))
    queries.foreach(_.processAllAvailable())
    new Run(dir, queries, sinks, ckDirs)
  }

  /** Copy `f` into the topic under a hidden name, which the file source
    * skips; `reveal` then renames it into view atomically. */
  private def stage(dir: Path, f: Due): () => Unit = {
    val tmp = dir.resolve("events.parquet").resolve("." + f.file + ".tmp")
    Files.copy(Paths.get(filesDir, f.file), tmp, StandardCopyOption.REPLACE_EXISTING)
    () => Files.move(tmp, dir.resolve("events.parquet").resolve(f.file), StandardCopyOption.ATOMIC_MOVE)
  }

  private def publish(dir: Path, f: Due): Unit = stage(dir, f)()

  private def stopRun(r: Run): Unit = r.queries.foreach(q => try q.stop() catch { case _: Throwable => })

  /** Offer `files` on their schedule; returns (start epoch ms, lateness ms per file). */
  private def offer(run: Run, files: Seq[Due]): (Long, Seq[Double]) = {
    val late = mutable.ArrayBuffer.empty[Double]
    val t0 = System.currentTimeMillis() + 200
    val gen = new Thread(() => {
      files.foreach { f =>
        val due = t0 + (f.dueS * 1000).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(run.dir, f)
        late.synchronized(late += (System.currentTimeMillis() - due).toDouble)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    (t0, late.toSeq)
  }

  /** File name -> the query batch that consumed it. The file-source log
    * records the source's own batch number for each file; the query's
    * offset log records which source batch each query batch read up to
    * (they differ once no-data batches run to advance a watermark). */
  private def batchFiles(ck: String): Map[String, Long] = {
    val m = new ObjectMapper()
    def logFiles(dir: Path): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).toSeq
    val sourceBatch = logFiles(Paths.get(ck, "sources", "0"))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .filter(_.startsWith("{")).map(m.readTree)
      .map(n => Paths.get(new java.net.URI(n.get("path").asText())).getFileName.toString ->
        n.get("batchId").asLong())
      .toMap
    val readUpTo = logFiles(Paths.get(ck, "offsets"))
      .flatMap(p => scala.util.Try(p.getFileName.toString.toLong).toOption.map { b =>
        // line 0 is the version, line 1 the batch metadata, then one line
        // per source in source order: source 0 is the one logged above
        b -> m.readTree(Files.readAllLines(p).get(2)).get("logOffset").asLong()
      }).sortBy(_._1)
    sourceBatch.flatMap { case (f, n) => readUpTo.find(_._2 >= n).map(f -> _._1) }
  }

  /** Per-event latency samples (ms) per ladder step, as (latency, weight). */
  private def latencies(cs: Seq[Consumed], t0: Long, files: Seq[Due]): Map[Int, Seq[(Double, Int)]] =
    files.flatMap(f => cs.map(c => f.step -> (c.commitMs(f.file) - (t0 + f.dueS * 1000), f.events)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private def quantile(samples: Seq[(Double, Int)], q: Double): Double = {
    val s = samples.sortBy(_._1)
    val total = s.map(_._2.toLong).sum
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= math.ceil(q * total) }.map(_._1).getOrElse(Double.NaN)
  }

  private def dumpSinks(run: Run): Unit = {
    def csv(name: String, rows: Iterable[Row]): Unit = {
      def cell(v: Any): String = v match {
        case t: java.sql.Timestamp => (t.getTime / 1000 * 1000000L + t.getNanos / 1000).toString
        case i: java.time.Instant => (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
        case null => ""
        case other => other.toString
      }
      Files.write(Paths.get(out, s"$name.csv"),
        rows.map(_.toSeq.map(cell).mkString(",")).toSeq.asJava)
    }
    Files.createDirectories(Paths.get(out, "check"))
    run.sinks.foreach { s =>
      if (s.name == "interval_join") csv(s"check/${s.name}", s.joined.asScala)
      else csv(s"check/${s.name}", s.rows.values.asScala)
    }
  }

  def run(): Map[String, Any] = {
    val steps = sched.get("steps").size()
    val ladder = schedule.filter(f => f.step >= 0 && f.step < steps)
    val rounds = schedule.filter(_.step >= steps).groupBy(_.step).toSeq.sortBy(_._1).map(_._2)
    val spark = session(cfg, Cpus)
    val rec = if (trace) { val r = new Recorder(spark); r.register(); Some(r) } else None
    val traceStart = System.nanoTime()
    // Set-up runs from JVM start through the session build, the start of
    // the three queries and their first micro-batch (cold planning,
    // codegen and state store init).
    val run = start(spark, "run", rec)
    val setupS = sinceJvmStart()
    val canaryPre = if (trace) graft.engine.HostCanary.once(1) else -1.0
    val heap = new HeapPeak
    heap.start()
    val (t0, late) = offer(run, ladder)
    val drained = drain(run)
    // each backlog round: every file at once, caught up from idle queries
    val roundRuns = rounds.map { files =>
      // staged first, so the whole backlog appears within a millisecond
      // and the queries see it in one listing
      val reveal = files.map(f => stage(run.dir, f))
      settle(run)
      val b0 = System.currentTimeMillis()
      reveal.foreach(_())
      (b0, drain(run))
    }
    val caughtUp = roundRuns.forall(_._2)
    val heapMb = heap.stop()
    val windowS = (System.currentTimeMillis() - t0) / 1e3
    val failures = run.queries.flatMap(q => q.exception.map(e => q.name + ": " + errorOf(e)))
    val canaryPost = if (trace) graft.engine.HostCanary.once(1) else -1.0
    rec.foreach(_.unregister())
    val tracedS = (System.nanoTime() - traceStart) / 1e9
    rec.foreach(_.write(s"$out/spans.jsonl"))
    dumpSinks(run)
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.write(
      Seq("processor_total", "interval_join").map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    val cs = consumed(run)
    val backlog = rounds.zip(roundRuns).map { case (files, (b0, _)) =>
      val catchUpS = (cs.map(c => files.map(f => c.commitMs(f.file)).max).max - b0) / 1e3
      val events = files.map(_.events).sum
      Map("events" -> events, "catch_up_s" -> Json.num(catchUpS),
        "events_per_s" -> Json.num(events / catchUpS))
    }
    val sinkStats = run.sinks.map(s => s.name -> Map("batches" -> s.commitMs.size,
      "write_ms" -> s.writeMs.synchronized(s.writeMs.sum), "retried" -> s.retried)).toMap
    val consumedBatches = cs.map(c => c.sink.name -> ladder.flatMap(f =>
      c.batchOf.get(f.file).map(b => Seq((t0 + f.dueS * 1000).toLong, b)))).toMap
    val stepStatsOut = stepStats(cs, t0, ladder)
    stopRun(run)
    stop(spark)
    val baseline = if (trace) Some(baselineRun()) else None
    Map("setup_s" -> setupS, "window_s" -> windowS, "traced_s" -> tracedS,
      "drained" -> (drained && caughtUp), "failures" -> failures,
      "heap_peak_mb" -> heapMb, "canary_pre_s" -> canaryPre, "canary_post_s" -> canaryPost,
      "gen_late_ms" -> late, "sinks" -> sinkStats, "steps" -> stepStatsOut,
      "backlog" -> backlog, "consumed" -> consumedBatches, "baseline" -> baseline)
  }

  /** Wait until every query has committed all published files; false if
    * one has failed. */
  private def drain(run: Run): Boolean =
    run.queries.forall(q => try { q.processAllAvailable(); true } catch { case _: Throwable => false })

  /** Wait until no query is running a batch, a no-data batch that evicts
    * watermarked state included, so a backlog meets idle queries. */
  private def settle(run: Run): Unit = {
    val until = System.nanoTime() + 10000000000L
    def idle = run.queries.forall(q => !q.isActive || q.status.message == "Waiting for data to arrive")
    while (!(idle && { Thread.sleep(20); idle }) && System.nanoTime() < until) Thread.sleep(20)
  }

  /** Per ladder step: latency quantiles, the most files waiting, and the
    * drain time — from the step's first file being due until every query
    * has committed all of the step's files. */
  private def stepStats(cs: Seq[Consumed], t0: Long, files: Seq[Due]): Seq[Map[String, Any]] = {
    val lat = latencies(cs, t0, files)
    val backlog = backlogFiles(cs, t0, files)
    sched.get("steps").elements().asScala.map(st => st.get(0).asDouble()).toSeq.zipWithIndex.map {
      case (rate, k) =>
        val s = lat.getOrElse(k, Nil)
        val stepFiles = files.filter(_.step == k)
        val first = t0 + stepFiles.map(_.dueS).min * 1000
        val drainS = (cs.flatMap(c => stepFiles.map(f => c.commitMs(f.file))).max - first) / 1e3
        val events = stepFiles.map(_.events).sum
        Map("rate" -> rate, "events" -> events, "p50_ms" -> Json.num(quantile(s, 0.5)),
          "p90_ms" -> Json.num(quantile(s, 0.9)), "p99_ms" -> Json.num(quantile(s, 0.99)),
          "max_ms" -> Json.num(s.map(_._1).maxOption.getOrElse(0.0)),
          "drain_s" -> Json.num(drainS), "consumed_eps" -> Json.num(events / drainS),
          "backlog_max_files" -> backlog.getOrElse(k, 0),
          "samples" -> s.map { case (l, w) => Seq(Json.num(l), w) })
    }
  }

  /** Most files due but not yet committed by some query, per ladder step,
    * sampled at every file's due time. */
  private def backlogFiles(cs: Seq[Consumed], t0: Long, files: Seq[Due]): Map[Int, Int] = {
    val due = files.map(f => t0 + f.dueS * 1000)
    val commits = cs.map(c => files.map(f => c.commitMs(f.file)))
    files.indices.groupBy(files(_).step).map { case (step, idx) =>
      step -> idx.map { i =>
        commits.map(c => files.indices.count(j => due(j) <= due(i) && c(j) > due(i))).max
      }.max
    }
  }

  /** The warm-up and nominal steps again on a single core (`local[1]`),
    * for the single-threaded baseline the traced run reports beside the
    * 4-core one. */
  private def baselineRun(): Map[String, Any] = {
    val spark = session(cfg, 1)
    val run = start(spark, "baseline", None)
    val steps = schedule.filter(f => f.step >= 0 && f.step <= nominal)
    val (t0, _) = offer(run, steps)
    run.queries.foreach(q => try q.processAllAvailable() catch { case _: Throwable => })
    val s = latencies(consumed(run), t0, steps).getOrElse(nominal, Nil)
    stopRun(run)
    stop(spark)
    Map("cpus" -> 1, "rate" -> sched.get("steps").get(nominal).get(0).asDouble(),
      "p50_ms" -> Json.num(quantile(s, 0.5)), "p99_ms" -> Json.num(quantile(s, 0.99)))
  }
}

object StreamIngest {
  /** The interval join's tolerance and its watermark delay. The generator
    * keeps out-of-order events within the delay, so none is dropped. */
  val Tolerance = "10 MINUTES"
  val Grace = "30 MINUTES"

  /** One scheduled event file: due `dueS` seconds into the ladder (negative
    * for set-up and backlog files), in ladder step `step`. */
  final case class Due(file: String, dueS: Double, step: Int, events: Int)
}
