package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Benchmark driver: runs one workload against graft as a library and
  * writes `result.json` (and, when tracing, `spans.jsonl`) to the output
  * directory named in the config. The Python harness (perfbench/run.py)
  * makes the inputs, launches this driver, checks the outputs and prints
  * the metrics.
  *
  * Usage: perfbench.Driver <config.json>
  */
object Driver {
  private val mapper = new ObjectMapper()

  /** The benchmark runs `local[Cpus]`: the 4-core host it was sized on. */
  val Cpus = 4

  final case class OpRun(name: String, pass: Int, buildS: Double, execS: Double, error: String) {
    def toMap: Map[String, Any] = Map("name" -> name, "pass" -> pass, "build_s" -> buildS,
      "execute_s" -> execS, "error" -> Option(error))
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new java.io.File(args(0)))
    val out = cfg.get("out").asText()
    Files.createDirectories(Paths.get(out))
    val result = cfg.get("workload").asText() match {
      case "fixture_suite" => new BatchWorkload(cfg).run()
      case "stream_ingest" => new StreamIngest(cfg).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(out, "result.json"), Json.write(result))
  }

  /** Seconds since this JVM started: the start of set-up. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def session(cfg: JsonNode, cpus: Int): SparkSession = {
    val work = cfg.get("work").asText()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  def errorOf(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)} (root: $root)".take(600)
  }
}

/** Peak heap after garbage collection, from the collectors' own
  * notifications: the heap the program keeps live, not allocation churn.
  */
final class HeapPeak {
  @volatile var peakBytes: Long = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      n.getUserData match {
        case cd: javax.management.openmbean.CompositeData =>
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          if (used > peakBytes) peakBytes = used
        case _ =>
      }
  }

  def start(): Unit = {
    peakBytes = 0L
    beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
      .addNotificationListener(listener, null, null))
  }

  def stop(): Double = {
    beans.foreach(b => try b.asInstanceOf[javax.management.NotificationEmitter]
      .removeNotificationListener(listener) catch { case _: Throwable => })
    peakBytes / 1048576.0
  }
}

/** `fixture_suite`: a closed loop with one client that runs the
  * configured `SparkEntry` queries in passes through the noop sink, timing
  * each call's build (the query function, including the eager jobs it runs) and
  * execute (the action) from outside.
  *
  * Set-up, timed from JVM start, is a session build plus one cold warm-up
  * execution of every query that writes each result to parquet for the
  * output check. Then passes run until
  * `seconds` have elapsed and at least `min_passes` have run; a traced run
  * first times `min_passes` untraced passes, then traces `min_passes`.
  */
final class BatchWorkload(cfg: JsonNode) {
  import Driver._

  private val out = cfg.get("out").asText()
  private val trace = cfg.get("trace").asBoolean()
  private val seconds = cfg.get("seconds").asDouble()
  // every batch query unless the config names some
  private val names = Option(cfg.get("queries")).map(strings).getOrElse(
    SparkEntry.queries.keys.filterNot(_.endsWith("_stream_parity")).toSeq.sorted)
  private val data = cfg.get("data").asText()
  private val minPasses = cfg.get("min_passes").asInt()

  private def release(spark: SparkSession): Unit = {
    graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    spark.catalog.clearCache()
  }

  /** Build and execute one query; `sink` None means the noop sink. */
  private def runOp(spark: SparkSession, rec: Option[Recorder], name: String, dir: String,
                    pass: Int, sink: Option[String]): OpRun = {
    var buildS = 0.0
    var execS = 0.0
    def timed[A](phase: String, parent: Long)(body: => A)(after: (Span, A) => Unit): (A, Double) = {
      val t0 = System.nanoTime()
      val r = rec match {
        case Some(r) => r.within(phase, name, parent) { s => val a = body; after(s, a); a }
        case None => body
      }
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def go(parent: Long): String =
      try {
        // the returned plan is analyzed while it is built; the listener
        // only sees the action's own (already analyzed) execution
        val (df, b) = timed("queries.build", parent)(SparkEntry.queries(name)(spark, dir)) { (s, df) =>
          df.queryExecution.tracker.phases.get("analysis")
            .foreach(p => s.attrs("analysis_ms") = p.durationMs.toDouble)
        }
        buildS = b
        val (_, e) = timed("queries.execute", parent) {
          sink match {
            case Some(path) => df.write.mode("overwrite").parquet(path)
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }((_, _) => ())
        execS = e
        null
      } catch { case e: Throwable => errorOf(e) }
    val err = rec match {
      case Some(r) =>
        val op = r.open("op", name, 0)
        op.attrs("pass") = pass
        try go(op.id) finally r.close(op)
      case None => go(0)
    }
    release(spark)
    OpRun(name, pass, buildS, execS, err)
  }

  def run(): Map[String, Any] = {
    val spark = session(cfg, Cpus)
    val warmRuns = names.map(n => runOp(spark, None, n, data, -1, Some(s"$out/check/$n")))
    val setupS = sinceJvmStart()
    def onePass(rec: Option[Recorder], pass: Int): Seq[OpRun] =
      names.map(n => runOp(spark, rec, n, data, pass, None))
    // A traced run first times untraced passes, so its record carries the
    // tracing overhead (traced minus untraced pass wall) from one process.
    val untracedWalls = if (!trace) Nil else (0 until minPasses).map { p =>
      val p0 = System.nanoTime(); onePass(None, -3); (System.nanoTime() - p0) / 1e9
    }
    val canaryPre = if (trace) graft.engine.HostCanary.once(1) else -1.0
    val rec = if (trace) {
      val r = new Recorder(spark); r.register(); Some(r)
    } else None
    val heap = new HeapPeak
    heap.start()
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val windowStart = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      runs ++= onePass(rec, pass)
      passWalls += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val heapMb = heap.stop()
    val canaryPost = if (trace) graft.engine.HostCanary.once(1) else -1.0
    rec.foreach { r => r.unregister(); r.write(s"$out/spans.jsonl") }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.write(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    stop(spark)
    Map("setup_s" -> setupS, "pass_s" -> passWalls.toSeq, "window_s" -> windowS,
      "untraced_pass_s" -> untracedWalls, "heap_peak_mb" -> heapMb,
      "canary_pre_s" -> canaryPre, "canary_post_s" -> canaryPost,
      "warm" -> warmRuns.map(_.toMap), "ops" -> runs.map(_.toMap).toSeq)
  }
}
