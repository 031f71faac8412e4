package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark or of the engine under it. Times
  * are epoch milliseconds so driver-side spans and the scheduler's own
  * timestamps share one clock. `attrs` holds the span's counters.
  */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                 val start: Long) {
  @volatile var end: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def add(key: String, v: Double): Unit = attrs.synchronized {
    attrs(key) = attrs.getOrElse(key, 0.0) + v
  }

  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "start" -> start, "end" -> end, "attrs" -> attrs.synchronized(attrs.toMap))
}

/** In-memory span recorder fed by the three Spark listener interfaces.
  *
  * Operations the benchmark times open `op` spans with `queries.build` and
  * `queries.execute` children. While a child is open, the benchmark sets a
  * job tag naming it on the calling thread; every job whose properties
  * carry the tag becomes a child span, stages hang under their job, and
  * task metrics add up on the stage. Streaming queries inherit the tag of
  * the span open when they start, and their progress reports become
  * micro-batch spans. Nothing is written until `write` at the end.
  */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val streamSpan = new ConcurrentHashMap[String, Long]()
  @volatile private var current: Span = _
  val TagPrefix = "perfbench-span-"

  def open(kind: String, name: String, parent: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, System.currentTimeMillis())
    spans.put(s.id, s)
    s
  }

  def close(s: Span): Unit = s.end = System.currentTimeMillis()

  /** Run `body` inside a span that the engine's jobs attach to. */
  def within[A](kind: String, name: String, parent: Long)(body: Span => A): A = {
    val s = open(kind, name, parent)
    val sc = spark.sparkContext
    val prev = current
    current = s
    sc.addJobTag(TagPrefix + s.id)
    try body(s)
    finally {
      sc.removeJobTag(TagPrefix + s.id)
      org.apache.spark.perfbenchbridge.Bus.drain(sc)
      current = prev
      close(s)
    }
  }

  def bindStream(queryId: String, span: Span): Unit = streamSpan.put(queryId, span.id)

  private def parentOf(props: java.util.Properties): Long = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    tags.collectFirst { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toLong }
      .orElse(Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .flatMap(q => Option(streamSpan.get(q)).map(_.longValue)))
      .getOrElse(Option(current).map(_.id).getOrElse(0L))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = new Span(ids.incrementAndGet(), parentOf(e.properties), "job", s"job ${e.jobId}", e.time)
    spans.put(s.id, s)
    jobSpan.put(e.jobId, s)
    e.stageIds.foreach(st => stageJob.putIfAbsent(st, s.id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { s =>
      s.end = e.time
      if (e.jobResult != JobSucceeded) s.add("failed", 1)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val parent = Option(stageJob.get(info.stageId)).map(_.longValue).getOrElse(0L)
    val s = new Span(ids.incrementAndGet(), parent, "stage", s"stage ${info.stageId}.${info.attemptNumber()}",
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    spans.put(s.id, s)
    stageSpan.put(info.stageId, s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.add("tasks", 1)
      if (e.reason != Success) s.add("task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("run_ms", m.executorRunTime)
        s.add("cpu_ns", m.executorCpuTime)
        s.add("gc_ms", m.jvmGCTime)
        s.add("input_bytes", m.inputMetrics.bytesRead)
        s.add("input_rows", m.inputMetrics.recordsRead)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        s.add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
        s.add("shuffle_write_ns", m.shuffleWriteMetrics.writeTime)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        s.add("spill_bytes", m.diskBytesSpilled)
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) Option(current).foreach { s =>
      s.add("cache_blocks", 1)
      s.add("cache_bytes", info.memSize + info.diskSize)
      s.attrs.synchronized(s.attrs("rdd_" + info.blockId.asRDDId.get.rddId) = 1)
    }
  }

  /** Catalyst phase times and the final plan's join/output row metrics. */
  val sqlListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = new Span(ids.incrementAndGet(), Option(current).map(_.id).getOrElse(0L), "sql", funcName,
        System.currentTimeMillis() - durationNs / 1000000)
      s.end = System.currentTimeMillis()
      spans.put(s.id, s)
      val ph = qe.tracker.phases
      s.attrs("analysis_ms") = ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
      s.attrs("optimizer_ms") = ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
      s.attrs("physical_ms") = ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
      val joins = mutable.ArrayBuffer.empty[Long]
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
        case other =>
          if (other.nodeName.contains("Join") || other.nodeName.contains("CartesianProduct"))
            other.metrics.get("numOutputRows").foreach(m => joins += m.value)
          other.children.foreach(walk)
      }
      def rootRows(p: SparkPlan): Option[Long] = p match {
        case a: AdaptiveSparkPlanExec => rootRows(a.executedPlan)
        case q: QueryStageExec => rootRows(q.plan)
        case other => other.metrics.get("numOutputRows").map(_.value)
          .orElse(other.children.headOption.flatMap(rootRows))
      }
      try {
        walk(qe.executedPlan)
        rootRows(qe.executedPlan).foreach(r => s.attrs("root_rows") = r)
      } catch { case _: Throwable => }
      if (joins.nonEmpty) s.attrs("join_rows_max") = joins.max
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** One micro-batch span per progress report, under the query's span. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val parent = Option(streamSpan.get(p.id.toString)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val s = new Span(ids.incrementAndGet(), parent, "stream.batch", s"batch ${p.batchId}", start)
      s.end = start + d.getOrElse("triggerExecution", 0.0).toLong
      spans.put(s.id, s)
      s.attrs("batch_id") = p.batchId
      s.attrs("input_rows") = p.numInputRows
      d.foreach { case (k, v) => s.attrs(k + "_ms") = v }
      p.stateOperators.foreach { op =>
        s.add("state_rows_total", op.numRowsTotal)
        s.add("state_rows_updated", op.numRowsUpdated)
        s.add("state_rows_removed", op.numRowsRemoved)
        s.add("state_commit_ms", op.commitTimeMs)
        s.add("state_memory_bytes", op.memoryUsedBytes)
      }
    }
  }

  private val sessions = mutable.ArrayBuffer.empty[SparkSession]

  /** Listen to `s`'s query executions and streaming queries; a child
    * session has its own listener manager and streaming query manager. */
  def watch(s: SparkSession): Unit = {
    s.listenerManager.register(sqlListener)
    s.streams.addListener(streamListener)
    sessions += s
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    watch(spark)
  }

  def unregister(): Unit = {
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    sessions.foreach { s =>
      s.listenerManager.unregister(sqlListener)
      s.streams.removeListener(streamListener)
    }
  }

  def write(path: String): Unit = {
    val lines = spans.values.asScala.toSeq.sortBy(_.id).map(s => Json.write(s.toMap))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** JSON output through Jackson's Scala module: maps become objects,
  * sequences arrays and `None` null.
  */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  /** A measured value, or null when it was never observed. */
  def num(v: Double): Option[Double] = if (v.isNaN || v.isInfinite) None else Some(v)
}
