package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Stage-level profiler for any `SparkEntry` query (evidence generator for
  * targeted perf work): runs the named queries exactly as Bench does (warm
  * pass, then one measured pass through the noop sink) with a listener
  * capturing every job and stage — wall, task count, input / shuffle-read /
  * shuffle-write bytes, spill. Prints the measured pass's stages sorted by
  * wall so the dominant stage (scan? one fat shuffle? a 1-task window?) is
  * readable at a glance, instead of guessing from `.explain` alone.
  *
  * Usage:
  *   sbt "runMain graft.Profile /root/testdata/sf0.1 training_corpus [more...]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Harness.session()

    final case class StageRow(jobId: Int, stageId: Int, name: String,
      tasks: Int, wallMs: Long, inputMB: Double, shReadMB: Double,
      shWriteMB: Double, spillMB: Double)
    // listener events arrive on the async listener-bus thread; every access
    // to the shared state below synchronizes on `stages`
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val stageToJob = mutable.Map.empty[Int, Int]
    var jobStarts = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        stages.synchronized {
          jobStarts += 1
          j.stageIds.foreach(s => stageToJob(s) = j.jobId)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(0L)
          stages += StageRow(stageToJob.getOrElse(si.stageId, -1), si.stageId,
            si.name.takeWhile(_ != '\n'), si.numTasks, wall,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // the listener bus is asynchronous and its drain API is private[spark]:
    // poll until the captured event set stops growing. The listener records
    // UNCONDITIONALLY (no collecting flag): a flag checked at event-
    // PROCESSING time cannot attribute events still queued on the bus to
    // the pass that produced them, so instead the warm pass's events are
    // drained and then CLEARED before the measured pass starts — the
    // snapshot after the measured drain holds exactly that pass's stages.
    // Quiescence = THREE consecutive 200ms windows with neither the stage
    // count nor the job-start count growing — one quiet window is not
    // enough if the bus thread stalls >200ms mid-queue (events landing
    // after clear() would be misattributed to the next pass).
    def drain(): Unit = {
      def counts = stages.synchronized((stages.size, jobStarts))
      var quiet = 0
      var prev = counts
      while (quiet < 3) {
        Thread.sleep(200)
        val cur = counts
        if (cur == prev) quiet += 1 else { quiet = 0; prev = cur }
      }
    }

    args.tail.foreach { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        finally { graft.engine.QueryCaches.releaseAll(spark, blocking = true); spark.catalog.clearCache() }
        (System.nanoTime() - t0) / 1e9
      }
      // Bench's per-query resilience: a bad name or failing query reports
      // and moves on instead of aborting the remaining arguments
      if (!SparkEntry.queries.contains(name))
        System.err.println(s"[profile] unknown query: $name")
      else try {
        val warm = once() // codegen/JIT warm-up, unprofiled (Bench protocol)
        drain() // let every warm-pass event land before discarding them
        stages.synchronized { stages.clear(); stageToJob.clear() }
        val t = once()
        drain() // wait for the measured pass's queued events
        val snap = stages.synchronized(stages.toVector)
        println(f"\n=== $name%s measured ${t}%.2fs (warm ${warm}%.2fs) - " +
          s"${snap.map(_.jobId).distinct.size} jobs, ${snap.size} stages ===")
        println(f"${"job"}%4s ${"stage"}%5s ${"ms"}%7s ${"tasks"}%5s " +
          f"${"in MB"}%8s ${"shR MB"}%8s ${"shW MB"}%8s ${"spill"}%6s  name")
        snap.sortBy(-_.wallMs).take(20).foreach { s =>
          println(f"${s.jobId}%4d ${s.stageId}%5d ${s.wallMs}%7d ${s.tasks}%5d " +
            f"${s.inputMB}%8.1f ${s.shReadMB}%8.1f ${s.shWriteMB}%8.1f " +
            f"${s.spillMB}%6.1f  ${s.name.take(60)}%s")
        }
        val covered = snap.map(_.wallMs).sum / 1e3
        println(f"stage wall sum ${covered}%.2fs of ${t}%.2fs measured " +
          "(gap = driver/planning/scheduling; 32-task stages overlap)")
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
