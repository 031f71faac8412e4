package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fault tolerance (E4/E5 + exactly-once): a streaming aggregation stopped
  * mid-stream and restarted from its checkpoint resumes state and converges
  * to the batch recompute over ALL data — the reference's changelog-restore
  * guarantee (RocksDB + changelog topics) via Spark checkpoints.
  */
class CheckpointRecoverySpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("running sum restarted from checkpoint converges to batch over all data") {
    val srcDir = Files.createTempDirectory("ckrec-src").toString
    val ckDir = Files.createTempDirectory("ckrec-ck").toString
    def write(batch: Seq[(Long, java.sql.Timestamp, Long, Double)], part: Int): Unit =
      batch.toDF("event_id", "ts", "user_id", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)

    def startQuery() = spark.readStream.schema(schema).parquet(srcDir)
      .groupBy(col("user_id")).agg(sum(col("value")).as("total"))
      .writeStream.format("memory").queryName("ckrec").outputMode("complete")
      .option("checkpointLocation", ckDir)
      .start()

    // phase 1: two files, run, stop
    write(Seq((1L, ts(1), 1L, 10.0), (2L, ts(2), 2L, 5.0)), 0)
    write(Seq((3L, ts(3), 1L, 2.0)), 1)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val mid = spark.table("ckrec").as[(Long, Double)].collect().toMap
    assert(mid == Map(1L -> 12.0, 2L -> 5.0))

    // phase 2: more data arrives while "down"; restart from the SAME checkpoint
    write(Seq((4L, ts(4), 2L, 1.5), (5L, ts(5), 3L, 7.0)), 2)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val fin = spark.table("ckrec").as[(Long, Double)].collect().toMap
    assert(fin == Map(1L -> 12.0, 2L -> 6.5, 3L -> 7.0),
      "restarted query must resume prior state, not recount or drop it")
  }

  test("a checkpoint started under Spark's default file manager resumes under graft's") {
    import graft.engine.LocalCheckpointFiles
    import graft.streaming.Streaming
    import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    val srcDir = Files.createTempDirectory("ckmgr-src").toString
    val ckDir = Files.createTempDirectory("ckmgr-ck").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "value")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(ss: org.apache.spark.sql.SparkSession): Map[Long, Double] = {
      val q = ss.readStream.schema(schema).parquet(srcDir)
        .groupBy(col("user_id")).agg(sum(col("value")).as("total"))
        .writeStream.format("memory").queryName("ckmgr").outputMode("complete")
        .option("checkpointLocation", ckDir)
        .start()
      try q.processAllAvailable() finally q.stop()
      ss.table("ckmgr").as[(Long, Double)].collect().toMap
    }
    def managerOf(ss: org.apache.spark.sql.SparkSession) =
      CheckpointFileManager.create(new org.apache.hadoop.fs.Path(ckDir),
        ss.sessionState.newHadoopConf()).getClass

    // phase 1: Spark's default manager writes the logs and RocksDB state
    val sparkDefault = Streaming.sessionForStreaming(spark, 4)
    sparkDefault.conf.unset(LocalCheckpointFiles.ConfKey)
    assert(managerOf(sparkDefault) != classOf[LocalCheckpointFiles])
    write(Seq((1L, ts(1), 1L, 10.0), (2L, ts(2), 2L, 5.0)))
    assert(runOnce(sparkDefault) == Map(1L -> 10.0, 2L -> 5.0))

    // phase 2: new data, restarted from the SAME checkpoint under graft's
    write(Seq((3L, ts(3), 1L, 2.0), (4L, ts(4), 3L, 7.0)))
    val graftManager = Streaming.sessionForStreaming(spark, 4)
    assert(managerOf(graftManager) == classOf[LocalCheckpointFiles])
    val batch = spark.read.parquet(srcDir).groupBy("user_id").agg(sum("value"))
      .as[(Long, Double)].collect().toMap
    assert(runOnce(graftManager) == batch,
      "resumed query must carry phase-1 state and converge to the batch answer")
    assert(batch == Map(1L -> 12.0, 2L -> 5.0, 3L -> 7.0))
  }

  test("Snapshot.pin upgrades to reliable checkpoint when a dir is configured") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite session must start unconfigured")
    val df = spark.range(100).selectExpr("id", "id * 2 AS v")

    // unconfigured → localCheckpoint (executor-local blocks, no ckpt files)
    val local = graft.engine.Snapshot.pin(df)
    assert(local.count() == 100)
    assert(local.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))

    val dir = Files.createTempDirectory("snap-ck").toString
    sc.setCheckpointDir(dir)
    try {
      val rel = graft.engine.Snapshot.pin(df)
      assert(rel.count() == 100)
      assert(rel.selectExpr("sum(v)").as[Long].head() == 9900L)
      // reliable form must have written RDD checkpoint data under the dir
      val wrote = Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"expected reliable checkpoint files under $dir")

      // iterative-family smoke under the reliable path: pointer-doubling
      // components still converge when every round pins via checkpoint()
      import spark.implicits._
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
        .toDF("doc_a", "doc_b")
      val comp = graft.llm.Dedup.duplicateClusters(pairs)
        .as[(Long, Long)].collect().toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally {
      // session is JVM-shared across suites — restore the unconfigured
      // default so every other spec keeps exercising the local path
      // (no public unset API; the setter is private[spark])
      val unset = sc.getClass.getDeclaredMethods
        .find(_.getName == "checkpointDir_$eq").get
      unset.setAccessible(true)
      unset.invoke(sc, None)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("as-of processor restarted from checkpoint retains pending lefts, buffered rights, and timers") {
    import graft.streaming.Streaming
    import Streaming.{AsofEvent, AsofMatch}
    val srcDir = Files.createTempDirectory("ckasof-src").toString
    val ckDir = Files.createTempDirectory("ckasof-ck").toString
    def write(rows: Seq[AsofEvent[Long]]): Unit =
      rows.toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val evSchema = org.apache.spark.sql.Encoders.product[AsofEvent[Long]].schema
    val outDir = Files.createTempDirectory("ckasof-out").toString
    val outSchema = org.apache.spark.sql.Encoders.product[AsofMatch[Long]].schema
    // parquet sink: the memory sink refuses checkpoint RECOVERY (it cannot
    // reconstruct pre-restart batches); the file sink's commit log can
    def startQuery() = {
      val tagged = spark.readStream.schema(evSchema).parquet(srcDir)
        .withWatermark("ts", "30 seconds").as[AsofEvent[Long]]
      Streaming.asofEnrichStream(tagged, 5L * 1000000L)
        .toDF().writeStream.format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .option("checkpointLocation", ckDir)
        .start()
    }
    def sinkRows() = spark.read.schema(outSchema).parquet(outDir).as[AsofMatch[Long]]
    // phase 1: a right INSIDE the 5 s lookback plus its left — the 30 s
    // watermark delay keeps the left immature, so at shutdown the match
    // lives entirely in state: buffered right, pending left, armed timer
    write(Seq(AsofEvent(1L, ts(8), 1, isLeft = false),
      AsofEvent(1L, ts(10), 100, isLeft = true)))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(sinkRows().isEmpty,
      "the left must still be pending when the query stops")
    // phase 2: only a far-future watermark-advancer arrives; the restarted
    // query must emit the PRE-RESTART right as the match — proving rights
    // state, pending-left state, and the event-time timer all recovered
    write(Seq(AsofEvent(1L, ts(100), 3, isLeft = false)))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val out = sinkRows().collect().toSeq
    assert(out == Seq(AsofMatch(100L, 1L, Some(1L), 10000000L)),
      s"restarted as-of must resume its state, got $out")
  }
}
