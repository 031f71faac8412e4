package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.functions._

import graft.engine.LocalCheckpointFiles

/** The `CheckpointFileManager` contract Spark's streaming logs and state
  * stores rely on, for graft's fork-free local manager. */
class LocalCheckpointFilesSpec extends SparkSuite {

  private def fresh(): (java.nio.file.Path, LocalCheckpointFiles) = {
    val dir = Files.createTempDirectory("lcf")
    (dir, new LocalCheckpointFiles(new Path(dir.toUri), new Configuration()))
  }

  private def write(fm: LocalCheckpointFiles, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("createAtomic + close publishes the content; overwrite replaces it") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first", overwrite = false)
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "first")
    write(fm, p, "second", overwrite = true)
    val in = fm.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "second") finally in.close()
    assert(names(dir) == Set("0"), "no temp file may outlive close")
  }

  test("overwriteIfPossible = false on an existing file throws Hadoop's FileAlreadyExistsException") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "7")
    write(fm, p, "original", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("clobber".getBytes(UTF_8))
    // HDFSMetadataLog turns exactly this type into its concurrent-writer error
    intercept[FileAlreadyExistsException](out.close())
    assert(new String(Files.readAllBytes(dir.resolve("7")), UTF_8) == "original")
    assert(names(dir) == Set("7"))
  }

  test("cancel leaves neither the file nor a temp file") {
    val (dir, fm) = fresh()
    val out = fm.createAtomic(new Path(dir.toUri.toString, "3"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close()  // a close after cancel publishes nothing
    assert(names(dir).isEmpty)
  }

  test("list does not return in-flight temp files") {
    val (dir, fm) = fresh()
    val root = new Path(dir.toUri)
    write(fm, new Path(root, "1"), "done", overwrite = false)
    val open = fm.createAtomic(new Path(root, "2"), overwriteIfPossible = false)
    open.write("pending".getBytes(UTF_8))
    open.flush()
    assert(names(dir).size == 2, "the in-flight write exists on disk as a temp file")
    assert(fm.list(root).map(_.getPath.getName).toSet == Set("1"))
    open.close()
    assert(fm.list(root).map(_.getPath.getName).toSet == Set("1", "2"))
  }

  test("recursive delete; exists and mkdirs on relative and file: paths") {
    val (dir, fm) = fresh()
    val rel = new Path(Paths.get("").toAbsolutePath.relativize(dir).toString, "a/b")
    assert(!rel.isAbsolute && rel.toUri.getScheme == null)
    assert(!fm.exists(rel))
    fm.mkdirs(rel)
    assert(Files.isDirectory(dir.resolve("a/b")))
    val qualified = new Path(dir.resolve("a/b").toUri)
    assert(qualified.toUri.getScheme == "file" && fm.exists(qualified))
    fm.mkdirs(qualified)  // idempotent
    write(fm, new Path(qualified, "c/1.zip"), "z", overwrite = true)
    assert(fm.exists(new Path(rel, "c/1.zip")))
    fm.delete(new Path(dir.resolve("a").toUri))
    assert(!Files.exists(dir.resolve("a")) && !fm.exists(rel))
    fm.delete(new Path(dir.resolve("a").toUri))  // deleting a missing path is a no-op
    assert(fm.isLocal)
  }

  test("a RocksDB query writes a .crc sidecar beside every state zip") {
    import spark.implicits._
    val ss = graft.streaming.Streaming.sessionForStreaming(spark, 2)
    val src = Files.createTempDirectory("lcf-src").toString
    val ck = Files.createTempDirectory("lcf-ck")
    Seq((1L, 2.0), (2L, 3.0), (1L, 4.0)).toDF("user_id", "value")
      .write.mode("append").parquet(src)
    val q = ss.readStream.schema("user_id BIGINT, value DOUBLE").parquet(src)
      .groupBy(col("user_id")).agg(sum(col("value")).as("total"))
      .writeStream.format("memory").queryName("lcf_crc").outputMode("complete")
      .option("checkpointLocation", ck.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(ss.table("lcf_crc").as[(Long, Double)].collect().toMap == Map(1L -> 6.0, 2L -> 3.0))
    val files = Files.walk(ck.resolve("state")).iterator().asScala.map(_.toString).toSet
    val zips = files.filter(_.endsWith(".zip"))
    assert(zips.nonEmpty, s"no state zip under $ck/state")
    assert(zips.forall(z => files(z + ".crc")), s"zips without a .crc: ${zips.filterNot(z => files(z + ".crc"))}")
  }
}
