package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for targeted parity checks while
    // iterating (absent => all queries; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Materialize the result at full parallelism BEFORE the single-file
      // dump: a bare coalesce(1) pulls the whole final stage — including
      // broadcast-join compute with no exchange above it — into ONE write
      // task (embed_neardup's 200k-row triangle join is ~10 core-hours of
      // dot products; coalesced it IS 10 wall-hours). persist(DISK_ONLY) +
      // count runs the query's natural plan at the session's width; the
      // coalesced writer then just drains cached blocks in partition order,
      // so the dumped rows and their order are identical to the old shape.
      try {
        val out = fn(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        try {
          out.count()
          out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        finally out.unpersist(blocking = true)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-query persisted subplans (dedup postings etc.) so the
      // 100+ sequential queries don't accumulate storage-memory pressure;
      // releaseAll is the paired per-persist release, clearCache the backstop.
      // blocking = true: same back-to-back sequential shape as Bench — a
      // queued (non-blocking) removal can leave the previous query's blocks
      // pinning the storage floor into this query's shuffle on scaled runs
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
