package graft

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout. Queries are materialized through the noop sink
  * so every output column is computed (a bare .count() lets Catalyst prune
  * the projection and under-reports).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    // Host-speed canary: a fixed 2e9-step-per-thread xorshift loop. Bench
    // totals are only comparable across rounds modulo host speed — rounds
    // 7/8 both measured a BROAD ~1.2x inflation (median per-query ratio
    // 1.20 over 250 queries, untouched micro-batch-floor rows included) on
    // an "idle" host, i.e. the host itself drifted, not the plans. Round 8
    // additionally proved one pre-run single-thread sample CANNOT attribute
    // such an episode (it ran equal while the suite ran 1.19x): it measures
    // clock speed once, before Spark starts, and is blind to (a) all-core
    // contention — the thing that actually moves a local[32] suite — and
    // (b) load arriving mid-run. So the canary is now BRACKETED (before and
    // after the suite) and run in both 1-thread and all-threads variants;
    // all four samples land in the JSON. A drift episode then shows up as
    // post > pre or mt-per-thread >> single, in the same record it inflated.
    def canaryOnce(threads: Int): Double = graft.engine.HostCanary.once(threads)
    val canary = canaryOnce(1)
    val canaryMt = canaryOnce(cpus)
    System.err.println(
      f"[bench] host canary pre: ${canary}%.2f s (1 thread), ${canaryMt}%.2f s (${cpus}%s threads, 2e9 steps each)")
    val spark = Harness.session()
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val failed = try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        false
      } catch { case e: Throwable =>
        // root-cause class + top frames, not just the message: a wrapped
        // SparkException surfaces as an opaque "Boxed Exception" otherwise
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        System.err.println(s"[bench]   root: $root")
        root.getStackTrace.take(6).foreach(f => System.err.println(s"[bench]     at $f"))
        true
      }
      val t = (System.nanoTime() - t0) / 1e9
      // Drop per-query persisted subplans (dedup postings etc.): plans are
      // rebuilt per call, so blocks from hundreds of runs would accumulate.
      // releaseAll is the library's own paired release (the long-lived-
      // session route); clearCache stays as the harness backstop. BLOCKING,
      // and outside the timed window: a queued-but-not-executed removal let
      // the warm pass's cached postings pin the storage floor into the
      // measured pass's big shuffle (observed: 64×/8 GiB flagship green
      // warm, OOM measured on 512 MB page requests).
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
      spark.catalog.clearCache()
      if (failed) return -1.0
      // stderr progress per run: a hung query is identifiable from the log
      // tail (the JSON contract on stdout is unaffected)
      System.err.println(f"[bench] $name%s ${t}%.2fs")
      t
    }
    // Warm every query once (unmeasured): Janino codegen compilation and
    // JIT dominate cold runs at this data scale (measured: postings stage
    // 3.5 s cold vs 0.07 s warm) and make cold numbers ~2x noisier. The
    // measured pass reports steady-state per-query times.
    // optional comma-separated filter for targeted profiling/scaling runs
    // (absent => all queries; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Streaming-execution queries get no warm pass and no re-measurement:
    // their time is dominated by deterministic micro-batch scheduling (tens
    // of seconds each at sf0.1), codegen is a rounding error against it,
    // and doubling/quadrupling 20 real streaming runs is most of the wall
    // clock of a naive all-queries x 4-passes protocol.
    def isStreaming(n: String) = n.endsWith("_stream_parity")
    val warm = names.filterNot(isStreaming).map(n => n -> runOnce(n)).toMap
    // Previous-round per-query record (committed snapshot of that round's
    // target/bench_latest.json): the like-for-like yardstick. Protocol
    // hardening from the round-4 verdict: a single pass that exceeds 1.5x
    // its PREVIOUS-ROUND record re-measures (min-of-3) exactly like one
    // that disagrees with its own warm pass — host-load inflation then
    // can't masquerade as a plan regression in the round record.
    val prev: Map[String, Double] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_PREV", "scripts/bench_prev.json")
      try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(path))
        // the yardstick is only meaningful at the SAME scale factor: a
        // sf0.001 smoke run compared against the sf0.1 record would emit a
        // phantom 10x "speedup" and a scaling run would mass-trigger
        // min-of-3 re-measurement
        if (root.get("sf").asText() != sfDir) {
          System.err.println(s"[bench] prev record is ${root.get("sf").asText()}, " +
            s"this run is $sfDir; ratio omitted")
          Map.empty[String, Double]
        } else {
          import scala.jdk.CollectionConverters._
          root.get("queries").fields().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).filter(_._2 >= 0).toMap
        }
      } catch { case _: Throwable =>
        System.err.println("[bench] no previous-round record; ratio omitted")
        Map.empty[String, Double]
      }
    }
    // Adaptive passes. Single-pass records have twice carried multi-second
    // phantoms (r1 agg_count_reduce 3.8s->0.4s, r2 cube_revenue
    // 9.8s->1.15s isolated) from GC/compile hiccups landing on one unlucky
    // query — but a flat median-of-3 over 200 queries at sf0.1 costs ~3x
    // the bench wall clock, most of it on queries whose warm and measured
    // times already agree. So: one measured pass; only a measurement that
    // DISAGREES with its own warm pass (the phantom shape — warm passes
    // include codegen so a clean measured pass is never much slower) or
    // with its previous-round record pays two more passes for a min-of-3.
    def measure(name: String): (Double, String) = {
      val t1 = runOnce(name)
      if (t1 < 0) return (-1.0, "single")
      val suspect = !isStreaming(name) &&
        (t1 > warm(name) * 1.5 + 0.3 ||
          prev.get(name).exists(p => t1 > p * 1.5 + 0.3))
      if (!suspect) (t1, "single")
      else {
        // min, not median: timing noise here is strictly additive (GC /
        // compile hiccups, storage-memory churn from neighbors), and a
        // measured min-of-3 has never under-reported — whereas a median
        // happily reports a degrading sequence (observed: warm 0.97 s,
        // passes 2.5/6.0/6.4 s under post-clearCache GC pressure)
        val ts = Seq(t1, runOnce(name), runOnce(name))
        (if (ts.exists(_ < 0)) -1.0 else ts.min, "min3")
      }
    }
    val results = names.map(n => n -> measure(n))
    // closing bracket of the canary: same loops, after the suite — a load
    // episode that arrived mid-run is visible as post >> pre
    val canaryPost = canaryOnce(1)
    val canaryMtPost = canaryOnce(cpus)
    System.err.println(
      f"[bench] host canary post: ${canaryPost}%.2f s (1 thread), ${canaryMtPost}%.2f s (${cpus}%s threads)")
    val canaryFields =
      f""""canary_sec":$canary%.2f,"canary_mt_sec":$canaryMt%.2f,"canary_post_sec":$canaryPost%.2f,"canary_mt_post_sec":$canaryMtPost%.2f,"canary_threads":${cpus}%s"""
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // estimator provenance per query: "single" (one measured pass) vs
    // "min3" (re-measured; optimistically biased) — so round-over-round
    // and BASELINE.md comparisons know which protocol produced each number
    val protos = results.map { case (k, (_, p)) => "\"" + k + "\":\"" + p + "\"" }
      .mkString("{", ",", "}")
    // failed queries report -1 per query but must not subtract from the total
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // like-for-like round-over-round comparison, machine-readable (round-4
    // verdict #6): the subset of queries present in BOTH this run and the
    // previous-round record, summed on each side — new queries and host
    // noise then can't be conflated in the grand total
    val common = results.filter { case (n, (t, _)) => t >= 0 && prev.contains(n) }
    val prevSubset = common.map { case (n, _) => prev(n) }.sum
    val curSubset = common.map(_._2._1).sum
    // prevSubset > 0 guard: an all-zero previous record would interpolate
    // Infinity/NaN into the ratio and break the JSON line's parseability
    val ratioFields =
      if (common.isEmpty || prevSubset <= 0) ""
      else f""","prev_subset_total":$prevSubset%.1f,"cur_subset_total":$curSubset%.1f,"prev_subset_ratio":${curSubset / prevSubset}%.3f,"prev_subset_n":${common.size}"""
    val json =
      f"""{"metric":"total","value":$total,"unit":"sec",$canaryFields,"queries":$qs,"protocol":$protos$ratioFields,"sf":"$sfDir"}"""
    // stable full record on disk: the driver tail-captures stdout and has
    // truncated the (now ~10 KB) JSON line mid-object before (r3); the
    // repo-path copy plus a SHORT headline line keep the round record whole
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_latest.json"), json + "\n")
    // the short headline first, then the FULL record (with the per-query
    // map) as the LAST stdout line: the round-11 comparison had n_common=0
    // because the parser took the final line and the final line carried no
    // "queries" map. A tail window cuts lines from the FRONT of the capture,
    // so the last line is the one guaranteed to survive intact — it must be
    // the complete record. The short line stays (additions-only) as a
    // cheap-to-parse summary and a pointer to the on-disk copy.
    println(f"""{"metric":"total","value":$total%.1f,"unit":"sec","n_queries":${results.count(_._2._1 >= 0)},$canaryFields$ratioFields,"detail":"target/bench_latest.json"}""")
    println(json)
    spark.stop()
  }
}
