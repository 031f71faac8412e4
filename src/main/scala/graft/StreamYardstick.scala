package graft

import org.apache.spark.sql.functions.col

/** Round-close streaming-throughput yardstick (round-9 verdict #4): the
  * two streaming rates that BASELINE.md's prose quotes — the STATEFUL
  * as-of enrichment pipeline (file stream → transformWithState with
  * RocksDB state + event-time timers → parquet sink) and the STATELESS
  * curation ingest (one codegen scoring stage, no state store) — measured
  * as MARGINAL rates so the micro-batch scheduling floor can't hide a
  * per-row compute regression: each shape runs on a small floor corpus
  * and a large one in the same session, and the marginal rate is
  * (rows_large − rows_floor) / (secs_large − secs_floor). Bench's parity
  * rows pin streaming CORRECTNESS every round; without this harness the
  * rates lived in hand-run ScaleProbe sessions and a regression in
  * `streaming/Streaming.scala`'s per-row compute would hide behind the
  * ~1.4 s micro-batch floor of the sf0.1 parity rows.
  *
  * Estimator (round 11, replacing round 10's best-of-N max): the harness
  * runs each shape N times (default 3) and computes the record marginal
  * from PER-WALL MINIMA — min floor wall paired with min full wall, each
  * the least-jittered estimate of its own wall. Round 10 took the MAX of
  * per-run ratios on the claim that jitter "only ever inflates the
  * denominator"; that premise is false (round-10 advice): jitter landing
  * on the FLOOR run inflates sec_floor, SHRINKS the denominator
  * (sec_full − sec_floor), and inflates the ratio, so max-of-N is
  * upward-biased. Min-per-wall is not: scheduling jitter is a
  * non-negative additive contamination of each wall, so the minimum over
  * runs is the best available estimate of each wall's true value, and
  * the marginal of two minima inherits that. The structural fix travels
  * with it: the canonical stateful pair moved from 1×→16× (denominator
  * 2–4 s, a 1.8× observed spread) to 1×→64× (denominator ~10 s), so
  * per-run marginals are reportably stable on their own.
  *
  * Usage: sbt "runMain graft.StreamYardstick <floorDir> <fullDir> [runs]"
  * (canonical gate: floor=/root/testdata/sf0.1, full=/tmp/scale/x64,
  * runs=3). Writes target/stream_latest.json; round-close copies it to
  * scripts/stream_prev.json, which the next round diffs. Tolerance: at
  * EQUAL bracketed canaries, a min-pair marginal rate below 0.8× the
  * previous record is a regression to investigate; per-run walls and
  * canaries travel in the record so an episode can be attributed, not
  * guessed. Warm-ups precede run 1, so JIT/codegen/state-store setup land
  * outside every timed wall.
  */
object StreamYardstick {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StreamYardstick <floorDir> <fullDir> [runs]")
    val floorDir = args(0)
    val fullDir = args(1)
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = Harness.cpus
    val canary = graft.engine.HostCanary.once(1)
    val canaryMt = graft.engine.HostCanary.once(cpus)
    System.err.println(
      f"[yard] host canary pre: ${canary}%.2f s (1 thread), ${canaryMt}%.2f s ($cpus%s threads)")
    val spark = Harness.session()

    // (input rows, wall secs, output rows) for one drained AvailableNow run
    def stateful(dir: String): (Long, Double, Long) = {
      val in = graft.engine.Tables.events(spark, dir)
        .filter(col("event_type").isin("click", "purchase")).count()
      val t0 = System.nanoTime()
      val out = graft.queries.StreamParity.asofStreamParity(spark, dir).count()
      (in, (System.nanoTime() - t0) / 1e9, out)
    }
    def stateless(dir: String): (Long, Double, Long) = {
      val in = graft.engine.Tables.documents(spark, dir).count()
      val t0 = System.nanoTime()
      val out = graft.queries.StreamParity.curationStreamParity(spark, dir).count()
      (in, (System.nanoTime() - t0) / 1e9, out)
    }

    // Untimed warm-up of each shape at the floor corpus: the FIRST
    // streaming query of a shape in a session pays one-off costs (state
    // store init, codegen, sink setup) that land entirely in whichever
    // run goes first — measured 6.65 s floor vs 5.42 s at 16× when the
    // cold floor went first, i.e. a NEGATIVE marginal. Warm floor and
    // warm full are what the subtraction assumes.
    stateful(floorDir); stateless(floorDir)

    val sfFl = Array.fill(runs)(null: (Long, Double, Long))
    val sfFu = Array.fill(runs)(null: (Long, Double, Long))
    val slFl = Array.fill(runs)(null: (Long, Double, Long))
    val slFu = Array.fill(runs)(null: (Long, Double, Long))
    for (r <- 0 until runs) {
      sfFl(r) = stateful(floorDir)
      sfFu(r) = stateful(fullDir)
      slFl(r) = stateless(floorDir)
      slFu(r) = stateless(fullDir)
      System.err.println(f"[yard] run ${r + 1}/$runs: stateful floor ${sfFl(r)._2}%.2f s / " +
        f"full ${sfFu(r)._2}%.2f s, stateless floor ${slFl(r)._2}%.2f s / full ${slFu(r)._2}%.2f s")
    }

    // min-per-wall record marginal + per-run marginals (spread diagnostics)
    def marginalOf(flRows: Long, flSec: Double, fuRows: Long, fuSec: Double): Double = {
      val dRows = fuRows - flRows; val dSecs = fuSec - flSec
      if (dRows <= 0 || dSecs <= 0) -1.0 else dRows / dSecs
    }
    def minWall(a: Array[(Long, Double, Long)]): Double = a.map(_._2).min
    val statefulRps = marginalOf(sfFl(0)._1, minWall(sfFl), sfFu(0)._1, minWall(sfFu))
    val statelessDps = marginalOf(slFl(0)._1, minWall(slFl), slFu(0)._1, minWall(slFu))
    val sfPerRun = (0 until runs).map(r => marginalOf(sfFl(r)._1, sfFl(r)._2, sfFu(r)._1, sfFu(r)._2))
    val slPerRun = (0 until runs).map(r => marginalOf(slFl(r)._1, slFl(r)._2, slFu(r)._1, slFu(r)._2))
    def spread(xs: Seq[Double]): Double =
      if (xs.exists(_ <= 0) || xs.isEmpty) -1.0 else (xs.max - xs.min) / xs.max
    System.err.println(f"[yard] stateful  min-pair marginal $statefulRps%.0f rows/s " +
      f"(per-run: ${sfPerRun.map(r => f"$r%.0f").mkString("/")}, spread ${spread(sfPerRun) * 100}%.1f%%)")
    System.err.println(f"[yard] stateless min-pair marginal $statelessDps%.0f docs/s " +
      f"(per-run: ${slPerRun.map(r => f"$r%.0f").mkString("/")}, spread ${spread(slPerRun) * 100}%.1f%%)")

    val canaryPost = graft.engine.HostCanary.once(1)
    val canaryMtPost = graft.engine.HostCanary.once(cpus)
    System.err.println(
      f"[yard] host canary post: ${canaryPost}%.2f s (1 thread), ${canaryMtPost}%.2f s ($cpus%s threads)")
    def walls(a: Array[(Long, Double, Long)]): String =
      a.map(t => f"${t._2}%.2f").mkString("[", ",", "]")
    val json =
      f"""{"metric":"stream_marginal","stateful_rows_per_sec":$statefulRps%.0f,"stateless_docs_per_sec":$statelessDps%.0f,""" +
      f""""estimator":"min-per-wall over $runs runs","runs":$runs,""" +
      f""""stateful_floor":{"rows":${sfFl(0)._1},"sec":${minWall(sfFl)}%.2f,"walls":${walls(sfFl)}},""" +
      f""""stateful_full":{"rows":${sfFu(0)._1},"sec":${minWall(sfFu)}%.2f,"walls":${walls(sfFu)}},""" +
      f""""stateless_floor":{"docs":${slFl(0)._1},"sec":${minWall(slFl)}%.2f,"walls":${walls(slFl)}},""" +
      f""""stateless_full":{"docs":${slFu(0)._1},"sec":${minWall(slFu)}%.2f,"walls":${walls(slFu)}},""" +
      f""""stateful_per_run":${sfPerRun.map(r => f"$r%.0f").mkString("[", ",", "]")},""" +
      f""""stateless_per_run":${slPerRun.map(r => f"$r%.0f").mkString("[", ",", "]")},""" +
      f""""stateful_spread":${spread(sfPerRun)}%.3f,"stateless_spread":${spread(slPerRun)}%.3f,""" +
      f""""canary_sec":$canary%.2f,"canary_mt_sec":$canaryMt%.2f,"canary_post_sec":$canaryPost%.2f,"canary_mt_post_sec":$canaryMtPost%.2f,""" +
      f""""canary_threads":$cpus%s,"floor_dir":"$floorDir","full_dir":"$fullDir"}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/stream_latest.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
