package graft

import org.apache.spark.sql.SparkSession

/** Scaling-experiment probe (evidence generator for SCALE.md): times
  * individual operator configurations on an arbitrary table directory —
  * e.g. sign-plane LSH at different (tables × width) splits of the same
  * 32-plane matrix, demonstrating that bucket WIDTH is the knob that holds
  * per-bucket occupancy (and so candidate-pair cost) constant as the corpus
  * grows. Usage:
  *   sbt "runMain graft.ScaleProbe /tmp/scale/x16 lsh=8x4 lsh=4x8"
  */
object ScaleProbe {

  /** Prune-generation selectivities of the SHIPPING prefix path at this
    * corpus scale and threshold: raw prefix-collision rows, rows surviving
    * the POSITIONAL bound, deduped pairs before/after, and the final
    * exact-pair count — the reproducible form of the SCALE.md
    * "length/positional bound" keep-rates. Consumes
    * [[graft.llm.Dedup.rankedPrefix]] / [[graft.llm.Dedup.positionalFeasible]]
    * directly (round-10 advice: the probe must measure the relation that
    * ships, so a change to the rank order or prefix arithmetic moves the
    * probe with it), so post-hapax-prune the reported raw stream is the
    * pipeline's actual post-prune stream.
    */
  private def prefixStat(spark: SparkSession, dir: String, num: Int, den: Int): Long = {
    import org.apache.spark.sql.functions.col
    val (posts, nPosts) = graft.engine.QueryCaches.registeredCounted(
      graft.llm.Dedup.shinglePostings(graft.engine.Tables.documents(spark, dir), 3))
    val prefix = graft.llm.Dedup.rankedPrefix(posts, nPosts, num, den)
      .transform(graft.engine.QueryCaches.registered)
    val coll = prefix.as("a").join(prefix.as("b"),
      col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
    val feasible = graft.llm.Dedup.positionalFeasible(num, den)
    val rawRows = coll.count()
    val posRows = coll.filter(feasible).count()
    val rawPairs = coll.select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val posPairs = coll.filter(feasible)
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val finalPairs = graft.llm.Dedup.ngramJaccardPairsPrefix(
      graft.engine.Tables.documents(spark, dir), 3, num, den).count()
    println(f"[probe]   prefixstat t=$num/$den rawRows=$rawRows posRows=$posRows " +
      f"(keep=${posRows.toDouble / math.max(1, rawRows)}%.3f) " +
      f"rawPairs=$rawPairs posPairs=$posPairs finalPairs=$finalPairs")
    posRows
  }

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = Harness.session()
    args.tail.foreach { spec =>
      val t0 = System.nanoTime()
      val rows = spec match {
        case s"lsh=${t}x${w}" =>
          graft.llm.Similarity.lshNearDupPairs(
            graft.engine.Tables.embeddings(spark, dir),
            graft.llm.Similarity.defaultPlanes, minCos = 0.45,
            nTables = t.toInt, width = w.toInt).count()
        case s"ivf=${k}p${np}" =>
          graft.llm.Similarity.ivfNearDupPairsMultiProbe(
            graft.engine.Tables.embeddings(spark, dir),
            k.toInt, np.toInt, minCos = 0.45).count()
        // √N-sized cell count (Similarity.ivfCells) — the scale path: cells
        // stay at √N occupancy instead of fattening linearly with corpus
        case s"ivfauto=p${np}" =>
          val emb = graft.engine.Tables.embeddings(spark, dir)
          val k = graft.llm.Similarity.ivfCells(emb.count())
          println(s"[probe]   ivfCells -> k=$k")
          graft.llm.Similarity.ivfNearDupPairsMultiProbe(
            emb, k, np.toInt, minCos = 0.45).count()
        // Recall-TARGETED nprobe (round-8 verdict #4): the selector
        // end-to-end — √N cells, ~512-vector held-out sample, smallest np
        // meeting t% sample recall capped at m. Prints the calibration
        // curve the selector saw and the np it picked, then times the
        // selected join. ivfselect=t85m4 = the production config.
        case s"ivfselect=t${t}m${m}" =>
          val emb = graft.engine.Tables.embeddings(spark, dir)
          val n = emb.count()
          val k = graft.llm.Similarity.ivfCells(n)
          val mod = graft.queries.LlmQueries.sampleModFor(n)
          graft.llm.Similarity.ivfProbeRecallCurve(emb, k, m.toInt, mod, minCos = 0.45)
            .collect().foreach(r => println(s"[probe]   curve np=${r.get(0)} " +
              s"recovered=${r.get(1)}/${r.get(2)} recall=${r.get(3)}"))
          graft.engine.QueryCaches.releaseAll(spark, blocking = true)
          val out = graft.llm.Similarity.ivfAutoProbePairs(
            emb, k, m.toInt, t.toInt, 100, mod, minCos = 0.45)
          val picked = out.select("nprobe").limit(1).collect()
            .headOption.map(_.getLong(0)).getOrElse(-1L)
          val cnt = out.count()
          println(s"[probe]   ivfselect k=$k sampleMod=$mod chose np=$picked pairs=$cnt")
          cnt
        // Cross-family recall-target selector (round-10 verdict #1): print
        // the full (setting -> recall, mass) curve the selector decides
        // from, the chosen setting, then time the selected join COLD
        // (calibration included) and WARM (memoized decision — the fixed-
        // setting price). recalltarget=t85 = the production 85% config.
        case s"recalltarget=t${t}" =>
          val emb = graft.engine.Tables.embeddings(spark, dir)
          val n = emb.count()
          // the PRODUCTION operating point, shared with LlmQueries — not
          // re-hardcoded, so a config tune moves probe and query together
          val k = graft.queries.LlmQueries.annTargetCells(n)
          val mod = graft.queries.LlmQueries.sampleModFor(n)
          val grid = graft.queries.LlmQueries.annTargetLshGrid
          val mp = graft.queries.LlmQueries.annTargetMaxProbe
          val mlp = graft.queries.LlmQueries.annTargetMaxLshProbe
          val budget = graft.queries.LlmQueries.massBudgetFor(n)
          graft.llm.Similarity.annSettingCurves(emb, k, mp, grid, mlp,
              graft.llm.Similarity.widePlanes, mod, minCos = 0.45)
            .collect().foreach { r =>
              val tot = r.getLong(6)
              val pct = if (tot == 0) 100.0 else r.getLong(5) * 100.0 / tot
              println(f"[probe]   curve route=${r.getString(0)} cells=${r.getInt(1)} " +
                f"L=${r.getInt(2)} w=${r.getInt(3)} p=${r.getInt(4)} " +
                f"recovered=${r.getLong(5)}/$tot (${pct}%.1f%%) mass=${r.getLong(7)}")
            }
          graft.engine.QueryCaches.releaseAll(spark, blocking = true)
          graft.llm.Similarity.clearCalibrationCache()
          def rt() = graft.llm.Similarity.annRecallTargetPairs(emb, k, mp, grid, mlp,
            graft.llm.Similarity.widePlanes, t.toInt, 100, mod, 0.45, budget)
          val tc = System.nanoTime()
          val cold = rt()
          val cnt = cold.count()
          val coldS = (System.nanoTime() - tc) / 1e9
          // decision columns AFTER the cold stamp: the plan ends in
          // distinct, so even limit(1) runs the whole pair join — inside
          // the timer it would bill a second full run to "cold" (the
          // ivfwarmauto np-extraction placement)
          val dec = cold.select("route", "cells", "tables", "width", "probe", "recall_bp")
            .limit(1).collect().headOption
          graft.engine.QueryCaches.releaseAll(spark, blocking = true)
          val tw = System.nanoTime()
          val cnt2 = rt().count()
          val warmS = (System.nanoTime() - tw) / 1e9
          dec.foreach(d => println(s"[probe]   chose route=${d.getString(0)} " +
            s"cells=${d.getLong(1)} L=${d.getLong(2)} w=${d.getLong(3)} " +
            s"probe=${d.getLong(4)} recall_bp=${d.getLong(5)}"))
          println(f"[probe]   recalltarget budget=$budget pairs=$cnt cold=${coldS}%.1f s " +
            f"warm=${warmS}%.1f s (pairs2=$cnt2)")
          cnt
        // Geometry-dependence of the cross-family selector: a DETERMINISTIC
        // clustered corpus (md5-derived centroids + per-vector jitter, never
        // touches disk — probe-only, ignores <dir>) where coarse-codebook
        // cells align with the clusters, the structure IVF exploits and
        // random hyperplanes only see through the pair angle. The rotated
        // scaled corpora made the selector pick LSH (SCALE.md); this case
        // measures the same frontier on cluster geometry and prints what
        // the mass ordering picks there.
        case s"recalltargetgeo=t${t}" =>
          val n = 32768; val dims = 64; val clusters = 128; val amp = 0.3f
          def unitish(tag: String): Array[Float] = Array.tabulate(dims)(d =>
            (graft.engine.PortableHash.md5LongScala(s"$tag-$d") % 2001 - 1000) / 1000.0f)
          val cents = Array.tabulate(clusters)(c => unitish(s"geocent$c"))
          import spark.implicits._
          val emb = (0 until n).map { i =>
            val c = i % clusters
            val j = unitish(s"geojit$i")
            (i.toLong, Array.tabulate(dims)(d => cents(c)(d) + amp * j(d)))
          }.toDF("vec_id", "embedding")
          val k = graft.queries.LlmQueries.annTargetCells(n)
          val mod = graft.queries.LlmQueries.sampleModFor(n)
          val grid = graft.queries.LlmQueries.annTargetLshGrid
          val mp = graft.queries.LlmQueries.annTargetMaxProbe
          val mlp = graft.queries.LlmQueries.annTargetMaxLshProbe
          val budget = graft.queries.LlmQueries.massBudgetFor(n)
          graft.llm.Similarity.annSettingCurves(emb, k, mp, grid, mlp,
              graft.llm.Similarity.widePlanes, mod, minCos = 0.45)
            .collect().foreach { r =>
              val tot = r.getLong(6)
              val pct = if (tot == 0) 100.0 else r.getLong(5) * 100.0 / tot
              println(f"[probe]   geocurve route=${r.getString(0)} cells=${r.getInt(1)} " +
                f"L=${r.getInt(2)} w=${r.getInt(3)} p=${r.getInt(4)} " +
                f"recovered=${r.getLong(5)}/$tot (${pct}%.1f%%) mass=${r.getLong(7)}")
            }
          graft.engine.QueryCaches.releaseAll(spark, blocking = true)
          graft.llm.Similarity.clearCalibrationCache()
          val out = graft.llm.Similarity.annRecallTargetPairs(emb, k, mp, grid, mlp,
            graft.llm.Similarity.widePlanes, t.toInt, 100, mod, 0.45, budget)
          val cnt = out.count()
          out.select("route", "cells", "tables", "width", "probe", "recall_bp")
            .limit(1).collect().headOption.foreach(d =>
              println(s"[probe]   geo chose route=${d.getString(0)} " +
                s"cells=${d.getLong(1)} L=${d.getLong(2)} w=${d.getLong(3)} " +
                s"probe=${d.getLong(4)} recall_bp=${d.getLong(5)}"))
          println(s"[probe]   recalltargetgeo n=$n clusters=$clusters k=$k " +
            s"budget=$budget pairs=$cnt")
          cnt
        // Warm-vs-fixed autoprobe (round-10 verdict #3): the memoized
        // selector's warm construction must cost within 10% of the fixed-
        // np operator at the np it chose.
        case s"ivfwarmauto=t${t}m${m}" =>
          val emb = graft.engine.Tables.embeddings(spark, dir)
          val n = emb.count()
          val k = graft.llm.Similarity.ivfCells(n)
          val mod = graft.queries.LlmQueries.sampleModFor(n)
          graft.llm.Similarity.clearCalibrationCache()
          def auto() = graft.llm.Similarity.ivfAutoProbePairs(
            emb, k, m.toInt, t.toInt, 100, mod, minCos = 0.45)
          val t1 = System.nanoTime()
          val coldCnt = auto().count()
          val coldS = (System.nanoTime() - t1) / 1e9
          val np = auto().select("nprobe").limit(1).collect()
            .headOption.map(_.getLong(0).toInt).getOrElse(1)
          graft.engine.QueryCaches.releaseAll(spark, blocking = true)
          val t2 = System.nanoTime()
          val warmCnt = auto().count()
          val warmS = (System.nanoTime() - t2) / 1e9
          graft.engine.QueryCaches.releaseAll(spark, blocking = true)
          val t3 = System.nanoTime()
          val fixedCnt = graft.llm.Similarity.ivfNearDupPairsMultiProbe(
            emb, k, np, minCos = 0.45).count()
          val fixedS = (System.nanoTime() - t3) / 1e9
          println(f"[probe]   autoprobe np=$np cold=${coldS}%.1f s warm=${warmS}%.1f s " +
            f"fixed(np=$np)=${fixedS}%.1f s warm/fixed=${warmS / fixedS}%.2f " +
            f"(pairs cold=$coldCnt warm=$warmCnt fixed=$fixedCnt)")
          warmCnt
        // Prune-generation selectivities of the prefix path at this corpus
        // scale: raw prefix-collision rows, rows surviving the POSITIONAL
        // bound, deduped pairs before/after, and the final exact-pair
        // count — the reproducible form of the SCALE.md "length/positional
        // bound" keep-rates (measured there via DuckDB at sf0.1: 122,289
        // raw rows -> 14,045 positional (11.5%); 43,543 length-ok pairs ->
        // 12,784 positional-ok).
        case "prefixstat" => prefixStat(spark, dir, 4, 5)
        case s"prefixstat=${nm}x${dn}" => prefixStat(spark, dir, nm.toInt, dn.toInt)
        // initial physical plan of the minhash verify chain / the clusters
        // edge relation — diagnosis surface: where do broadcasts land?
        case "dupcplan" =>
          import org.apache.spark.sql.functions.col
          val pairs = graft.llm.Dedup.minhashLshPairs(
            graft.engine.Tables.documents(spark, dir), n = 3, perms = 64,
            bands = 16, num = 4, den = 5).select("doc_a", "doc_b")
          val edges = pairs.select(col("doc_a").as("s"), col("doc_b").as("d"))
            .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("d")))
            .distinct()
          println("==== minhash pairs initial plan ====")
          println(pairs.queryExecution.executedPlan.toString.take(12000))
          println("==== edges initial plan ====")
          println(edges.queryExecution.executedPlan.toString.take(12000))
          0L
        // connected components over the MinHash pair graph (the dup_clusters
        // query) — the 64×/256× scale point for the cluster family
        case "dupc" =>
          graft.llm.Dedup.duplicateClusters(
            graft.llm.Dedup.minhashLshPairs(
              graft.engine.Tables.documents(spark, dir), n = 3, perms = 64,
              bands = 16, num = 4, den = 5).select("doc_a", "doc_b")).count()
        // multi-probe cost/recall curve at the judged 8×4 config: found
        // pairs are exact-verified, so recall = rows / rows("exact")
        case s"annprobe=${p}" =>
          graft.llm.Similarity.lshNearDupPairs(
            graft.engine.Tables.embeddings(spark, dir),
            graft.llm.Similarity.defaultPlanes, minCos = 0.45,
            probes = p.toInt).count()
        case "exact" =>
          graft.llm.Similarity.exactNearDupPairs(
            graft.engine.Tables.embeddings(spark, dir), minCos = 0.45).count()
        // order_chain_cte's two loop-join regimes (SCALE.md evidence for
        // the size gate): chain=hint forces the BROADCAST(r) loop body,
        // chain=nohint forces the above-the-gate co-partitioned shuffle
        // join — the 100 TB shape — independent of the row-count gate
        case s"chain=$regime" =>
          require(Seq("hint", "nohint", "noaqe").contains(regime),
            s"chain regime must be hint|nohint|noaqe, got: $regime")
          // rank+persist setup outside the walk timing (shared by all
          // regimes); the sub-line isolates the loop-join cost itself.
          // noaqe probes VERDICT r11 item 4's hypothesis: the UnionLoop
          // re-plans (and AQE re-optimizes) the loop body once per
          // iteration, so disabling adaptive execution on the walk's
          // session isolates the per-iteration planning overhead from the
          // join work itself.
          val ss =
            if (regime != "noaqe") spark
            else {
              val c = spark.newSession()
              c.conf.set("spark.sql.shuffle.partitions",
                spark.conf.get("spark.sql.shuffle.partitions"))
              c.conf.set("spark.sql.adaptive.enabled", "false")
              c
            }
          graft.queries.AnalyticsQueries.orderChainRanked(ss, dir, owner = spark)
          val t1 = System.nanoTime()
          val n = graft.queries.AnalyticsQueries
            .orderChainWalk(ss, broadcastProbe = regime == "hint").count()
          println(f"[probe]   walk-only ${(System.nanoTime() - t1) / 1e9}%.2f s")
          graft.engine.QueryCaches.releaseAll(spark, blocking = true); spark.catalog.clearCache()
          n
        // As-of hot-key regime (round-5 verdict #2): collapse pct% of users
        // onto ONE key on both sides, then run the native merge
        // (asofskew=nativeP<pct>) or the composed range-join + max_by form
        // (asofskew=composedP<pct>). AQE skew-join splitting does NOT apply
        // to the custom node, so this measures the documented "a hot key
        // costs time, not space" claim directly: the native hot key is one
        // task doing an O(m+n) merge with one buffered row; the composed
        // form materializes the per-left candidate pairs.
        case s"asofskew=${form}P${pct}" =>
          import org.apache.spark.sql.functions._
          val ev = graft.engine.Tables.events(spark, dir)
            .withColumn("user_id",
              when(pmod(xxhash64(col("user_id")), lit(100)) < pct.toInt, lit(0L))
                .otherwise(col("user_id")))
          val purchases = ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id"))
          val clicks = ev.filter(col("event_type") === "click")
            .select(col("user_id").as("c_user_id"), col("ts").as("c_ts"),
              col("event_id").as("click_id"))
          form match {
            case "native" =>
              graft.plans.AsofJoin.join(purchases, clicks,
                keys = Seq("user_id" -> "c_user_id"),
                leftTime = "ts", rightTime = "c_ts",
                rightTiebreak = Seq("click_id"),
                tolerance = Some("1 hour"), inner = true).count()
            case "banded" =>
              // the hot-key escape hatch: same semantics, hot key spread
              // across 4h time bands (1h lookback -> ~1.25x right replication)
              graft.plans.AsofJoin.joinTimeBanded(purchases, clicks,
                keys = Seq("user_id" -> "c_user_id"),
                leftTime = "ts", rightTime = "c_ts",
                rightTiebreak = Seq("click_id"),
                tolerance = "1 hour", inner = true).count()
            case "composed" =>
              purchases.join(clicks,
                  col("user_id") === col("c_user_id") &&
                    col("c_ts") <= col("ts") &&
                    col("c_ts") >= col("ts") - expr("INTERVAL 1 HOUR"))
                .groupBy(col("event_id"))
                .agg(max_by(col("click_id"), struct(col("c_ts"), col("click_id")))
                  .as("click_id"))
                .count()
            case "auto" =>
              // the router end-to-end at production thresholds: print the
              // sampled decision, then run the route it picks. The CACHED
              // probe shares joinRouted's memo entry (same left plan, same
              // params), so the decision print and the router together pay
              // ONE probe job cold and zero warm — the probe no longer
              // shows up in the warm auto time at all
              val dec = graft.plans.AsofJoin.hotKeyProbeCached(
                purchases, Seq("user_id"),
                hotShareThreshold = 0.5, minHotRows = 250000L)
              println(s"[probe]   $dec")
              graft.plans.AsofJoin.joinRouted(purchases, clicks,
                keys = Seq("user_id" -> "c_user_id"),
                leftTime = "ts", rightTime = "c_ts",
                rightTiebreak = Seq("click_id"),
                tolerance = "1 hour", inner = true).count()
            case other => sys.error(s"asofskew form must be native|banded|composed|auto, got $other")
          }
        // Sustained streaming throughput (round-5 verdict #6): the stateful
        // as-of enrichment pipeline (file stream -> transformWithState with
        // RocksDB state + event-time timers -> parquet sink) drained through
        // AvailableNow, reported as input rows / wall seconds. The parity
        // rows only pin correctness; this line is the number a streaming
        // compute regression would move. Wall time includes query start-up
        // and micro-batch scheduling — the honest end-to-end figure.
        case "asofstream" =>
          import org.apache.spark.sql.functions._
          val inputRows = graft.engine.Tables.events(spark, dir)
            .filter(col("event_type").isin("click", "purchase")).count()
          val t1 = System.nanoTime()
          val out = graft.queries.StreamParity.asofStreamParity(spark, dir).count()
          val secs = (System.nanoTime() - t1) / 1e9
          println(f"[probe]   streaming throughput ${inputRows / secs}%.0f rows/s " +
            f"($inputRows%d input rows in ${secs}%.2f s)")
          out
        // Second throughput shape: the STATELESS curation ingest (per-row
        // quality/language/repetition scoring + filters over the document
        // stream — one codegen stage, no state store), so the record has
        // both a stateful and a stateless streaming yardstick. docs/s here
        // is regex-bound per-row compute; a kernel regression moves it.
        case "curationstream" =>
          import org.apache.spark.sql.functions.col
          val inputRows = graft.engine.Tables.documents(spark, dir).count()
          val t1 = System.nanoTime()
          val out = graft.queries.StreamParity.curationStreamParity(spark, dir).count()
          val secs = (System.nanoTime() - t1) / 1e9
          println(f"[probe]   curation throughput ${inputRows / secs}%.0f docs/s " +
            f"($inputRows%d input docs in ${secs}%.2f s)")
          out
        case other => sys.error(s"unknown probe spec: $other")
      }
      println(f"[probe] $spec rows=$rows time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
