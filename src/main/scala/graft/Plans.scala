package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Topology introspection (SURVEY.md L1, `topology.describe()` parity):
  * formatted physical plans on the harness session, so Exchange counts and
  * join strategies match what Bench runs. Two output shapes:
  *
  *   - `sbt "runMain graft.Plans [sfDir] [outFile]"` dumps representative
  *     queries to PLANS.md — the evidence for the pushdown/broadcast/codegen
  *     claims in SCALE.md;
  *   - `sbt "runMain graft.Plans <sfDir> <outDir> <suffix> <q1> [q2...]"`
  *     writes one `<outDir>/<query>_<suffix>.txt` per named query, the
  *     optimization-round evidence trail (`plans/rNN/<query>_{before,after}.txt`).
  */
object Plans {
  private val representative = Seq(
    "basic_filter_extract", // pushdown + pruning + one codegen stage
    "ktable_latest",        // single-shuffle max_by reduction
    "revenue_by_segment",   // broadcast dims + partial aggregation
    "interval_join",        // key equi-join + time-range residual
    "minhash_lsh",          // one docsets cache: band groupBy + shuffle-hash verify
    "ann_lsh",              // fused SignPlanesFP buckets + candidate verify
    "ngram_jaccard",        // PPJoin prefix-filtered candidate generation
    "tfidf",                // corpus count inlined as broadcast 1-row agg
    "topk_orders_heap",     // bounded-k agg: partial top-k before the shuffle
    "embed_neardup",        // triangle block join, native DotProductFP
    "bloom_pruned_join",    // fixed-size bitmap broadcast + pre-filtered fact join
    "neardup_incremental",  // per-row SimhashFP kernel + band join vs static index
    "decontaminate",        // broadcast eval 8-grams; train side never shuffles
    "doc_chunks",           // pure generator: chunk explode + codegen slice/hash
    "lm_fluency",           // data-sized bigram model: 2 shuffle joins + per-doc agg
    "chunk_dedup",          // chunk hashes -> one map-side-combined groupBy
    "dedup_best_keeper",    // clusters + quality + max_by agg (no window sort)
    "approx_distinct_kmv",  // bounded k-buffer KMV Aggregator (round-3 form)
    "ann_pq",               // (r4) PQ: broadcast codebook/LUT joins, codes-only ADC, shortlist re-rank
    "heavy_hitters_cms",    // (r4) CMS sketch: bounded-cell broadcast + TakeOrderedAndProject candidates
    "conversion_funnel",    // (r4) left-semi interval join + day rollups
    "dq_audit",             // (r5) one scan per table via conditional sums + stack
    "range_join_bucketed",  // (r5) theta join -> bucket-expanded broadcast equi join
    "inverted_index",       // (r5) WindowGroupLimit-bounded posting sample
    "semdedup",             // (r5) broadcast codebook cells + in-cell dominator prune
    "pagerank_sim",         // (r5) per-round pr-edges join + map-side inflow sum
    "bm25_search",          // (r5) broadcast query terms + TakeOrderedAndProject
    "triangle_count",       // (r5) degree-oriented wedge join + closure equi-join
    "partition_pruned_scan", // (r5) PartitionFilters directory pruning + residual pushdown
    "sequence_pack",        // (r5) two-pass distributed prefix sum (engine.Prefix)
    "span_dedup",           // (r6) rolling-window postings + doc-partitioned islands merge
    "containment_dedup",    // (r6) one pair enumeration, both containment directions
    "knn_classify",         // (r6) bounded broadcast scoring + AQE label join + vote rank
    "spend_deciles",        // (r6) two-pass global rank + 1-row N fold-in (no global window)
    "kmv_intersect",        // (r8) stored-sketch pair algebra; type-domain-bounded join
    "ivm_agg",              // (r8) key-partitioned lag + union deltas + 5-domain final agg
    "weighted_median",      // (r8) value-domain collapse + two-pass grouped prefix sum
    "window_funnel",        // (r8) type-pruned stage cascade, no per-user sort
    "rfm_segments",         // (r9) 3x two-pass global rank + closed-form ntile fold-in
    "late_arrival_stats",   // (r9) two-pass prefix max + map-side-combined lateness agg
    "concurrency_histogram", // (r9) sweep prefixes + rank+1 self-join (no global lead)
    "compaction_bins",      // (r9) per-source keyed window + offset binning
    "q3_shipping_priority", // (r10) two broadcast fact joins + TakeOrdered top-10
    "q18_large_orders",     // (r10) agg-filter first, tiny survivor set broadcast twice
    "item_similarity_topk", // (r10) basket self-join + group-limit top-5 per part
    "ivm_join",             // (r10) delta-rule join maintenance; dims broadcast
    "k_anonymize",          // (r10) dictionary-sized class minima broadcast back
    "grid_dbscan",          // (r10) cell-table components; point side never shuffles
    "quantized_outliers",   // (r10) 1-row scale fold-in + zip_with distance, group-limit
    "q7_nation_volume",     // (r10) semi-reduced fact-fact join; dims broadcast
    "decayed_engagement",   // (r10) integer halving decay; 1-row cutoff fold-in
    "q8_market_share",      // (r11) deepest dim-chain: all chains broadcast, one fact-fact exchange
    "q21_waiting_supplier", // (r11) EXISTS+NOT EXISTS -> LeftSemi+LeftAnti on one key
    "q19_disjunctive",      // (r11) OR factored to hash-join key + residual join filter
    "q6_forecast_revenue",  // (r11) no-join scan: 3 pushed range predicates, 1-row agg
    "approx_quantiles_sample", // (r11) tiered bottom-k sample agg + 1-row-per-group envelope join
    "asof_join_native",     // (r11) custom AsofJoinExec: 1 exchange/side, merge pass, no pair blow-up
    "asof_sql_surface",     // (r12) same native exec reached from SQL text via the graft_asof_join TVF
    "asof_join_banded")     // (r6)  hot-key band split: widened key, replicated right, same exec

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()
    // between dumps: some queries register caches whose lifetime Bench
    // manages with releaseAll; mirror that so later dumps see clean state
    def plan(name: String): String =
      try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      finally {
        graft.engine.QueryCaches.releaseAll(spark, blocking = true)
        spark.catalog.clearCache()
      }
    if (args.length >= 4) {
      val Array(outDir, suffix) = args.slice(1, 3)
      Files.createDirectories(Paths.get(outDir))
      args.drop(3).foreach { name =>
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          s"# $name ($suffix) — sfDir=$sfDir cpus=${Harness.cpus}\n${plan(name)}")
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      }
    } else {
      val out = args.lift(1).getOrElse("PLANS.md")
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans (generated by `graft.Plans`)\n\n")
      sb.append(s"Source: `$sfDir`. Regenerate: `sbt \"runMain graft.Plans\"`.\n")
      representative.foreach { name =>
        sb.append(s"\n## $name\n\n```\n${plan(name)}```\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plans] wrote $out")
    }
    spark.stop()
  }
}
