package graft

import graft.llm.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Unit checks of the LLM-pipeline operators on adversarially tiny data
  * (the oracle covers the fixtures; these cover constructed edge cases).
  */
class LlmOpsSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta iota"),  // near-dup of 1
    (3L, "one two three four five six seven eight"),
    (4L, "Alpha  beta   GAMMA delta epsilon zeta eta theta"), // exact dup of 1 after normalization
    (5L, "short doc")                                        // fewer tokens than shingle width
  ).toDF("doc_id", "text")

  test("exact dedup collapses normalization-equal documents") {
    val out = Dedup.exact(docs).collect()
    val grouped = out.find(_.getLong(2) == 2) // n_copies == 2
    assert(grouped.nonEmpty && grouped.get.getLong(1) == 1L, "keeper is the lowest doc_id")
    assert(out.length == 4, "5 docs -> 4 distinct normalized texts")
  }

  test("ngram jaccard finds the near-dup pair and nothing else") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, num = 1, den = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "doc 3 shares no shingle")
  }

  test("prefix-filtered jaccard join is output-equal to the naive join") {
    val docsFx = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "n_common").as[(Long, Long, Long)].collect().toSet
    assert(canon(Dedup.ngramJaccardPairsPrefix(docsFx, 3, 4, 5)) ==
      canon(Dedup.ngramJaccardPairs(docsFx, 3, 4, 5)))
    // and at a lower threshold where prefixes are longer
    assert(canon(Dedup.ngramJaccardPairsPrefix(docsFx, 3, 1, 2)) ==
      canon(Dedup.ngramJaccardPairs(docsFx, 3, 1, 2)))
  }

  test("index-prefix bound is exact on size-asymmetric qualifying pairs") {
    // The index-prefix (short-prefix) bound on the SMALLER doc's
    // n − ⌈2t/(1+t)·n⌉ + 1 prefix is implied row-wise by the positional
    // bound the prefix path applies (Dedup.positionalFeasible). Exercise pairs whose
    // sizes differ (the asymmetric case the fixture corpus under-covers):
    // a long doc quoting a short one near the Jaccard edge, plus chains of
    // overlapping windows over one token stream so qualifying overlaps
    // occur at many (size_a, size_b) combinations. The prefix path must
    // stay output-equal to the naive inverted-index join.
    val toks = (0 until 60).map(i => s"w$i")
    val windows = for (i <- 0 until 12) yield
      (100L + i, toks.slice(i * 4 % 30, i * 4 % 30 + 24 + i).mkString(" "))
    val asym = Seq(
      (1L, toks.take(20).mkString(" ")),            // small
      (2L, toks.take(24).mkString(" ")),            // superset, J = 18/22
      (3L, toks.slice(2, 30).mkString(" ")),        // overlaps both
      (4L, toks.take(20).mkString(" "))             // exact dup of 1
    ) ++ windows
    val df = asym.toDF("doc_id", "text")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_a", "doc_b", "n_common", "size_a", "size_b")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    // both regimes: the fixture-default path AND the wide path with the
    // sizing estimator forced on (h-partitioned posts fill + per-doc
    // table + exchange-free df-attach), each against the naive join
    val prevMin = Dedup.PrefixDocTableMinPosts
    val prevSample = Dedup.PrefixSampleMinDocs
    try {
      for (wide <- Seq(false, true); (num, den) <- Seq((7, 10), (4, 5), (1, 2))) {
        Dedup.PrefixDocTableMinPosts = if (wide) 1L else prevMin
        Dedup.PrefixSampleMinDocs = if (wide) 1L else prevSample
        assert(canon(Dedup.ngramJaccardPairsPrefix(df, 3, num, den)) ==
          canon(Dedup.ngramJaccardPairs(df, 3, num, den)),
          s"prefix path diverged from naive at t=$num/$den (wide=$wide)")
        graft.engine.QueryCaches.releaseAll(spark, blocking = true)
      }
    } finally {
      Dedup.PrefixDocTableMinPosts = prevMin
      Dedup.PrefixSampleMinDocs = prevSample
    }
  }

  test("length bound drops exactly the pairs whose sizes forbid the threshold") {
    // J(A,B) <= min/max: at t = 4/5 a (40, 51)-sized pair is infeasible
    // (5*40 < 4*51) and a (40, 50) pair is exactly feasible (5*40 = 4*50).
    val cands = Seq((1L, 2L, "x"), (1L, 3L, "y"), (2L, 3L, "z"))
      .toDF("doc_a", "doc_b", "tag")
    val sizes = Seq((1L, 40L), (2L, 50L), (3L, 51L)).toDF("doc_id", "n_sh")
    val kept = Dedup.lengthCompatible(cands, sizes, num = 4, den = 5, parts = 4)
    assert(kept.columns.toSeq == Seq("doc_a", "doc_b", "tag"),
      "prune must preserve the candidate frame's columns and order")
    val pairs = kept.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // (1,2): ratio 1.25 exactly -> kept; (1,3): 40 vs 51 -> dropped;
    // (2,3): 50 vs 51 -> kept
    assert(pairs == Set((1L, 2L), (2L, 3L)), s"got $pairs")
    // the broadcast regime is map-side: no exchange in the pruned subplan
    // beyond whatever the candidate frame itself already had
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"length filter must not add a shuffle:\n$plan")
    // the piggyback regime (forced by a doc count past the ceiling) must
    // agree exactly, and must plan its prune joins shuffle-hash, never
    // sort-merge
    val wide = Dedup.lengthCompatible(cands, sizes, num = 4, den = 5, parts = 4,
      nDocsKnown = Some(graft.engine.Sizing.SizesBroadcastMaxDocs + 1))
    assert(wide.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet == pairs,
      "piggyback regime must be output-identical to the broadcast regime")
    val wplan = wide.queryExecution.executedPlan.toString
    assert(!wplan.contains("SortMergeJoin"),
      s"piggyback prune joins must not sort the candidate stream:\n$wplan")
  }

  test("containment flags a short doc quoted inside a long one; jaccard does not") {
    val quoted = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "intro words first alpha beta gamma delta epsilon zeta eta theta iota kappa and a very different long tail after it"),
      (12L, "unrelated content entirely different vocabulary here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(quoted, n = 3, num = 9, den = 10)
      .select("inner_id", "outer_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 11L)), s"expected only 10-in-11, got $pairs")
    // symmetric jaccard at the same strictness misses the inclusion
    val j = Dedup.ngramJaccardPairs(quoted, n = 3, num = 9, den = 10).count()
    assert(j == 0, "jaccard 0.9 should not fire on an asymmetric inclusion")
  }

  test("duplicated spans merge overlapping windows into one maximal span") {
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val spanDocs = Seq(
      (21L, shared + " " + (1 to 10).map(i => s"aa$i").mkString(" ")),
      (22L, shared + " " + (1 to 10).map(i => s"bb$i").mkString(" ")),
      (23L, (1 to 30).map(i => s"cc$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(spanDocs, w = 16)
      .select("doc_id", "n_dup_spans", "dup_tokens")
      .as[(Long, Long, Long)].collect()
      .map { case (d, ns, nt) => d -> (ns, nt) }.toMap
    // 20 shared tokens -> duplicated 16-windows at starts 0..4, merging to
    // ONE span covering [0, 20); doc 23 has no duplicated window at all
    assert(out == Map(21L -> (1L, 20L), 22L -> (1L, 20L)), s"got $out")
  }

  test("knn classify takes the majority label with deterministic tie-breaks") {
    def vec(xs: Float*): Array[Float] = xs.toArray
    val emb = Seq(
      (100L, vec(1f, 0f), 9),       // query (pred below selects id 100)
      (1L, vec(0.9f, 0.1f), 1), (2L, vec(0.8f, 0.2f), 1), (3L, vec(0.7f, 0.3f), 1),
      (4L, vec(0.1f, 0.9f), 2), (5L, vec(0f, 1f), 2),
      (6L, vec(-1f, 0f), 3)         // far away, outside k=5
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(emb, col("vec_id") === 100, k = 5)
      .select("vec_id", "pred_label", "votes").as[(Long, Int, Long)].collect()
    assert(out.toSeq == Seq((100L, 1, 3L)), s"3 label-1 votes beat 2 label-2: ${out.toSeq}")
    // 2-2 vote tie: best_sim decides (label 1's nearest neighbor is closer)
    val tied = Seq(
      (100L, vec(1f, 0f), 9),
      (1L, vec(0.95f, 0.05f), 1), (2L, vec(0.6f, 0.4f), 1),
      (4L, vec(0.7f, 0.3f), 2), (5L, vec(0.65f, 0.35f), 2)
    ).toDF("vec_id", "embedding", "label")
    val t = Similarity.knnClassify(tied, col("vec_id") === 100, k = 4)
      .select("pred_label").as[Int].collect()
    assert(t.toSeq == Seq(1), "tie at 2-2 votes resolves to the closer best_sim")
  }

  test("ngram novelty credits first occurrence by doc order, zero for pure repeats") {
    val out = graft.queries.LlmQueries.ngramNoveltyOf(docs)
      .select("doc_id", "n_novel", "novelty_bp")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc 1 (8 tokens -> 6 shingles) is first: everything novel
    assert(out(1L) == ((6L, 10000L)))
    // doc 2 shares 5 of its 6 shingles with doc 1 -> one novel shingle
    assert(out(2L) == ((1L, 1666L)))
    // doc 5 has < 3 tokens -> no shingles -> excluded
    assert(!out.contains(5L))
  }

  test("dup_stats reconciles per-source counts and bounds the rate") {
    val df = graft.queries.LlmQueries.dupStats(spark, sf1).cache()
    val totalDocs = spark.read.parquet(s"$sf1/documents.parquet").count()
    assert(df.agg(sum("n_docs")).as[Long].head() == totalDocs,
      "per-source doc counts must tile the corpus")
    assert(df.filter(col("dup_rate_bp") < 0 || col("dup_rate_bp") > 10000).count() == 0)
    assert(df.filter(col("n_distinct") > col("n_docs")).count() == 0)
    df.unpersist()
  }

  test("encoding-quality regexes count replacement/control/non-ASCII correctly") {
    val rows = Seq(
      (1L, "clean ascii text"),
      (2L, "bad � transcode � here"),
      (3L, "ctrl\u0001chars\u0007but\ttab\nnewline ok"),
      (4L, "café résumé")
    ).toDF("doc_id", "text")
    import graft.llm.TextAnalysis
    val out = rows.select(col("doc_id"),
      TextAnalysis.regexCount(col("text"), "�").as("n_repl"),
      TextAnalysis.regexCount(col("text"), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("n_ctrl"),
      TextAnalysis.regexCount(col("text"), "[^\\x00-\\x7F]").as("n_non_ascii"))
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((0, 0, 0)))
    assert(out(2L) == ((2, 0, 2)), "U+FFFD counts as both replacement and non-ASCII")
    assert(out(3L) == ((0, 2, 0)), "tab/newline are NOT control noise; \\x01 and \\x07 are")
    assert(out(4L) == ((0, 0, 3)), "three accented characters")
  }

  test("minhash LSH agrees with exact jaccard at high threshold") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, 3, 64, 16, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("simhash hamming distance is small for near-dups, large across topics") {
    val sigs = Dedup.simhashSignatures(docs).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(1L, 2L) < ham(1L, 3L), "near-dup pair closer than unrelated pair")
    assert(ham(1L, 4L) <= ham(1L, 3L))
  }

  test("short documents fall back to whole-text fingerprint without error") {
    val out = graft.llm.TextAnalysis.shingles(col("text"), 5)
    val sizes = docs.select(size(out)).as[Int].collect()
    assert(sizes.last == 0, "2-token doc has no 5-gram shingles")
  }

  test("brute-force top-k returns k neighbors ranked by cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, col("vec_id") === 0, k = 2)
      .select("n_id", "rank").as[(Long, Int)].collect().toSet
    assert(out == Set((1L, 1), (2L, 2)), "nearest is the aligned vector, then orthogonal")
  }

  test("LSH buckets are consistent with exact near-dup verification") {
    val vecs = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.45f)),                       // same direction -> same bucket
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupPairs(vecs, Similarity.defaultPlanes, 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), "parallel vectors bucket together and verify; orthogonal doesn't")
  }

  test("bag jaccard weights repetition that set jaccard is blind to") {
    // B is A's text repeated twice. A: shingles {abc,bcd,cde} once each
    // (w=3). B: 8 occurrences (abc,bcd,cde twice + boundary dea,eab once).
    // SET jaccard = 3/5 = 0.6; BAG jaccard = 3/(3+8-3) = 0.375 — at the
    // same 0.5 threshold the set measure keeps the pair, the bag measure
    // correctly sees the doubled doc as non-duplicate.
    val rep = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e a b c d e")).toDF("doc_id", "text")
    val set = Dedup.ngramJaccardPairs(rep, n = 3, num = 1, den = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(set == Set((1L, 2L)), "set jaccard 0.6 passes 0.5")
    assert(Dedup.bagJaccardPairs(rep, n = 3, num = 1, den = 2).collect().isEmpty,
      "bag jaccard 0.375 < 0.5: repetition suppressed the pair")
    val bagLow = Dedup.bagJaccardPairs(rep, n = 3, num = 1, den = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(bagLow.toSeq == Seq((1L, 2L, 3L, 3L, 8L)),
      s"w_common=3, weights 3 and 8; got ${bagLow.mkString(",")}")
    // weighted minhash verifies candidates with the same exact bag measure,
    // so its output can only be a subset of the exact pairs (recall depends
    // on banding luck at J=0.375; precision is exact by construction)
    val viaLsh = Dedup.minhashWeightedPairs(rep, n = 3, perms = 64, bands = 16,
      num = 1, den = 3).as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(viaLsh.subsetOf(bagLow.toSet), "no unverified pair survives")
    // identical docs: bag jaccard exactly 1 regardless of banding luck
    val twin = Seq((1L, "p q r s t"), (2L, "p q r s t")).toDF("doc_id", "text")
    val ones = Dedup.minhashWeightedPairs(twin, 3, 64, 16, 1, 1)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(ones.toSeq == Seq((1L, 2L, 3L, 3L, 3L)))
  }

  test("no near-dup pair straddles the leakage-free split") {
    val dir = "/root/testdata/sf0.001"
    val split = graft.queries.LlmQueries.splitNoLeakage(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val pairs = Dedup.minhashLshPairs(
        spark.read.parquet(s"$dir/documents.parquet"), 3, 64, 16, 4, 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"near-dups $a/$b straddle train/val")
    }
    // and both sides of the split are populated
    assert(split.values.toSet == Set("train", "val"))
  }

  test("doc chunking covers every token with the declared overlap") {
    // 33 tokens, chunk 32 / stride 24 -> 2 chunks: [1..32], [25..33]
    val text = (1 to 33).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text, "en", "s", 0L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.queries.LlmQueries.docChunks(df.sparkSession, "/root/testdata/sf0.001")
    // formula check on the constructed doc via the same operators
    import org.apache.spark.sql.functions._
    val got = df.select(col("doc_id"), graft.llm.TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0L), greatest(lit(1L), expr("(n_tok - 8 + 23) div 24")) - 1)),
        col("toks"))
      .select(col("pos"), size(slice(col("toks"), col("col") * 24 + 1, lit(32))).as("len"))
      .as[(Int, Int)].collect().toMap
    assert(got == Map(0 -> 32, 1 -> 9), s"chunks [32, 9] expected, got $got")
    // fixture query sanity: every doc yields >= 1 chunk, idx 0 always present
    assert(rows.filter(col("chunk_idx") === 0).count() == 500)
  }

  test("duplicate clusters collapse chains that pairwise dropping would split") {
    // a~b, b~c, but NOT a~c: one cluster labeled by the minimal id; the
    // disjoint pair (7,9) stays its own cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // a longer chain exercises multiple propagation rounds
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(chain).as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(1L), "whole chain is one component")
  }

  test("LSH/IVF recall vs exact baselines is quantified and floored (SCALE.md table)") {
    // ground truth = the exact operators on the sf0.001 fixtures; every
    // approximate operator verifies candidates with the exact measure, so
    // precision is 1.0 by construction and recall = |approx| / |exact|.
    def pairSet(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(a, b).as[(Long, Long)].collect().toSet
    def recall(approx: Set[(Long, Long)], exact: Set[(Long, Long)]): Double = {
      assert((approx -- exact).isEmpty, "verified candidates must be a subset of exact (precision 1.0)")
      if (exact.isEmpty) 1.0 else approx.intersect(exact).size.toDouble / exact.size
    }
    // both fixture dirs hold 500 docs/vectors with different content — two
    // independent ground-truth samples
    val measured = Seq("sf0.001", "sf0.01").map { sf =>
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val exactCos = pairSet(Similarity.exactNearDupPairs(emb, 0.45), "a_id", "b_id")
      val rLsh = recall(pairSet(
        Similarity.lshNearDupPairs(emb, Similarity.defaultPlanes, 0.45), "a_id", "b_id"), exactCos)
      val rLsh2 = recall(pairSet(
        Similarity.lshNearDupPairs(emb, Similarity.defaultPlanes, 0.45, probes = 2),
        "a_id", "b_id"), exactCos)
      assert(rLsh2 >= rLsh, "multi-probe LSH recall must dominate single-probe")
      // n-way: each extra probe can only widen the candidate set (probe q
      // flips the q-th lowest-margin bit; buckets are a superset per row)
      val rLsh3 = recall(pairSet(
        Similarity.lshNearDupPairs(emb, Similarity.defaultPlanes, 0.45, probes = 3),
        "a_id", "b_id"), exactCos)
      val rLsh5 = recall(pairSet(
        Similarity.lshNearDupPairs(emb, Similarity.defaultPlanes, 0.45, probes = 5),
        "a_id", "b_id"), exactCos)
      assert(rLsh3 >= rLsh2 && rLsh5 >= rLsh3,
        s"recall must be monotone in probes: $rLsh2 / $rLsh3 / $rLsh5")
      val rIvf = recall(pairSet(Similarity.ivfNearDupPairs(emb, 16, 0.45), "a_id", "b_id"), exactCos)
      val rIvf2 = recall(pairSet(
        Similarity.ivfNearDupPairsMultiProbe(emb, 16, 2, 0.45), "a_id", "b_id"), exactCos)
      val rKmeans = recall(pairSet(Similarity.kmeansIvfPairs(emb, 16, 1, 0.45), "a_id", "b_id"), exactCos)
      val docsFx = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val exactJac = pairSet(Dedup.ngramJaccardPairs(docsFx, 3, 4, 5), "doc_a", "doc_b")
      val rMinhash = recall(pairSet(
        Dedup.minhashLshPairs(docsFx, 3, 64, 16, 4, 5), "doc_a", "doc_b"), exactJac)
      info(f"$sf: cos@0.45 truth=${exactCos.size} ann_lsh=$rLsh%.3f lsh_probe2=$rLsh2%.3f " +
        f"ivf=$rIvf%.3f ivf_nprobe2=$rIvf2%.3f kmeans_ivf=$rKmeans%.3f | " +
        f"jac@0.8 truth=${exactJac.size} minhash_lsh=$rMinhash%.3f")
      // multi-probe must never lose a pair the single-probe assignment found
      assert(rIvf2 >= rIvf, "nprobe=2 recall must dominate nprobe=1")
      (rLsh, rIvf, rKmeans, rMinhash, rIvf2)
    }
    // floors: min measured across fixtures minus safety margin — the table
    // lives in SCALE.md §Recall; a regression below a floor means a sketch
    // or banding change broke the recall/cost trade-off.
    assert(measured.map(_._1).min >= 0.65, "ann_lsh recall below floor")
    assert(measured.map(_._2).min >= 0.10, "ivf(nprobe=1) recall below floor")
    assert(measured.map(_._3).min >= 0.20, "kmeans-ivf recall below floor")
    assert(measured.map(_._4).min >= 0.95, "minhash_lsh recall below floor")
    assert(measured.map(_._5).min >= 0.40, "ivf(nprobe=2) recall below floor")
  }

  test("auto-probe selector picks the smallest nprobe meeting the sample recall target") {
    import spark.implicits._
    // both fixtures: the selection must equal what the diagnostic curve
    // implies, and the output must equal the fixed-nprobe operator run at
    // the chosen np (same pairs, same sims — the selector only chooses).
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val k = 16; val maxP = 4; val mod = 7L
      val curve = Similarity.ivfProbeRecallCurve(emb, k, maxP, mod, 0.45)
        .as[(Int, Long, Long, Option[Double])].collect().sortBy(_._1)
      assert(curve.map(_._1).toSeq == (1 to maxP), "one curve row per depth")
      assert(curve.map(_._2).toSeq == curve.map(_._2).sorted.toSeq,
        "recovered count monotone in probe depth")
      val total = curve.head._3
      def expectNp(num: Int, den: Int): Int = {
        val need = (total * num + den - 1) / den
        if (need == 0) 1
        else curve.find(_._2 >= need).map(_._1).getOrElse(maxP)
      }
      for ((num, den) <- Seq((85, 100), (0, 100), (100, 100), (1, 2))) {
        val out = Similarity.ivfAutoProbePairs(emb, k, maxP, num, den, mod, 0.45)
        val nps = out.select("nprobe").distinct().as[Long].collect()
        assert(nps.length <= 1, s"one selected nprobe, got ${nps.toSeq}")
        val got = nps.headOption.map(_.toInt).getOrElse {
          // empty output ⇒ re-derive the choice from the curve for the check
          expectNp(num, den)
        }
        assert(got == expectNp(num, den),
          s"$sf target=$num/$den: selector chose $got, curve says ${expectNp(num, den)} " +
            s"(total=$total, curve=${curve.map(c => c._1 -> c._2).toSeq})")
        val fixed = Similarity.ivfNearDupPairsMultiProbe(emb, k, got, 0.45)
          .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect().toSet
        val auto = out.select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect().toSet
        assert(auto == fixed, s"$sf target=$num/$den: auto(np=$got) != fixed(np=$got)")
      }
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    }
  }

  test("PQ-ADC top-k is well-formed, partition-independent, and recalls the exact L2 top-k") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf1/embeddings.parquet")
    val qPred = pmod(col("vec_id"), lit(50)) === 0
    def rows(e: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(e, qPred, m = 8, dsub = 8, k = 32, topK = 5)
        .select("q_id", "n_id", "rank", "d2")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
    val got = rows(emb)
    // every query has exactly ranks 1..5, and exact distance is monotone in rank
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"ranks for query $q")
      assert(rs.map(_._4).toSeq == rs.map(_._4).sorted.toSeq, s"d2 monotone for $q")
    }
    // the physical layout of the input must not change a single row
    assert(rows(emb.repartition(7)).toSeq == got.toSeq, "partition-independence")
    // recall@5 vs the exact squared-L2 top-5 (the metric PQ approximates).
    // The fixture vectors are ISOTROPIC (no cluster structure — the
    // distance-concentration worst case for any ANN); the floor reflects
    // that, and precision of the re-rank stage is exact by construction.
    val l2 = expr("aggregate(zip_with(q_emb, n_emb, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, (acc, x) -> acc + x)")
    val qs = emb.filter(qPred).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val exact = broadcast(qs)
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), l2.as("d"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("d").asc, col("n_id").asc)))
      .filter(col("rn") <= 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = got.map(r => (r._1, r._2)).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    info(f"PQ recall@5 vs exact L2 (isotropic fixtures): $recall%.3f (truth=${exact.size})")
    assert(recall >= 0.7, s"PQ recall@5 below floor: $recall")
  }

  test("distributed BPE merges equal a sequential reference implementation") {
    import spark.implicits._
    val fx = spark.read.parquet(s"$sf1/documents.parquet")
    val got = graft.llm.Bpe.learnMerges(fx, rounds = 4)
    // classic sequential BPE (Sennrich alg. 1) over the same word-freq table
    val wf = fx.select(explode(graft.llm.TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").count().as[(String, Long)].collect()
    var words: Seq[(Vector[String], Long)] =
      wf.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val ref = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (r <- 1 to 4) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
      ref += ((r.toLong, a, b, c))
      words = words.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
          else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }
    }
    assert(got == ref.toSeq, s"distributed merges $got != reference $ref")
  }

  test("BPE encoding equals the sequential reference per word type") {
    import spark.implicits._
    val fx = spark.read.parquet(s"$sf1/documents.parquet")
    val (merges, syms) = graft.llm.Bpe.learnAndEncode(fx, rounds = 3)
    val gotLen = syms.groupBy("word").count().as[(String, Long)].collect().toMap
    // sequential re-encode of every word type under the learned merges
    val wf = fx.select(explode(graft.llm.TextAnalysis.tokens(col("text"))).as("w"))
      .distinct().as[String].collect()
    val refLen = wf.map { w =>
      var s: Vector[String] = w.map(_.toString).toVector
      for ((_, a, b, _) <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
          else { out += s(i); i += 1 }
        }
        s = out.result()
      }
      w -> s.length.toLong
    }.toMap
    assert(gotLen == refLen, "per-word BPE token counts must match the sequential encoder")
    // fertility sanity on the query: words <= bpe tokens <= chars
    val enc = graft.queries.LlmQueries.bpeEncode(spark, sf1)
    assert(enc.filter(col("n_bpe_tokens") < col("n_words")).isEmpty)
  }

  test("token budget sample: every source stops exactly at its budget boundary") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf1/documents.parquet")
    val nSources = docs.select("source").distinct().count()
    val out = graft.queries.LlmQueries.tokenBudgetSample(spark, sf1)
      .as[(String, Long, Long)].collect()
    assert(out.length == nSources, "every source contributes (budget > 0)")
    val maxDoc = docs
      .select(max(size(graft.llm.TextAnalysis.tokens(col("text"))))).as[Int].head().toLong
    out.foreach { case (src, nDocs, toks) =>
      assert(nDocs >= 1)
      // kept tokens can overshoot only by the last STARTED doc's length
      assert(toks < 600 + maxDoc, s"$src overshoots: $toks")
      // the boundary doc is included, so a source with enough material
      // reaches the budget; sf fixtures have ~1300 tokens/source
      assert(toks >= 600, s"$src undershoots its available budget: $toks")
    }
  }

  test("ann_recall_eval: LSH is a subset of exact (precision 10000), recall floored") {
    val Array(r) = graft.queries.LlmQueries.annRecallEval(spark, sf1).collect()
    val (nExact, nLsh, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nExact > 0)
    assert(nHit == nLsh, "verify stage must admit no false positives")
    assert(r.getLong(4) == 10000L, "precision_bp pins at 10000")
    assert(r.getLong(3) >= 5000L, s"recall_bp ${r.getLong(3)} below the 0.5 floor")
  }

  test("lang_confusion rows are proper distributions; the classifier beats chance") {
    import spark.implicits._
    val out = graft.queries.LlmQueries.langConfusion(spark, sf1).cache()
    val rows = out.groupBy("labeled_lang")
      .agg(sum("share_bp").as("s"), count(lit(1)).as("k"))
      .as[(String, Long, Long)].collect()
    rows.foreach { case (l, s, k) =>
      assert(s <= 10000 && s > 10000 - k, s"row $l: share sum $s over $k cells")
    }
    // diagonal mass (correct predictions) must beat the 1/k chance share
    val diag = out.filter(col("labeled_lang") === col("pred_lang"))
      .agg(sum("n")).as[Long].head()
    val total = out.agg(sum("n")).as[Long].head()
    assert(diag * rows.length > total,
      s"accuracy $diag/$total must beat chance 1/${rows.length}")
    out.unpersist()
  }

  test("contrastive pairs: positives are in-doc neighbors, negatives cross-doc") {
    val out = graft.queries.LlmQueries.contrastivePairs(spark, sf1).cache()
    assert(out.count() > 0)
    assert(out.filter(col("neg_doc") === col("doc_id")).isEmpty,
      "a negative must come from ANOTHER document")
    // every positive IS the anchor doc's next chunk, verified independently
    val next = graft.queries.LlmQueries.docChunks(spark, sf1)
      .select(col("doc_id"), (col("chunk_idx") - 1).as("chunk_idx"),
        col("chunk_hash").as("expect_pos"))
    val mismatched = out.join(next, Seq("doc_id", "chunk_idx"))
      .filter(col("pos_hash") =!= col("expect_pos"))
    assert(mismatched.isEmpty, "pos_hash must equal the next chunk's hash")
    out.unpersist()
  }

  test("multimodal frame sampling and resize are deterministic and partition-independent") {
    val media = Multimodal.withBlob(docs)
    val f1 = Multimodal.frameSample(spark, media, chunkBytes = 16, everyN = 2)
      .collect().sortBy(f => (f.doc_id, f.frame_idx))
    val f2 = Multimodal.frameSample(spark, media.repartition(4), chunkBytes = 16, everyN = 2)
      .collect().sortBy(f => (f.doc_id, f.frame_idx))
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(_.frame_idx % 2 == 0), "only every 2nd frame sampled")
    val r = Multimodal.resize(spark, media, outBytes = 64).collect()
    assert(r.forall(_.blob.length == 64))
    val r2 = Multimodal.resize(spark, media.repartition(3), outBytes = 64)
      .collect().sortBy(_.doc_id).map(_.blob.toSeq)
    assert(r.sortBy(_.doc_id).map(_.blob.toSeq).toSeq == r2.toSeq)
  }

  test("multimodal decode reads real PNG/JPEG/BMP headers, batched per partition") {
    val media = Multimodal.withImageBlob(spark, docs)
    val a = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.doc_id)
    val b = Multimodal.decodeFeatures(spark, media.repartition(3)).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq, "features independent of partitioning")
    assert(a.forall(f => f.width >= 1 && f.width <= 16 && f.height >= 1 && f.height <= 16))
    assert(a.forall(f => Set("png", "jpeg", "bmp").contains(f.format)))
    // the fixture exercises more than one codec, so this isn't a PNG-only test
    assert(a.map(_.format).distinct.length >= 2, "expected multiple image formats")
    // encoded payloads are real container files, not raw text bytes
    assert(a.forall(f => f.n_bytes > 0))
  }

  test("multimodal audio decode parses real WAV headers, batched per partition") {
    val media = Multimodal.withAudioBlob(spark, docs)
    val a = Multimodal.decodeAudioFeatures(spark, media).collect().sortBy(_.doc_id)
    val b = Multimodal.decodeAudioFeatures(spark, media.repartition(3))
      .collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq, "features independent of partitioning")
    assert(a.forall(f => Set(8000L, 16000L, 44100L).contains(f.sample_rate)))
    assert(a.forall(f => f.channels == 1 || f.channels == 2))
    assert(a.forall(f => f.n_frames >= 1 && f.n_frames <= 256))
    // the decoded container size is exactly header + PCM data — proves the
    // payload is a real RIFF file the parser measured, not echoed params
    assert(a.forall(f => f.n_bytes == 44 + f.n_frames * f.channels * 2))
    assert(a.map(_.sample_rate).distinct.length >= 2, "fixture exercises multiple rates")
  }

  test("lm fluency ranks self-repetitive text above unique text, partition-independent") {
    val corpus = Seq(
      (1L, "the cat sat on the mat and the cat sat again"),
      (2L, "the cat sat on the mat and the cat slept"),
      (3L, "zq wv xk jn pb md lf gr ts hw"), // every bigram unique in corpus
      (4L, "the cat sat on the mat")
    ).toDF("doc_id", "text")
    val out = graft.queries.LlmQueries.lmFluencyOf(corpus)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r._3).toMap
    // docs built from corpus-frequent bigrams score above the all-unique doc
    assert(byId(4L) > byId(3L), s"frequent-bigram doc must outrank unique: $byId")
    // integer fixed-point: exact partition-independence, not just closeness
    val out2 = graft.queries.LlmQueries.lmFluencyOf(corpus.repartition(3))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == out2.toSeq)
  }

  test("PMI collocations: top-100 is lift-ordered, supported, and duplicate-free") {
    val out = graft.queries.LlmQueries.pmiCollocations(spark, sf1).collect()
    assert(out.nonEmpty && out.length <= 100)
    val lifts = out.map(_.getLong(5))
    assert(lifts.forall(_ > 0))
    assert(lifts.sameElements(lifts.sorted(Ordering[Long].reverse)), "ordered by lift desc")
    assert(out.forall(_.getLong(2) >= 3), "min bigram support")
    val pairs = out.map(r => (r.getString(0), r.getString(1)))
    assert(pairs.distinct.length == pairs.length, "one row per bigram")
    // lift is exact integer arithmetic: c12 <= min(c1, c2) always
    assert(out.forall(r => r.getLong(2) <= math.min(r.getLong(3), r.getLong(4))))
  }

  test("source overlap: containment bounds hold and hashing loses nothing at fixture scale") {
    val out = graft.queries.LlmQueries.sourceOverlap(spark, sf1).cache()
    assert(out.count() > 0)
    assert(out.filter(col("containment_bp") < 0 || col("containment_bp") > 10000).isEmpty)
    assert(out.filter(col("n_common") > least(col("n_a"), col("n_b"))).isEmpty)
    assert(out.filter(col("src_a") >= col("src_b")).isEmpty, "canonical pair order")
    // recompute one pair's intersection on RAW shingle strings (no hash):
    // the 60-bit portable hash must be collision-free on the fixture
    import graft.llm.TextAnalysis
    val ss = graft.engine.Tables.documents(spark, sf1)
      .select(col("source"), explode(TextAnalysis.shingles(col("text"), 3)).as("s"))
      .distinct().cache()
    val Array(pair) = out.orderBy(col("src_a"), col("src_b")).limit(1).collect()
    val (sa, sb) = (pair.getString(0), pair.getString(1))
    val raw = ss.filter(col("source") === sa).select(col("s"))
      .intersect(ss.filter(col("source") === sb).select(col("s"))).count()
    assert(raw == pair.getLong(4), s"hashed intersection $sa/$sb == raw string intersection")
    out.unpersist(); ss.unpersist()
  }

  test("winnow_fingerprint: coverage gaps <= w and every selection is a true window min") {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val fps = graft.queries.LlmQueries.winnowFingerprint(spark, sf1).cache()
    assert(fps.count() > 0)
    // winnowing guarantee: consecutive selected positions per doc differ by <= w
    val gapW = Window.partitionBy(col("doc_id")).orderBy(col("sel_pos"))
    val gaps = fps.withColumn("gap", col("sel_pos") - lag(col("sel_pos"), 1).over(gapW))
    assert(gaps.filter(col("gap") > w).count() == 0,
      "a gap wider than the window would let a w-window elect nothing")
    // every (sel_pos, fp) is the true minimum of SOME window containing it:
    // its hash must equal the doc's minimum over [sel_pos-w+1, sel_pos+w-1]
    // restricted to... simplest sound check: fp == hash at sel_pos
    val pos = graft.engine.Tables.documents(spark, sf1)
      .select(col("doc_id"),
        posexplode(graft.llm.TextAnalysis.shinglesAll(col("text"), 5)))
      .toDF("doc_id", "pos0", "s")
      .select(col("doc_id"), (col("pos0") + 1).as("sel_pos"),
        graft.engine.PortableHash.md5Long(col("s")).as("h"))
    assert(fps.join(pos, Seq("doc_id", "sel_pos")).filter(col("fp") =!= col("h"))
      .count() == 0, "selected hash must be the hash at the selected position")
    fps.unpersist()
  }

  test("lsh_bucket_profile: histogram masses reconcile with docs and candidates") {
    import spark.implicits._
    val prof = graft.queries.LlmQueries.lshBucketProfile(spark, sf1).cache()
    val nDocs = graft.llm.Dedup.minhashSignatures(
      graft.engine.Tables.documents(spark, sf1), 3, 64).count()
    // every band partitions the signature-bearing docs into its buckets
    val perBand = prof.groupBy("band")
      .agg(sum(col("sz") * col("n_buckets")).as("mass"))
      .as[(Long, Long)].collect()
    assert(perBand.length == 16)
    perBand.foreach { case (b, mass) => assert(mass == nDocs, s"band $b") }
    // the histogram's pair budget bounds the distinct candidate set from above
    val candPairs = prof.agg(sum("cand_pairs")).as[Long].collect().head
    val verified = graft.queries.LlmQueries.minhashLsh(spark, sf1).count()
    assert(candPairs >= verified,
      "per-band pair budget must cover every surviving verified pair")
    prof.unpersist()
  }

  test("multimodal_phash: decoded-raster aHash equals the pixel-formula hash") {
    import spark.implicits._
    val out = graft.queries.LlmQueries.multimodalPhash(spark, sf1)
      .as[(Long, String, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, ahash, nset) =>
      assert(ahash.length == 64 && ahash.forall(c => c == '0' || c == '1'))
      assert(nset == ahash.count(_ == '1'))
      // a constant image would hash to all-zero; the gradient never does
      assert(nset > 0 && nset < 64)
    }
    // formula replay for every doc, bypassing the codec entirely
    val docs = graft.engine.Tables.documents(spark, sf1)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = docs.map { case (id, text) =>
      val hex = md.digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val blocks = new Array[Long](64)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = ((h + x * 31 + y * 17) & 0xffffff).toInt
        blocks((y / 2) * 8 + (x / 2)) += ((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255)
      }
      val t = blocks.sum
      id -> blocks.map(b => if (b * 64 > t) '1' else '0').mkString
    }.toMap
    out.foreach { case (id, ahash, _) => assert(ahash == expected(id), s"doc $id") }
  }

  test("audio_fingerprint: decoded-PCM fingerprint equals the byte-formula replay") {
    import spark.implicits._
    val out = graft.queries.LlmQueries.audioFingerprint(spark, sf1)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // formula replay for every doc, bypassing the WAV container entirely
    val docs = graft.engine.Tables.documents(spark, sf1)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = docs.map { case (id, text) =>
      val hex = md.digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val ch = (1 + (h / 7) % 2).toInt
      val frames = (1 + (h / 11) % 256).toInt
      val nSamples = frames * ch
      val nWin = nSamples / 16
      val en = Array.tabulate(nWin) { j =>
        (j * 16 until (j + 1) * 16).map { k =>
          val lo = ((h + 62L * k) % 256).toInt
          val hb = ((h + 62L * k + 31) % 256).toInt
          val hi = if (hb >= 128) hb - 256 else hb
          math.abs((hi << 8) | lo).toLong
        }.sum
      }
      var fp = 0L
      for (j <- 1 until math.min(33, nWin)) if (en(j) > en(j - 1)) fp |= 1L << (j - 1)
      id -> ((nWin.toLong, fp))
    }.toMap
    out.foreach { case (id, nw, fp) =>
      assert((nw, fp) == expected(id), s"doc $id: ($nw, $fp) != ${expected(id)}")
    }
  }

  test("quantile_normalize: uniform grid per dimension, rank-monotone") {
    import spark.implicits._
    val q = graft.queries.LlmQueries.quantileNormalize(spark, sf1).cache()
    val n = graft.engine.Tables.embeddings(spark, sf1).count()
    assert(q.count() == n * 64, "one cell per (vector, dimension)")
    // every dimension spans the full grid ends
    val ends = q.groupBy(col("dim"))
      .agg(min(col("q_bp")).as("lo"), max(col("q_bp")).as("hi"))
    assert(ends.filter(col("lo") =!= 0 || col("hi") =!= 10000).count() == 0)
    // monotone: within a dim, larger x never gets a smaller q_bp
    val e = graft.engine.Tables.embeddings(spark, sf1)
      .select(col("vec_id"), posexplode(col("embedding"))).toDF("vec_id", "dim", "x")
    val joined = q.join(e, Seq("vec_id", "dim"))
    val byDim = joined.as("a").join(joined.as("b"),
      col("a.dim") === col("b.dim") && col("a.x") < col("b.x") &&
        col("a.q_bp") > col("b.q_bp"))
    assert(byDim.limit(1).count() == 0, "quantile map must be monotone in x")
    q.unpersist()
  }

  test("bpe_fertility: at least one symbol per word, languages partition docs") {
    val f = graft.queries.LlmQueries.bpeFertility(spark, sf1).cache()
    assert(f.filter(col("fertility_bp") < 10000).count() == 0,
      "BPE can only split words: tokens >= words")
    val nDocs = graft.engine.Tables.documents(spark, sf1).count()
    assert(f.agg(sum(col("n_docs"))).head.getLong(0) == nDocs)
    f.unpersist()
  }

  test("phash_neardup: banded join equals brute-force hamming (pigeonhole exact)") {
    import spark.implicits._
    val out = graft.queries.LlmQueries.phashNeardup(spark, sf1)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val hs = graft.queries.LlmQueries.multimodalPhash(spark, sf1)
      .select("doc_id", "ahash").as[(Long, String)].collect().sortBy(_._1)
    val brute = (for {
      i <- hs.indices; j <- (i + 1) until hs.length
      d = hs(i)._2.zip(hs(j)._2).count { case (a, b) => a != b }
      if d <= 7
    } yield (hs(i)._1, hs(j)._1) -> d.toLong).toMap
    assert(out == brute,
      s"banded=${out.size} brute=${brute.size}: 8 bands over 64 bits must be exact for d<=7")
  }

  test("vocab_divergence: exact TV numerator matches a brute-force recompute") {
    import spark.implicits._
    val out = graft.queries.LlmQueries.vocabDivergence(spark, sf1).cache()
    // bounds: 0 <= tv_bp <= 10000, and source totals partition the corpus
    assert(out.filter(col("tv_bp") < 0 || col("tv_bp") > 10000).isEmpty)
    val Array((sumNs, nTot)) =
      out.agg(sum("n_s"), max("n_tot")).as[(Long, Long)].collect()
    assert(sumNs == nTot, "per-source token totals partition the corpus")
    // brute-force on the driver (sf0.001 is small): token counts per source
    // and globally, TV numerator over the FULL vocab including absent terms
    val toks = graft.engine.Tables.documents(spark, sf1)
      .select(col("source"), explode(graft.llm.TextAnalysis.tokens(col("text"))).as("t"))
      .as[(String, String)].collect()
    val bySrc = toks.groupBy(_._1).map { case (s, xs) =>
      s -> xs.groupBy(_._2).map { case (t, ys) => t -> ys.length.toLong }
    }
    val global = toks.groupBy(_._2).map { case (t, ys) => t -> ys.length.toLong }
    val n = toks.length.toLong
    out.select("source", "n_s", "tv_num")
      .as[(String, Long, Long)].collect().foreach { case (s, ns, tv) =>
        val o = bySrc(s)
        assert(ns == o.values.sum, s"$s token total")
        val expected = global.map { case (t, g) =>
          math.abs(o.getOrElse(t, 0L) * n - g * ns)
        }.sum
        assert(tv == expected, s"$s TV numerator")
      }
    out.unpersist()
  }

  test("grid_dbscan: cell-mates share labels; noise has no core neighbor") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.01"
    val out = graft.queries.LlmQueries.gridDbscan(spark, sf).cache()
    assert(out.count() ==
      graft.engine.Tables.embeddings(spark, sf).count(), "one row per vector")
    val cells = graft.engine.Tables.embeddings(spark, sf).select(col("vec_id"),
      floor(col("embedding")(0).cast("double") * 20).cast("long").as("cx"),
      floor(col("embedding")(1).cast("double") * 20).cast("long").as("cy"))
    val j = out.join(cells, "vec_id").cache()
    // all points of one cell carry the same label (core or all-border-same
    // only holds for core cells; restrict to cells with a clustered point
    // count >= minPts, i.e. core cells, where membership is cell-driven)
    val coreCells = j.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 4).select("cx", "cy")
    val perCell = j.join(coreCells, Seq("cx", "cy"))
      .groupBy("cx", "cy").agg(countDistinct(col("cluster_id")).as("k"),
        min(col("cluster_id")).as("lo"))
    assert(perCell.filter(col("k") > 1 || col("lo") === -1).count() == 0,
      "a core cell's points split labels or stayed noise")
    // no noise point may have a core cell in its 9-neighborhood
    val noise = j.filter(col("cluster_id") === -1).select(
      col("vec_id"), col("cx").as("px"), col("cy").as("py"))
    val bad = noise.join(coreCells,
      abs(col("px") - col("cx")) <= 1 && abs(col("py") - col("cy")) <= 1)
    assert(bad.count() == 0, "noise point adjacent to a core cell")
    j.unpersist(); out.unpersist()
  }

  test("quantized_outliers: dense ranks, monotone distances, every label served") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.01"
    val out = graft.queries.LlmQueries.quantizedOutliers(spark, sf).cache()
    val perLabel = out.groupBy("label").agg(count(lit(1)).as("n"),
      min(col("rn")).as("lo"), max(col("rn")).as("hi"))
    assert(perLabel.filter(col("n") =!= 5 || col("lo") =!= 1 || col("hi") =!= 5)
      .count() == 0, "each label must emit exactly ranks 1..5")
    assert(perLabel.count() ==
      graft.engine.Tables.embeddings(spark, sf).select("label").distinct().count())
    // distance non-increasing in rank within a label
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("rn"))
    val nonMono = out.withColumn("prev", lag(col("d2"), 1).over(w))
      .filter(col("prev").isNotNull && col("d2") > col("prev"))
    assert(nonMono.count() == 0, "d2 must be non-increasing in rank")
    out.unpersist()
  }

  // ------------------------- cross-family recall-target selector (round 10)

  private def recallTargetFixture(sf: String) = {
    val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
    val n = emb.count()
    val k = Similarity.ivfCells(n)
    val mod = math.max(1L, math.ceil(n / 512.0).toLong)
    val budget = 128L * n * k
    (emb, n, k, mod, budget)
  }
  private val rtGrid = Seq((8, 4), (8, 8), (16, 8))

  /** The operator's selection rule, replicated over collected curve rows —
    * the spec's independent arbiter of what annRecallTargetPairs must pick.
    */
  private def expectedSetting(curve: Seq[Similarity.AnnSetting], num: Int, den: Int,
                              budget: Long): Similarity.AnnSetting = {
    val qual = curve.filter(s =>
      s.recovered * den >= num.toLong * s.total && s.mass <= budget)
    if (qual.nonEmpty) qual.minBy(s => (s.mass, s.probe, s.route, s.cells, s.tables, s.width))
    else curve.minBy(s => (-s.recovered, s.mass, s.probe, s.route, s.cells, s.tables, s.width))
  }

  private def collectCurve(emb: org.apache.spark.sql.DataFrame, k: Int,
                           mod: Long, minCos: Double = 0.45): Seq[Similarity.AnnSetting] =
    Similarity.annSettingCurves(emb, k, 8, rtGrid, 4, Similarity.widePlanes, mod, minCos)
      .collect().toSeq.map(r => Similarity.AnnSetting(r.getString(0), r.getInt(1),
        r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6), r.getLong(7)))

  test("recall-target curves are well-formed: monotone recall and mass in probe depth") {
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val (emb, _, k, mod, _) = recallTargetFixture(sf)
      val curve = collectCurve(emb, k, mod)
      val levels = Similarity.gridLevels(k)
      assert(curve.count(_.route == "ivf") == levels.size * 8,
        s"$sf: one ivf row per (level, np)")
      assert(curve.count(_.route == "lsh") == rtGrid.size * 4,
        s"$sf: one lsh row per (config, p)")
      assert(curve.map(_.total).distinct.size == 1, "one shared ground truth")
      curve.groupBy(s => (s.route, s.cells, s.tables, s.width)).foreach { case (cfg, rows) =>
        val byP = rows.sortBy(_.probe)
        assert(byP.map(_.recovered) == byP.map(_.recovered).sorted,
          s"$sf $cfg: recovered monotone in probe depth")
        assert(byP.map(_.mass) == byP.map(_.mass).sorted,
          s"$sf $cfg: mass monotone in probe depth")
      }
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    }
  }

  test("recall-target selector: choice matches the curve and output equals the chosen family operator") {
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val (emb, _, k, mod, budget) = recallTargetFixture(sf)
      val curve = collectCurve(emb, k, mod)
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
      val exp = expectedSetting(curve, 85, 100, budget)
      Similarity.clearCalibrationCache()
      val out = Similarity.annRecallTargetPairs(emb, k, 8, rtGrid, 4,
        Similarity.widePlanes, 85, 100, mod, 0.45, budget)
      val dec = out.select("route", "cells", "tables", "width", "probe", "recall_bp")
        .distinct().collect()
      assert(dec.length <= 1, s"$sf: decision columns must be constant")
      if (dec.nonEmpty) {
        val d = dec.head
        assert((d.getString(0), d.getLong(1), d.getLong(2), d.getLong(3), d.getLong(4)) ==
          (exp.route, exp.cells.toLong, exp.tables.toLong, exp.width.toLong, exp.probe.toLong),
          s"$sf: selector chose $d, curve says $exp")
        assert(d.getLong(5) == exp.recallBp, s"$sf: recall_bp must restate the curve")
        // a qualifying choice exists on these fixtures — the stated target is met
        assert(d.getLong(5) >= 8500L,
          s"$sf: achieved sample recall ${d.getLong(5)} bp below the 85% target")
      }
      val got = out.select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect().toSet
      val direct = (exp.route match {
        case "ivf" => Similarity.ivfNearDupPairsMultiProbe(emb, exp.cells, exp.probe, 0.45)
        case "lsh" => Similarity.lshNearDupPairs(emb, Similarity.widePlanes, 0.45,
          nTables = exp.tables, width = exp.width, probes = exp.probe)
      }).select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect().toSet
      assert(got == direct,
        s"$sf: selector output must equal the ${exp.route} operator at the chosen setting")
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    }
  }

  test("recall-target selector edges: unreachable target falls back to best-effort; empty truth is vacuous") {
    val (emb, _, k, mod, budget) = recallTargetFixture("sf0.001")
    val curve = collectCurve(emb, k, mod)
    graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    // target above 100%: nothing qualifies (recovered can never exceed
    // total), so the best-effort rule decides — and recall_bp states the
    // honest sub-target achievement instead of pretending
    val exp = expectedSetting(curve, 101, 100, budget)
    Similarity.clearCalibrationCache()
    val out = Similarity.annRecallTargetPairs(emb, k, 8, rtGrid, 4,
      Similarity.widePlanes, 101, 100, mod, 0.45, budget)
    val dec = out.select("route", "cells", "tables", "width", "probe", "recall_bp").distinct().collect()
    assert(dec.length == 1, "best-effort decision must be constant and present")
    val d = dec.head
    assert((d.getString(0), d.getLong(1), d.getLong(2), d.getLong(3), d.getLong(4)) ==
      (exp.route, exp.cells.toLong, exp.tables.toLong, exp.width.toLong, exp.probe.toLong),
      s"best-effort chose $d, rule says $exp")
    assert(exp.recovered == curve.map(_.recovered).max,
      "best-effort must maximize recovered pairs")
    graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    // empty truth (no fixture pair reaches cos 0.99): the choice is the
    // vacuous cheapest setting; recall_bp = 10000 by definition; output
    // empty because verification admits nothing at that threshold
    Similarity.clearCalibrationCache()
    val vac = Similarity.annRecallTargetPairs(emb, k, 8, rtGrid, 4,
      Similarity.widePlanes, 85, 100, mod, 0.99, budget)
    assert(vac.count() == 0, "no fixture pair reaches cos 0.99")
    val vacCurve = collectCurve(emb, k, mod, minCos = 0.99)
    assert(vacCurve.forall(_.total == 0), "ground truth empty at cos 0.99")
    assert(vacCurve.forall(_.recallBp == 10000L), "vacuous recall is 10000 bp")
    Similarity.clearCalibrationCache()
    graft.engine.QueryCaches.releaseAll(spark, blocking = true)
  }

  test("recall-target selector on an empty corpus: zero rows, no crash") {
    // both setting curves are empty on an empty embeddings table; the
    // selector must pin its degenerate fallback instead of minBy-of-empty
    // (the DuckDB oracle's `choice` CTE is empty on the same input and its
    // final cross join emits zero rows — parity is empty == empty)
    import spark.implicits._
    val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    Similarity.clearCalibrationCache()
    val out = Similarity.annRecallTargetPairs(emb, 16, 8, rtGrid, 4,
      Similarity.widePlanes, 85, 100, 1L, 0.45, 1000L)
    assert(out.count() == 0)
    // the memoized warm path must take the same degenerate branch
    assert(Similarity.annRecallTargetPairs(emb, 16, 8, rtGrid, 4,
      Similarity.widePlanes, 85, 100, 1L, 0.45, 1000L).count() == 0)
    Similarity.clearCalibrationCache()
    graft.engine.QueryCaches.releaseAll(spark, blocking = true)
  }

  test("recall-target selector memoizes: second construction of the same decision runs zero jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (emb, _, k, mod, budget) = recallTargetFixture("sf0.001")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // drain the async listener bus before reading the count: a fixed sleep
    // can undercount on a loaded host (late cold events then fail the warm
    // zero-jobs assertion spuriously) — waitUntilEmpty is deterministic
    def settled(): Int = {
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      jobs.get()
    }
    def build() = Similarity.annRecallTargetPairs(emb, k, 8, rtGrid, 4,
      Similarity.widePlanes, 85, 100, mod, 0.45, budget)
    def buildAuto() = Similarity.ivfAutoProbePairs(emb, k, 4, 85, 100, mod, 0.45)
    Similarity.clearCalibrationCache()
    spark.sparkContext.addSparkListener(listener)
    try {
      build()
      val afterCold = settled()
      assert(afterCold >= 1, "cold construction must run the calibration jobs")
      build()
      assert(settled() == afterCold,
        "warm construction must reuse the memoized decision (zero jobs)")
      buildAuto()
      val afterAutoCold = settled()
      assert(afterAutoCold > afterCold, "autoprobe cold path runs its calibration")
      buildAuto()
      assert(settled() == afterAutoCold,
        "autoprobe warm construction must be job-free")
      Similarity.clearCalibrationCache()
      build()
      assert(settled() > afterAutoCold, "clearCalibrationCache must force a fresh calibration")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    }
  }

  test("minhashLshPairs at sf0.01 builds and runs in at most 15 jobs") {
    // Every cache is counted once, by its own fill: postings and docsets
    // are the only fills, and signatures, sizes and verification all read
    // the docsets. A path that re-counts a cache, fills a separate sizes
    // relation or re-scans the text for signatures adds jobs here: the
    // two-shape form (postings counted three times, a sizes fill, text
    // kernel signatures) ran 25 on this test's local[4] session.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Dedup.minhashLshPairs(docs, 3, 64, 16, 4, 5).collect().nonEmpty)
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      assert(jobs.get() <= 15, s"minhashLshPairs ran ${jobs.get()} jobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    }
  }
}
