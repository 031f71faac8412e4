package graft.llm

import graft.engine.PortableHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training corpora: exact, exact n-gram
  * Jaccard (inverted index), MinHash + LSH banding, and SimHash with
  * pigeonhole-exact banding. Designed for the 100 TB regime:
  *
  *  - exact dedup is one hash aggregation (map-side combined);
  *  - the Jaccard join is an inverted-index self-join — it shuffles
  *    (shingle-hash → doc) postings of 16 bytes, never documents, and only
  *    materializes candidate pairs that share a shingle;
  *  - MinHash/LSH replaces the posting join with a constant-size signature
  *    (64 longs/doc) and bands (16 keys/doc), so shuffle volume is O(docs),
  *    independent of document length — the scale path;
  *  - SimHash bands 60 bits into 6×10; by pigeonhole any pair within
  *    Hamming distance ≤ 5 shares an identical band, so the banded join is
  *    EXACT (not approximate) for thresholds ≤ 5 while joining on tiny keys.
  *
  * All hashes are md5-derived ([[graft.engine.PortableHash]]) so the DuckDB
  * oracle reproduces every pipeline bit-for-bit. Hashing happens AFTER
  * `explode`, per row, so it runs inside WholeStageCodegen — higher-order
  * array functions are interpreted in Spark and were ~5× slower here
  * (measured at sf0.1: minhash 14.4 s → explode/agg form ~2 s).
  */
object Dedup {

  /** md5 fingerprint of case/punctuation-normalized text — THE exact-dedup
    * identity, shared by [[exact]] and the per-source duplication report
    * (`dup_stats`) so the two can never disagree on what "duplicate" means.
    */
  def normFingerprint: org.apache.spark.sql.Column =
    md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))

  /** Exact dedup on normalized text: lowercase, collapse non-alphanumerics.
    * Output: one row per distinct normalized document with the kept id
    * (lowest) and the copy count.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), normFingerprint.as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Fan the (compact) documents input across all cores before the
    * CPU-heavy shingle construction: a small parquet file arrives as ONE
    * split, and without this shuffle the per-doc shingle expression runs
    * serially — measured 41× (not 16×) runtime growth on a 16× corpus
    * until the input was spread. The shuffled payload is just the raw
    * documents (tiny next to the shingle expansion).
    *
    * GATED on the scan's actual file count: a 100 TB corpus arrives in
    * thousands of files and already fans out, and an unconditional
    * repartition there would shuffle the full text for nothing. One
    * metadata lookup (`inputFiles`), no job.
    */
  private def spread(documents: DataFrame): DataFrame =
    graft.engine.Spread.spreadSmallInput(documents)

  /** Inverted-index postings: one (doc_id, n_sh, shingle-hash) row per
    * distinct word n-gram per document. The md5 runs post-explode in
    * codegen. `n_sh` is the doc's distinct-shingle count, computed from
    * the SAME kernel array the explode consumes (a `size()` on the
    * already-materialized array — zero extra scan, zero extra exchange)
    * and carried on every posting row, so pair-verification joins read
    * both docs' sizes with a `first()` in the aggregation they already
    * run — no separate sizes relation, no sizes joins. History: deriving
    * sizes as a second corpus scan ran the kernel twice; deriving them as
    * a groupBy over the persisted postings serialized the DAG behind the
    * cache fill and cost an extra exchange + two pair-sized joins
    * (measured +0.4–0.6 s/query at sf0.1). Carrying the count in the row
    * is strictly cheaper at every scale: +8 bytes per 16-byte posting row
    * in the one shuffle postings already pay.
    */
  def shinglePostings(documents: DataFrame, n: Int): DataFrame =
    spread(documents)
      .select(col("doc_id"), TextAnalysis.shingles(col("text"), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
        explode(col("sh")).as("s"))
      .select(col("doc_id"), col("n_sh"), PortableHash.md5Long(col("s")).as("h"))

  /** Per-doc distinct-shingle counts (cheap per-row expression; spread for
    * the same single-split reason as the postings).
    */
  def shingleSizes(documents: DataFrame, n: Int): DataFrame =
    spread(documents).select(col("doc_id"), size(TextAnalysis.shingles(col("text"), n)).as("n_sh"))

  /** Doc-keyed sizes projected OFF the (cached) postings: `n_sh` is
    * constant per doc, so a map-side-combined `max` collapses the posting
    * relation to one 16-byte row per doc with no kernel re-run. Pair
    * verification joins this at PAIR granularity (post-aggregation, tiny,
    * AQE-broadcastable) instead of carrying `n_sh` through the pair
    * expansion — the widest point of the DAG. Measured at 64× (320k docs,
    * flagship): carrying the two extra longs per expanded row exhausted
    * the default 8 GiB heap's execution pool (two broadcast builds
    * starved, STAGE_MATERIALIZATION failure), while this shape runs the
    * same corpus in 86 s at the same heap. The per-posting `n_sh` column
    * stays: doc-granular consumers (the PPJoin prefix bound) read it for
    * free, and it RLE-compresses to nothing in the columnar cache.
    *
    * Persisted (registered): the naive pair family's attach joins read it
    * twice — once keyed as doc_a, once as doc_b — and an unpersisted
    * subplan re-runs the groupBy over the postings cache per read. The
    * relation is one 16-byte row per doc (~5 MB at 64×), so the cache is
    * free and the second groupBy pass isn't (measured at sf0.1:
    * ~0.2–0.5 s/query). The verified families ([[verifiedPairCounts]])
    * read sizes off their docsets instead and never build this relation.
    */
  def shingleSizesFromPosts(posts: DataFrame): DataFrame =
    posts.groupBy(col("doc_id")).agg(max(col("n_sh")).as("n_sh"))
      .transform(graft.engine.QueryCaches.registered)

  /** Weighted analogue of [[shingleSizesFromPosts]] for the bag family:
    * per-doc TOTAL shingle weight (doc_id, w_sh). Registered for the same
    * reason — both bag callers read it twice for the final size attach and
    * a third time as the length-filter broadcast ([[lengthCompatible]]),
    * and the relation is one 16-byte row per doc.
    */
  def weightedSizesFromBag(bag: DataFrame): DataFrame =
    bag.groupBy(col("doc_id")).agg(sum(col("cnt")).as("w_sh"))
      .transform(graft.engine.QueryCaches.registered)

  /** Exact pairwise n-gram Jaccard via inverted index. Emits pairs
    * (doc_a < doc_b) with Jaccard ≥ num/den, compared in integer arithmetic:
    * j = c/(sa+sb-c) ≥ num/den  ⇔  den*c ≥ num*(sa+sb-c).
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int, num: Int, den: Int): DataFrame = {
    sizedPairCounts(documents, n)
      .filter(col("n_common") * den >= (col("size_a") + col("size_b") - col("n_common")) * num)
      .select("doc_a", "doc_b", "n_common", "size_a", "size_b")
  }

  /** Shared pair-enumeration core for the exact set-overlap family
    * ([[ngramJaccardPairs]], [[containmentPairs]]): inverted-index
    * self-join → per-pair shared-shingle counts → both docs' sizes
    * attached. One definition so the two operators can never silently
    * diverge in topology. Output: (doc_a < doc_b, n_common, size_a,
    * size_b) for every pair sharing ≥ 1 shingle.
    */
  private def sizedPairCounts(documents: DataFrame, n: Int): DataFrame = {
    // the postings subplan feeds both sides of the self-join — persist so
    // the shingle construction runs once, not twice. MEMORY_AND_DISK: a
    // spilled block beats recomputing the explode. Long-lived sessions
    // (Verify) call spark.catalog.clearCache() between queries; otherwise
    // the block is freed by the ContextCleaner when the plan is dropped.
    val postings = shinglePostings(documents, n)
      .transform(graft.engine.QueryCaches.registered)
    // the self-join ships (doc_id, h) ONLY — at 64× the +16 bytes/row of
    // carrying both docs' n_sh through the h-keyed expansion cost more
    // execution memory than the default heap holds (see
    // shingleSizesFromPosts); sizes re-attach at pair granularity below
    val narrow = postings.select(col("doc_id"), col("h"))
    val sizes = shingleSizesFromPosts(postings)
    // pair-aggregation width scales with the raw collision mass Σ df·(df−1)/2
    // (one scan of the materialized postings cache) — same law as the prefix
    // path's candidate dedup: a fixed 32-wide exchange turns data-linear
    // per-task state into sort spill, then heap exhaustion at 256×
    // (the canonical statement lives on graft.engine.Sizing)
    val rawMass = graft.engine.Sizing.collisionMass(narrow, "h")
    val aggParts = graft.engine.Sizing.partsFor(
      documents.sparkSession, rawMass, graft.engine.Sizing.PairRowsPerPartition)
    narrow.as("a")
      .join(narrow.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .repartition(aggParts, col("doc_a"), col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("size_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("size_b")), "doc_b")
      .select("doc_a", "doc_b", "n_common", "size_a", "size_b")
  }

  /** Exact n-gram Jaccard with prefix filtering (PPJoin-style): provably
    * the same output as [[ngramJaccardPairs]], with far fewer candidate
    * pairs generated.
    *
    * Theory: order each doc's shingles canonically (ascending global
    * document frequency, then hash). For J(A,B) ≥ t we have
    * |A∩B| ≥ t·max(|A|,|B|) (since J ≤ min/max forces min ≥ t·max), and any
    * two sets with overlap ≥ c must collide within their (|·|−c+1)-prefixes.
    * So indexing only the first ⌊(1−t)|S|⌋+1 shingles per doc loses no pair;
    * candidates are then verified with the full postings.
    *
    * Scale: the full inverted-index join costs Σ df² over shingles —
    * quadratic in hot shingles; the prefix index drops the hottest shingles
    * from candidate generation (rarest-first order), cutting the join to
    * ~(1−t)² of that while staying exact. Costs two extra small shuffles
    * (df count + per-doc rank). The POSITIONAL bound (PPJoin's second
    * filter) then prunes collision rows whose prefix positions cap the
    * possible overlap below the threshold — measured 11.5% row keep at
    * t = 0.8 — before the collision stream reaches its first exchange;
    * see the in-body comment for the exactness argument.
    */
  def ngramJaccardPairsPrefix(documents: DataFrame, n: Int, num: Int, den: Int): DataFrame = {
    val (posts, nPosts, byH) = prefixPostsCache(documents, n)
    ngramJaccardPairsPrefixFromPosts(posts, nPosts, num, den, postsByH = byH)
  }

  /** The prefix family's postings cache, with its partitioning chosen
    * BEFORE the fill (round 12): in the wide regime the df-attach join and
    * the df aggregation both want hash(h) input, and a cache filled
    * through an h-keyed exchange serves both EXCHANGE-FREE (the cache's
    * outputPartitioning satisfies their distributions — the r10
    * cache-width law used constructively). Filling unpartitioned and
    * repartitioning later pays the h-exchange AND a partial-agg shuffle
    * that does not collapse (duplicate shingles land in different scan
    * tasks; measured at x256: 66.7M partial rows re-shipped, 1017 MiB) or
    * a second posting-scale cache — both measured worse at 1024×.
    *
    * The chicken-and-egg (the width wants the row count, the count wants
    * the fill) is broken by ESTIMATE: nDocs (parquet metadata, free) ×
    * shingles-per-doc sampled over [[PrefixSampleDocs]] documents through
    * the real kernel (one sub-second job). The estimate only sizes tasks
    * (±20% moves nothing) and picks the fill partitioning; every regime
    * is output-identical, and the sample job is skipped entirely below
    * [[PrefixSampleMinDocs]] where the wide regime is out of reach —
    * fixture corpora never pay it.
    *
    * Returns (postings, exact posting count, filled h-partitioned): the
    * count is the fill's own materializing count, and it is the one every
    * width and regime decision of the family reads.
    */
  private[graft] def prefixPostsCache(documents: DataFrame, n: Int): (DataFrame, Long, Boolean) = {
    val raw = shinglePostings(documents, n)
    val nDocs = documents.count()
    val estPosts =
      if (nDocs < PrefixSampleMinDocs) -1L
      else shinglePostings(documents.limit(PrefixSampleDocs), n).count() *
        nDocs / PrefixSampleDocs
    val byH = estPosts >= PrefixDocTableMinPosts
    val fill =
      if (!byH) raw
      else raw.repartition(graft.engine.Sizing.partsFor(
        documents.sparkSession, estPosts, graft.engine.Sizing.PostingRowsPerPartition), col("h"))
    val (posts, nPosts) = graft.engine.QueryCaches.registeredCounted(fill)
    (posts, nPosts, byH)
  }

  /** Past this many posting rows the prefix family builds its prefix
    * through the per-doc table ([[prefixDocTable]], h-partitioned postings
    * fill, sized self-join exchange) instead of [[rankedPrefix]]'s
    * rank window. ~8M rows ≈ the point where a posting-scale per-task
    * sort starts spilling at 32 partitions.
    *
    * Kept as a gate because it was measured both ways: forcing the
    * per-doc-table build at sf0.1 on 4 cores, `ngram_jaccard` ran 32
    * jobs against 31 for the window build, and its steady-state measured
    * passes took 2.81–3.38 s against 2.35–2.96 s (4 runs each). `var`
    * for tests. */
  private[graft] var PrefixDocTableMinPosts = 8000000L

  /** Doc-count floor below which [[prefixPostsCache]] skips the sizing
    * sample: the wide regime needs ≥ [[PrefixDocTableMinPosts]] postings,
    * which at any plausible shingles-per-doc is out of reach for corpora
    * this small — so fixture-scale queries never pay the sample job.
    * `var` for tests. */
  private[graft] var PrefixSampleMinDocs = 65536L

  /** Documents sampled (through the real shingle kernel) for the
    * postings-per-doc estimate. */
  private[graft] val PrefixSampleDocs = 4096

  /** The ranked PPJoin prefix relation of a postings frame: one
    * (doc_id, h, rank, n_sh) row per shingle whose FULL-ORDER rank (the
    * doc's canonical global-df-ascending, hash-ascending order) falls
    * inside the threshold-t prefix of length n_sh − ⌈t·n_sh⌉ + 1. This is
    * the self-join input of [[ngramJaccardPairsPrefixFromPosts]], factored
    * out so `ScaleProbe prefixstat` measures the SHIPPING relation rather
    * than a hand-copied twin of it.
    *
    * HAPAX PRUNE (exact): a shingle with global df = 1 exists in exactly
    * one document, so the h-keyed self-join can never pair it
    * (`doc_a < doc_b` needs two docs) — yet df = 1 rows sort FIRST in the
    * (df, h) prefix order, so they CONCENTRATE in prefixes. Dropping them
    * from the df side of the df-attach join removes them from the join
    * output, the rank-window sort, the prefix cache, and the self-join
    * exchange all at once — the candidate-independent postings passes that
    * bound the family's 1024× cost after the two pair-prune generations.
    * The full-order rank (which the positional bound consumes) survives
    * the cut exactly: a doc's hapaxes occupy full ranks 1..k with
    * k = n_sh − n_nh (n_nh = the doc's surviving non-hapax count, a
    * partition-count window over the SAME doc-keyed sort — zero extra
    * exchanges), so rank_full = rank_nonhapax + (n_sh − n_nh), and the
    * prefix condition rank_full ≤ n_sh − ⌈t·n_sh⌉ + 1 simplifies to
    * rank_nonhapax ≤ n_nh − ⌈t·n_sh⌉ + 1.
    *
    * Wide regime (round 10, found at 4096×): the prefix BUILD itself is
    * the next per-task-state casualty past ~1B postings. At the session
    * default width the df aggregation holds data/32 distinct keys per
    * task, the df-attach join sort-merges data/32 rows per task, and the
    * rank window sorts the same — at 4096× (1.07B postings, 33M rows ×
    * ~28 B per task) the sorts spill and the spill-merge READ-AHEAD
    * buffers, which live outside managed memory (the round-9 law),
    * OOM-killed the 8 GiB JVM before any pair existed. The mitigation is
    * WIDTH, not join strategy: ONE posting-sized h-keyed exchange feeds
    * both the df aggregation and the probe side of the df-attach join
    * (the aggregation preserves the exchange's partitioning, so the join
    * adds no exchange), then one doc-keyed exchange at the same width
    * satisfies the window — every per-task sort stays ~1M rows at any
    * corpus scale. PROVENANCE (corrected round 11, measured): the width
    * fix moves the 4096× failure, it does not land the point — on the
    * sized tree the ngram query at 4096× still dies at the 8 GiB heap,
    * now in the shuffle WRITER (`ShuffleExternalSorter.insertRecord`,
    * "Unable to acquire 40 bytes", two runs, consistent stage) with the
    * host volume simultaneously at 99% (+47 GB of 49 GB headroom) —
    * both single-host resources at their ceiling at once; see SCALE.md
    * "The 4096× tier". 1024× (267M postings) is the largest tier this
    * host lands for ngram. Forcing SHUFFLE_HASH here instead was
    * MEASURED FATAL at 1024×: 32 concurrent ~64 MB hash-relation builds
    * exhausted the unified pool ("Can't acquire 67108864 bytes", then
    * the shuffle writers got 0 of 32 KB) — a sized in-memory sort costs
    * no resident state, a sized hash build costs all of it at once.
    * Below the break-even the AQE-planned shape stands (fixture corpora
    * broadcast the df side at runtime).
    */
  private[graft] def rankedPrefix(posts: DataFrame, nPosts: Long, num: Int, den: Int): DataFrame = {
    if (nPosts < PrefixDocTableMinPosts) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      // partition-only spec: same doc-keyed exchange and (doc_id)-prefix
      // sort as `w`, so the second window adds no shuffle and no sort
      val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      // prefix length = n_sh - ceil(t*n_sh) + 1 with t = num/den (integer
      // ceil), stated on the full-order rank and simplified to non-hapax
      // terms as derived above
      posts.join(
          posts.groupBy(col("h")).agg(count(lit(1)).as("df")).filter(col("df") >= 2), "h")
        .withColumn("rank_nh", row_number().over(w))
        .withColumn("n_nh", count(lit(1)).over(wDoc))
        .filter(col("rank_nh") <=
          col("n_nh") - expr(s"(($num * n_sh) + $den - 1) div $den") + 1)
        .select(col("doc_id"), col("h"),
          (col("rank_nh") + col("n_sh") - col("n_nh")).as("rank"), col("n_sh"))
    } else {
      val postParts = graft.engine.Sizing.partsFor(
        posts.sparkSession, nPosts, graft.engine.Sizing.PostingRowsPerPartition)
      prefixFromDocTable(prefixDocTable(posts, num, den, postParts))
    }
  }

  /** Wide-regime per-DOC table of the prefix family, ROUND 12: ONE
    * doc-keyed exchange + one hash aggregation produce, per doc, both
    * relations the family previously built in two separate postings-wide
    * passes —
    *
    *   - `pref`:  the doc's threshold-t PPJoin prefix as a (df, h)-sorted
    *     array slice (the r11 window form sorted the ENTIRE 266M-row
    *     joined stream per task to rank each doc; here the global sort
    *     becomes 5M independent ~250-element `sort_array` calls, codegen'd,
    *     no WindowExec buffering);
    *   - `hs`:    the doc's h-ascending shingle array for verification
    *     (previously `docsetsOf`'s OWN full doc-keyed exchange of the
    *     postings — at 1024× a second ~7 GB shuffle, 31 s measured, that
    *     this table deletes outright).
    *
    * Exactness: `pref` elements/ranks are identical to the window form —
    * (df, h) pairs are unique per doc (postings are distinct (doc, h)),
    * so `sort_array` + `slice` + `posexplode` reproduces `row_number`
    * ranks bit-for-bit. `hs` here EXCLUDES hapax shingles (the df ≥ 2
    * join is upstream), which is exact for verification: a df = 1 shingle
    * exists in exactly one doc and can never contribute to |A∩B|; the
    * doc's TRUE size rides the explicit `n_sh` column (constant per doc,
    * carried from the postings), which verification reads instead of
    * `size(hs)`. The MinHash family does NOT use this table — its
    * signatures are derived from the full-h `docsetsOf` arrays, where
    * dropping hapaxes would change banding.
    *
    * Width: filled at the caller's data-sized `parts` (the r10 cache-width
    * law — the cache's outputPartitioning pins downstream joins), same as
    * the docsets build it replaces. Per-task aggregation state is the same
    * collect_list class as `docsetsOf` plus the df ints.
    */
  private[graft] def prefixDocTable(posts: DataFrame, num: Int, den: Int,
                                    parts: Int, postsByH: Boolean = false): DataFrame = {
    // df-attach over the h-PARTITIONED postings cache (round 12, found in
    // the x256 formatted plan): the r11 `byH.join(byH.groupBy(h)...)`
    // form reads as one shared h-exchange, but Catalyst ELIDES the
    // explicit repartition under the aggregation branch (the agg plans
    // its own exchange), so the fill actually paid TWO posts-scale
    // exchanges — the 30 B/row join input AND a 16 B/row partial-agg
    // shuffle that does not collapse (duplicate shingles of a corpus land
    // in different scan tasks, so per-task partial aggregation finds
    // nearly all h distinct; measured at x256: 66.7M partial rows out of
    // 66.7M postings, 1017 MiB re-shipped). With the postings cache
    // FILLED h-partitioned ([[prefixPostsCache]], `postsByH`), its
    // outputPartitioning satisfies both the df aggregation's and the
    // join's distributions, so the df-attach plans NO exchange at all
    // (PlansSpec pins this) — the only exchange in the fill is the
    // unavoidable doc_id repartition (§2.4).
    //
    // (Two alternatives measured and REJECTED this round at 1024×:
    // a BROADCAST df-attach regime — the scaled corpora deliberately keep
    // vocabularies disjoint across copies (make_scaled.py, "no synthetic
    // dup cliques"), so distinct h grows linearly (66.7M at x256) and the
    // regime never fires on realism-preserving data while its
    // approx_count_distinct probe costs a full postings scan; and a
    // THIRD posting-scale cache of the h-repartitioned rows next to the
    // unpartitioned posts cache — its write+2-reads roughly equal the
    // exchange it deletes while its storage churns the other caches.)
    val byH =
      if (postsByH) posts
      else posts.repartition(parts, col("h"))
        .transform(graft.engine.QueryCaches.registered)
    val dfa = byH.groupBy(col("h")).agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    byH.join(dfa, "h")
      .repartition(parts, col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("h"))).as("dfh"),
        max(col("n_sh")).as("n_sh"))
      .withColumn("n_nh", size(col("dfh")).cast("long"))
      // prefix length on the full-order rank, in surviving non-hapax terms:
      // rank_nh <= n_nh - ceil(t*n_sh) + 1 (see the rankedPrefix derivation)
      .select(col("doc_id"), col("n_sh"), col("n_nh"),
        sort_array(transform(col("dfh"), x => x.getField("h"))).as("hs"),
        slice(sort_array(col("dfh")), lit(1),
          greatest(lit(0L),
            col("n_nh") - expr(s"(($num * n_sh) + $den - 1) div $den") + 1))
          .as("pref"))
      .transform(graft.engine.QueryCaches.registered)
  }

  /** The shipping prefix relation derived off [[prefixDocTable]]:
    * (doc_id, h, rank, n_sh) per prefix shingle, full-order rank
    * reconstructed as pos + 1 + (n_sh − n_nh) (hapaxes occupy full ranks
    * 1..n_sh−n_nh — the r11 hapax-prune derivation).
    */
  private[graft] def prefixFromDocTable(fat: DataFrame): DataFrame =
    fat.select(col("doc_id"), col("n_sh"), col("n_nh"),
        posexplode(col("pref")).as(Seq("pos", "e")))
      .select(col("doc_id"), col("e.h").as("h"),
        (col("pos") + 1 + col("n_sh") - col("n_nh")).as("rank"), col("n_sh"))

  /** POSITIONAL bound (the second PPJoin filter; Xiao et al., WWW'08) as a
    * feasibility predicate over an a/b-aliased self-join of [[rankedPrefix]]
    * rows — evaluated per collision row from columns already on the posting
    * rows: no sizes relation, no broadcast, no regime split. Both docs rank
    * their shingles by the SAME global (df, h) order, so the first common
    * shingle sits at the minimal rank in BOTH docs; for that row the
    * overlap upper bound u = 1 + min(sa−pa, sb−pb) satisfies u ≥ c, hence
    * any pair with true overlap c meeting the threshold keeps at least
    * that one row — dropping every row with infeasible u is EXACT. At
    * pa = pb = 1 the bound equals the length bound (u = min, feasible iff
    * den·min ≥ num·max), so this strictly subsumes [[lengthCompatible]]
    * on this path; measured at sf0.1 (DuckDB ground truth) it keeps
    * 14,045 of 122,289 raw collision rows (11.5%) and 12,784 of the
    * 43,543 length-surviving candidate pairs (−71%), so the
    * candidate-dedup exchange, the distinct's state, AND every verify
    * exchange shrink ~3× beyond the length bound.
    */
  private[graft] def positionalFeasible(num: Int, den: Int): org.apache.spark.sql.Column = {
    val u = lit(1) +
      least(col("a.n_sh") - col("a.rank"), col("b.n_sh") - col("b.rank"))
    u * den >= (col("a.n_sh") + col("b.n_sh") - u) * num
  }

  /** The prefix-filtered join over an existing (persisted) postings frame
    * of exactly `nPosts` rows — the count [[prefixPostsCache]]'s fill
    * already paid, which sizes every exchange and picks the prefix build
    * ([[PrefixDocTableMinPosts]]). Currently only the documents-based
    * wrapper above uses it; the seam exists for callers that already hold
    * postings. NOTE: deriving MinHash signatures from a shared postings
    * frame through the 64-min AGGREGATION ([[minhashSignaturesFromPosts]])
    * was MEASURED SLOWER (~3.7 s of stage time over ~1M posting rows at
    * sf0.1 vs ~0.6 s for the per-row kernel's own scan — see
    * lshQualityEval) — don't re-wire that.
    */
  def ngramJaccardPairsPrefixFromPosts(posts: DataFrame, nPosts: Long, num: Int, den: Int,
                                       postsByH: Boolean = false): DataFrame = {
    val spark = posts.sparkSession
    val parts = graft.engine.Sizing.partsFor(
      spark, nPosts, graft.engine.Sizing.PostingRowsPerPartition)
    val wide = nPosts >= PrefixDocTableMinPosts
    // Wide regime (round 12): ONE per-doc table ([[prefixDocTable]]) backs
    // both the prefix relation and the verification docsets — the family's
    // second full doc-keyed exchange of the postings and the 266M-row rank
    // window are deleted (measured: prefix-fill 80 s + docsets 31 s at
    // 1024× under the r11 shape).
    val fat = if (wide) Some(prefixDocTable(posts, num, den, parts, postsByH)) else None
    // Persisted with (rank, n_sh) kept: the POSITIONAL bound below consumes
    // both right at the self-join output, before any exchange. This widens
    // the prefix relation by two ints — a DELIBERATE, bounded exception to
    // the pair-expansion width law: the law forbids per-doc constants on
    // the Σ df² FULL-postings expansion and on the pair exchanges (where
    // width × quadratic rows killed the 64× heap); the prefix relation is
    // ~(1−t) of the postings and its join output is filtered and projected
    // back to (doc_a, doc_b) before the first repartition, so the
    // quadratic stream itself stays 16 bytes/row (PlansSpec pins exactly
    // this split: one wide h-join allowed HERE, pair exchanges narrow).
    val (prefix, nPrefix) = graft.engine.QueryCaches.registeredCounted(
      fat.map(prefixFromDocTable).getOrElse(rankedPrefix(posts, nPosts, num, den)))
    // Candidate-dedup width must scale with the DATA, not the core count:
    // the raw collision stream is Σ_h df_p(h)·(df_p(h)−1)/2 rows — at 64×
    // that is ~240M rows (5.7 GB) which, squeezed through the session's 32
    // fixed shuffle partitions, cost 26 GB of sort spill (profiled: 54 s of
    // an 80 s query), and at 256× the per-task aggregation state outgrew
    // the 8 GiB heap outright. AQE coalesces small partitions but never
    // SPLITS an oversized aggregation, so the exchange is sized here from
    // the exact raw-pair mass (one scan of the materialized prefix cache;
    // map-side partial dedup loses nothing in exchange — each (pair, h)
    // row is unique, so same-pair collapse before the shuffle is ~zero).
    val rawMass = graft.engine.Sizing.collisionMass(prefix, "h")
    // dedupParts is sized from the PRE-positional mass (the post-filter
    // mass can't be known without the expansion itself) — conservative by
    // the measured ~0.115 row keep-rate; partitions run light rather than
    // risking oversized per-task dedup state.
    val dedupParts = graft.engine.Sizing.partsFor(
      spark, rawMass, graft.engine.Sizing.PairRowsPerPartition)
    // Wide regime: the self-join's inputs get the same sized-width
    // treatment (the default width sorts ~data/32 rows per task past ~1B
    // postings — the same read-ahead OOM class as the prefix build above);
    // the two children are the same canonicalized subplan, so
    // ReuseExchange ships the exchange once and each per-task sort stays
    // ~1M in-memory rows. No join-strategy hint — see the prefix-build
    // comment for why a forced hash build at this width is fatal.
    val selfJoinIn =
      if (!wide) prefix
      else prefix.repartition(graft.engine.Sizing.partsFor(
        spark, nPrefix, graft.engine.Sizing.PostingRowsPerPartition), col("h"))
    val candidates = selfJoinIn.as("a")
      .join(selfJoinIn.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .filter(positionalFeasible(num, den))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .repartition(dedupParts, col("doc_a"), col("doc_b"))
      .distinct()
    // Verification ships (doc, h-array) rows and reads sizes off the
    // docsets ([[verifiedPairCounts]]), so this path builds no sizes
    // relation. Wide regime: the docsets are the per-doc table's own
    // `hs`/`n_sh` columns — no separate docsets build.
    val docsets = fat.map(_.select(col("doc_id"), col("hs"), col("n_sh")))
      .getOrElse(docsetsOf(posts, parts)._1)
    verifiedPairCounts(candidates.repartition(parts, col("doc_a")), docsets, parts)
      .filter(col("n_common") * den >= (col("size_a") + col("size_b") - col("n_common")) * num)
      .select("doc_a", "doc_b", "n_common", "size_a", "size_b")
  }

  /** Asymmetric containment dedup: pairs where ≥ num/den of `inner`'s
    * distinct n-gram shingles also appear in `outer` — the signal Jaccard
    * misses when a short document is wholly quoted inside a long one
    * (J = |A∩B|/|A∪B| is dragged down by the long side's size, but
    * C(A,B) = |A∩B|/|A| is 1.0 for a verbatim inclusion). Reference
    * semantics: the same dedup family as `ngramJaccardPairs`
    * (suffix-/substring-style containment, cf. the reference's record
    * normalization passes), re-expressed as an inverted-index join.
    *
    * Scale: identical topology to the Jaccard join — 16-byte postings
    * shuffle, never documents; the pair aggregation only materializes pairs
    * that actually share a shingle. Both directions are emitted (A-in-B and
    * B-in-A are distinct facts) from ONE join by evaluating the threshold
    * against each side's size — the join itself still enumerates each
    * unordered pair once (`doc_a < doc_b`), not twice.
    */
  def containmentPairs(documents: DataFrame, n: Int, num: Int, den: Int): DataFrame = {
    // the two direction legs below both read `common` — persist it, or the
    // Union would execute the expensive pair-enumeration join twice (the
    // pair frame is candidates-only, far smaller than the join that built it)
    val common = sizedPairCounts(documents, n)
      .transform(graft.engine.QueryCaches.registered)
    // one row per (contained, container) direction that clears the threshold
    val aInB = common.filter(col("n_common") * den >= col("size_a") * num)
      .select(col("doc_a").as("inner_id"), col("doc_b").as("outer_id"),
        col("n_common"), col("size_a").as("size_in"), col("size_b").as("size_out"))
    val bInA = common.filter(col("n_common") * den >= col("size_b") * num)
      .select(col("doc_b").as("inner_id"), col("doc_a").as("outer_id"),
        col("n_common"), col("size_b").as("size_in"), col("size_a").as("size_out"))
    aInB.unionByName(bInA)
  }

  /** Rolling-window postings for substring-span dedup: one row per w-token
    * window at every start position (stride 1), hash computed post-explode
    * in codegen. The multiset kernel keeps windows in document order, so
    * `pos` IS the start token index.
    */
  def windowPostings(documents: DataFrame, w: Int): DataFrame =
    spread(documents)
      .select(col("doc_id"),
        posexplode(TextAnalysis.shinglesAll(col("text"), w)))
      .select(col("doc_id"), col("pos").cast("long").as("p"),
        PortableHash.md5Long(col("col")).as("h"))

  /** Duplicated-span detection — the distributed re-expression of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): find every maximal token span covered
    * by w-token windows whose content occurs ≥ 2 times in the corpus
    * (cross-document boilerplate or in-document repetition), and report
    * per-document span counts and duplicated-token totals.
    *
    * Mechanics: rolling w-windows at stride 1 → window-hash occurrence
    * counts (one map-side-combined aggregation) → positions of duplicated
    * windows → per-doc gaps-and-islands merge (windows at starts p, p'
    * merge when p' − p ≤ w, i.e. coverage overlaps or touches) → maximal
    * spans [min p, max p + w).
    *
    * Scale: the only corpus-wide exchange carries 16-byte (hash) rows —
    * ~n_tokens per doc, same order as the Jaccard postings; the islands
    * window partitions by doc_id, so no global sort. A 100 TB corpus
    * shuffles its token count in hashes, map-side pre-aggregated.
    */
  def duplicatedSpans(documents: DataFrame, w: Int): DataFrame = {
    // posts feed both the occurrence count and the position lookup: persist
    // so the window construction + md5 runs once (same pattern as the
    // Jaccard postings; Verify/Bench clearCache() between queries)
    val posts = windowPostings(documents, w)
      .transform(graft.engine.QueryCaches.registered)
    val dupHashes = posts.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occur"))
      .filter(col("n_occur") >= 2)
    // data-dependent size: boilerplate-free corpora yield a tiny dup set,
    // template-heavy ones a huge one — AQE picks the join strategy
    val dupPos = posts.join(dupHashes, "h").select(col("doc_id"), col("p"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val spans = dupPos
      .withColumn("prev", lag(col("p"), 1).over(byDoc))
      .withColumn("new_span",
        when(col("prev").isNull || col("p") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("p")).as("s"), (max(col("p")) + w).as("e"))
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).cast("long").as("dup_tokens"))
  }

  /** MinHash signatures: sig_i = min over shingle hashes h of
    * (a_i*(h mod P)+b_i) mod P — computed PER ROW by the
    * [[graft.functions.MinhashSigFP]] kernel (one pass over the document,
    * no posting exchange at all; the signature is a pure row function).
    * Output-equal to [[minhashSignaturesFromPosts]] over
    * [[shinglePostings]] (FunctionsSpec proves it), which remains the form
    * for pre-expanded postings (the weighted path). Callers that need only
    * signatures read this; [[minhashLshPairs]] derives the identical
    * signature off the docsets cache it verifies with.
    */
  def minhashSignatures(documents: DataFrame, n: Int, perms: Int): DataFrame =
    spread(documents)
      .select(col("doc_id"),
        graft.functions.TextFunctions.graftMinhashSig(col("text"), n, perms).as("sig"))
      .filter(size(col("sig")) > 0)

  /** Signature aggregation over an existing postings frame (lets callers
    * share one persisted postings scan across signature + verification).
    */
  def minhashSignaturesFromPosts(posts: DataFrame, perms: Int): DataFrame = {
    val params = PortableHash.minhashParams(perms)
    val hp = posts.select(col("doc_id"), pmod(col("h"), lit(PortableHash.P)).as("hp"))
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      min((col("hp") * a + b) % PortableHash.P).as(s"m$i")
    }
    hp.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until perms).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (doc, band, key) relation of the banded signatures — the LSH blocking
    * key itself, exposed so diagnostics can profile bucket sizes (the
    * SCALE.md lesson: a banded join is only as scalable as its blocking
    * key's entropy; profile block sizes BEFORE trusting the plan).
    */
  def bandKeysOf(sigs: DataFrame, perms: Int, bands: Int): DataFrame = {
    val rows = perms / bands
    // The key is the band's minima SLICE itself (array<bigint>), not a
    // formatted string: array equality is exactly string equality under the
    // injective decimal encoding, but the exchange ships ~32 bytes/row
    // instead of ~80 and skips formatting bands·rows longs per doc
    // (SCALE.md "the band self-join floor" has the 1024× measurement for
    // the array key + the sized hash join in bandCandidates together).
    sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        slice(col("sig"), b * rows + 1, rows)
      }: _*)))
      .toDF("doc_id", "band", "key")
  }

  /** LSH banding over MinHash signatures: split each `perms`-long signature
    * into `bands` bands, emit (doc_a < doc_b) for every pair sharing any
    * band key. Shared by the set and weighted MinHash joins. These raw
    * pre-verification band-collision pairs are public so evaluation
    * harnesses (`lsh_quality_eval`) can measure candidate precision/recall
    * against exact ground truth.
    */
  def bandCandidates(sigs: DataFrame, perms: Int, bands: Int,
                     parts: Option[Int] = None): DataFrame = {
    // The collision step is a GROUP-BY, not a self-join (round 11): bucket
    // the band relation once on (band, key), collect each bucket's doc
    // list, and emit its pairs with two streaming generators. The
    // self-join form shipped the SAME rows through the same exchange but
    // then read the shuffle twice and sorted both sides under a
    // sort-merge join — and its single-exchange economics silently relied
    // on ReusedExchange, which stops firing the moment the band relation's
    // child is a cache scan (AQE wraps each cache scan in its own
    // TableCacheQueryStage; the round-11 broadcast-reuse finding), exactly
    // what [[minhashLshPairs]]' signatures-off-the-docsets-cache source
    // makes it. The groupBy form has no reuse to lose: one exchange WRITE,
    // one READ, a hash aggregation (no sorts at all), and per-bucket state
    // bounded by bucket size — the same shape [[docsetsOf]] already runs
    // at 1024×/4096×. Pair emission streams (posexplode + slice explode),
    // so a pathological hot bucket (a giant duplicate clique) emits its
    // quadratic pairs lazily instead of allocating them; the quadratic
    // OUTPUT is inherent to LSH blocking either way. Forcing SHUFFLE_HASH
    // on the old join was measured and REJECTED at 1024×
    // (UNABLE_TO_ACQUIRE_MEMORY — 32 concurrent build maps under the
    // family's pinned caches); the aggregation sidesteps that class too:
    // ObjectHashAggregate spills per-bucket state gracefully.
    // Wide regime (`parts` set by callers that sized the family's
    // exchanges): repartition on the grouping keys at the family width, so
    // the aggregation's distribution is already satisfied (no second
    // exchange), like the docsets build.
    val raw = bandKeysOf(sigs, perms, bands)
    val bandKeys = parts.fold(raw)(p => raw.repartition(p, col("band"), col("key")))
    bandKeys
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(posexplode(col("ds")).as(Seq("i", "doc_a")), col("ds"))
      .select(col("doc_a"),
        explode(slice(col("ds"), col("i") + lit(2),
          size(col("ds")) - col("i") - lit(1))).as("doc_b"))
      .distinct()
  }

  /** PPJoin length filter over a candidate-pair stream: drops pairs whose
    * shingle-set sizes make the Jaccard threshold UNREACHABLE before any
    * verification work runs. Exact by implication: |A∩B| ≤ min(|A|,|B|)
    * and |A∪B| ≥ max(|A|,|B|), so J(A,B) ≤ min/max — a pair with
    * den·min(sa,sb) < num·max(sa,sb) cannot pass the final
    * `den·c ≥ num·(sa+sb−c)` filter no matter what verification counts.
    * (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08 — the length bound that accompanies the prefix
    * bound already applied upstream.)
    *
    * Scale (measured, sf0.1 structure — which IS the per-copy structure of
    * every outer-stacked tier, vocabularies being disjoint across copies):
    * at t = 0.8 the bound keeps only 35.6% of deduped candidates / 37.1%
    * of the raw collision stream, i.e. ~64% of the downstream verify
    * bytes — including the posting-array-carrying exchange that was
    * ~48 GB of ngram_jaccard's ~75–90 GB 1024× shuffle footprint (the
    * measured single-host ENOSPC, SCALE.md) — never get written. The
    * sizes relation rides one of two regimes, switched on its measured
    * row count ([[graft.engine.Sizing.SizesBroadcastMaxDocs]]): below the
    * ceiling it is BROADCAST and the prune is MAP-SIDE — zero exchanges
    * added at any position in the stream, which is what makes it safe to
    * run on the raw (pre-distinct) collision stream where it also shrinks
    * the candidate-dedup exchange; above the ceiling (where the hashed
    * relation build was measured nondeterministically fatal at 8 GiB —
    * see the constant) the prune joins go keyed SHUFFLE_HASH at the
    * caller's data-sized width, which adds one narrow candidate exchange
    * — so above-ceiling callers apply it to the DEDUPED candidate set,
    * not the raw stream.
    */
  private[graft] def lengthCompatible(cands: DataFrame, sizes: DataFrame,
                                      num: Int, den: Int, parts: Int,
                                      nDocsKnown: Option[Long] = None): DataFrame = {
    // callers that already paid the fill count pass it in; otherwise one
    // fast action over the registered cache
    val nDocs = nDocsKnown.getOrElse(sizes.count())
    val outCols = cands.columns.map(col).toIndexedSeq
    if (nDocs <= graft.engine.Sizing.SizesBroadcastMaxDocs) {
      // ONE broadcast of the sizes relation, joined twice under join-time
      // aliases. Two subtleties, both probed on Spark 4.1 (round 11):
      // (1) the old per-join endpoint-rename projections gave the planner
      // two distinct-looking broadcast children, so it built and shipped
      // the same 16-byte/doc data twice (the round-10 advice finding);
      // (2) join-time aliases alone do NOT fix it over a CACHED (or
      // localCheckpoint'd) relation — AQE wraps each cache scan in its own
      // TableCacheQueryStage and the two broadcast stages stop
      // canonicalizing equal, so the stage cache never reuses. A
      // LocalRelation child canonicalizes equal, so the plan carries ONE
      // BroadcastExchange + one ReusedExchange (PlansSpec pins it). The
      // collect is bounded by the regime guard (≤ SizesBroadcastMaxDocs rows)
      // and is the same driver materialization BroadcastExchange itself
      // performs (executeCollect + driver-side build) — done once instead
      // of twice, halving build work and resident broadcast footprint at
      // the regime ceiling.
      val spark = sizes.sparkSession
      val proj = sizes.select(col("doc_id"), col("n_sh"))
      val bsz = org.apache.spark.sql.functions.broadcast(
        spark.createDataFrame(
          java.util.Arrays.asList(proj.collect(): _*), proj.schema))
      cands
        .join(bsz.as("sza"), col("doc_a") === col("sza.doc_id"))
        .join(bsz.as("szb"), col("doc_b") === col("szb.doc_id"))
        .filter(col("sza.n_sh") * den >= col("szb.n_sh") * num &&
          col("szb.n_sh") * den >= col("sza.n_sh") * num)
        .select(outCols: _*)
    } else {
      val compat = col("lf_a") * den >= col("lf_b") * num &&
        col("lf_b") * den >= col("lf_a") * num
      // Keyed piggyback: both prune joins SHUFFLE_HASH with the sizes
      // relation as build, everything pre-exchanged to the caller's
      // data-sized width. The sizes side is explicitly repartitioned OVER
      // its cache — the cache-width law (SCALE.md round 10): the cached
      // fill plan's default-width partitioning would otherwise "satisfy"
      // the join and drag BOTH sides down to the session default. The
      // candidate stream pays one extra narrow exchange versus the
      // broadcast regime; the caller only reaches this branch when the
      // stream it prunes is tens of GB, where the measured ~0.37
      // keep-rate repays it many times over.
      val sa = sizes.repartition(parts, col("doc_id"))
        .select(col("doc_id").as("doc_a"), col("n_sh").as("lf_a"))
      val sb = sizes.repartition(parts, col("doc_id"))
        .select(col("doc_id").as("doc_b"), col("n_sh").as("lf_b"))
      cands.repartition(parts, col("doc_b"))
        .join(sb.hint("shuffle_hash"), "doc_b")
        .repartition(parts, col("doc_a"))
        .join(sa.hint("shuffle_hash"), "doc_a")
        .filter(compat)
        .select(outCols: _*)
    }
  }

  /** The per-doc sorted posting-array relation the verified families read:
    * (doc_id, hs, n_sh), `hs` the doc's h-ascending distinct shingle
    * hashes and `n_sh` = size(hs) (postings carry one row per DISTINCT
    * shingle, so the array length IS the doc's shingle count). Returned
    * with its row count, which its own materializing fill already paid.
    *
    * The cache must be FILLED at the sized width (round-10 law, measured
    * at 1024×): an InMemoryRelation's outputPartitioning is its fill
    * plan's, and EnsureRequirements prefers not to re-shuffle a child that
    * already satisfies the join's distribution — so a cache filled through
    * the session-default 32-partition aggregation exchange PINS both
    * verify joins to 32, silently rewriting the mass-sized
    * repartition(parts) on the probe side back to the cache's width. At
    * 1024× (5.1M docsets rows ≈ 4.4 GB of sorted-hash arrays) the 32-way
    * build maps were ~137 MB per task × 32 concurrent — past the unified
    * pool, and the build died with UNABLE_TO_ACQUIRE_MEMORY.
    * Repartitioning the postings by doc_id BEFORE the aggregation makes
    * the fill plan itself parts-wide (the groupBy's distribution is then
    * already satisfied — no extra exchange), so cache, probe exchanges,
    * and join all agree on the data-sized width.
    */
  private[graft] def docsetsOf(posts: DataFrame, parts: Int): (DataFrame, Long) = {
    val (docsets, nDocs) = graft.engine.QueryCaches.registeredCounted(
      posts.repartition(parts, col("doc_id"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("hs")))
    (docsets.select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n_sh")), nDocs)
  }

  /** Per-pair shared-shingle counts for a candidate set: the verification
    * core shared by the banded ([[minhashLshPairs]]) and prefix
    * ([[ngramJaccardPairsPrefixFromPosts]]) families, one shape at every
    * scale. `candsByA` must arrive hash-partitioned by doc_a at `parts`
    * (the caller either repartitions or already left it so — the
    * piggyback length prune does); `docsets` is (doc_id, hs, n_sh) at the
    * same width ([[docsetsOf]], or the prefix family's per-doc table,
    * whose `hs` excludes hapax shingles — exact for the intersection,
    * since a df = 1 shingle is never common — and whose `n_sh` is the
    * doc's TRUE size).
    *
    * The scale law (measured, 64×/256×): the candidates ⋈ postings
    * expansion is the QUADRATIC stream of the query (~380M rows at 64×,
    * ~1.5B at 256×) and must only ever be STREAMED, never sorted — a
    * sort-merge plan through 32 fixed partitions cost 26.6 GB of sort
    * spill at 64× (profiled: 54 s of an 80 s query) and at 256× killed the
    * JVM outright (spill-reader read-ahead buffers exhausted the 8 GiB
    * heap). Even streamed, an EXPLODED expansion — one (doc_a, doc_b, h)
    * row per posting of doc_a per pair — materialized 35 GB between the
    * two verify joins at 256× (142 s of a 246 s query). So each endpoint
    * joins the doc's SORTED posting array (~0.8 KB per pair instead of
    * ~2.4 KB of rows), both joins are SHUFFLE_HASH with the linear side
    * (docsets) as build, the shared count is one two-pointer sweep per
    * pair ([[graft.functions.VectorFunctions.graftSortedIntersectCount]]),
    * and the sizes are read off the docsets rows the joins already hold.
    * Only the first join's output carries an array through an exchange
    * (~12 GB at 256× vs 35), and the arrays are dropped in the final
    * projection. `parts` (sized from the posting count by the caller)
    * keeps the per-task build map ~1M rows at any corpus scale.
    */
  private[graft] def verifiedPairCounts(candsByA: DataFrame, docsets: DataFrame,
                                        parts: Int): DataFrame = {
    def side(ep: String) = docsets.select(
      col("doc_id").as(ep), col("hs").as(s"hs_$ep"), col("n_sh").as(s"sz_$ep"))
    candsByA
      .join(side("doc_a").hint("shuffle_hash"), "doc_a")
      .repartition(parts, col("doc_b"))
      .join(side("doc_b").hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.VectorFunctions.graftSortedIntersectCount(
          col("hs_doc_a"), col("hs_doc_b")).as("n_common"),
        col("sz_doc_a").as("size_a"), col("sz_doc_b").as("size_b"))
      .filter(col("n_common") > 0)
  }

  /** MinHash + LSH banded near-dup join, exact-verified. `bands` bands of
    * `perms/bands` rows each; docs sharing any band key become candidates,
    * and candidates are verified with exact n-gram Jaccard ≥ num/den
    * against the docsets ([[verifiedPairCounts]]) — only candidate pairs
    * are ever materialized. At scale the band shuffle is O(docs × bands)
    * short keys.
    */
  def minhashLshPairs(documents: DataFrame, n: Int, perms: Int, bands: Int,
                      num: Int, den: Int): DataFrame = {
    // ONE docsets cache backs the family at every scale: signatures, sizes
    // and verification all read it. The postings cache feeds only its
    // fill, and its materializing count sizes every exchange.
    val (posts, nPosts) = graft.engine.QueryCaches.registeredCounted(
      shinglePostings(documents, n))
    val parts = graft.engine.Sizing.partsFor(documents.sparkSession,
      nPosts, graft.engine.Sizing.PostingRowsPerPartition)
    val (docsets, nDocs) = docsetsOf(posts, parts)
    // Signatures: `hs` holds exactly the text kernel's deduped shingle
    // hashes, so [[graft.functions.MinhashSigFromHashesFP]] recomputes the
    // identical signature (FunctionsSpec proves bit-equality) in one pass
    // over longs the family already materialized — the per-row text kernel
    // would be a SECOND full text scan (re-tokenize + re-shingle + one md5
    // per shingle — 36 s of the 227 s 1024× wall).
    val sigs = docsets.select(col("doc_id"),
      graft.functions.TextFunctions.graftMinhashSigFromHashes(col("hs"), perms).as("sig"))
    // Band collisions skew similar, but size-INCOMPATIBLE collisions still
    // occur (a band of minima can agree across very different set sizes);
    // the length bound drops them before the array-carrying verify
    // exchanges — same exactness argument as the prefix path
    // ([[lengthCompatible]]). Its regime is picked by `nDocs`, the exact
    // row count of the sizes relation: below the broadcast ceiling the
    // prune collects the sizes once; above it the prune joins go keyed at
    // `parts` (the band bucketing too), and their doc_a-last join order
    // leaves the candidates doc_a-partitioned at `parts`, so verification
    // skips its first exchange instead of repeating it (Catalyst does not
    // elide a user repartition whose child already satisfies it).
    val wide = nDocs > graft.engine.Sizing.SizesBroadcastMaxDocs
    val candidates = lengthCompatible(
      bandCandidates(sigs, perms, bands, parts = if (wide) Some(parts) else None),
      docsets.select(col("doc_id"), col("n_sh")), num, den, parts, Some(nDocs))
    val candsByA = if (wide) candidates else candidates.repartition(parts, col("doc_a"))
    verifiedPairCounts(candsByA, docsets, parts)
      .filter(col("n_common") * den >= (col("size_a") + col("size_b") - col("n_common")) * num)
      .select("doc_a", "doc_b", "n_common", "size_a", "size_b")
  }

  /** Bag (multiset) postings: one row per (doc, distinct shingle) with the
    * shingle's OCCURRENCE COUNT as its weight — boilerplate-and-template
    * repetition that set-Jaccard cannot see. The counting happens INSIDE
    * the row kernel ([[graft.functions.TextKernels.shingleCounts]]: one
    * pass over the document, (shingle, cnt) pairs out), so there is NO
    * counting shuffle at all — the only exchanges left in the weighted
    * plans are the ones the unweighted paths already pay. The md5 runs
    * post-explode in codegen; strings never leave the map side.
    */
  def bagPostings(documents: DataFrame, n: Int): DataFrame =
    spread(documents)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.graftShingleCounts(col("text"), n)).as("sc"))
      .select(col("doc_id"), PortableHash.md5Long(col("sc.s")).as("h"),
        col("sc.cnt").as("cnt"))

  /** Weighted sizes for the bag family, regime-split (round 11, reclaiming
    * the round-10 bag_jaccard regression): below the broadcast ceiling the
    * per-doc weight relation is evaluated ONCE and collected into a
    * LocalRelation — the regime where the round-10 eager `wsizes` cache
    * paid planner-correct stats on a path that broadcasts anyway, costing
    * ~4 extra driver-scheduled jobs per query (fill + count + one
    * broadcast build per consumer; profiled at sf0.1: 16 jobs for a 1.7 s
    * query). The LocalRelation serves every consumer — the length-prune
    * broadcast (job-free re-collect: ConvertToLocalRelation folds the
    * projection) and both final size-attach joins (auto-broadcast, exact
    * local stats) — for one aggregation evaluation total. Above the
    * ceiling the round-10 shape stands: eager registered fill, whose
    * materialized stats are load-bearing for the wide join plans.
    *
    * The regime probe is the DOCUMENTS row count (an upper bound on
    * distinct doc_ids in the bag — cheap parquet-metadata count), checked
    * BEFORE any collect so the driver never materializes an above-ceiling
    * relation; both regimes are output-identical (spec-pinned).
    */
  private def weightedSizesRegime(documents: DataFrame, bag: DataFrame): (DataFrame, Option[Long]) = {
    if (documents.count() <= graft.engine.Sizing.SizesBroadcastMaxDocs) {
      val proj = bag.groupBy(col("doc_id")).agg(sum(col("cnt")).as("w_sh"))
      val rows = proj.collect()
      (documents.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), proj.schema), Some(rows.length.toLong))
    } else (weightedSizesFromBag(bag), None)
  }

  /** Exact weighted (bag) Jaccard pairs:
    * J_w = Σ min(cnt_a, cnt_b) / Σ max(cnt_a, cnt_b) ≥ num/den, in pure
    * integer arithmetic (Σ max = w_a + w_b − Σ min). The same
    * inverted-index topology as [[ngramJaccardPairs]] — postings of
    * (doc, hash, count) shuffle, never documents — but duplicate-heavy
    * docs no longer inflate toward 1.0: a doc that is another's text
    * repeated k times scores 1/k, not ~1.
    */
  def bagJaccardPairs(documents: DataFrame, n: Int, num: Int, den: Int): DataFrame = {
    val bag = bagPostings(documents, n)
      .transform(graft.engine.QueryCaches.registered)
    val (wsizes, localN) = weightedSizesRegime(documents, bag)
    // Same length bound as the set family, on total weights: w_common =
    // Σ min(cnt_a, cnt_b) ≤ min(w_a, w_b), so den·min(w) < num·max(w)
    // pairs can never pass the bag-Jaccard filter — pruned map-side on the
    // raw collision stream before the pair aggregation. Broadcast regime
    // only: the piggyback form would re-exchange the raw stream three
    // times to prune it once, and this exact-join surface has no deduped
    // candidate set to prune instead.
    val raw = bag.as("a")
      .join(bag.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        least(col("a.cnt"), col("b.cnt")).as("m"))
    val wsizesN = wsizes.select(col("doc_id"), col("w_sh").as("n_sh"))
    val common =
      (if (localN.isDefined)
        lengthCompatible(raw, wsizesN, num, den,
          documents.sparkSession.sparkContext.defaultParallelism, localN)
      else raw)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("m")).as("w_common"))
    common
      .join(wsizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("w_sh", "wsize_a"), "doc_a")
      .join(wsizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("w_sh", "wsize_b"), "doc_b")
      .filter(col("w_common") * den >= (col("wsize_a") + col("wsize_b") - col("w_common")) * num)
      .select("doc_a", "doc_b", "w_common", "wsize_a", "wsize_b")
  }

  /** Weighted MinHash + LSH, exact-verified: MinHash over the MULTISET
    * EXPANSION — a shingle with hash h and count c contributes elements
    * h (first occurrence) and md5(h + "#" + r) for r = 2..c — so
    * P[sig collision] equals the bag Jaccard exactly (the expansion
    * reduces weighted Jaccard on integer weights to set Jaccard on the
    * expanded universe). The expansion is processed INSIDE the per-row
    * signature kernel ([[graft.functions.TextKernels.minhashSigWeighted]]);
    * banding and candidate verification mirror [[minhashLshPairs]], with
    * verification against the exact bag measure of [[bagJaccardPairs]].
    *
    * Scale: the expansion multiplies postings by the mean shingle
    * multiplicity (≈1 on natural text; bounded by doc length on degenerate
    * repetition), after which shuffle volume is again O(docs) signatures +
    * O(docs × bands) band keys. The "#r" suffix is unambiguous: r is
    * digit-only, so distinct (h, r) pairs never collide.
    */
  def minhashWeightedPairs(documents: DataFrame, n: Int, perms: Int, bands: Int,
                           num: Int, den: Int): DataFrame = {
    // bag postings persist for candidate VERIFICATION only — the weighted
    // signatures come from the per-row kernel (expansion processed
    // inline), so the signature path pays zero exchanges, like the
    // unweighted family
    val (bag, nBag) = graft.engine.QueryCaches.registeredCounted(bagPostings(documents, n))
    val sigs = spread(documents)
      .select(col("doc_id"),
        graft.functions.TextFunctions.graftMinhashSigWeighted(col("text"), n, perms).as("sig"))
      .filter(size(col("sig")) > 0)
    val (wsizes, localN) = weightedSizesRegime(documents, bag)
    val wParts = graft.engine.Sizing.partsFor(documents.sparkSession, nBag,
      graft.engine.Sizing.PostingRowsPerPartition)
    // same weighted length bound as [[bagJaccardPairs]], applied to the
    // (deduped) band collisions before the posting-granular verify joins;
    // band self-join sized + sort-free in the wide regime (localN empty ⇔
    // the docs count cleared the broadcast ceiling), like the set family
    val candidates = lengthCompatible(
      bandCandidates(sigs, perms, bands,
        parts = if (localN.isEmpty) Some(wParts) else None),
      wsizes.select(col("doc_id"), col("w_sh").as("n_sh")), num, den,
      wParts,
      localN.orElse(Some(graft.engine.Sizing.SizesBroadcastMaxDocs + 1)))
    // AQE picks the verify-join strategy from the candidate set's runtime size
    val common = candidates
      .join(bag.select(col("doc_id").as("doc_a"), col("h"), col("cnt").as("cnt_a")), "doc_a")
      .join(bag.select(col("doc_id").as("pb"), col("h").as("h_b"), col("cnt").as("cnt_b")),
        col("doc_b") === col("pb") && col("h") === col("h_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("cnt_a"), col("cnt_b"))).as("w_common"))
    common
      .join(wsizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("w_sh", "wsize_a"), "doc_a")
      .join(wsizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("w_sh", "wsize_b"), "doc_b")
      .filter(col("w_common") * den >= (col("wsize_a") + col("wsize_b") - col("w_common")) * num)
      .select("doc_a", "doc_b", "w_common", "wsize_a", "wsize_b")
  }

  /** Duplicate-CLUSTER resolution over a near-dup pair graph: connected
    * components by iterative min-label propagation (each vertex adopts the
    * smallest label among itself and its neighbors until fixpoint), so a
    * duplicate CHAIN a~b, b~c collapses to one cluster labeled by its
    * minimal doc id — the correct "keep one document per duplicate group"
    * semantics, where pairwise dropping can over- or under-delete.
    *
    * Scale topology: the classic Pregel loop — per iteration one equi-join
    * of labels onto edges + a min aggregation (both map-side combinable),
    * plus a pointer-doubling shortcut (label(v) <- label(label(v))), so it
    * converges in O(log component-diameter) rounds; near-dup clusters are
    * shallow (chains of a few docs), so 2–4 rounds in practice. Only the
    * scalar changed-count crosses the driver per round. Deterministic, so
    * the DuckDB oracle replays it as reachability (recursive CTE) +
    * min-over-reachable — fixpoint label propagation and min-of-component
    * are the same function.
    *
    * Each round ends in an eager [[graft.engine.Snapshot.pin]]: without
    * it the loop's logical plan doubles per iteration (every round embeds
    * the full lineage of all prior rounds) and analysis alone OOMs after
    * ~8 rounds. Cutting lineage keeps round N's plan a constant
    * two-shuffle shape regardless of N; `pin` upgrades itself to reliable
    * `checkpoint` whenever the session has a checkpoint dir configured
    * (the executor-loss-safe cluster form).
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // PIN (localCheckpoint), do NOT persist: a persist here would make the
    // whole upstream pair computation a CACHE-FILL plan, and cached plans
    // are planned STATICALLY (AQE is off under InMemoryRelation unless
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is set) —
    // which silently reverts the minhash candidate-verify join to the
    // static broadcast shape the measured plans rejected. Measured at
    // 64×/8 GiB (320k docs): the static cache-fill plan broadcast a ~22M-key
    // UnsafeHashedRelation (512 MB longArray per task at rebuild) and died
    // with UNABLE_TO_ACQUIRE_MEMORY, while the identical chain un-persisted
    // (minhash_lsh standalone) AQE-planned the same join and ran in 23 s.
    // The pin materializes under full AQE once; the loop's per-round joins
    // then scan the checkpointed blocks.
    val edges = pairs.select(col("doc_a").as("s"), col("doc_b").as("d"))
      .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("d")))
      .distinct()
      .transform(graft.engine.Snapshot.pin)
    // initialization IS round 1 at lower cost: every neighbor's initial
    // label is its own id, which the edge row already carries — so
    // min(self, neighbors) needs no join yet, just one aggregation.
    // Shallow components (pairs/triangles) converge here and pay a single
    // confirming loop round.
    var labels = edges.select(col("s").as("id"), col("d").as("label"))
      .union(edges.select(col("s").as("id"), col("s").as("label")))
      .groupBy("id").agg(min("label").as("label"))
      .transform(graft.engine.Snapshot.pin)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // one shuffle per round: the vertex's own row rides along tagged, so
      // "changed" is a cheap scan of the checkpointed result instead of a
      // second shuffle join against the previous labels
      val prop = labels.join(edges, col("id") === col("s"))
        .select(col("d").as("id"), col("label"), lit(false).as("own"))
        .union(labels.select(col("id"), col("label"), lit(true).as("own")))
        .groupBy("id")
        .agg(min("label").as("label"),
             min(when(col("own"), col("label"))).as("old"))
        .transform(graft.engine.Snapshot.pin)
      val changed = prop.filter(col("label") =!= col("old")).count()
      // pointer-doubling shortcut: label(v) <- min(label(v), label(label(v))).
      // Labels are always node ids present in the relation, so the self-join
      // resolves; with it, convergence needs O(log diameter) rounds instead
      // of O(diameter) — a 1,000-cell filament converges in ~10 rounds, and
      // the default maxIter=20 covers diameters up to ~2^20 rather than 20.
      // Same fixpoint (min id of the component), so the reachability oracle
      // is untouched.
      val short = prop.select(col("id"), col("label"))
        .join(prop.select(col("id").as("l_id"), col("label").as("l2")),
          col("label") === col("l_id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("l2"), col("label")))
          .as("label"))
        .transform(graft.engine.Snapshot.pin)
      labels = short
      converged = changed == 0
      iter += 1
    }
    // A component with log2(diameter) > maxIter would exit here with labels
    // still in flight — silently wrong cluster ids. With the doubling
    // shortcut the 20-round default covers any realistic diameter (~2^20);
    // hitting this means the input is not a pair graph at all; fail loudly.
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge after $maxIter rounds " +
        "(doubling shortcut active — this input is pathological)")
    // (LOCAL checkpoint blocks — the no-checkpoint-dir branch of
    // Snapshot.pin — are freed by the ContextCleaner on GC; there is no
    // explicit unpersist for a localCheckpoint. RELIABLE checkpoint files,
    // taken when a checkpoint dir IS configured, are only auto-deleted
    // under spark.cleaner.referenceTracking.cleanCheckpoints=true — see
    // Snapshot's scaladoc for the deployment note.)
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Fixed-iteration PageRank over an undirected pair graph, in EXACT
    * integer arithmetic so the oracle replays every round bit-for-bit:
    * total mass 10¹² distributes as
    * `pr₀ = S div N`, then per round
    * `pr' = (0.15·S) div N + (85 · Σ_{u∈nbr} (pr(u) div deg(u))) div 100`.
    * Integer floor division loses a few units of mass per round (and
    * dangling nodes leak their mass entirely — the classic simplification);
    * both effects are deterministic and identical in the oracle, which
    * unrolls the same `iters` rounds as CTEs.
    *
    * Scale design (standard Pregel topology, same as
    * [[duplicateClusters]]): the degree is joined into the edge relation
    * ONCE up front; each round is then one hash join pr⋈edges (both sides
    * partitioned on the source id — the exchange is reused across rounds)
    * plus one map-side-combined sum per target, and a broadcast-joined
    * 1-row N for the teleport term. Nothing data-sized ever reaches the
    * driver; the plan is linear in `iters` (no lineage blowup at 5
    * rounds — use checkpointing past ~20, as in duplicateClusters).
    */
  def pageRank(pairs: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    val mass = 1000000000000L
    val edges = pairs.select(col("doc_a").as("s"), col("doc_b").as("d"))
      .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("d")))
    val deg = edges.groupBy("s").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "s")
      .transform(graft.engine.QueryCaches.registered)
    val nTotal = nodes.agg(count(lit(1)).as("n_total"))
    val base = nodes.select(col("doc_id"))
      .crossJoin(broadcast(nTotal)) // 1-row N fold-in, the tfidf pattern
      .transform(graft.engine.QueryCaches.registered)
    var pr = base.select(col("doc_id"), col("n_total"),
      expr(s"$mass div n_total").as("pr"))
    for (_ <- 0 until iters) {
      val inflow = pr.join(edgesDeg, col("doc_id") === col("s"))
        .select(col("d"), expr("pr div deg").as("m"))
        .groupBy("d").agg(sum(col("m")).as("m"))
      pr = base.join(inflow, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("n_total"),
          (expr(s"(15 * $mass div 100) div n_total") +
            expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100")).as("pr"))
    }
    pr.select(col("doc_id"), col("pr"))
  }

  /** Band-key explode for 60-bit SimHash signatures: (doc_id, sig) →
    * (doc_id, sig, band, key) with `bands` keys of `bits/bands` bits each.
    */
  def simhashBands(sigs: DataFrame, bits: Int = 60, bands: Int = 6): DataFrame = {
    val w = bits / bands
    val mask = (1L << w) - 1
    sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * w).bitwiseAND(lit(mask))): _*)))
      .toDF("doc_id", "sig", "band", "key")
  }

  /** Incremental (stream-shaped) near-dup: sign each NEW document PER ROW
    * with the stateless [[graft.functions.TextKernels.simhash]] kernel —
    * no shuffle, no aggregation — and band-join it against a precomputed
    * corpus index ([[simhashBands]] over the historical signatures).
    * Verification is exact Hamming ≤ maxDist; by pigeonhole (6 bands of
    * 10 bits) the banded join is EXACT for maxDist ≤ 5, so the output
    * equals the plain all-pairs Hamming join — which is what the oracle
    * replays. Multi-band collisions dedup STATELESSLY: both signatures are
    * present post-join, so "is this the first matching band?" is a row
    * predicate, not a distinct.
    *
    * Because every stage is a projection, generator, or stream-static
    * equi-join, the SAME function runs over a streaming `newDocs`
    * (`Streaming.neardupStream`): continuous ingest dedup against a
    * historical corpus with zero streaming state.
    */
  def incrementalNeardupPairs(newDocs: DataFrame, corpusIndex: DataFrame,
                              maxDist: Int, bits: Int = 60, bands: Int = 6): DataFrame = {
    val w = bits / bands
    // same pigeonhole bound as simhashPairs: beyond bands-1 differing bits
    // the band join silently loses recall, contradicting the exactness
    // contract above — fail fast instead
    require(maxDist <= bands - 1,
      s"$bands-band pigeonhole guarantees recall only for distance <= ${bands - 1}")
    val probe = simhashBands(
      newDocs.select(col("doc_id"),
        graft.functions.TextFunctions.graftSimhash(col("text"), bits).as("sig")),
      bits, bands)
      .toDF("new_id", "new_sig", "band", "key")
    val idx = corpusIndex.toDF("old_id", "old_sig", "band", "key")
    val x = col("new_sig").bitwiseXOR(col("old_sig"))
    val firstBand = least((0 until bands).map(b =>
      when(shiftright(x, b * w).bitwiseAND(lit((1L << w) - 1)) === 0, lit(b))
        .otherwise(lit(bands))): _*)
    probe.join(idx, Seq("band", "key"))
      .filter(bit_count(x) <= maxDist && col("band") === firstBand &&
        col("new_id") =!= col("old_id"))
      .select(col("new_id"), col("old_id"), bit_count(x).as("hamming"))
  }

  /** 60-bit SimHash per document over whitespace tokens: bit j is set when
    * Σ_tokens (±1 from bit j of md5(token)) is positive. The sum runs over
    * token OCCURRENCES (explode keeps duplicates), so this is the
    * frequency-weighted SimHash — a token appearing k times contributes
    * weight k. One hash agg with 60 codegen'd sums over exploded tokens.
    */
  def simhashSignatures(documents: DataFrame, bits: Int = 60): DataFrame = {
    val th = spread(documents)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("t"))
      .select(col("doc_id"), PortableHash.md5Long(col("t")).as("h"))
    val bitSums = (0 until bits).map(j =>
      sum((shiftright(col("h"), j) % 2L) * 2L - 1L).as(s"b$j"))
    th.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, via 6×10-bit
    * pigeonhole banding (EXACT for maxDist ≤ 5): candidates must share one
    * 10-bit band, then the full 60-bit Hamming distance filters.
    * Signatures come from the per-row [[graft.functions.SimhashFP]] kernel
    * (spec-equal to the [[simhashSignatures]] aggregation form), so the
    * token explode + 60-sum exchange is gone — the only shuffle left is
    * the band join itself.
    */
  def simhashPairs(documents: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 5, "6-band pigeonhole guarantees recall only for distance <= 5")
    val sigs = spread(documents)
      .filter(size(TextAnalysis.tokens(col("text"))) > 0)
      .select(col("doc_id"),
        graft.functions.TextFunctions.graftSimhash(col("text"), 60).as("sig"))
    val bandKeys = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 6).map(b => shiftright(col("sig"), b * 10) % 1024L): _*)))
      .toDF("doc_id", "sig", "band", "key")
    bandKeys.as("a")
      .join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
