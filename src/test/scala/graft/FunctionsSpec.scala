package graft

import graft.functions.{CentsSum, VectorFunctions}
import org.apache.spark.sql.functions._

/** Regression tests for the native function edge cases found in review. */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("CentsSum matches the DECIMAL(18,2) HALF_UP cast on half-way doubles") {
    // 8.115 as a double is 8.1149999…; the shortest-representation HALF_UP
    // path (Spark's cast) yields 8.12 — Math.round on the binary product
    // would give 8.11
    val values = Seq(8.115, -2.005, 0.005, 1.0, 9.64, 185.22, 0.0)
    val viaCast = values.toDF("v")
      .select(sum(col("v").cast("decimal(18,2)")).cast("double")).as[Double].first()
    val viaAgg = values.map(CentsSum.reduce(0L, _)).sum / 100.0
    assert(viaAgg == viaCast)
    assert(CentsSum.reduce(0L, 8.115) == 812L)
  }


  test("SignPlanesFP fused buckets are bit-identical to the composed per-plane form") {
    val planes = graft.llm.Similarity.defaultPlanes
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fused = emb.select(col("vec_id"),
        VectorFunctions.graftSignPlanes(col("embedding"), planes, 8, 4).as("bs"))
      .as[(Long, Seq[Long])].collect().toMap
    val composed = emb.select(col("vec_id") +:
        (0 until 8).map(t => graft.llm.Similarity.bucketExpr(col("embedding"), planes, t, 4).as(s"b$t")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_)).toSeq).toMap
    assert(fused == composed)
    // null element -> all-zero buckets on both forms
    val withNull = Seq((1L, Seq[java.lang.Float](1.0f, null))).toDF("vec_id", "embedding")
    val f = withNull.select(VectorFunctions.graftSignPlanes(col("embedding"), planes, 8, 4))
      .as[Seq[Long]].head()
    assert(f == Seq.fill(8)(0L))
  }

  test("CurationCountsFP fused scan equals the composed regex forms, element by element") {
    import graft.llm.TextAnalysis
    // corpus fixture + hand-built edges: underscores (word-boundary class
    // includes _, alnum-run class does not), marker-adjacent punctuation,
    // non-ASCII bytes (must act as boundaries), markers at string edges,
    // a marker shared mid-run ("them" must NOT hit "the"), multi-space
    // runs, and the empty string
    val edges = Seq(
      "the_cat is_ not the same", "the.the,the", "¡el año! de la ünd",
      "the", "them theater the2 _the the_", "a  b   c", "", "de des der",
      "is:to;of!and?the und ist das est une los que", "__ _a_ 9_9 x")
      .toDF("text")
    val docs = spark.read.parquet(s"$sf1/documents.parquet").select("text")
      .union(edges)
    val cc = TextAnalysis.curationCounts(col("text"))
    val markers = TextAnalysis.langMarkers
    val checks: Seq[org.apache.spark.sql.Column] = Seq(
      (col("__cc")(0) === size(TextAnalysis.tokens(col("text")))).as("ws_ok"),
      (col("__cc")(1) === TextAnalysis.regexCount(col("text"), TextAnalysis.wordRe)).as("word_ok"),
      (col("__cc")(2) === TextAnalysis.regexCount(col("text"), TextAnalysis.punctRe)).as("punct_ok")) ++
      markers.zipWithIndex.map { case ((lang, words), i) =>
        (col("__cc")(3 + i) === TextAnalysis.stopwordHits(col("text"), words)).as(s"${lang}_ok")
      }
    val rows = docs.withColumn("__cc", cc).select(checks: _*)
    val bad = rows.filter(rows.columns.map(c => !col(c)).reduce(_ || _)).count()
    assert(bad == 0, s"$bad rows where the fused kernel disagrees with the regex forms")
  }

  test("ShinglesFP kernel is output-equal to the composed HOF form") {
    import graft.llm.TextAnalysis
    for (sf <- Seq("sf0.001", "sf0.01"); n <- Seq(2, 3, 5)) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val mism = docs.select(
          TextAnalysis.shingles(col("text"), n).as("k"),
          TextAnalysis.shinglesComposed(col("text"), n).as("c"))
        .filter(not(col("k") <=> col("c"))).count()
      assert(mism == 0, s"$sf n=$n: kernel diverges from composed form")
    }
    // edge cases: multi-space runs, leading/trailing spaces, short, empty, null
    val edge = Seq("a  b   c d", "  x y  ", "one", "", "a a a a", null)
      .toDF("text")
    val mism = edge.select(
        TextAnalysis.shingles(col("text"), 2).as("k"),
        TextAnalysis.shinglesComposed(col("text"), 2).as("c"))
      .filter(not(col("k") <=> col("c"))).count()
    assert(mism == 0)
  }

  test("shinglesAll keeps duplicates in document order; distinct of it == shingles") {
    import graft.llm.TextAnalysis
    val df = Seq("a b a b a", "x  y", "one", "", null: String).toDF("text")
    val got = df.select(TextAnalysis.shinglesAll(col("text"), 2).as("all"),
        TextAnalysis.shingles(col("text"), 2).as("dst"))
      .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1)))
    assert(got(0)._1 == Seq("a b", "b a", "a b", "b a"), "duplicates kept, in order")
    assert(got.forall { case (all, dst) => all.distinct == dst },
      "first-occurrence distinct of the multiset equals the set kernel")
    // fixture-wide: multiset cardinality = len(tokens) - n + 1
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bad = docs.select(size(TextAnalysis.shinglesAll(col("text"), 3)).as("m"),
        greatest(size(TextAnalysis.tokens(col("text"))) - 2, lit(0)).as("want"))
      .filter(col("m") =!= col("want")).count()
    assert(bad == 0)
    // SQL surface
    graft.functions.GraftExtensions.install(spark)
    assert(spark.sql("SELECT graft_shingles_all('a b a b', 2) AS s")
      .head().getSeq[String](0) == Seq("a b", "b a", "a b"))
  }

  test("Quant8FP quantizes with floor semantics; null/zero vectors drop out") {
    import graft.functions.VectorFunctions
    val rows = Seq(
      (1L, Seq[java.lang.Float](1.0f, -0.5f, 0.25f)),   // ma=1: q = [127, -64, 31]
      (2L, Seq[java.lang.Float](0.0f, 0.0f)),           // zero max -> dropped
      (3L, Seq[java.lang.Float](2.0f, null))            // null element -> dropped
    ).toDF("vec_id", "embedding")
    val got = rows.select(col("vec_id"), VectorFunctions.graftQuant8(col("embedding")).as("q"))
      .filter(size(col("q")) === 4)
      .select(col("vec_id"), col("q")(1).as("cs"), col("q")(2).as("mn"), col("q")(3).as("mx"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // floor(-0.5*127) = floor(-63.5) = -64; checksum 127*1 + -64*2 + 31*3 = 92
    assert(got == Seq((1L, 92L, -64L, 127L)))
  }

  test("per-row MinHash signature kernel equals the aggregation form on fixtures") {
    import graft.llm.Dedup
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val aggForm = Dedup.minhashSignaturesFromPosts(Dedup.shinglePostings(docs, 3), 64)
        .withColumnRenamed("sig", "agg_sig")
      val mism = Dedup.minhashSignatures(docs, 3, 64)
        .join(aggForm, "doc_id")
        .filter(not(col("sig") <=> col("agg_sig"))).count()
      assert(mism == 0, s"$sf: kernel signature diverges from the aggregation form")
      // same doc set too (kernel filters empty-shingle docs like the agg)
      assert(Dedup.minhashSignatures(docs, 3, 64).count() == aggForm.count())
      // weighted: kernel == aggregation over the explicit multiset expansion
      val bag = Dedup.bagPostings(docs, 3)
      val expanded = bag
        .select(col("doc_id"), col("h"),
          explode(org.apache.spark.sql.functions.sequence(lit(1L), col("cnt"))).as("r"))
        .select(col("doc_id"),
          when(col("r") === 1L, col("h"))
            .otherwise(graft.engine.PortableHash.md5Long(
              concat(col("h").cast("string"), lit("#"), col("r").cast("string")))).as("h"))
      val wAgg = Dedup.minhashSignaturesFromPosts(expanded, 64)
        .withColumnRenamed("sig", "agg_sig")
      val wKernel = docs.select(col("doc_id"),
        graft.functions.TextFunctions.graftMinhashSigWeighted(col("text"), 3, 64).as("sig"))
        .filter(size(col("sig")) > 0)
      val wMism = wKernel.join(wAgg, "doc_id")
        .filter(not(col("sig") <=> col("agg_sig"))).count()
      assert(wMism == 0, s"$sf: weighted kernel diverges from the expansion-agg form")
      assert(wKernel.count() == wAgg.count())
    }
  }

  test("from-hashes MinHash signature over docsets equals the text kernel") {
    // minhashLshPairs' signature source (it derives sigs off the docsets
    // cache): bit-equality with the per-row kernel
    import graft.llm.Dedup
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val posts = Dedup.shinglePostings(docs, 3)
      val fromHs = Dedup.docsetsOf(posts, 4)._1
        .select(col("doc_id"),
          graft.functions.TextFunctions.graftMinhashSigFromHashes(col("hs"), 64)
            .as("hs_sig"))
      val kernel = Dedup.minhashSignatures(docs, 3, 64)
      val mism = kernel.join(fromHs, "doc_id")
        .filter(not(col("sig") <=> col("hs_sig"))).count()
      assert(mism == 0, s"$sf: from-hashes signature diverges from the kernel")
      assert(kernel.count() == fromHs.count())
    }
  }

  test("per-row SimHash kernel equals the aggregation form on fixtures") {
    import graft.llm.{Dedup, TextAnalysis}
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .filter(size(TextAnalysis.tokens(col("text"))) > 0)
      val mism = Dedup.simhashSignatures(docs)
        .withColumnRenamed("sig", "agg_sig")
        .join(docs.select(col("doc_id"),
          graft.functions.TextFunctions.graftSimhash(col("text"), 60).as("row_sig")), "doc_id")
        .filter(col("agg_sig") =!= col("row_sig")).count()
      assert(mism == 0, s"$sf: kernel diverges from the aggregation form")
    }
    // tokenless text signs to 0; SQL surface registered
    graft.functions.GraftExtensions.install(spark)
    assert(spark.sql("SELECT graft_simhash('', 60) AS s").head().getLong(0) == 0L)
    assert(spark.sql("SELECT graft_simhash('alpha beta', 60) AS s").head().getLong(0) != 0L)
  }

  test("SQL surface: graft_dot and graft_shingles registered on a live session") {
    graft.functions.GraftExtensions.install(spark)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql(
      "SELECT graft_shingles('a b c d', 3) AS s").head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    intercept[Exception] {
      spark.sql("SELECT graft_shingles('a b', 1 + 2)").head()
    }
    // the full kernel surface is SQL-reachable
    assert(spark.sql("SELECT graft_minhash('a b c d', 3, 64) AS s")
      .head().getSeq[Long](0).size == 64)
    assert(spark.sql("SELECT graft_quant8(array(1.0D, -0.5D)) AS q")
      .head().getSeq[Long](0).size == 4)
  }

  test("graft_dot returns null when an element is null (zip_with parity)") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        VectorFunctions.graftDot(col("a"), col("b")).as("dot"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty, "null element must nullify the dot product")
    // and matches the HOF composition it replaces
    val hof = df.select(col("id"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("dot"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == hof)
  }

  test("BottomKSample: any reduce/merge schedule equals the sorted bottom-k") {
    val k = 8
    val s = new graft.functions.BottomKSample(k)
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val n = rng.nextInt(40) + 1
      val pairs = Vector.fill(n)((rng.nextLong() & 0xFFFFFFFL, rng.nextInt(1000).toLong))
      val expect = pairs.sortBy(p => (p._1, p._2)).take(k).map(_._2).sorted
      // sequential reduce in a shuffled order
      val seq = s.finish(rng.shuffle(pairs).foldLeft(s.zero)(s.reduce))
      assert(seq == expect, s"trial $trial: sequential != sorted bottom-k")
      // arbitrary two-way merge split (the partial-aggregation path)
      val cut = rng.nextInt(n + 1)
      val (a, b) = rng.shuffle(pairs).splitAt(cut)
      val merged = s.finish(s.merge(
        a.foldLeft(s.zero)(s.reduce), b.foldLeft(s.zero)(s.reduce)))
      assert(merged == expect, s"trial $trial: merged != sorted bottom-k")
    }
  }

  test("BottomKSample tiers merge losslessly (k-min-of-k-mins = k-min of union)") {
    val k = 8
    val s = new graft.functions.BottomKSample(k)
    val sk = new graft.functions.BottomKSketch(k)
    val ms = new graft.functions.BottomKMergeSample(k)
    val rng = new scala.util.Random(7)
    val tiers = Vector.fill(6)(
      Vector.fill(rng.nextInt(30) + 1)((rng.nextLong() & 0xFFFFFFFL, rng.nextInt(1000).toLong)))
    val flat = s.finish(tiers.flatten.foldLeft(s.zero)(s.reduce))
    val tiered = ms.finish(
      tiers.map(t => sk.finish(t.foldLeft(sk.zero)(sk.reduce)))
        .foldLeft(ms.zero)(ms.reduce))
    assert(tiered == flat, "tiered merge must equal the flat sample bit-for-bit")
    // every stored tier sketch is compacted to ≤ k pairs
    tiers.foreach { t =>
      assert(sk.finish(t.foldLeft(sk.zero)(sk.reduce)).length <= k)
    }
  }

  test("BottomKSample hash ties resolve by value, independent of arrival order") {
    // adversarial: many pairs SHARE the k-th hash; the saturated-path prune
    // must tie-break on the full (hash, value) order or a later-arriving
    // smaller value at the tied hash is wrongly rejected (review finding)
    val k = 4
    val s = new graft.functions.BottomKSample(k)
    val pairs = Vector((1L, 50L), (2L, 60L), (7L, 90L), (7L, 80L), (7L, 70L),
      (7L, 95L), (3L, 40L), (7L, 65L))
    val expect = pairs.sortBy(p => (p._1, p._2)).take(k).map(_._2).sorted
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 30) {
      val order = rng.shuffle(pairs)
      assert(s.finish(order.foldLeft(s.zero)(s.reduce)) == expect,
        s"trial $trial order $order")
    }
  }

  test("BottomKSample under-k groups keep EVERY value (exact small-group path)") {
    val s = new graft.functions.BottomKSample(16)
    val pairs = Vector.tabulate(10)(i => (i.toLong * 31, i.toLong))
    assert(s.finish(pairs.foldLeft(s.zero)(s.reduce)) == (0L until 10L).toVector)
  }

  test("graft_sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { _ =>
      val a = Seq.fill(rng.nextInt(40))(rng.nextInt(60).toLong).distinct.sorted
      val b = Seq.fill(rng.nextInt(40))(rng.nextInt(60).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(5L), Seq(5L))) :+
      ((Seq(1L, 3L, 9L), Seq(2L, 4L, 8L)))
    // repartition so the projection cannot constant-fold into a
    // LocalTableScan (which would bypass the codegen assertion below)
    val df = rows.toDF("a", "b").repartition(4)
    val got = df.select(
      VectorFunctions.graftSortedIntersectCount(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    val rows2 = got.collect()
    assert(rows2.forall(r => r.getLong(0) == r.getLong(1)),
      rows2.filter(r => r.getLong(0) != r.getLong(1)).take(3).mkString(", "))
    // codegen path actually compiles (the DotProductFP nullability lesson):
    // executedPlan AFTER the action reflects the AQE final plan, where the
    // projection must print with a "*(id)" whole-stage prefix
    val plan = got.queryExecution.executedPlan.toString
    val fenced = plan.linesIterator.exists(l =>
      l.contains("sortedintersectcountfp") && l.contains("*("))
    assert(fenced, s"codegen fallback:\n$plan")
  }

  test("minhash and prefix pair rows equal the exact ngram jaccard rows") {
    // ngramJaccardPairs (inverted-index self-join, sizes attached by join)
    // is the reference implementation: every pair the two verified
    // families emit (docsets + sorted-array intersection) must carry
    // exactly the reference's n_common and sizes. The prefix path is
    // exact, so it must also find every reference pair.
    import spark.implicits._
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b", "n_common", "size_a", "size_b")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
      val lsh = rows(graft.llm.Dedup.minhashLshPairs(docs, 3, 64, 16, 4, 5))
      val exact = rows(graft.llm.Dedup.ngramJaccardPairs(docs, 3, 4, 5))
      assert(lsh.nonEmpty, s"$sf: minhash found no pair")
      assert(lsh.subsetOf(exact),
        s"$sf: minhash rows absent from the exact reference: ${(lsh -- exact).take(5)}")
      assert(rows(graft.llm.Dedup.ngramJaccardPairsPrefix(docs, 3, 4, 5)) == exact,
        s"$sf: prefix rows differ from the exact reference")
      graft.engine.QueryCaches.releaseAll(spark, blocking = true)
    }
  }
}
