package graft

/** Every registered query runs at sf0.001, is deterministic across two
  * executions, and has a matching oracle entry (the driver's t2 gate shape).
  */
class QueriesSmokeSpec extends SparkSuite {

  test("registry: unique names, one oracle per query, 256 queries") {
    val names = SparkEntry.registry.map(_.name)
    // toMap keeps the last of two same-named specs without a word
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(names.size == 256)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Round-10 oracle law: DuckDB inlines a CTE at each reference site, so a
  // selector-style oracle that replays a decision DAG must MATERIALIZE its
  // shared stages or the replay re-computes whole subtrees multiplicatively
  // (measured: 12.7 s -> 0.8 s at sf0.01; >73 GB ENOSPC -> zero spill at
  // the x10 tier — BASELINE.md "sf1-tier oracle run"). Pin: every named
  // CTE head in the two selector oracles carries AS MATERIALIZED, so a
  // future CTE added to either template can't silently reopen the blowup.
  for (name <- Seq("ivf_autoprobe_neardup", "ann_recall_target")) {
    test(s"$name oracle materializes every named CTE") {
      val sql = SparkEntry.oracleSql(name)
      // anchor-free on purpose: the rewrite in withMaterializedCtes only
      // matches line-START heads, so this guard must catch the one shape
      // the rewrite can miss — a CTE head reflowed mid-line. `\w AS (`
      // only ever matches a bare named head: materialized heads read
      // `AS MATERIALIZED (`, VALUES-list heads (`np(np) AS (`) end in `)`,
      // and column aliases are `AS name`, never `name AS (`.
      val bare = """(\w+) AS \(""".r.findAllMatchIn(sql).map(_.group(1)).toSeq
      assert(bare.isEmpty, s"$name oracle has un-materialized CTE heads: $bare")
      val mat = """AS MATERIALIZED \(""".r.findAllMatchIn(sql).size
      assert(mat >= 10, s"$name oracle lost its materialized CTEs (found $mat)")
    }
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and is deterministic at sf0.001") {
      val a = fn(spark, sf1)
      val cols = a.columns.map(org.apache.spark.sql.functions.col).toSeq
      val r1 = a.orderBy(cols: _*).collect().toSeq
      val r2 = fn(spark, sf1).orderBy(cols: _*).collect().toSeq
      assert(r1 == r2, s"$name not deterministic")
      // cache lifecycle hygiene (round-7 verdict #5): every persist the
      // engine took while answering this query must be REGISTERED, so the
      // paired release leaves the session's SQL cache completely empty —
      // an unregistered persist would accumulate blocks for the lifetime
      // of a long-lived session. Checked per query, over every query.
      graft.engine.QueryCaches.releaseAll(spark, blocking = false)
      assert(org.apache.spark.sql.graftbridge.CacheBridge.cacheIsEmpty(spark),
        s"$name left unregistered persisted plans in the cache manager")
    }
  }
}
