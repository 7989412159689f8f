package graft

import org.apache.spark.sql.execution.{ExplainMode, FormattedMode}

/** Plan-quality regression tests over the CATALOG queries themselves
  * (SURVEY §8.7's claims, previously hand-verified via graft.Explain):
  *
  *  - no CartesianProduct anywhere except the explicitly gated exact
  *    all-pairs anchor q21 (and q66, which embeds it to measure recall);
  *  - dimension joins broadcast (BroadcastHashJoin, not SortMergeJoin);
  *  - point/selective predicates reach the parquet scan (PushedFilters);
  *  - global top-k plans as TakeOrderedAndProject, not a full sort.
  *
  * Plans are built at sf0.001 — every asserted property here comes from
  * an explicit hint (`broadcast()`), a filter's position, or an
  * orderBy+limit shape, all of which are scale-independent, so the same
  * plan holds at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(FormattedMode)
  }

  /** Queries allowed to contain a CartesianProduct: q21 is the size-gated
    * exact O(n²) correctness anchor, q66 embeds it as the recall
    * denominator. (Broadcast nested-loop probe scans — q20/q57/q67 — are
    * not cartesian: the broadcast side is a ≤10-row probe set.) */
  private val cartesianAllowed = Set("q21_embedding_neardup", "q66_lsh_recall")

  /** q37 trains an MLlib ALS model inside `run` (plan exercised by
    * AlsSpec's planned-serve-path tests); q86–q88 likewise run their GD
    * epochs eagerly (each epoch one collected query over the carried
    * model — the returned plan is just the local 4-row loss relation,
    * and GdMfSpec covers the training itself). */
  private val skipped = Set("q37_als_recs", "q86_mf_gd_training",
    "q87_bpr_gd_training", "q88_lightgcn_training")

  test("no catalog query plans a CartesianProduct (except the gated q21 anchor)") {
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(cartesianAllowed).filterNot(skipped)
      .foreach { name =>
        val p = plan(name)
        assert(!p.contains("CartesianProduct"),
          s"$name plans a CartesianProduct:\n$p")
      }
  }

  test("dimension joins broadcast the small side") {
    Seq("q04_customer_history", "q16_region_stats", "q32_item_cf",
        "q68_cohort_stats", "q70_occupation_stats",
        "q84_cohort_monthly").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name has no BroadcastHashJoin in:\n$p")
    }
  }

  test("ALS serving broadcasts the item-factor side, never the user side") {
    // q125 runs AlsPipeline.serveTopK over fixed factor tables — the
    // exact serving plan q37 runs. The item-factor join must be the
    // broadcast (items are the bounded dimension; users are not): see
    // the scoreFactors docstring for the size rationale and the
    // degrade-to-shuffle guidance past a few GB of item factors.
    //
    // Auto-broadcast is disabled for the plan build (SkewJoinSpec's
    // idiom): at sf0.001 BOTH factor tables fit the 10 MB default, so
    // with it on, a dropped broadcast(itemFactors) hint would still
    // pass and a user-side broadcast could never fail. With -1, the
    // ONLY BroadcastHashJoin left is the hinted one, and the
    // user-factor join must have degraded to a shuffle join.
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q125_als_serve_fixed")
      // Formatted-mode node detail blocks are blank-line separated.
      // Assert by JOIN KEY, not by global count: the cached Ratings.view
      // subtree embeds its own l_orderkey BroadcastHashJoins (planned
      // earlier, with auto-broadcast still on) and formatted explain
      // prints cached subtrees too.
      def blocks(op: String): Seq[String] =
        s"\\(\\d+\\) $op[\\s\\S]*?\\n\\n".r.findAllIn(p).toSeq
      val bhj = blocks("BroadcastHashJoin")
      assert(bhj.count(_.contains("Left keys [1]: [item_id")) == 1,
        s"expected exactly one item_id-keyed BroadcastHashJoin (the " +
          s"hinted item-factor join):\n$p")
      assert(!bhj.exists(_.contains("Left keys [1]: [user_id")),
        s"a user_id-keyed BroadcastHashJoin planned — the user side " +
          s"must never broadcast:\n$p")
      // the user-factor join (single-key user_id equi-join) must now be
      // a SortMergeJoin — if it is missing, the user side got broadcast
      val smj = blocks("SortMergeJoin")
      assert(smj.exists(_.contains("Left keys [1]: [user_id")),
        s"no user_id-keyed SortMergeJoin — the user-factor join did not " +
          s"degrade to a shuffle join with auto-broadcast off:\n$p")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
  }

  test("selective predicates are pushed into the parquet scan") {
    // q04: o_custkey = 42 must reach the orders scan; q07: p_partkey = 100
    // must reach the part scan — a non-empty PushedFilters list.
    Seq("q04_customer_history", "q07_point_lookup").foreach { name =>
      val p = plan(name)
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
        s"$name pushed no filters to its scans:\n$p")
    }
  }

  test("as-of and range joins keep their scale-safe shapes") {
    // q75: the union+running-last construction needs NO join operator at
    // all — if a Join ever appears, someone rewrote it as a range probe.
    val p75 = plan("q75_asof_join")
    assert(!p75.contains("Join"), s"q75 grew a join:\n$p75")
    // q76: the bucketized rewrite must stay an equi-join — a
    // BroadcastNestedLoopJoin means the BETWEEN predicate became the join
    // condition (the per-key nested loop the bucketing exists to avoid).
    val p76 = plan("q76_range_join")
    assert(!p76.contains("NestedLoop"), s"q76 plans a nested loop:\n$p76")
    assert(p76.contains("HashJoin") || p76.contains("SortMergeJoin"),
      s"q76 has no equi-join:\n$p76")
  }

  test("q77 KMV aggregates with bounded state — no per-key window sort") {
    // The sketch's scale contract: the k-min set is a partial aggregate
    // (ObjectHashAggregate over the typed KMinDistinct buffer), NOT a
    // row_number window that sorts every distinct hash of an event type
    // inside one task.
    val p = plan("q77_kmv_sketch")
    assert(!p.contains("Window"), s"q77 regressed to a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q77's k-min set is not a typed partial aggregate:\n$p")
  }

  test("q95 per-key top-k aggregates with bounded state — no per-key window sort") {
    val p = plan("q95_user_topk_agg")
    assert(!p.contains("Window"), s"q95 regressed to a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q95's top-k is not a typed partial aggregate:\n$p")
  }

  test("q129 per-cell quota selects with bounded state — no per-cell window sort") {
    // The curation stage's scale contract (q105's rule on semantic
    // strata): the quota draw is the bounded TopKPairs partial
    // aggregate — ≤ quota pairs per task per cell reach the shuffle —
    // never a row_number window that sorts a whole cell's population
    // inside one task.
    val p = plan("q129_cluster_balance")
    assert(!p.contains("Window"), s"q129 regressed to a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q129's quota draw is not a typed partial aggregate:\n$p")
  }

  test("q98 CMS builds as one bounded partial aggregate — no window, no join") {
    // The d×w table must come from a single ObjectHashAggregate pass
    // over the token stream (merge = elementwise add); candidate
    // estimates then read the broadcast one-row sketch.
    val p = plan("q98_cms_heavy_hitters")
    assert(!p.contains("Window"), s"q98 plans a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q98's sketch is not a typed partial aggregate:\n$p")
  }

  test("q108 HLL registers build as one bounded partial aggregate") {
    // The m-register table must come from a single ObjectHashAggregate
    // pass (merge = elementwise max) — no window, and no distinct()
    // shuffle of the keys themselves (dedup is absorbed by max): the
    // whole point of sketching the count is never materializing the
    // distinct set. (The exact count reported ALONGSIDE for comparison
    // is allowed its aggregate; what's pinned is no Window and the
    // typed-aggregate register build.)
    val p = plan("q108_hll_sketch")
    assert(!p.contains("Window"), s"q108 plans a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q108's registers are not a typed partial aggregate:\n$p")
  }

  test("q99 bloom probe is map-side — no corpus-side gram join for the filter") {
    // The corpus gram stream must meet the bit array via a broadcast
    // (one-row) join only; the exact-comparison join is broadcast too.
    // A SortMergeJoin anywhere means the filter stopped being a
    // broadcast bit test.
    val p = plan("q99_bloom_decontam")
    assert(!p.contains("SortMergeJoin"),
      s"q99's probe regressed to a shuffle join:\n$p")
  }

  test("q104 really joins on the salted key") {
    // The physical join keys must include __salt: if a refactor drops
    // the salt column from the join, the query silently degrades to the
    // plain single-partition-per-hot-key shuffle and the skew guarantee
    // is gone (results stay identical — only the plan can tell).
    val p = plan("q104_skew_join")
    assert(p.contains("__salt"),
      s"q104's join lost the salt sub-key:\n$p")
  }

  test("q117 PII redaction is a pure scan-transform — no join, no aggregation") {
    // A redaction pass over 100 TB must stay embarrassingly parallel:
    // synthesize + detect + redact are all row-local expressions, so the
    // plan may contain no join and no aggregate — only the final
    // presentation sort is allowed to exchange.
    val p = plan("q117_pii_redact")
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      s"q117 stopped being a pure scan-transform:\n$p")
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    // q17: orderBy+limit over orders; q32: the final cos-desc limit 50
    // after the pair aggregation — both must be a streaming top-k.
    Seq("q17_global_topk", "q32_item_cf",
        "q90_sampled_heavy_hitters").foreach { name =>
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name does not plan a TakeOrderedAndProject:\n$p")
    }
  }

  test("q32 item-CF shuffles by lead item, never by the (i, j) pair") {
    // The row-wise sparse product keys its one pair-sized exchange by the
    // lead item i and sums each lead's partners in a map; an exchange on
    // (i, j) would mean the near-unique pair hash aggregation is back.
    val p = plan("q32_item_cf")
    assert(p.contains("hashpartitioning(i#"),
      s"q32 no longer shuffles by lead item:\n$p")
    assert("""hashpartitioning\(i#\d+L?, j#\d+L?""".r.findFirstIn(p).isEmpty,
      s"q32 shuffles by the (i, j) pair:\n$p")
  }

  test("q130 deterministic Cypher LIMIT is a top-k, not a global sort") {
    // The engine's LIMIT-without-ORDER-BY determinism (CypherCompat's
    // RETURN executor) is implemented as sort+limit; Catalyst must fuse
    // that into TakeOrderedAndProject — per-partition top-300 and an
    // n-row driver merge — or the console sample would globally sort
    // the whole edge table at 100 TB just to show 300 rows.
    val p = plan("q130_cypher_path_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"q130 does not plan a TakeOrderedAndProject:\n$p")
  }

  test("q131 bounded LSH pairs: size gate is an aggregate, joins stay keyed") {
    // The SCALEBENCH r14 mitigation's contract: the bucket-size gate is
    // a count AGGREGATE on the same (band, bucket) key as the pair
    // join — never a Window that sorts a bucket's population in one
    // task — and every join is keyed (no cartesian/nested-loop forms:
    // the whole point is that no task's work can exceed Cap² per key).
    val p = plan("q131_minhash_pairs_bounded")
    assert(!p.contains("Window"), s"q131 plans a window:\n$p")
    assert(p.contains("HashAggregate"),
      s"q131's bucket-size gate is not an aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q131 degraded to an unkeyed join:\n$p")
  }

  test("q132 candidate profile is aggregates over one scan — no join") {
    // The dedup-stage work instrument (SURVEY §8.9) must stay cheaper
    // than what it measures: bucket sizes are one aggregate over the
    // shared banding and the profile row is a second global aggregate —
    // a JOIN appearing here would mean it started enumerating the very
    // pairs it exists to count.
    val p = plan("q132_lsh_candidate_profile")
    assert(!p.contains("Join"), s"q132 grew a join:\n$p")
    assert(p.contains("HashAggregate"), s"q132 lost its aggregate:\n$p")
    assert(!p.contains("Window"), s"q132 plans a window:\n$p")
  }
}
