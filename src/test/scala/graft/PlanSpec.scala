package graft

/** Plan-shape regression tests: the optimizations the 100 TB design relies
  * on must stay visible in the physical plan — pushdown reaching the
  * parquet scan, dimension joins staying broadcast, top-k staying
  * TakeOrdered, and the native cosine staying codegen'd.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filter and projection push into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("GreaterThan(l_discount,0.08)"), p.take(800))
    assert(p.contains("ReadSchema") && !p.contains("l_returnflag"),
      "scan must prune unused columns")
  }

  test("q06: dimension chain joins are broadcast, not shuffled") {
    val p = plan("q06_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"), "star dims must not sort-merge")
  }

  test("q13: global sort+limit runs as TakeOrderedAndProject") {
    val p = plan("q13_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("s01: native cosine expression appears in the plan (codegen path)") {
    val p = plan("s01_sim_topk")
    assert(p.contains("cosine_similarity"), p.take(800))
  }

  test("d03: minhash plan has no cartesian/nested-loop join") {
    val p = interiorPlan("d03_dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay equi-join/window based")
  }

  test("d08: bucketed pair verification joins only on equi-keys") {
    val p = plan("d08_dedup_pairs_bucketed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay an equi-join on (table, bandHash)")
  }

  test("x01: decontamination joins the benchmark n-gram set by equi-key") {
    val p = plan("x01_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "contamination check must stay a posting-list equi-join")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark n-gram set should be the broadcast build side")
  }

  test("q49: bloom pruning filters the fact scan ahead of the join") {
    val p = plan("q49_bloom_prune_join")
    // the might_contain predicate must sit on the lineitem side BEFORE
    // the join — i.e. in a Filter over the fact scan, fed by the
    // scalar-subquery bloom — not be evaluated post-join
    assert(p.contains("might_contain"), p.take(800))
    val filterIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      "bloom filter must appear below (after, in tree print order) the join")
    assert(!p.contains("CartesianProduct"))
  }

  test("x06: corpus prefix sum is salted — no window on bare low-card source") {
    val p = plan("x06_pack_sequences")
    // the corpus-sized running sum must partition on (source, bkt), and
    // the old scale-killer shape — a window partitioned on source with
    // the md5 ordering key directly — must not reappear
    assert("windowspecdefinition\\(source#\\d+, bkt#\\d+, h#".r
      .findFirstIn(p).isDefined, p.take(1200))
    assert(!"windowspecdefinition\\(source#\\d+, md5".r.findFirstIn(p).isDefined,
      "running sum must not partition on source alone")
    assert(p.contains("BroadcastHashJoin"),
      "bucket base offsets must join back as a broadcast")
  }

  test("q59: only the price histogram reaches the low-card window") {
    val p = plan("q59_value_deciles")
    // corpus-sized work is the partial+final histogram aggregate; the
    // window must sit ABOVE it (earlier in tree print order)
    val winIdx = p.indexOf("windowspecdefinition")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "expected histogram HashAggregate below the cumulative window")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "expect partial+final aggs for both histogram and rollup")
  }

  test("m04: frame-fingerprint matching stays a posting-list equi-join") {
    val p = plan("m04_media_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "frame matching must join on fp equality, never all-pairs")
  }

  test("q61: transition matrix windows only the aggregated pair counts") {
    val p = plan("q61_markov_transitions")
    // the normalizing window (partition by prev_type, low cardinality)
    // must sit above the pair aggregate, not over the raw event log
    val winIdx = p.indexOf("windowspecdefinition(prev_type")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "expected pair-count HashAggregate below the normalizing window")
  }

  test("q36: salted aggregation is a two-level hash aggregate") {
    val p = plan("q36_salted_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "expect partial+final aggs at both salt and key level")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    val s = spark
    import org.apache.spark.sql.functions._
    // a third of the fact lands on one key — the hot-partition shape
    // salting (q36) fixes manually; here the runtime must fix it alone.
    // Thresholds are lowered so local-scale data trips the same code
    // path a 100 TB hot key would.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
"spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // both join children must be PLAIN shuffle stages for the skew
      // rule to split them (an agg/distinct child disqualifies a side),
      // so the right side is orders' naturally-unique key column
      // payload must be incompressible (md5 per row): skew detection is
      // by shuffle BYTES, and a constant hot key would otherwise
      // compress away below the median
      val fact = Tables.lineitem(s, "/root/testdata/sf0.01")
        .select(when(col("l_orderkey") % 3 === 0, lit(0L))
          .otherwise(col("l_orderkey")).as("k"),
          md5(concat(col("l_orderkey").cast("string"), lit("#"),
            col("l_linenumber").cast("string"))).as("payload"))
        // a skewed reduce partition is split along MAPPER boundaries, so
        // the join shuffle needs several map tasks to have split points
        .repartition(8)
      val dim = Tables.orders(s, "/root/testdata/sf0.01")
        .select(col("o_orderkey").as("k"), col("o_totalprice"))
      // aggregate must CONSUME the payload or column pruning strips it
      // from the shuffle and the key-only bytes compress below skew
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), max("payload").as("m"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected AQE skew split in final plan:\n${p.take(1200)}")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("t18: only the score histogram reaches the tertile window") {
    val p = plan("t18_ppl_buckets")
    // q59's discipline carried to the perplexity cut: the cumulative
    // window runs over the (lang, score)-histogram aggregate, not docs
    val winIdx = p.indexOf("windowspecdefinition")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "expected histogram HashAggregate below the tertile window")
    assert(p.contains("BroadcastHashJoin"),
      "tertile map must broadcast back, not shuffle the docs")
  }

  test("x15: bucket log-ratios broadcast; corpus side never all-pairs") {
    val p = plan("x15_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      "4096-row lr table must be the broadcast build side")
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the only nested-loop joins allowed are the broadcast CROSS of the
    // 1-row totals scalar (the t08 pattern) — never a predicate BNLJ
    // over corpus-sized inputs
    "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).foreach(l =>
      assert(l.contains("Cross"), s"non-scalar BNLJ: $l"))
  }

  test("x16: shard plan has no doc-sized window or sort before the rollup") {
    val p = plan("x16_shard_plan")
    assert(!p.contains("windowspecdefinition"),
      "manifest must come from hash-aggs, not a window over docs")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expect partial+final aggregation")
  }

  test("s13: IVF-PQ candidates come from a cell equi-join, ADC codegen'd") {
    val p = plan("s13_sim_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"),
      "probed query cells must equi-join on cell id")
    assert(!p.contains("CartesianProduct"),
      "the whole point vs s04 is no full-corpus scan join")
    // allowed nested loops: only the broadcast CROSS against the 16-row
    // centroid table (queries × centroids) — bounded by nlist, not corpus
    "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).foreach(l =>
      assert(l.contains("Cross"), s"non-centroid BNLJ: $l"))
    assert(p.contains("pq_adc"), "ADC distance must be the native expression")
  }

  test("t19: pair ranking windows only the pair-vocabulary aggregate") {
    val p = plan("t19_bpe_pairs")
    val winIdx = p.indexOf("windowspecdefinition")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "expected pair-count HashAggregate below the ranking window")
  }

  /** The graph queries end in `.localCheckpoint(true)`, so their own
    * executed plan is a `Scan ExistingRDD` — pinning THAT is vacuous
    * (the r14 lesson). Pin the pre-checkpoint interior plan instead. */
  private def interiorPlan(name: String): String = {
    val (df, free) = SparkEntry.interiors(name)(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    free()
    p
  }

  test("q98: link prediction is equi-joins only — no cartesian wedge build") {
    val p = interiorPlan("q98_link_prediction")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "wedges must enumerate via the center-node equi-join")
    assert(p.contains("BroadcastHashJoin"),
      "the |V|-bounded degree table must broadcast onto the scored pairs")
  }

  test("t22: novelty joins shingles back on the posting key, no window") {
    val p = plan("t22_ngram_novelty")
    assert(!p.contains("windowspecdefinition"),
      "first-doc must be a min-agg on the shingle key, not a window")
    assert(!p.contains("CartesianProduct"), "no all-pairs shingle compare")
  }

  test("q100: twap is one lead() pass then a hash-agg — no self-join") {
    val p = plan("q100_twap")
    assert("SortMergeJoin|BroadcastHashJoin|CartesianProduct".r
      .findFirstIn(p).isEmpty, "lead() shape must not join")
    assert(p.contains("HashAggregate"), "day rollup must hash-aggregate")
  }

  test("s17: SQ8 codes are genuinely 1-byte and the scan never shuffles") {
    val df = SparkEntry.queries("s17_sim_ann_sq8")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // corpus side moves only through the broadcast of the 5-row query set
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle-join")
    assert(p.contains("cosine_similarity"), "scoring must stay native")
  }

  test("q102: fixed-band RFM scoring has no window at all") {
    val p = plan("q102_rfm_segments")
    // the whole point of value bands over ntile: projection + hash-aggs
    assert(!p.contains("Window"), "fixed bands must not rank customers")
    assert(p.contains("HashAggregate"), "rollup must hash-aggregate")
  }

  test("q103: the LTV window runs over the cohort aggregate, not orders") {
    val p = plan("q103_cohort_ltv")
    // the window's child chain must contain an aggregate below it —
    // the running sum sees (cohort × age) cells, never raw orders
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "running LTV needs its window")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      "window input must be the aggregated cohort cells")
  }

  test("q104: CUSUM windows only the (type, day) aggregate") {
    val p = plan("q104_cusum_changepoint")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "running CUSUM needs its window")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      "window input must be the daily aggregate, not raw events")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "series stats must broadcast back, not shuffle-join")
  }

  test("q105: pair counts shuffle-hash; top-1 is a min-of-struct argmax") {
    // r14 replaced the row_number window with a map-side-combinable
    // min-of-struct argmax; pin the INTERIOR (pre-checkpoint) plan so
    // the assertion sees the real aggregate, not the checkpoint scan
    val p = interiorPlan("q105_mutual_top_partner")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "co-purchase pairing must stay an equi-join on the order key")
    assert("min\\(struct\\(".r.findFirstIn(p).isDefined,
      "top-1 partner must be the min-of-struct argmax aggregate")
    assert(!p.contains("windowspecdefinition"),
      "the argmax must not regress to a row_number window + sort")
  }

  test("t23: readability is a pure projection — no exchange before sort") {
    val p = plan("t23_readability")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "scoring must stay per-row")
    // exactly the output-order sort's single exchange
    assert("Exchange".r.findAllIn(p).length <= 1, p.take(400))
  }

  test("q08/q52: rank filters push down as partial top-k (WindowGroupLimit)") {
    // Catalyst's InferWindowGroupLimit turns row_number()<=k into a
    // per-partition bounded heap BEFORE the window sort — the difference
    // between sorting k rows per group and sorting the whole table at
    // 100 TB. Pin it so a refactor that breaks the rank-predicate
    // pattern (e.g. filtering on a derived column) fails loudly.
    assert(plan("q08_topk_per_group").contains("WindowGroupLimit"),
      "q08 lost the partial top-k pushdown")
    assert(plan("q52_lateral_topn").contains("WindowGroupLimit"),
      "q52 lost the partial top-k pushdown")
  }

  test("q121: credit models stack-unpivot one touch table, no re-scan") {
    val p = plan("q121_multitouch_attribution")
    // three models must come from ONE events scan via stack(), not
    // three model subqueries unioned over the log
    // conv + touches = two scans; three-model subqueries would show six
    assert("events\\.parquet".r.findAllIn(p).length <= 2,
      "all models must read ONE touch construction")
    assert(!p.contains("CartesianProduct"), "no all-pairs anywhere")
    val winIdx = p.indexOf("windowspecdefinition(model")
    assert(winIdx >= 0 && p.indexOf("HashAggregate", winIdx) >= 0,
      "the share window must run over the models×channels aggregate")
  }

  test("q122: backlog cumulative runs over the day aggregate") {
    val p = plan("q122_order_backlog")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "the running backlog needs its window")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      "window input must be the calendar-bounded day aggregate")
  }

  test("t26: the sweep explodes the per-doc score table, not tokens") {
    val p = plan("t26_quality_threshold_sweep")
    // the threshold explode must sit ABOVE the per-doc aggregate: a
    // Generate with no aggregate below it would mean the 4-way explode
    // ran over raw tokens
    val genIdx = p.indexOf("Generate explode([-3.45")
    assert(genIdx >= 0, "threshold sweep explode missing")
    assert(p.indexOf("HashAggregate", genIdx) >= 0,
      "explode input must be the aggregated per-doc score table")
  }

  test("q116: baskets never self-join the event log; grid sides broadcast") {
    val p = plan("q116_basket_lift")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "pairs must explode from the bounded per-basket set, not a log self-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "type totals and the basket count must broadcast")
    assert(p.contains("Generate"), "pair enumeration must be the explode")
  }

  test("q117: MAD is hash-aggs + broadcast stats — no full-log sort") {
    val p = plan("q117_mad_outliers")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "per-type medians must broadcast back")
    assert(!p.contains("SortMergeJoin"), "stats joins must not shuffle the log")
  }

  test("q118: bridge pivots both periods in conditional aggs, no self-join") {
    val p = plan("q118_price_volume_bridge")
    // one scan of lineitem: two period subqueries unioned/joined would
    // show the lineitem parquet twice
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      "both periods must come from ONE lineitem scan")
    assert(p.contains("HashAggregate"), "period pivot must hash-aggregate")
  }

  test("q119: Holt folds over the daily aggregate, not raw events") {
    val p = plan("q119_holt_forecast")
    val fmgIdx = p.indexOf("MapGroups")
    val aggIdx = p.indexOf("HashAggregate")
    assert(fmgIdx >= 0, "smoothing fold must be the per-key flatMapGroups")
    assert(aggIdx >= 0 && aggIdx > fmgIdx,
      "fold input must be the (type, day) hash-agg below it in the plan")
  }

  test("t25: Zipf windows the vocab aggregate; top-200 filter above it") {
    val p = plan("t25_zipf_slope")
    val winIdx = p.indexOf("windowspecdefinition")
    assert(winIdx >= 0, "ranking needs its per-lang window")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      "window input must be the (lang, tok) aggregate, not raw tokens")
  }

  test("x19: waterfill windows the source-cardinality supply table only") {
    val p = plan("x19_token_budget")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.indexOf("HashAggregate", winIdx) >= 0,
      "windows must run over the per-source aggregate, never documents")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "the level scalar must broadcast")
  }

  test("m08: bucketing moves metadata only — no blob bytes in the plan") {
    val p = plan("m08_aspect_buckets")
    assert(!p.contains("SortMergeJoin"),
      "the 5-row ladder must broadcast, not shuffle-join")
    assert(!p.toLowerCase.contains("blob"),
      "no payload column may survive pruning into the bucketing plan")
  }

  test("s19: the walk never scans the corpus after seeding") {
    val p = interiorPlan("s19_graph_walk")
    assert(!p.contains("CartesianProduct"),
      "hops must be equi-joins on the edge key (seed crossJoin broadcasts)")
    assert(p.contains("cosine_similarity"), "scoring must stay native")
  }

  test("q139: interpolation windows always partition by user_id") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = SparkEntry.queries("q139_interp_join")(spark, sf)
      .queryExecution.executedPlan
    val exec = root match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val ws = exec.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "bracket computation must be window-based")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "a global window over raw events would single-partition the corpus")
  }

  test("x23: sketch admission has no global single-partition window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = SparkEntry.queries("x23_dedup_sample_sketch")(spark, sf)
      .queryExecution.executedPlan
    val exec = root match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val global = exec.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty,
      "admission cut must come from the quantile sketch, not a " +
        "corpus-wide row_number window")
  }

  test("q154: ACF pairs join the calendar grid, never raw events") {
    val p = plan("q154_autocorrelation")
    // both sides of the lag self-join must be the (type, day) aggregate
    // — the corpus collapses in ONE scan before any join
    assert("events\\.parquet".r.findAllIn(p).length <= 1,
      "lag pairing must reuse the aggregated calendar grid, not re-scan")
    assert(!p.contains("CartesianProduct"),
      "lag fan-out must stay a broadcast of the 7-row lag table")
  }

  test("q157: the p99 window runs over the fanout histogram, not keys") {
    val p = plan("q157_fanout_audit")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, "p99 needs its cumulative window")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      "window input must be the count-of-counts histogram")
    assert(!p.contains("CartesianProduct"),
      "totals must attach via 1-row broadcast")
    // all three lineitem edges ride ONE scan via stack() (q154 lesson)
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      "per-edge branches must not re-scan the fact table")
  }

  test("q158: the Q21 shape stays equi-join + aggregate — no per-row probes") {
    val p = plan("q158_late_blame")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the exists/not-exists rewrite must not plan correlated probes")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must stay a bounded take, not a global sort")
  }

  test("q174: the MAD census scans the fact table exactly once") {
    val p = plan("q174_robust_outliers")
    // linear pipeline of grid windows — no totals/median branch may
    // re-scan events (the q154 lesson applied to the histogram path)
    assert("events\\.parquet".r.findAllIn(p).length <= 1,
      "median/MAD branches must reuse the one histogram scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q178: the Q18 qualifying set broadcasts into both context joins") {
    val p = plan("q178_large_orders")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"),
      "neither orders nor customer may shuffle for the whale set")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must stay a bounded take")
  }

  test("q172: Markov eval reaches one corpus scan via the split-counter grid") {
    val p = plan("q172_markov_eval")
    assert("events\\.parquet".r.findAllIn(p).length <= 1,
      "train/test branches must share the one transition scan")
  }

  test("q196: the Q19 disjunction stays a hash join on the extracted equi-key") {
    val p = plan("q196_disjunctive_join")
    // the OR-of-ANDs must NOT defeat join-key extraction: Catalyst
    // extracts the p_partkey conjunct common to every disjunct, plans
    // one broadcast hash join, and evaluates the disjunction as a
    // post-join residual — never a nested-loop scan of the fact
    assert(p.contains("BroadcastHashJoin"),
      s"expected a hash join on the extracted equi-key:\n${p.take(600)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the disjunction degraded the join to a nested loop")
    assert(!p.contains("CartesianProduct"))
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1)
  }

  test("q195: the Q20 shape scans the fact once — totals are an agg of the grid") {
    val p = plan("q195_volume_dominant_supplier")
    // the textbook nested form rescans lineitem per (part, supplier)
    // group for the correlated total/count; the reformulation must
    // derive per-part totals from the (part, supplier) grid itself
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      "per-part totals must aggregate the grid, not re-scan the fact")
    assert(p.contains("BroadcastHashJoin"),
      "the nation-filtered supplier dim must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q197: the Q17 threshold is a window over the join — one fact scan") {
    val p = plan("q197_small_order_revenue")
    // the textbook correlated form probes lineitem per part for the
    // average; the naive decorrelation aggregates the fact per part
    // and joins BACK to the fact (two scans / two shuffles). Because
    // the brand filter is part-level, every kept part keeps all its
    // lineitems, so the per-part average is a window over the joined
    // rows — one scan, one shuffle
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      "the per-part average must be a window, not a fact self-join")
    assert(p.contains("BroadcastHashJoin"),
      "the brand-filtered part dim must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join — the only exchange is the window partitioning")
    assert(!p.contains("CartesianProduct"))
  }

  test("q197: the window-over-join precondition — every pre-window filter is part-level") {
    // The one-scan reformulation is VALID only because the filter
    // below the window is PART-level: a kept part keeps ALL its
    // lineitems, so count/sum over the joined rows equal the per-part
    // aggregates over the whole fact. A future edit adding a
    // lineitem-level predicate before the window would silently change
    // the correlated average — this pin makes it fail loudly instead.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window}
    val opt = SparkEntry.queries("q197_small_order_revenue")(spark, sf)
      .queryExecution.optimizedPlan
    val windows = opt.collect { case w: Window => w }
    assert(windows.nonEmpty, "q197 must compute the threshold as a window")
    val partCols = Set("p_partkey", "p_brand")
    windows.foreach { w =>
      w.child.collect { case f: Filter => f }.foreach { f =>
        val refs = f.condition.references.map(_.name).toSet
        val dataRefs = refs.filterNot(partCols)
        // the only lineitem-side predicate allowed below the window is
        // the join key's null guard — never a data column like qty
        assert(dataRefs.subsetOf(Set("l_partkey")),
          s"pre-window filter touches non-part columns $dataRefs — " +
            "the window-over-join equivalence no longer holds: " +
            f.condition.sql)
      }
    }
  }

  test("q135: the Q8 year totals are a window over the grid — one fact scan") {
    val p = plan("q135_market_share")
    // a totals branch re-referencing the cells val re-runs its whole
    // lineage (lineitem x2, hidden in the audit while AQE collapsed the
    // empty-at-sf0.001 final plan); the region totals must attach as a
    // window over the (year, nation) grid
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      "year-region totals must be a window over the grid, not a branch")
    assert(!p.contains("CartesianProduct"))
  }

  test("q199: the Q10 top-20 is a bounded take over the customer grid") {
    val p = plan("q199_returned_item_ranking")
    // aggregate to customer grain BEFORE the dim joins: the broadcast
    // customer/nation joins touch the |customers| grid, not the fact
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must plan as a bounded take, not a global sort")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "customer and nation dims must broadcast onto the grid")
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1)
    assert(!p.contains("CartesianProduct"))
  }

  test("q201: the Q16 blocklist is a broadcast anti-join, dims broadcast") {
    val p = plan("q201_supplier_diversity")
    assert(p.contains("BroadcastHashJoin"),
      "the filtered part dim must broadcast")
    assert(p.contains("LeftAnti"),
      "the supplier blocklist must plan as an anti-join")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join — only (class, suppkey) pairs may shuffle")
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1)
    assert(!p.contains("CartesianProduct"))
  }

  test("q198: the Q2 argmin stays grid-sized — one fact scan, dims broadcast") {
    val p = plan("q198_cheapest_supplier")
    // the correlated-min probe and the winner name join-back must both
    // ride the (part, supplier) grid, never re-scan shipment history
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      "per-part min must attach as a window over the offer grid")
    assert(p.contains("BroadcastHashJoin"),
      "region-supplier semi-filter and the name join must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join — dims broadcast, the grid shuffles once by key")
    assert(!p.contains("CartesianProduct"))
  }

  test("IntKMeans: Gonzalez argmax plans as a bounded heap, never a full sort") {
    // The ingest fit's farthest-point argmax is written in the
    // rank-predicate pattern (row_number over (m) + rn === 1) and is
    // scale-safe ONLY because Catalyst rewrites it into a bounded heap —
    // the same property pinned for q08/q52. Two shapes, both pinned
    // against the fit's exact construction:
    //  - the shipped fit (IVF as subspace 0 beside the 8 PQ subspaces,
    //    Similarity.annFit) has a data-born m: InferWindowGroupLimit
    //    plans a per-partition WindowGroupLimit heap (the second shape
    //    below);
    //  - a single-subspace caller that builds m as lit(0) (the specs'
    //    IVF-alone fits) keeps the constant-m shape: the partition key
    //    folds away and the rank-1 filter plans as a GLOBAL
    //    TakeOrderedAndProject(limit=1).
    // A refactor that breaks the pattern (e.g. ranking on a derived
    // column) would silently plan a full per-subspace sort inside every
    // one of the k-1 init rounds of every ingest fit.
    import org.apache.spark.sql.functions._
    import graft.operators.IntKMeans
    val E = graft.expressions.VectorExpressions
    val s = spark
    import s.implicits._
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val picked = Seq((0, 0L), (1, 1L)).toDF("m", "vec_id")
    // mind exactly as fit's mindCol builds it: array_min over the
    // codebook-so-far integer LUT
    val mind = array_min(E.pqLutInt(col("e"),
      Seq(Seq.fill(64)(0L)), 1, 1, 64, IntKMeans.Scale))

    // IVF shape: m constant-folds, the argmax is a global bounded take
    val ivfQ = base.withColumn("m", lit(0))
      .withColumn("ei", IntKMeans.quantize(col("e")))
    val pIvf = IntKMeans.gonzalezArgmax(ivfQ, picked, mind)
      .queryExecution.executedPlan.toString
    assert(pIvf.contains("TakeOrderedAndProject") ||
      pIvf.contains("WindowGroupLimit"),
      "the IVF Gonzalez argmax lost the bounded-heap shape — every init " +
        "round would full-sort the corpus: " + pIvf.take(1200))

    // PQ shape: data-born m, per-subspace WindowGroupLimit heap
    val pqQ = base.withColumn("m", pmod(col("vec_id"), lit(2)).cast("int"))
      .withColumn("ei", IntKMeans.quantize(col("e")))
    val pPq = IntKMeans.gonzalezArgmax(pqQ, picked, mind)
      .queryExecution.executedPlan.toString
    assert(pPq.contains("WindowGroupLimit"),
      "the PQ Gonzalez argmax lost the partial top-1 pushdown — every " +
        "init round would full-sort each subspace: " + pPq.take(1200))
    assert(pIvf.contains("BroadcastHashJoin") &&
      pPq.contains("BroadcastHashJoin"),
      "the picked-set anti-join must broadcast (≤ k rows)")
    // the scale-killer shape must be absent from both
    assert(!pIvf.contains("CartesianProduct") &&
      !pPq.contains("CartesianProduct"))
  }
}
