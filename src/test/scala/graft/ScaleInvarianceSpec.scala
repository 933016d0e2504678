package graft

import org.apache.spark.sql.functions.col

/** Partition-count invariance: on a real cluster the shuffle partition
  * count is a deployment knob (and AQE changes it at runtime), so a
  * correct-at-scale operator must produce IDENTICAL results under any
  * partitioning. Floating-point aggregation famously breaks this
  * (partial-sum order differs per partitioning — the OHLC parity
  * knife-edge from round 3); the operators pinned here are the ones
  * whose outputs are exact by construction (integer counts, fixed-point
  * BIGINT rank mass, min-levels), so any drift under a different
  * partition count is a genuine distribution bug, not float noise.
  */
class ScaleInvarianceSpec extends SparkSpec {

  private def rowsAt(nPart: Int, name: String, sfDir: String): Seq[String] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", nPart.toString)
      SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def invariant(name: String, sfDir: String): Unit = {
    val base = rowsAt(4, name, sfDir)
    assert(base.nonEmpty, s"$name returned no rows at $sfDir")
    for (n <- Seq(3, 17)) {
      val other = rowsAt(n, name, sfDir)
      assert(other === base,
        s"$name drifts between shuffle.partitions=4 and =$n")
    }
  }

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  test("q73 pagerank: fixed-point ranks invariant to partition count") {
    invariant("q73_copurchase_rank", sf001)
  }

  test("q82 BFS levels invariant to partition count") {
    invariant("q82_bfs_levels", sf001)
  }

  test("q96 connected components invariant to partition count") {
    invariant("q96_connected_components", sf001)
  }

  test("q84 interval-overlap counts invariant to partition count") {
    invariant("q84_interval_join", sf01)
  }

  test("d03 transitive near-dup labels invariant to partition count") {
    invariant("d03_dedup_minhash_lsh", sf001)
  }

  test("q77 grouped heavy hitters invariant to partition count") {
    invariant("q77_group_heavy_hitters", sf001)
  }

  test("q102 RFM segments invariant to partition count (exact cents)") {
    invariant("q102_rfm_segments", sf001)
  }

  test("q103 cohort LTV invariant to partition count (exact cents)") {
    invariant("q103_cohort_ltv", sf001)
  }

  test("q116 basket rules invariant to partition count (integer counts)") {
    invariant("q116_basket_lift", sf001)
  }

  test("q118 bridge invariant to partition count (exact cents/quantities)") {
    invariant("q118_price_volume_bridge", sf001)
  }

  test("q120 k-core summary invariant to partition count") {
    invariant("q120_kcore", sf001)
  }

  test("q121 attribution credits invariant to partition count (micro-units)") {
    invariant("q121_multitouch_attribution", sf001)
  }

  test("q124 decay fit invariant to partition count (integer-micro sums)") {
    invariant("q124_retention_decay", sf001)
  }

  test("x19 waterfill invariant to partition count (integer budget)") {
    invariant("x19_token_budget", sf001)
  }

  test("q104 CUSUM invariant to partition count (integer pipeline)") {
    invariant("q104_cusum_changepoint", sf001)
  }

  // round-6 security family: integer day/gap/count pipelines
  test("q110 rarity scores invariant to partition count") {
    invariant("q110_rarity_score", sf001)
  }

  test("q111 beaconing stats invariant to partition count (micros gaps)") {
    invariant("q111_beaconing", sf001)
  }

  test("q112 first-seen rollup invariant to partition count") {
    invariant("q112_first_seen", sf001)
  }

  // round-6 TPC-H-classic battery: exact-integer cents/counts cores
  test("q130 leaderboard churn invariant to partition count") {
    invariant("q130_leaderboard_churn", sf001)
  }

  test("q131 SLA attainment invariant to partition count") {
    invariant("q131_sla_attainment", sf001)
  }

  test("q132 supplier HHI invariant to partition count (decimal mass)") {
    invariant("q132_supplier_hhi", sf001)
  }

  test("q133 trade matrix invariant to partition count") {
    invariant("q133_trade_matrix", sf001)
  }

  test("q134 sales opportunity invariant to partition count") {
    invariant("q134_sales_opportunity", sf001)
  }

  test("q135 market share invariant to partition count") {
    // sf0.001 has no NATION_2/ASIA lineitem rows; the pin needs output
    invariant("q135_market_share", sf01)
  }

  test("q136 return rates invariant to partition count") {
    invariant("q136_return_rates", sf001)
  }

  // round-7 statistics battery: fixed-point PSI, deterministic window
  // interpolation, decimal sufficient-statistics CUPED
  test("q137 PSI contributions invariant to partition count") {
    invariant("q137_psi_drift", sf001)
  }

  test("q139 interpolation join invariant to partition count") {
    invariant("q139_interp_join", sf001)
  }

  test("q140 CUPED readout invariant to partition count") {
    invariant("q140_cuped_lift", sf001)
  }

  test("q143 Kaplan-Meier curve invariant to partition count") {
    invariant("q143_survival_km", sf001)
  }

  test("q145 seasonal decomposition invariant to partition count") {
    invariant("q145_seasonal_decompose", sf001)
  }

  test("q146 URL analytics invariant to partition count") {
    invariant("q146_url_analytics", sf001)
  }

  test("q147 Theil-Sen medians invariant to partition count") {
    invariant("q147_theilsen", sf001)
  }

  test("q148 chi-square cells invariant to partition count") {
    invariant("q148_chi_square", sf001)
  }

  test("q149 Mann-Whitney rank sums invariant to partition count") {
    invariant("q149_mann_whitney", sf001)
  }

  test("q150 partition planner scores invariant to partition count") {
    invariant("q150_partition_planner", sf001)
  }

  test("q151 zone-map audit invariant to partition count") {
    invariant("q151_skipping_audit", sf001)
  }

  test("q152 label-propagation communities invariant to partition count") {
    invariant("q152_label_communities", sf001)
  }

  test("q153 FIFO allocation invariant to partition count") {
    invariant("q153_fifo_allocation", sf001)
  }

  test("q154 sample ACF invariant to partition count (decimal pair sums)") {
    invariant("q154_autocorrelation", sf001)
  }

  test("q156 encoding advisor invariant to partition count (integer bytes)") {
    invariant("q156_encoding_advisor", sf001)
  }

  test("q157 fanout audit invariant to partition count (integer histogram)") {
    invariant("q157_fanout_audit", sf001)
  }

  test("q158 late-blame counts invariant to partition count") {
    invariant("q158_late_blame", sf001)
  }

  test("q159 weighted medians invariant to partition count") {
    invariant("q159_weighted_median", sf001)
  }

  test("x24 largest-remainder allocation invariant to partition count") {
    invariant("x24_largest_remainder", sf001)
  }

  test("q160 max drawdown invariant to partition count (exact cents)") {
    invariant("q160_max_drawdown", sf001)
  }

  test("q161 dq rule pack invariant to partition count (micro shares)") {
    invariant("q161_dq_rules", sf001)
  }

  test("q162 dp release invariant to partition count (hash noise)") {
    invariant("q162_dp_release", sf001)
  }

  test("q163 two-hop counts invariant to partition count") {
    invariant("q163_two_hop", sf001)
  }

  test("q164 ANF sketch invariant to partition count (register max-merge)") {
    invariant("q164_anf_sketch", sf001)
  }

  test("q165 product profit invariant to partition count (exact cents)") {
    invariant("q165_product_profit", sf001)
  }

  test("q166 ABC-XYZ matrix invariant to partition count (banded cents)") {
    invariant("q166_abc_xyz", sf001)
  }

  test("q167 event DQ pack invariant to partition count (micro shares)") {
    invariant("q167_event_dq", sf001)
  }

  test("q168 IR metrics invariant to partition count (micro discounts)") {
    invariant("q168_ir_metrics", sf001)
  }

  test("q169 feature relevance invariant to partition count (grid ints)") {
    invariant("q169_feature_relevance", sf001)
  }

  test("q170 log templates invariant to partition count (min/max cells)") {
    invariant("q170_log_templates", sf001)
  }

  test("q171 change-point split invariant to partition count") {
    invariant("q171_change_point", sf001)
  }

  test("q172 Markov eval invariant to partition count (grid argmax)") {
    invariant("q172_markov_eval", sf001)
  }

  test("q173 forecast backtest invariant to partition count") {
    invariant("q173_forecast_backtest", sf001)
  }

  test("q174 robust outliers invariant to partition count (histogram)") {
    invariant("q174_robust_outliers", sf001)
  }

  test("s22 k-center selection invariant to partition count") {
    invariant("s22_kcenter_coreset", sf001)
  }

  test("q175 join-size audit invariant to partition count (exact ints)") {
    invariant("q175_join_estimate", sf001)
  }

  test("q176 STL anomaly census invariant to partition count") {
    invariant("q176_stl_anomaly", sf001)
  }

  test("q177 custdist invariant to partition count (outer-join counts)") {
    invariant("q177_custdist", sf001)
  }

  test("q178 large orders invariant to partition count (integer qty)") {
    invariant("q178_large_orders", sf001)
  }

  test("q179 decayed popularity invariant to partition count (micro)") {
    invariant("q179_decayed_popularity", sf001)
  }

  test("q180 harmonic centrality invariant to partition count (registers)") {
    invariant("q180_harmonic_centrality", sf001)
  }

  test("t27 distinctive terms invariant to partition count (grid z)") {
    invariant("t27_distinctive_terms", sf001)
  }

  test("x25 epoch-shuffle audit invariant to partition count (int sums)") {
    invariant("x25_epoch_shuffle_audit", sf001)
  }

  test("m09 segment dedup invariant to partition count (digest counts)") {
    invariant("m09_segment_dedup", sf001)
  }

  test("q181 tier plan invariant to partition count (byte sums)") {
    invariant("q181_tier_plan", sf001)
  }

  test("q182 skyline invariant to partition count (integer dominance)") {
    invariant("q182_skyline", sf001)
  }

  test("d18 assortment match invariant to partition count (set ints)") {
    invariant("d18_assortment_match", sf001)
  }

  test("q183 important stock invariant to partition count (cents cut)") {
    invariant("q183_important_stock", sf001)
  }

  test("q184 sequential A/B invariant to partition count (prefix ints)") {
    invariant("q184_sequential_ab", sf001)
  }

  test("q185 median CI invariant to partition count (order stats)") {
    invariant("q185_median_ci", sf001)
  }

  test("q186 assortativity invariant to partition count (decimal sums)") {
    invariant("q186_assortativity", sf001)
  }

  test("q187 higher moments invariant to partition count (power sums)") {
    invariant("q187_higher_moments", sf001)
  }

  test("q188 KS statistic invariant to partition count (cross-mult)") {
    invariant("q188_ks_test", sf001)
  }

  test("q190 top supplier invariant to partition count (exact cents)") {
    invariant("q190_top_supplier", sf001)
  }

  test("q191/q192 pushdown limits invariant to SPLIT count") {
    // the pushdown analog of shuffle-partition invariance: the limit/
    // top-N truncation must select the same id set under any split
    // plan, because a real deployment tunes splits per executor count
    val s = spark
    for (parts <- Seq(1, 3, 8, 13)) {
      val ids = s.read.format("graft.connectors.ArchiveSource")
        .option("parts", parts.toString).load()
        .filter(col("event_type") === "purchase" &&
          col("event_id") >= 20000L && col("event_id") < 80000L)
        .limit(1000)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (20000L until 80000L)
        .filter(id => ((id % 5L) * 3L) % 5L == 2L).take(1000).toSeq,
        s"limit pushdown drifts at parts=$parts")
      val top = s.read.format("graft.connectors.ArchiveSource")
        .option("parts", parts.toString).load()
        .filter(col("event_type") === "error" && col("event_id") < 70000L)
        .orderBy(col("event_id").desc).limit(500)
        .select("event_id").collect().map(_.getLong(0)).toSeq
      assert(top == (0L until 70000L)
        .filter(id => ((id % 5L) * 3L) % 5L == 4L).takeRight(500)
        .reverse.toSeq,
        s"top-N pushdown drifts at parts=$parts")
    }
  }
  test("q195 fair-share dominance invariant to partition count (exact BIGINT)") {
    // the window-over-grid totals are integer sums of integer-cast
    // quantities, so any drift under a different partitioning is a
    // distribution bug in the grid/window plumbing, not float noise
    invariant("q195_volume_dominant_supplier", sf01)
  }

  test("q196-q201 TPC-H shapes invariant to partition count (exact cents)") {
    // all six round off to exact integer cents (or integer counts)
    // BEFORE aggregating, so their disjunctive residuals, window
    // thresholds, argmin ties, top-N cuts, ratio anchors, and distinct
    // counts must be bit-identical under any shuffle partitioning
    for (q <- Seq("q196_disjunctive_join", "q197_small_order_revenue",
        "q198_cheapest_supplier", "q199_returned_item_ranking",
        "q200_promo_revenue", "q201_supplier_diversity"))
      invariant(q, sf01)
  }
}
