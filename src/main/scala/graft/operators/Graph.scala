package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Rounding.r6
import Rounds.{cut, iterate}

/** Graph-propagation operators. Web-graph centrality is a standard
  * crawl-curation quality signal (rank-weighted sampling of pretraining
  * corpora); the relational testbed has no hyperlinks, so the graph here
  * is the part co-purchase graph (parts sharing an order), which has the
  * same shape: sparse, skewed, symmetric.
  */
object Graph {

  /** Co-purchase pair substrate shared by the family: unordered part
    * pairs (u < v) with their DISTINCT shared-order count, built
    * SET-FIRST (r15, guide §2.3 — the q73-r14 edge-build pattern applied
    * to the nine queries that still self-joined): ONE exchange on the
    * order key collapses lineitem to per-order sorted part sets
    * (map-side-combined collect_set over the parquet-clustered key),
    * each order emits its (u < v) pairs ROW-LOCALLY, and one
    * count-aggregate on the pair key finishes — a plain count equals the
    * former countDistinct(ok) because a SET emits each pair at most once
    * per order. The former shape (lineitem self-join on ok +
    * countDistinct) pushed the Σ fanout² co-occurrence stream through
    * the join AND through the distinct-agg's two exchanges; here the
    * pair stream is born after the only order-keyed exchange and
    * partial-aggregates map-side into (u, v) counts. Per-order fan-out
    * is order-size-bounded (≤ 7 parts per order in this schema — the
    * ≤ 21-element struct array is nothing like q81's rejected O(deg²)
    * per-row wedge arrays). */
  private def copurchaseCounts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .groupBy("ok").agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(" +
          "slice(ps, i + 2, size(ps) - i - 1), " +
          "y -> struct(x AS u, y AS v))))")).as("pr"))
      .select(col("pr.u").as("u"), col("pr.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("n_ord"))

  /** The ≥2-shared-orders sparsified graph — q82/q96/q98/q120/q152/
    * q163/q164/q180/q186's substrate. */
  private def sparsePairs(s: SparkSession, d: String): DataFrame =
    copurchaseCounts(s, d).filter(col("n_ord") >= 2)

  /** q81's Bloom sizing (r15, verdict #4): derive fpp from a byte budget
    * instead of hard-coding 0.003 at ~12 bits/arc — at 10^10-10^11 arcs
    * that was a 15-150 GB driver/executor allocation with no degradation
    * path (the r14 comment promised one; no code implemented it). Bits
    * are capped at `MaxBloomBytes`; fpp follows from the optimal-sizing
    * identity bits = -n·ln(fpp)/ln²2 ⇒ fpp = exp(-(bits/n)·ln²2),
    * floored at the 0.003 the measured wedge selectivity targets. More
    * arcs ⇒ higher fpp ⇒ more surviving wedges through the exchange —
    * the answer stays exact (the semi-join verifies); only the
    * pre-filter's selectivity degrades, never the allocation. */
  private[graft] val MaxBloomBytes: Long = 64L << 20
  private[graft] def bloomFpp(nItems: Long,
      maxBytes: Long = MaxBloomBytes): Double = {
    val bitsPerItem = (maxBytes * 8).toDouble / math.max(nItems, 1L).toDouble
    val ln2sq = math.log(2.0) * math.log(2.0)
    math.max(0.003, math.exp(-bitsPerItem * ln2sq))
  }


  // ---------------------------------------------------------------- q73
  /** PageRank over the co-purchase graph, in FIXED-POINT integer
    * arithmetic: ranks are BIGINT micro-units (1e12 = mass 1.0), every
    * step is integer division, so the 8-round iteration is bit-exact in
    * any engine — no cross-engine float-summation drift to round away,
    * which is what makes an iterative-numeric oracle hash-matchable at
    * all. r_0 = M/N; r_{t+1} = 0.15·M/N + (85·Σ_in (r_t div deg)) div
    * 100 with M = 1e12. Floor losses mean total mass is not exactly
    * conserved — the documented trade for determinism.
    *
    * Scale shape: d03's iterated-propagation pattern applied to rank
    * mass — the edge list is built with two map-side-combined exchanges
    * (order-key sets, then src-keyed array batches), cached
    * hash-partitioned on src, and never re-shuffled: each round
    * shuffled-hash-joins the O(V) rank table against the in-place edges
    * and hash-aggs contributions on dst (partial agg map-side), so
    * per-round traffic is O(V), not O(E) — the Pregel/GraphX
    * message-passing shape in DataFrame form. Rounds are a fixed
    * constant (8).
    * N comes from one count() — a catalog stat at ingest in production
    * (the d08 precedent). The classic GraphX/Pregel formulation maps
    * 1:1 onto this loop if a corpus ever needs vertex-cut partitioning. */
  val q73CopurchaseRank = QueryDef.checkpointed(
    "q73_copurchase_rank",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      // Adjacency aggregation in two batched exchanges (r14, guide §2.3):
      // one exchange on the order key collapses lineitem to per-order
      // part SETS (map-side-combined collect_set over the
      // parquet-clustered key), each order then emits (member, others[])
      // rows row-locally, and the src-keyed aggregation collects whole
      // arrays (collect_list of ~|order| items, not one row per
      // co-occurrence) deduped row-local by array_distinct. Identical
      // edge set + out-degree as the former lineitem self-join +
      // per-element collect_set, but the object agg ingests |lineitem|
      // array items instead of |Σ order-fanout²| single elements —
      // measured 1.33 s vs 2.6 s at sf0.1 (plans/r14). The exploded edge
      // list still comes out hash-partitioned on src — the loop's join
      // key — so the cached e is never re-shuffled by the iterations.
      val e = li.groupBy("ok").agg(collect_set(col("p")).as("ps"))
        .select(explode(expr("transform(ps, x -> struct(x as src, " +
          "filter(ps, y -> y != x) as others))")).as("pr"))
        .select(col("pr.src").as("src"), col("pr.others").as("others"))
        .groupBy("src").agg(collect_list(col("others")).as("ls"))
        .select(col("src"), array_distinct(flatten(col("ls"))).as("nbrs"))
        .select(col("src"), explode(col("nbrs")).as("dst"),
          size(col("nbrs")).cast("long").as("deg"))
        .persist()
      val nodes = e.select(col("src").as("node")).distinct().persist()
      val n = nodes.count() // one job; a catalog stat at ingest (d08 precedent)
      // shuffle_hash hint: ranks is a stats-less LogicalRDD after
      // re-rooting, so unhinted the planner sort-merge-joins and
      // re-shuffles the cached edges every round. Hinted, e streams
      // in place (its cached HashPartitioning(src) satisfies the
      // join) and only the O(V) rank table moves — the Pregel shape.
      // Dangling/teleport handling by UNION + one agg instead of a
      // left join against a per-round broadcast of the O(V) contrib
      // table (r14): zero-contribution rows for every node ride the
      // same map-side-combined sum, so sum(c) == coalesce(in_sum, 0)
      // row-for-row while the round drops its driver collect +
      // broadcast build job AND the O(V)-broadcast scale hazard.
      // Measured 4.8 s vs 6.3 s for the 8-round loop at sf0.1.
      def rankStep(ranks: DataFrame): DataFrame =
        e.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
          .select(col("dst"), expr("r div deg").as("c"))
          .unionByName(nodes.select(col("node").as("dst"), lit(0L).as("c")))
          .groupBy("dst").agg(sum("c").as("in_sum"))
          .select(col("dst").as("node"),
            (lit(150000000000L / n) +
              expr("(85 * in_sum) div 100")).as("r"))
      // 8 rounds, cut every SECOND one: plan depth stays ≤ 2 rounds
      // (analysis is fine there) while the per-round action count —
      // the dominant cost of a small-graph iteration — halves.
      val start = cut(nodes.select(col("node"),
        lit(1000000000000L / n).as("r")))
      val (ranks, _) = iterate(start, 4)((r, _) => rankStep(rankStep(r)))
      start._1.unpersist()
      val res = ranks.select(col("node").as("part"),
          col("r").as("rank_micro"), r6(col("r") / 1e12).as("rank"))
        .orderBy("part")
      (res, () => { ranks.unpersist(); e.unpersist(); nodes.unpersist() })
    },
    Some("""WITH RECURSIVE
           |li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |edges AS (SELECT DISTINCT a.p AS src, b.p AS dst
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p),
           |outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |  FROM edges GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS node FROM edges),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |pr(iter, node, r) AS (
           |  SELECT 0, node, CAST(1000000000000 // n AS BIGINT)
           |  FROM nodes CROSS JOIN nn
           |  UNION ALL
           |  SELECT p.iter + 1, e.dst,
           |    CAST(150000000000 // nn.n +
           |         (85 * sum(p.r // e.deg)) // 100 AS BIGINT)
           |  FROM pr p
           |  JOIN (SELECT e0.src, e0.dst, o.deg FROM edges e0
           |        JOIN outdeg o ON e0.src = o.src) e ON p.node = e.src
           |  CROSS JOIN nn
           |  WHERE p.iter < 8
           |  GROUP BY p.iter + 1, e.dst, nn.n)
           |SELECT node AS part, r AS rank_micro,
           |  round(r / 1e12, 6) AS rank
           |FROM pr WHERE iter = 8 ORDER BY part""".stripMargin))

  // ---------------------------------------------------------------- q81
  /** Degree-oriented triangle counting over the co-purchase graph —
    * the clustering-coefficient substrate (community density is a
    * crawl-quality signal just like centrality). The naive 3-way
    * self-join touches every wedge at every corner; orienting each
    * undirected edge from its lower to its higher (degree, id) endpoint
    * (Suri & Vassilvitskii's MR triangle counting) makes every wedge
    * enumerate exactly once, at its lowest-degree corner, bounding
    * per-node fan-out by O(√E) — THE trick that keeps hub nodes from
    * quadratic blow-up at 100 TB.
    *
    * Scale shape: one distinct over undirected pairs, one bounded
    * degree agg, then two hash equi-joins (wedge build on src, closing
    * semi-join on (y, z)); every shuffle key's cardinality scales with
    * the edge set. Orientation compares (deg, id) lexicographically —
    * an explicit two-column comparison, not a packed deg·K+id BIGINT,
    * which would stop being a total order (and silently drop wedges)
    * once ids reach K. */
  val q81Triangles = QueryDef.checkpointed(
    "q81_triangles",
    (s, d) => {
      // set-first build (r15): the count-agg IS the distinct — same
      // (u < v) pair set as the former self-join + distinct, with the
      // Σ fanout² co-occurrence stream born after the one order-keyed
      // exchange instead of pushed through a join and a distinct
      val und = copurchaseCounts(s, d).select("u", "v").persist()
      val deg = und.select(col("u").as("n"))
        .union(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).cast("long").as("dg"))
      // |V|-bounded degree table BROADCASTS onto the edge list (the q186
      // posture) instead of re-exchanging the E-sized pair set twice.
      // Deliberately a ONE-SHOT O(V) broadcast per query — unlike q73's
      // removed hazard, which was a broadcast PER ROUND inside the loop;
      // at a V past the 8 GB relation cap, drop the hint and take the
      // two E-sized exchanges instead (ADVICE r14, documented trade).
      val keyed = und
        .join(broadcast(deg.select(col("n").as("u"), col("dg").as("du"))),
          Seq("u"))
        .join(broadcast(deg.select(col("n").as("v"), col("dg").as("dv"))),
          Seq("v"))
      // lexicographic (deg, id) orientation; dst doubles as the id half
      // of the order key, so arcs only need the dst endpoint's degree
      val uLower = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val arcs = keyed.select(
          when(uLower, col("u")).otherwise(col("v")).as("src"),
          when(uLower, col("v")).otherwise(col("u")).as("dst"),
          when(uLower, col("dv")).otherwise(col("du")).as("ddeg"))
        .persist()
      // Wedge build = arcs⋈arcs hash join on src: the ~Σdeg²/2 wedge set
      // STREAMS out of the join straight into the closing semi-join's
      // exchange, one wedge at a time. (The tempting row-local
      // alternative — collect each src's neighbors into a sorted array
      // and emit pairs with a lambda — materializes an O(deg²) struct
      // array per row and measured 3× SLOWER at sf0.1; generators beat
      // per-row array building at this fan-out.) At sf0.1 this whole
      // query enumerates 1.88M triangles from ~40M wedges in ~22 s on
      // local[32] — the same SQL takes DuckDB 30 s single-node.
      val wedges = arcs.as("e1").join(arcs.hint("shuffle_hash").as("e2"),
          col("e1.src") === col("e2.src") &&
            (col("e1.ddeg") < col("e2.ddeg") ||
              (col("e1.ddeg") === col("e2.ddeg") &&
                col("e1.dst") < col("e2.dst"))))
        .select(col("e1.src").as("x"), col("e1.dst").as("y"),
          col("e2.dst").as("z"))
      // Bloom pre-filter (r14, guide §3.2): ~95% of wedges never close
      // (1.88M triangles from ~40M wedges at sf0.1), yet every wedge
      // previously crossed the closing semi-join's exchange. A Bloom
      // filter over the E-sized arc key set (target fpp 0.3% ≈ 12
      // bits/arc) drops definitely-unclosed wedges BEFORE the exchange;
      // the semi-join below still verifies exactly, so false positives
      // cost only their shuffle bytes and the result is bit-identical.
      // The probe key is a codegen xxhash64; only the O(1) bloom lookup
      // is a (deterministic) lambda. Sizing is BYTE-BUDGETED (r15,
      // verdict #4): bloomFpp caps the sketch at MaxBloomBytes, so at
      // 10^10-10^11 arcs the fpp rises (more surviving wedges, same
      // exact answer) instead of the driver allocating 15-150 GB — the
      // one count() here both fills the arc cache and sizes the filter.
      val nArcs = math.max(arcs.count(), 1024L)
      val arcBloom = arcs.select(xxhash64(col("src"), col("dst")).as("k"))
        .stat.bloomFilter("k", nArcs, bloomFpp(nArcs))
      val arcBloomB = s.sparkContext.broadcast(arcBloom)
      val mightClose = udf((k: Long) => arcBloomB.value.mightContainLong(k))
      val openWedges = wedges
        .filter(mightClose(xxhash64(col("y"), col("z"))))
        .select("x", "y", "z")
      // shuffle_hash on the arc side: the probe stream is the O(Σdeg²)
      // wedge set — sort-merge would SORT it; hashing the E-sized arc
      // table instead keeps the wedge side sort-free and pipelined.
      val tris = openWedges.join(
          arcs.select(col("src").as("y"), col("dst").as("z"))
            .hint("shuffle_hash"),
          Seq("y", "z"), "left_semi")
      val top = tris
        .select(explode(array(col("x"), col("y"), col("z"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("part"))
        .limit(20)
      (top, () => { arcs.unpersist(); und.unpersist() })
    },
    Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |und AS (SELECT DISTINCT a.p AS u, b.p AS v
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
           |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg
           |  FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
           |  GROUP BY 1),
           |keyed AS (SELECT u, v, du.dg AS du0, dv.dg AS dv0
           |  FROM und JOIN deg du ON und.u = du.n JOIN deg dv ON und.v = dv.n),
           |arcs AS (SELECT
           |    CASE WHEN (du0, u) < (dv0, v) THEN u ELSE v END AS src,
           |    CASE WHEN (du0, u) < (dv0, v) THEN v ELSE u END AS dst,
           |    CASE WHEN (du0, u) < (dv0, v) THEN dv0 ELSE du0 END AS ddeg
           |  FROM keyed),
           |tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
           |  FROM arcs e1 JOIN arcs e2
           |    ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
           |  WHERE EXISTS (SELECT 1 FROM arcs a
           |                WHERE a.src = e1.dst AND a.dst = e2.dst)),
           |corners AS (SELECT x AS part FROM tri
           |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
           |SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
           |FROM corners GROUP BY 1
           |ORDER BY n_triangles DESC, part LIMIT 20""".stripMargin))

  // ---------------------------------------------------------------- q82
  /** BFS reachability levels from a seed set over a SPARSIFIED
    * co-purchase graph (pairs sharing ≥ 2 distinct orders — the dense
    * single-co-occurrence graph has diameter ~2, which exercises
    * nothing). Min-level frontier propagation, 4 fixed rounds: the
    * iterated-join shape shared with d03's label propagation and q73's
    * rank loop, applied to shortest-path distance — reachability /
    * contamination-radius queries over citation or link graphs.
    *
    * Scale shape: the edge list is built once (hash-partitioned on
    * src by its one exchange) and never re-shuffled; each round joins
    * the O(V) level table against it, hash-aggs min(level) on node
    * (partial agg map-side), and `iterate` `cut`s each round's lineage.
    * Per-round traffic is O(V). */
  val q82BfsLevels = QueryDef.checkpointed(
    "q82_bfs_levels",
    (s, d) => {
      // ≥2 shared orders (set-first build, r15), then symmetrize: one
      // exchange on the order key, one on the pair key, one on src.
      val pairs = sparsePairs(s, d)
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .union(pairs.select(col("v").as("src"), col("u").as("dst")))
        .persist()
      val seeds = Tables.part(s, d)
        .filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("node"), lit(0).as("lvl"))
      val start = cut(seeds)
      val (levels, _) = iterate(start, 4) { (lv, _) =>
        edges.join(lv.hint("shuffle_hash"), col("src") === col("node"))
          .select(col("dst").as("node"), (col("lvl") + 1).as("lvl"))
          .unionByName(lv)
          .groupBy("node").agg(min("lvl").as("lvl"))
      }
      start._1.unpersist()
      val res = levels.select(col("node").as("part"), col("lvl").as("level"))
        .orderBy("part")
      (res, () => { levels.unpersist(); edges.unpersist() })
    },
    Some("""WITH RECURSIVE
           |li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |pairs AS (SELECT a.p AS u, b.p AS v
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(DISTINCT a.ok) >= 2),
           |edges AS (SELECT u AS src, v AS dst FROM pairs
           |  UNION ALL SELECT v, u FROM pairs),
           |bfs(iter, node, lvl) AS (
           |  SELECT 0, p_partkey, 0 FROM part WHERE p_partkey % 97 = 0
           |  UNION ALL
           |  SELECT b.iter + 1, e.dst, b.lvl + 1
           |  FROM bfs b JOIN edges e ON b.node = e.src
           |  WHERE b.iter < 4)
           |SELECT node AS part, CAST(min(lvl) AS INT) AS level
           |FROM bfs GROUP BY 1 ORDER BY part""".stripMargin))

  // ---------------------------------------------------------------- q96
  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC '14) over the ≥2-shared-orders co-purchase graph — the
    * O(log n)-round algorithm d03's min-label propagation cites as the
    * adversarial-diameter answer: label propagation needs diameter
    * rounds (a path graph = n rounds), star contraction provably
    * converges in O(log n) regardless of shape.
    *
    * Per round each node re-points its larger (large-star) or
    * not-larger (small-star) neighbors at the minimum of its closed
    * neighborhood; every emitted edge keeps lo < hi, so the edge list
    * stays canonical and the fixpoint test is a count + hash-sum
    * aggregate, not a set diff. Scale shape: each phase is one
    * map-side-combined min-agg on the gather key + one equi-join —
    * d03/q73/q82's iterated-exchange pattern, run by `iterate` until
    * the signature is stable; nothing driver-sized ever collects. */
  val q96ConnectedComponents = QueryDef.checkpointed(
    "q96_connected_components",
    (s, d) => {
      val pairs = sparsePairs(s, d)
      def star(e: org.apache.spark.sql.DataFrame, large: Boolean) = {
        val n = e.select(col("lo").as("u"), col("hi").as("v"))
          .union(e.select(col("hi").as("u"), col("lo").as("v")))
        // neighborhood-min via ONE window exchange on the gather key
        // (r14) — the former groupBy + join-back was two exchanges plus
        // a join per star; the small-star self rows (m, u) dedup in the
        // closing distinct, so the separate DISTINCT mTbl branch is
        // unnecessary
        val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
        val n2 = n.withColumn("m", least(min(col("v")).over(w), col("u")))
        val moved = n2
          .filter(if (large) col("v") > col("u") else col("v") <= col("u"))
          .select(col("m").as("lo"), col("v").as("hi"))
        val base = if (large) moved
          else moved.union(n2.select(col("m").as("lo"), col("u").as("hi")))
        base.filter(col("lo") =!= col("hi")).distinct()
      }
      // the fixpoint signature (count + order-invariant xor) rides the
      // ONE action `cut` runs per round to fill the round's cache
      val ccSig = (e: DataFrame) => e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(lo, hi))")).collect().toSeq
      val start = cut(pairs.select(col("u").as("lo"), col("v").as("hi")),
        ccSig)
      // NOTE (r14): wrapping this loop in an AQE-off scope was measured
      // 4-8× SLOWER (34-80 s vs 9.4 s) — AQE's partition coalescing on
      // the tiny per-round exchanges is worth far more than the
      // query-stage job submissions cost. Loop stays AQE-on.
      val (edges, _) = iterate(start, 12, Rounds.Stable, ccSig)(
        (e, _) => star(star(e, large = true), large = false))
      start._1.unpersist()
      // at the fixpoint every edge is (root, member)
      val lbl = edges.select(col("hi").as("node"), col("lo").as("root"))
        .union(edges.select(col("lo").as("node"), col("lo").as("root"))
          .distinct())
      val res = lbl.distinct().groupBy("root")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("root"))
        .limit(20)
      (res, () => edges.unpersist())
    },
    Some("""WITH RECURSIVE
           |li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |pairs AS (SELECT a.p AS u, b.p AS v
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(DISTINCT a.ok) >= 2),
           |edges AS (SELECT u AS src, v AS dst FROM pairs
           |  UNION ALL SELECT v, u FROM pairs),
           |nodes AS (SELECT DISTINCT src AS node FROM edges),
           |reach(u, w) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT r.u, e.dst FROM reach r JOIN edges e ON r.w = e.src),
           |lbl AS (SELECT u AS node, min(w) AS root FROM reach GROUP BY 1)
           |SELECT root, CAST(count(*) AS BIGINT) AS n_nodes
           |FROM lbl GROUP BY 1
           |ORDER BY n_nodes DESC, root LIMIT 20""".stripMargin))

  // --------------------------------------------------------------- q152
  /** Community detection by SYNCHRONOUS label propagation (Raghavan et
    * al. 2007) over the ≥2-shared-orders co-purchase graph — the
    * near-linear community pass that complements q96: connected
    * components answer "reachable at all?", LPA answers "densely
    * bought together", splitting a giant component into merchandising
    * clusters. Three fixed synchronous rounds (deterministic by
    * construction — no convergence test, no oscillation hazard); each
    * node adopts its neighbors' plurality label with the (count DESC,
    * label ASC) tie-break, so both engines pick identical winners and
    * the result hash-matches an unrolled recursive-CTE oracle.
    *
    * Scale shape: per round ONE equi-join of the symmetric edge list
    * against the label table plus two map-side-combined hash-aggs —
    * (node, label) counts, then a per-node min-of-struct((-c, lab))
    * argmax — so the plurality pick never sorts; both levels partial-
    * aggregate before the exchange (measured faster than the
    * row_number-window form it replaced). d03/q82's iterated-exchange
    * pattern, run by `iterate` for 3 rounds; labels move as
    * (node, label) pairs; nothing driver-sized ever collects. */
  val q152LabelCommunities = QueryDef.checkpointed(
    "q152_label_communities",
    (s, d) => {
      val pairs = sparsePairs(s, d)
      val (edges, _) = cut(
        pairs.select(col("u").as("src"), col("v").as("dst"))
          .union(pairs.select(col("v").as("src"), col("u").as("dst"))))
      val start = cut(edges.select(col("src").as("node"))
        .distinct().withColumn("lab", col("node")))
      // plurality winner via min-of-struct argmax — both aggs combine
      // map-side, no per-node sort (beats row_number-over-window here)
      val (labels, _) = iterate(start, 3) { (lb, _) =>
        edges.join(lb.hint("shuffle_hash"), col("dst") === col("node"))
          .groupBy(col("src"), col("lab"))
          .agg(count(lit(1)).as("c"))
          .groupBy("src")
          .agg(min(struct((-col("c")).as("nc"), col("lab").as("lab")))
            .as("m"))
          .select(col("src").as("node"), col("m.lab").as("lab"))
      }
      start._1.unpersist()
      val sizes = labels.groupBy(col("lab").as("lab2"))
        .agg(count(lit(1)).as("n_members"))
      val res = labels.join(sizes, col("lab") === col("lab2"))
        .select(col("node").as("part"), col("lab").as("community"),
          col("n_members"))
        .orderBy("part")
      (res, () => { labels.unpersist(); edges.unpersist() })
    },
    Some("""WITH
           |li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |pairs AS (SELECT a.p AS u, b.p AS v
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(DISTINCT a.ok) >= 2),
           |edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
           |  UNION ALL SELECT v, u FROM pairs),
           |lab0 AS MATERIALIZED (
           |  SELECT DISTINCT src AS node, src AS lab FROM edges),
           |lab1 AS MATERIALIZED (
           |  SELECT node, lab FROM (
           |    SELECT e.src AS node, l.lab,
           |      row_number() OVER (PARTITION BY e.src
           |        ORDER BY count(*) DESC, l.lab ASC) AS rn
           |    FROM edges e JOIN lab0 l ON e.dst = l.node
           |    GROUP BY e.src, l.lab) WHERE rn = 1),
           |lab2 AS MATERIALIZED (
           |  SELECT node, lab FROM (
           |    SELECT e.src AS node, l.lab,
           |      row_number() OVER (PARTITION BY e.src
           |        ORDER BY count(*) DESC, l.lab ASC) AS rn
           |    FROM edges e JOIN lab1 l ON e.dst = l.node
           |    GROUP BY e.src, l.lab) WHERE rn = 1),
           |lab3 AS MATERIALIZED (
           |  SELECT node, lab FROM (
           |    SELECT e.src AS node, l.lab,
           |      row_number() OVER (PARTITION BY e.src
           |        ORDER BY count(*) DESC, l.lab ASC) AS rn
           |    FROM edges e JOIN lab2 l ON e.dst = l.node
           |    GROUP BY e.src, l.lab) WHERE rn = 1),
           |sizes AS (SELECT lab, CAST(count(*) AS BIGINT) AS n_members
           |  FROM lab3 GROUP BY 1)
           |SELECT node AS part, lab AS community, n_members
           |FROM lab3 JOIN sizes USING (lab)
           |ORDER BY part""".stripMargin))

  // ---------------------------------------------------------------- q98
  /** Link prediction over the ≥2-shared-orders co-purchase graph
    * (q82/q96's sparsified substrate): for every NON-adjacent pair with
    * at least one common neighbor, the three classic scores — common
    * neighbors, Jaccard of neighborhoods, Adamic–Adar — ranked by
    * common-neighbor count. The recommendation / graph-completion query
    * ("parts bought together with both of these") every co-occurrence
    * graph serves.
    *
    * Adamic–Adar is an order-dependent float sum in its textbook form;
    * here each center contributes FLOOR(1e6/ln(deg)) micro-units so the
    * per-pair score is an exact BIGINT sum (the q73 fixed-point
    * convention) — hash-matchable cross-engine.
    *
    * Scale shape: candidate pairs are wedges enumerated at their center
    * (one self-equi-join of the symmetric edge list on the center node,
    * u < v to emit each pair once) — Σdeg² work, the same bound q81's
    * triangle count pays and the reason both run on the sparsified
    * graph; existing edges leave via a left-anti equi-join; degrees
    * attach by two equi-joins on the pair endpoints. Every shuffle key
    * (center, pair, endpoint) scales with the edge set. */
  val q98LinkPrediction = QueryDef.checkpointed(
    "q98_link_prediction",
    (s, d) => {
      val pairs = sparsePairs(s, d)
        .select("u", "v")
        .persist()
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .union(pairs.select(col("v").as("src"), col("u").as("dst")))
      val deg = edges.groupBy(col("src").as("n"))
        .agg(count(lit(1)).cast("long").as("dg"))
      // wedge enumeration at the center: each common neighbor of (u, v)
      // contributes one row; the center's AA weight rides along
      val wedged = edges.as("e1")
        .join(deg.select(col("n").as("src"), col("dg").as("cdeg")), "src")
        .as("e1")
        .join(edges.hint("shuffle_hash").as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.dst").as("u"), col("e2.dst").as("v"),
          expr("CAST(floor(1000000.0 / ln(cdeg)) AS BIGINT)").as("aa_w"))
      val scored = wedged.groupBy("u", "v")
        .agg(count(lit(1)).cast("long").as("common_neighbors"),
          sum("aa_w").as("aa_micro"))
        .join(pairs, Seq("u", "v"), "left_anti")
        // |V|-bounded degree table broadcasts (q186 posture) instead of
        // re-exchanging the scored pair set twice (r14). One-shot per
        // query — not q73's per-round hazard; past the 8 GB relation
        // cap, drop the hint and take the two exchanges (ADVICE r14).
        .join(broadcast(deg.select(col("n").as("u"), col("dg").as("du"))),
          "u")
        .join(broadcast(deg.select(col("n").as("v"), col("dg").as("dv"))),
          "v")
        .select(col("u"), col("v"), col("common_neighbors"), col("aa_micro"),
          r6(col("common_neighbors").cast("double") /
            (col("du") + col("dv") - col("common_neighbors"))).as("jaccard"))
      val res = scored.orderBy(col("common_neighbors").desc,
          col("aa_micro").desc, col("u"), col("v"))
        .limit(20)
      (res, () => pairs.unpersist())
    },
    Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |pairs AS (SELECT a.p AS u, b.p AS v
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(DISTINCT a.ok) >= 2),
           |edges AS (SELECT u AS src, v AS dst FROM pairs
           |  UNION ALL SELECT v, u FROM pairs),
           |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS dg
           |  FROM edges GROUP BY 1),
           |wedged AS (SELECT e1.dst AS u, e2.dst AS v,
           |    CAST(floor(1000000.0 / ln(d.dg)) AS BIGINT) AS aa_w
           |  FROM edges e1
           |  JOIN deg d ON e1.src = d.n
           |  JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst),
           |scored AS (SELECT u, v,
           |    CAST(count(*) AS BIGINT) AS common_neighbors,
           |    CAST(sum(aa_w) AS BIGINT) AS aa_micro
           |  FROM wedged GROUP BY 1, 2),
           |nonadj AS (SELECT s.* FROM scored s
           |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
           |                    WHERE p.u = s.u AND p.v = s.v))
           |SELECT s.u, s.v, s.common_neighbors, s.aa_micro,
           |  round(s.common_neighbors * 1000000.0 /
           |        (du.dg + dv.dg - s.common_neighbors)) / 1000000 AS jaccard
           |FROM nonadj s
           |JOIN deg du ON s.u = du.n JOIN deg dv ON s.v = dv.n
           |ORDER BY common_neighbors DESC, aa_micro DESC, u, v
           |LIMIT 20""".stripMargin))

  // --------------------------------------------------------------- q105
  /** Mutual best-partner detection on the co-purchase graph: each part's
    * top co-purchase partner (by shared-order count, part-key
    * tie-break), kept only when the relationship is reciprocal — the
    * "best friends" pairs that anchor bundle recommendations.
    *
    * Scale shape: pair counts are one shuffle-hash self-join on the
    * order key plus a hash-agg; the top-1-per-part window runs over the
    * aggregated pair table (≤ one row per co-purchase pair), never over
    * lineitem; the mutual check is a self-equi-join of the (part →
    * best) table with itself on the reversed key. No global window, no
    * cartesian step. */
  val q105MutualTop = QueryDef.checkpointed(
    "q105_mutual_top_partner",
    (s, d) => {
      // Pair counts once per UNORDERED pair (u < v), mirrored from cache
      // (r14): counting half and unioning the flipped copy halves the
      // bytes through the count's exchange — the counts are symmetric by
      // construction. Set-first build (r15): see copurchaseCounts.
      val cnt = copurchaseCounts(s, d).persist()
      val counts = cnt.unionByName(
        cnt.select(col("v").as("u"), col("u").as("v"), col("n_ord")))
      // top-1 partner via min-of-struct argmax — both agg levels combine
      // map-side, no per-partition sort (the q152 plurality pattern,
      // replacing the row_number window + its sort exchange)
      val best = counts.groupBy("u")
        .agg(min(struct((-col("n_ord")).as("nn"), col("v").as("vv")))
          .as("m"))
        .select(col("u"), col("m.vv").as("best"), (-col("m.nn")).as("n_ord"))
      val res = best.as("x").join(best.as("y"),
          col("x.u") === col("y.best") && col("x.best") === col("y.u") &&
            col("x.u") < col("y.u"))
        .select(col("x.u").as("part_a"), col("x.best").as("part_b"),
          col("x.n_ord").as("n_shared_orders"))
        .orderBy(col("n_shared_orders").desc, col("part_a"))
        .limit(50)
      (res, () => cnt.unpersist())
    },
    Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |counts AS (
           |  SELECT a.p AS u, b.p AS v, count(DISTINCT a.ok) AS n_ord
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
           |  GROUP BY 1, 2),
           |best AS (
           |  SELECT u, v AS best, n_ord FROM (
           |    SELECT *, row_number() OVER (PARTITION BY u
           |        ORDER BY n_ord DESC, v) AS rn
           |    FROM counts) WHERE rn = 1)
           |SELECT x.u AS part_a, x.best AS part_b,
           |  x.n_ord AS n_shared_orders
           |FROM best x JOIN best y
           |  ON x.u = y.best AND x.best = y.u AND x.u < y.u
           |ORDER BY n_shared_orders DESC, part_a
           |LIMIT 50""".stripMargin))

  // --------------------------------------------------------------- q120
  private val KCoreRounds = 12

  /** k-core decomposition summary over the ≥2-shared-orders co-purchase
    * graph (q96's substrate): for k ∈ {2, 3}, iteratively peel nodes of
    * degree < k until fixpoint and report the surviving core's node
    * count, edge count, and density — the cohesion audit that separates
    * a real community structure from a star-shaped hub (stars die at
    * k = 2, cliques survive every k).
    *
    * Both engines run AT MOST `KCoreRounds` peels: Spark stops at the
    * fixpoint (further rounds are no-ops), the oracle unrolls exactly
    * `KCoreRounds` survivor CTEs — so the results agree even if an
    * adversarial graph were still shrinking at the cap (peeling on
    * real graphs converges in a handful of rounds).
    *
    * Scale shape: per round ONE symmetric-degree hash-agg + two
    * left-semi equi-joins of the edge list against the survivor set —
    * O(E) per round, run by `iterate` until the edge count (`cut`'s
    * default row-count probe) stops changing.
    *
    * Input: an undirected edge frame (u, v), each edge once. The answer
    * reads both cores, which the returned thunk frees; a peel that
    * throws frees its round and the core it started from (`iterate`). */
  private[graft] def kcores(edges: DataFrame): (DataFrame, () => Unit) = {
    def nodes(e: DataFrame) =
      e.select(col("u").as("node")).union(e.select(col("v").as("node")))
    def peel(k: Int)(e: DataFrame, probe: Seq[Row]): DataFrame = {
      val keep = nodes(e).groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("node")
      e.join(keep, e("u") === keep("node"), "left_semi")
        .join(keep, e("v") === keep("node"), "left_semi")
    }
    // k-cores are NESTED (3-core ⊆ 2-core ⊆ G): each k's peel starts
    // from the PREVIOUS k's fixpoint instead of the full graph (r15,
    // guide §1 / dispatch-floor item). Peeling is confluent — the
    // k-core is the unique maximal subgraph of min degree ≥ k, and
    // removing a node of degree < k can never evict a k-core member —
    // so 3-core(2-core(G)) = 3-core(G): identical results with ~half
    // the peel rounds (and their job dispatches), and later rounds
    // scan the already-shrunk core.
    val g = cut(edges)
    val core2 = iterate(g, KCoreRounds, Rounds.Stable)(peel(2))
    g._1.unpersist()
    val core3 = iterate(core2, KCoreRounds, Rounds.Stable)(peel(3))
    def summary(k: Int, core: Rounds.Round): DataFrame =
      nodes(core._1).distinct().agg(count(lit(1)).as("n_nodes"))
        .select(lit(k).as("k"), col("n_nodes"),
          lit(core._2.head.getLong(0)).as("n_edges"))
    val res = summary(2, core2).union(summary(3, core3))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        r6(when(col("n_nodes") >= 2L,
            col("n_edges").cast("double") * 2.0
              / (col("n_nodes").cast("double") * (col("n_nodes") - 1L)))
          .otherwise(lit(0.0))).as("density"))
      .orderBy("k")
    (res, () => { core3._1.unpersist(); core2._1.unpersist() })
  }

  val q120KCore = QueryDef.checkpointed(
    "q120_kcore",
    (s, d) => kcores(sparsePairs(s, d).select("u", "v")),
    Some {
      // every survivor CTE is referenced twice by the next peel —
      // MATERIALIZED stops the planner from inlining the chain
      // exponentially (2^rounds copies of the pairs subtree otherwise)
      def peels(k: Int): String = (1 to KCoreRounds).map { i =>
        s"""s${k}_$i AS MATERIALIZED (
           |  SELECT src AS node FROM sym
           |  JOIN s${k}_${i - 1} a ON sym.src = a.node
           |  JOIN s${k}_${i - 1} b ON sym.dst = b.node
           |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
      }.mkString(",\n")
      def core(k: Int): String =
        s"""SELECT $k AS k,
           |  (SELECT CAST(count(*) AS BIGINT) FROM s${k}_$KCoreRounds)
           |    AS n_nodes,
           |  (SELECT CAST(count(*) AS BIGINT) FROM pairs p
           |    JOIN s${k}_$KCoreRounds a ON p.u = a.node
           |    JOIN s${k}_$KCoreRounds b ON p.v = b.node) AS n_edges"""
          .stripMargin
      s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |pairs AS MATERIALIZED (SELECT a.p AS u, b.p AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(DISTINCT a.ok) >= 2),
         |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
         |  UNION ALL SELECT v, u FROM pairs),
         |s2_0 AS (SELECT DISTINCT src AS node FROM sym),
         |${peels(2)},
         |s3_0 AS (SELECT DISTINCT src AS node FROM sym),
         |${peels(3)},
         |cores AS (${core(2)} UNION ALL ${core(3)})
         |SELECT k, n_nodes, n_edges,
         |  CASE WHEN n_nodes >= 2 THEN round(CAST(n_edges AS DOUBLE) * 2.0
         |    / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1)) * 1000000)
         |    / 1000000 ELSE 0.0 END AS density
         |FROM cores ORDER BY k""".stripMargin
    })

  // --------------------------------------------------------------- q163
  /** Exact 2-hop neighborhood size per node over the sparsified
    * (≥2-shared-orders) co-purchase graph — the r=2 point of the
    * neighborhood function N(v, r) that powers graph-diameter and
    * influence-reach analytics (Palmer et al.'s ANF statistic). Counts
    * distinct nodes within ≤2 hops, excluding the node itself.
    *
    * Scale shape: edges build with q82's two exchanges; the 2-hop
    * expansion is ONE hash equi-join on the shared middle endpoint
    * whose output streams straight into a distinct-agg on (src, node) —
    * the wedge-enumeration cost q81 documents, O(Σdeg²) with no
    * materialized set. This EXACT form is the oracle twin of q164's
    * HyperBall sketch, which is the registered scale path for r ≥ 2 on
    * graphs where distinct-sets stop fitting (the d07↔d08 /
    * q54↔q59 exact↔sketch split). */
  val q163TwoHop = QueryDef.checkpointed(
    "q163_two_hop",
    (s, d) => {
      val pairs = sparsePairs(s, d)
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .union(pairs.select(col("v").as("src"), col("u").as("dst")))
        .persist()
      val hop2 = edges.as("e1")
        .join(edges.hint("shuffle_hash").as("e2"),
          col("e1.dst") === col("e2.src") && col("e2.dst") =!= col("e1.src"))
        .select(col("e1.src").as("src"), col("e2.dst").as("node"))
      val res = edges.select(col("src"), col("dst").as("node"))
        .union(hop2)
        .groupBy("src").agg(countDistinct(col("node")).as("n_within_2"))
        .select(col("src").as("part"), col("n_within_2"))
        .orderBy("part")
      (res, () => edges.unpersist())
    },
    Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |pairs AS (SELECT a.p AS u, b.p AS v
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(DISTINCT a.ok) >= 2),
           |edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
           |  UNION ALL SELECT v, u FROM pairs),
           |ball AS (
           |  SELECT src, dst AS node FROM edges
           |  UNION
           |  SELECT e1.src, e2.dst FROM edges e1
           |  JOIN edges e2 ON e1.dst = e2.src AND e2.dst <> e1.src)
           |SELECT src AS part, CAST(count(DISTINCT node) AS BIGINT)
           |  AS n_within_2
           |FROM ball GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q164
  /** HyperBall neighborhood-function sketch (Boldi & Vigna's
    * HLL-counter formulation of ANF): per-node DataSketches HLL
    * registers seeded with {self}, then one merge round per hop —
    * B_r(v) = B_{r-1}(v) ∪ ⋃_{u∈N(v)} B_{r-1}(u) — so the ≤2-hop reach
    * estimate costs two O(E) register-merge joins REGARDLESS of how
    * large the distinct 2-hop sets grow. This is the registered scale
    * path for neighborhood reach: q163's exact distinct-agg is its
    * oracle twin (sketch estimates are implementation-defined →
    * rows-only in the driver, with SketchSpec gating mean relative
    * error vs q163's exact counts at lgK=14's ~0.8% σ).
    *
    * Scale shape: registers are fixed-size (2^14 nibbles) per node;
    * each round is one equi-join on the edge list + one
    * map-side-combined hll_union_agg — the q73/q82 iterated-exchange
    * pattern with sketches as the message payload. At 100 TB the
    * registers stream through shuffles at O(V · 2^lgK) bytes while the
    * exact form's O(Σ|B_2(v)|) pair stream does not. */
  val q164AnfSketch = QueryDef.checkpointed(
    "q164_anf_sketch",
    (s, d) => {
      val pairs = sparsePairs(s, d)
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .union(pairs.select(col("v").as("src"), col("u").as("dst")))
        .persist()
      // round 1: B_1(v) = {v} ∪ N(v), as an HLL register per node
      val b1 = edges.select(col("src"), col("dst").as("m"))
        .union(edges.select(col("src"), col("src").as("m")).distinct())
        .groupBy("src").agg(expr("hll_sketch_agg(m, 14)").as("sk"))
        .persist()
      // round 2: merge each neighbor's B_1 into the node's own
      val b2 = edges
        .join(b1.select(col("src").as("node"), col("sk")),
          col("dst") === col("node"))
        .select(col("src"), col("sk"))
        .union(b1.select(col("src"), col("sk")))
        .groupBy("src").agg(expr("hll_union_agg(sk)").as("sk2"))
      val res = b2
        .select(col("src").as("part"),
          expr("hll_sketch_estimate(sk2)").as("ball2_est"))
        .orderBy("part")
      (res, () => { b1.unpersist(); edges.unpersist() })
    },
    None)

  // --------------------------------------------------------------- q180
  /** Harmonic centrality via HyperBall (Boldi & Vigna's actual
    * application of the ANF sketch): H(v) = Σ_{u≠v} 1/d(u,v),
    * accumulated per radius as Σ_r (|B_r| − |B_{r−1}|)/r — every node
    * at distance r contributes 1/r, and the per-radius ball sizes come
    * from q164's HLL registers, so the centrality of EVERY node costs
    * R register-merge rounds over the edge list instead of all-pairs
    * BFS. Truncated at R=3 (this graph's effective diameter; deeper
    * radii add 1/4-weighted tails). The top of this ranking is the
    * "best-connected merchandise" list — reach-weighted, not just
    * degree (q81/q120's families).
    *
    * Scale shape: q164's iterated O(E) register-merge join per round,
    * registers fixed at 2^14 nibbles/node, persist/unpersist hygiene,
    * one TakeOrdered(20) at the end. Rows-only (sketch estimates are
    * implementation-defined); SketchSpec gates the r≤2 truncation
    * against the EXACT harmonic from degree + q163's two-hop counts. */
  val q180HarmonicCentrality = QueryDef.checkpointed(
    "q180_harmonic_centrality",
    (s, d) => {
      val pairs = sparsePairs(s, d)
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .union(pairs.select(col("v").as("src"), col("u").as("dst")))
        .persist()
      val b1 = edges.select(col("src"), col("dst").as("m"))
        .union(edges.select(col("src"), col("src").as("m")).distinct())
        .groupBy("src").agg(expr("hll_sketch_agg(m, 14)").as("sk"))
        .persist()
      def nextBall(prev: org.apache.spark.sql.DataFrame) = {
        val merged = edges
          .join(prev.select(col("src").as("node"), col("sk")),
            col("dst") === col("node"))
          .select(col("src"), col("sk"))
          .union(prev.select(col("src"), col("sk")))
          .groupBy("src").agg(expr("hll_union_agg(sk)").as("sk"))
        merged
      }
      val b2 = nextBall(b1).persist()
      val b3 = nextBall(b2)
      val est = b3.select(col("src"), expr("hll_sketch_estimate(sk)")
          .as("e3"))
        .join(b2.select(col("src").as("s2"),
          expr("hll_sketch_estimate(sk)").as("e2")),
          col("src") === col("s2"))
        .join(b1.select(col("src").as("s1"),
          expr("hll_sketch_estimate(sk)").as("e1")),
          col("src") === col("s1"))
      val res = est.select(col("src").as("part"),
          expr("cast(e1 - 1 as double)").as("reach1"),
          expr("cast(greatest(e2 - e1, 0) as double)").as("reach2"),
          expr("cast(greatest(e3 - e2, 0) as double)").as("reach3"),
          expr("round((cast(e1 - 1 as double)" +
            " + cast(greatest(e2 - e1, 0) as double) / 2" +
            " + cast(greatest(e3 - e2, 0) as double) / 3) * 1000) / 1000")
            .as("harmonic"))
        .orderBy(col("harmonic").desc, col("part").asc)
        .limit(20)
      (res, () => { b2.unpersist(); b1.unpersist(); edges.unpersist() })
    },
    None)

  // --------------------------------------------------------------- q186
  /** Degree assortativity of the co-purchase graph — the Pearson
    * correlation of endpoint degrees over all (symmetric) edges: do
    * popular parts co-sell with other popular parts (r > 0, the
    * "rich club") or with the long tail (r < 0, hub-and-spoke)? The
    * one-number structural diagnostic that tells a recommender whether
    * degree is a useful feature, beside q81's clustering and q120's
    * coreness. All sufficient statistics are exact integer sums over
    * the edge list (q63's explicit-sum Pearson; squares as
    * decimal(38,0) ↔ HUGEINT, the q132 convention), so the statistic
    * is bit-stable.
    *
    * Scale shape: q82's two-exchange edge build; the degree table is
    * |nodes|-sized and BROADCASTS back onto the edge list twice; one
    * map-side-combined 1-row reduce. */
  val q186Assortativity = QueryDef.checkpointed(
    "q186_assortativity",
    (s, d) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val pairs = sparsePairs(s, d)
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .union(pairs.select(col("v").as("src"), col("u").as("dst")))
        .persist() // referenced by the degree agg AND the edge reduce —
                   // without this Spark re-runs the wedge join per branch
      val deg = edges.groupBy(col("src").as("n"))
        .agg(count(lit(1)).as("deg"))
      val res = edges
        .join(broadcast(deg.select(col("n").as("ns"),
          col("deg").as("dx"))), col("src") === col("ns"))
        .join(broadcast(deg.select(col("n").as("nd"),
          col("deg").as("dy"))), col("dst") === col("nd"))
        .agg(count(lit(1)).as("n_edges"),
          sum("dx").as("sx"), sum(dec(col("dx")) * dec(col("dx")))
            .as("sxx"),
          sum("dy").as("sy"), sum(dec(col("dy")) * dec(col("dy")))
            .as("syy"),
          sum(dec(col("dx")) * dec(col("dy"))).as("sxy"))
        .select(col("n_edges"),
          expr("cast(round(1e6 * (cast(n_edges * sxy - sx * sy" +
            " as double))" +
            " / sqrt(cast(n_edges * sxx - sx * sx as double)" +
            " * cast(n_edges * syy - sy * sy as double))) as bigint)")
            .as("assortativity_micro"))
      (res, () => edges.unpersist())
    },
    Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p
           |  FROM lineitem),
           |pairs AS (SELECT a.p AS u, b.p AS v
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(DISTINCT a.ok) >= 2),
           |edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
           |  UNION ALL SELECT v, u FROM pairs),
           |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
           |  FROM edges GROUP BY 1),
           |st AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
           |    CAST(sum(dx.deg) AS BIGINT) AS sx,
           |    sum(CAST(dx.deg AS HUGEINT) * dx.deg) AS sxx,
           |    CAST(sum(dy.deg) AS BIGINT) AS sy,
           |    sum(CAST(dy.deg AS HUGEINT) * dy.deg) AS syy,
           |    sum(CAST(dx.deg AS HUGEINT) * dy.deg) AS sxy
           |  FROM edges JOIN deg dx ON src = dx.n
           |    JOIN deg dy ON dst = dy.n)
           |SELECT n_edges,
           |  CAST(round(1e6 * (CAST(n_edges * sxy - sx * sy AS DOUBLE))
           |    / sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)
           |      * CAST(n_edges * syy - sy * sy AS DOUBLE)))
           |    AS BIGINT) AS assortativity_micro
           |FROM st""".stripMargin))

  val all: Seq[QueryDef] = Seq(q73CopurchaseRank, q81Triangles, q82BfsLevels,
    q96ConnectedComponents, q98LinkPrediction, q105MutualTop, q120KCore,
    q152LabelCommunities, q163TwoHop, q164AnfSketch,
    q180HarmonicCentrality, q186Assortativity)
}
