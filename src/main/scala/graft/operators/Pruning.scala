package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryDef

/** Explicit bloom-filter join pruning: cut the fact side of a
  * fact-to-filtered-dim join BEFORE the join's exchange, using the bloom
  * sketch expressions Spark ships for its own runtime filter injection
  * (exposed to SQL via GraftExtensions).
  *
  * At this SF the dim side broadcasts and pruning is redundant — the
  * point is the at-scale plan: with a dim too large to broadcast the
  * join degrades to sort-merge, and each side shuffles IN FULL before
  * any row is dropped. The bloom (a few MB even for 10^8 keys) rides to
  * every fact task as a scalar-subquery result and drops non-matching
  * fact rows at the scan, so the fact shuffle carries only ~selectivity
  * of the data. Catalyst's own InjectRuntimeFilter does this when it can
  * prove the pattern; the explicit form covers dim pipelines the rule
  * can't see through (and is exact on the final result either way —
  * bloom false positives are removed by the join itself, which is why
  * the oracle is the plain join).
  */
object Pruning {

  // ---------------------------------------------------------------- q49
  val q49BloomPruneJoin = QueryDef(
    "q49_bloom_prune_join",
    (s, d) => {
      graft.Tables.registerViews(s, d)
      graft.GraftExtensions.register(s)
      s.sql("""WITH dim AS (
              |  SELECT s_suppkey, n_name
              |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |  WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')),
              |pruned AS (
              |  SELECT l_suppkey, l_extendedprice, l_discount
              |  FROM lineitem
              |  WHERE might_contain(
              |    (SELECT bloom_filter_agg(xxhash64(s_suppkey)) FROM dim),
              |    xxhash64(l_suppkey)))
              |SELECT n_name,
              |  CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
              |  CAST(count(*) AS BIGINT) AS n_items,
              |  round(sum(l_extendedprice * (1 - l_discount)) * 100) / 100 AS revenue
              |FROM pruned JOIN dim ON l_suppkey = s_suppkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin)
    },
    Some("""SELECT n_name,
           |  CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
           |  CAST(count(*) AS BIGINT) AS n_items,
           |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  // --------------------------------------------------------------- q125
  /** Scan through the custom batch DSv2 source
    * (graft.connectors.ArchiveSource) with all three pushdowns live:
    * the type-equality and id-range predicates evaluate INSIDE the
    * reader, the id range prunes whole input splits at planning time,
    * and column pruning drops user_id before a byte moves. The row
    * formula is pure integer arithmetic, so the DuckDB oracle replays
    * the source with generate_series and the custom connector is
    * proven end-to-end against an independent engine.
    * ExtensionsSpec pins the pushdown evidence in the plan. */
  val q125ArchivePushdown = QueryDef(
    "q125_archive_pushdown",
    (s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.connectors.ArchiveSource").load()
        .filter(col("event_type") === "click" &&
          col("event_id") >= 10000L && col("event_id") < 60000L)
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value * 1000) as bigint)")).as("vm_sum"))
        .orderBy("day")
    },
    Some("""WITH ids AS (
           |  SELECT g AS id FROM generate_series(10000, 59999) t(g)),
           |rows_ AS (
           |  SELECT id % 365 AS day,
           |    ['click','view','purchase','signup','error']
           |      [CAST((id * 40503) % 5 AS INT) + 1] AS event_type,
           |    (id * 48271) % 1000000 AS vm
           |  FROM ids)
           |SELECT day, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(vm) AS BIGINT) AS vm_sum
           |FROM rows_ WHERE event_type = 'click'
           |GROUP BY day ORDER BY day""".stripMargin))

  // --------------------------------------------------------------- q142
  /** Aggregate pushdown through the custom DSv2 source: global
    * COUNT(*) / MIN / MAX over a filtered id range are answered by the
    * scan itself from the row formula's modular arithmetic — O(1) per
    * split, NO ROW EVER MATERIALIZED (the archival analog of answering
    * COUNT from parquet footer stats). Partial pushdown: each split
    * returns one pre-aggregated row and Spark merges, so the result is
    * split-count-independent. ExtensionsSpec pins ArchiveAggScan in
    * the plan; the DuckDB oracle replays the formula with
    * generate_series — the whole pushdown path is oracle-matched. */
  val q142ArchiveAggPushdown = QueryDef(
    "q142_archive_agg_pushdown",
    (s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.connectors.ArchiveSource").load()
        .filter(col("event_type") === "view" &&
          col("event_id") >= 5000L && col("event_id") < 95000L)
        .agg(count(lit(1)).as("n_rows"),
          min("event_id").as("min_id"),
          max("event_id").as("max_id"))
    },
    Some("""WITH ids AS (
           |  SELECT g AS id FROM generate_series(5000, 94999) t(g)),
           |rows_ AS (
           |  SELECT id,
           |    ['click','view','purchase','signup','error']
           |      [CAST((id * 40503) % 5 AS INT) + 1] AS event_type
           |  FROM ids)
           |SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  min(id) AS min_id, max(id) AS max_id
           |FROM rows_ WHERE event_type = 'view'""".stripMargin))

  // --------------------------------------------------------------- q144
  /** GROUP BY pushdown through the custom DSv2 source: per-type
    * count/min/max over an id range are answered by the scan with one
    * O(1) row per (split, present type) — matching ids form one
    * residue class mod 5, so each group's stats are arithmetic, and
    * absent groups are never invented. Spark's merge aggregate keeps
    * the result split-count-independent (partial pushdown). The
    * DuckDB oracle replays the formula with generate_series, so the
    * grouped pushdown path is oracle-matched end to end. */
  val q144ArchiveGroupPushdown = QueryDef(
    "q144_archive_group_pushdown",
    (s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.connectors.ArchiveSource").load()
        .filter(col("event_id") >= 20000L && col("event_id") < 80000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          min("event_id").as("min_id"),
          max("event_id").as("max_id"))
        .orderBy("event_type")
    },
    Some("""WITH ids AS (
           |  SELECT g AS id FROM generate_series(20000, 79999) t(g)),
           |rows_ AS (
           |  SELECT id,
           |    ['click','view','purchase','signup','error']
           |      [CAST((id * 40503) % 5 AS INT) + 1] AS event_type
           |  FROM ids)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           |  min(id) AS min_id, max(id) AS max_id
           |FROM rows_ GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q191
  /** LIMIT pushdown through the custom DSv2 source
    * (`SupportsPushDownLimit`): the scan truncates its ORDERED pruned
    * id-ranges to exactly the first 1000 rows matching the pushed
    * filters — residue arithmetic finds the exact cut id, so the push
    * is TOTAL (isPartiallyPushed = false, Spark drops its own limit)
    * and the boundary split plans only the fraction the limit needs.
    * The archival analog of a LIMIT stopping at the first parquet
    * row-groups instead of scanning the table. The post-limit
    * aggregate makes the check order-insensitive while pinning the
    * exact surviving id SET; ExtensionsSpec pins `limit=[1000]` in the
    * plan and the ≤1000-row scan output. Oracle: generate_series
    * replays the formula, ORDER BY id LIMIT 1000 — the full-push
    * contract (smallest 1000 matching ids) oracle-matched. */
  val q191ArchiveLimitPushdown = QueryDef(
    "q191_archive_limit_pushdown",
    (s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.connectors.ArchiveSource").load()
        .filter(col("event_type") === "purchase" &&
          col("event_id") >= 20000L && col("event_id") < 80000L)
        .limit(1000)
        .agg(count(lit(1)).as("n_rows"),
          min("event_id").as("min_id"),
          max("event_id").as("max_id"),
          sum(expr("cast(round(value * 1000) as bigint)")).as("vm_sum"))
    },
    Some("""WITH ids AS (
           |  SELECT g AS id FROM generate_series(20000, 79999) t(g)),
           |rows_ AS (
           |  SELECT id, (id * 48271) % 1000000 AS vm
           |  FROM ids
           |  WHERE ['click','view','purchase','signup','error']
           |    [CAST((id * 40503) % 5 AS INT) + 1] = 'purchase'
           |  ORDER BY id LIMIT 1000)
           |SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  min(id) AS min_id, max(id) AS max_id,
           |  CAST(sum(vm) AS BIGINT) AS vm_sum
           |FROM rows_""".stripMargin))

  // --------------------------------------------------------------- q192
  /** Top-N pushdown through the custom DSv2 source
    * (`SupportsPushDownTopN`): ORDER BY event_id DESC LIMIT 500 walks
    * the pruned ranges from the END and keeps exactly the 500 largest
    * matching ids (partial push — Spark still merges the ≤500
    * survivors in its TakeOrdered, but the scan never reads the other
    * 99% of the range). Completes the connector's pushdown ladder:
    * filter, column, partition, aggregate, GROUP BY, limit, top-N.
    * Oracle: generate_series ORDER BY id DESC LIMIT 500 replays the
    * same suffix. */
  val q192ArchiveTopnPushdown = QueryDef(
    "q192_archive_topn_pushdown",
    (s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.connectors.ArchiveSource").load()
        .filter(col("event_type") === "error" &&
          col("event_id") < 70000L)
        .orderBy(col("event_id").desc)
        .limit(500)
        .select(col("event_id"), col("user_id"), col("day"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
    },
    Some("""WITH ids AS (
           |  SELECT g AS id FROM generate_series(0, 69999) t(g)),
           |rows_ AS (
           |  SELECT id AS event_id, (id * 2654435761) % 997 AS user_id,
           |    id % 365 AS day, (id * 48271) % 1000000 AS vm
           |  FROM ids
           |  WHERE ['click','view','purchase','signup','error']
           |    [CAST((id * 40503) % 5 AS INT) + 1] = 'error'
           |  ORDER BY id DESC LIMIT 500)
           |SELECT event_id, user_id, day, vm FROM rows_""".stripMargin))

  // --------------------------------------------------------------- q193
  /** Runtime filtering through the custom DSv2 source
    * (`SupportsRuntimeFiltering` — the dynamic-partition-pruning
    * analog): the selective dim side executes first and Spark hands
    * the observed event_id set to the scan BEFORE partitions plan, so
    * id-range splits holding no candidate key are never read (7 of 8
    * pruned here; ExtensionsSpec pins the dynamic filter in the plan,
    * the 1-surviving-split execution, and rows-identical behavior with
    * DPP disabled). The dim is a Range, not a local relation —
    * ConvertToLocalRelation would fold the filter away and DPP would
    * see no selective predicate. At 100 TB this is the star-join
    * fact-scan killer: the fact reads only the partitions the filtered
    * dimension actually references. */
  val q193ArchiveRuntimePrune = QueryDef(
    "q193_archive_runtime_prune",
    (s, _) => {
      import org.apache.spark.sql.functions._
      val dim = s.range(0L, 100000L).select(col("id").as("k"))
        .filter(col("k") < 10000L && col("k") % 999L === 0L)
      s.read.format("graft.connectors.ArchiveSource").load()
        .join(broadcast(dim), col("event_id") === col("k"))
        .select(col("event_id"), col("event_type"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
        .orderBy("event_id")
    },
    Some("""WITH dim AS (
           |  SELECT g AS k FROM generate_series(0, 9999) t(g)
           |  WHERE g % 999 = 0),
           |rows_ AS (
           |  SELECT g AS event_id,
           |    ['click','view','purchase','signup','error']
           |      [CAST((g * 40503) % 5 AS INT) + 1] AS event_type,
           |    (g * 48271) % 1000000 AS vm
           |  FROM generate_series(0, 99999) t(g))
           |SELECT event_id, event_type, vm
           |FROM rows_ JOIN dim ON event_id = k
           |ORDER BY event_id""".stripMargin))

  // --------------------------------------------------------------- q194
  /** Key-grouped storage partitioning through the custom DSv2 source
    * (`SupportsReportPartitioning` — the last rung of the connector
    * ladder): with `layout=by_type` the archive plans ONE split per
    * event_type (all rows of a type in one split, declared via
    * `HasPartitionKey` + `KeyGroupedPartitioning`), so this
    * groupBy(event_type) aggregation plans with ZERO exchange — Spark
    * sees the storage clustering already satisfies the aggregation's
    * distribution and reads straight into the final aggregate. The
    * DSv2 analog of a bucketed table; at 100 TB it removes the full
    * fact-table shuffle from every by-key rollup. The summed measure
    * (vm) is deliberately NOT an agg the source can push (q142/q144
    * cover that), so a real HashAggregate runs above the scan and the
    * exchange elision is what's being exercised. ExtensionsSpec pins
    * exchange-count 0 with the declaration live vs ≥1 with
    * spark.sql.sources.v2.bucketing.enabled off (the conf is a
    * session-builder default in every harness, not a query-time
    * mutation). Oracle:
    * generate_series replays the row formula. */
  val q194ArchiveKeyGrouped = QueryDef(
    "q194_archive_keygrouped",
    (s, _) => {
      import org.apache.spark.sql.functions._
      // spark.sql.sources.v2.bucketing.enabled is set session-wide by
      // every harness builder (Bench/Verify/PlanAudit/SparkSpec) — the
      // query def must not mutate the shared session, or the conf
      // would leak into every query that runs after it in a sweep
      s.read.format("graft.connectors.ArchiveSource")
        .option("layout", "by_type").load()
        .filter(col("event_id") >= 10000L && col("event_id") < 90000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("cast(round(value * 1000) as bigint)")).as("vm_sum"),
          min("event_id").as("min_id"),
          max("event_id").as("max_id"))
    },
    Some("""WITH ids AS (
           |  SELECT g AS id FROM generate_series(10000, 89999) t(g)),
           |rows_ AS (
           |  SELECT id,
           |    ['click','view','purchase','signup','error']
           |      [CAST((id * 40503) % 5 AS INT) + 1] AS event_type,
           |    (id * 48271) % 1000000 AS vm
           |  FROM ids)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(vm) AS BIGINT) AS vm_sum,
           |  min(id) AS min_id, max(id) AS max_id
           |FROM rows_ GROUP BY 1""".stripMargin))

  // --------------------------------------------------------------- q150
  /** Partition-strategy planner: score candidate partition keys for the
    * events table from catalog-style stats — the decision every 100 TB
    * table owner makes once and lives with. For each candidate
    * (event_type / day / hour / user_id mod 1024) it measures partition
    * count, total rows, max-partition rows, and a skew ratio
    * (max/avg, micro-unit fixed point), then scores: a candidate earns
    * its point only when cardinality sits in the manageable [16, 4096]
    * file-count band, minus its skew penalty — so low-cardinality
    * (event_type: giant files, no pruning granularity) and
    * high-skew keys rank below a balanced calendar/hash key.
    *
    * Scale shape: ONE scan; the 4× explode happens map-side and
    * collapses via partial agg to the candidate×key cell grid (every
    * candidate is domain-bounded: 5 types, ~30 days, ~720 hours, 1024
    * hash buckets), so the only shuffle carries cells, not rows. The
    * rank window runs over 4 rows. */
  val q150PartitionPlanner = QueryDef(
    "q150_partition_planner",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = graft.Tables.events(s, d)
        .select(explode(array(
          struct(lit("event_type").as("cand"),
            col("event_type").as("keyval")),
          struct(lit("day").as("cand"),
            expr("cast(unix_micros(ts) div 86400000000 as string)")
              .as("keyval")),
          struct(lit("hour").as("cand"),
            expr("cast(unix_micros(ts) div 3600000000 as string)")
              .as("keyval")),
          struct(lit("user_mod").as("cand"),
            expr("cast(user_id % 1024 as string)").as("keyval"))))
          .as("c"))
        .select(col("c.cand").as("cand"), col("c.keyval").as("keyval"))
        .groupBy("cand", "keyval").agg(count(lit(1)).as("n"))
      val per = cells.groupBy("cand")
        .agg(count(lit(1)).as("n_parts"), sum("n").as("total"),
          max("n").as("max_n"))
        .withColumn("skew_micro",
          round(col("max_n").cast("double") * col("n_parts")
            / col("total") * 1e6).cast("long"))
        .withColumn("score_micro",
          when(col("n_parts").between(16, 4096), 1000000L)
            .otherwise(0L) - col("skew_micro"))
      per.withColumn("rk", rank().over(
          Window.orderBy(col("score_micro").desc, col("cand"))))
        .select(col("cand"), col("n_parts"), col("total"), col("max_n"),
          col("skew_micro"), col("score_micro"), col("rk"))
        .orderBy("rk", "cand")
    },
    Some("""WITH cells AS (
          |  SELECT cand, keyval, CAST(count(*) AS BIGINT) AS n FROM (
          |    SELECT 'event_type' AS cand, event_type AS keyval
          |    FROM events
          |    UNION ALL SELECT 'day',
          |      CAST(epoch_us(ts) // 86400000000 AS VARCHAR) FROM events
          |    UNION ALL SELECT 'hour',
          |      CAST(epoch_us(ts) // 3600000000 AS VARCHAR) FROM events
          |    UNION ALL SELECT 'user_mod',
          |      CAST(user_id % 1024 AS VARCHAR) FROM events)
          |  GROUP BY 1, 2),
          |per AS (
          |  SELECT cand, CAST(count(*) AS BIGINT) AS n_parts,
          |    CAST(sum(n) AS BIGINT) AS total,
          |    CAST(max(n) AS BIGINT) AS max_n
          |  FROM cells GROUP BY 1),
          |scored AS (
          |  SELECT *,
          |    CAST(round(CAST(max_n AS DOUBLE) * n_parts / total * 1e6)
          |      AS BIGINT) AS skew_micro,
          |    (CASE WHEN n_parts BETWEEN 16 AND 4096 THEN 1000000
          |      ELSE 0 END)
          |      - CAST(round(CAST(max_n AS DOUBLE) * n_parts / total
          |        * 1e6) AS BIGINT) AS score_micro
          |  FROM per)
          |SELECT cand, n_parts, total, max_n, skew_micro, score_micro,
          |  CAST(rank() OVER (ORDER BY score_micro DESC, cand)
          |    AS INT) AS rk
          |FROM scored ORDER BY rk, cand""".stripMargin))

  // --------------------------------------------------------------- q151
  /** Zone-map data-skipping audit — measures what q76's layouts BUY:
    * lay events into files two ways (2-day time-range cut vs balanced
    * 5+5-bit Morton cut on day-offset × type-hash), build each file's
    * zone map (min/max day offset + the file's event-type set), then
    * replay a probe workload (every event type × four probe WEEKS)
    * against the zone maps alone and report how many files each layout
    * must read. Time-cut files each contain every event type, so type
    * selectivity prunes nothing and a week probe pays the full range;
    * z-order files bound BOTH dimensions, so the same probe touches
    * only the day-quadrant × hash-quadrant intersection — the
    * data-skipping argument, quantified without scanning a row twice.
    *
    * Scale shape: ONE corpus scan (plus the 1-column span stat scan)
    * feeds everything — the two layouts stack() map-side into one
    * (layout, file, type) cell aggregate, file-level zone bounds and
    * per-layout file totals ride full-frame windows over that
    * catalog-sized cell grid, and the probe workload EXPLODES onto the
    * cells (each cell row tests its own type against the four probe
    * weeks), so no probe relation and no second derivation of the cut
    * table exist to re-trigger the scan. The branchy original read
    * events TEN times (scan.input_rows — zone/pairs/probes each
    * re-derived the cuts; no subplan CSE), while claiming "without
    * scanning a row twice"; now the claim is literally true. At write
    * time the same keys feed repartitionByRange. */
  val q151SkippingAudit = QueryDef(
    "q151_skipping_audit",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def interleave(a: String, b: String): String =
        (0 until 5).map(i =>
          s"(((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1}))")
          .mkString(" + ")
      val span = graft.Tables.events(s, d)
        .agg(min(expr("unix_micros(ts) div 86400000000")).as("d0"))
      val cells = graft.Tables.events(s, d)
        .crossJoin(broadcast(span))
        .withColumn("a",
          expr("(unix_micros(ts) div 86400000000) - d0"))
        .withColumn("b",
          expr("cast(conv(substring(md5(event_type), 1, 2), 16, 10) as bigint) & 31"))
        .withColumn("zkey", expr(interleave("a", "b")))
        .selectExpr("event_type", "a",
          "stack(2, 'time', a div 2, 'zorder', zkey div 64) as (layout, file_id)")
        .groupBy("layout", "file_id", "event_type")
        .agg(min("a").as("m1"), max("a").as("m2"))
      val byFile = Window.partitionBy("layout", "file_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val byLayout = Window.partitionBy("layout")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val read = cells
        .withColumn("min_a", min("m1").over(byFile))
        .withColumn("max_a", max("m2").over(byFile))
        .withColumn("first_of_file",
          row_number().over(Window.partitionBy("layout", "file_id")
            .orderBy("event_type")) === 1)
        .withColumn("files_total",
          sum(when(col("first_of_file"), 1L).otherwise(0L))
            .over(byLayout))
        .select(col("layout"), col("event_type").as("ptype"),
          col("min_a"), col("max_a"), col("files_total"),
          explode(array(lit(2L), lit(9L), lit(16L), lit(23L))).as("pa"))
        .filter(col("min_a") <= col("pa") + 6L
          && col("pa") <= col("max_a"))
        .groupBy("layout", "ptype", "pa")
        .agg(count(lit(1)).as("files_read"),
          first("files_total").as("files_total"))
      read
        .select(col("layout"), col("ptype"), col("pa"),
          col("files_read"), col("files_total"),
          graft.functions.Rounding.r4(col("files_read").cast("double")
            / col("files_total")).as("read_frac"))
        .orderBy("layout", "ptype", "pa")
    },
    Some {
      val il = (0 until 5).map(i =>
        s"((((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" + ")
      s"""WITH span AS (
         |  SELECT min(epoch_us(ts) // 86400000000) AS d0 FROM events),
         |ev AS (
         |  SELECT event_type,
         |    (epoch_us(ts) // 86400000000) - d0 AS a,
         |    ('0x' || substr(md5(event_type), 1, 2))::BIGINT & 31 AS b
         |  FROM events CROSS JOIN span),
         |z AS (SELECT *, $il AS zkey FROM ev),
         |cuts AS (
         |  SELECT 'time' AS layout, a // 2 AS file_id, event_type, a
         |  FROM z
         |  UNION ALL
         |  SELECT 'zorder', zkey // 64, event_type, a FROM z),
         |zone AS (
         |  SELECT layout, file_id, min(a) AS min_a, max(a) AS max_a
         |  FROM cuts GROUP BY 1, 2),
         |pairs AS (
         |  SELECT DISTINCT layout, file_id, event_type FROM cuts),
         |nfiles AS (
         |  SELECT layout, CAST(count(*) AS BIGINT) AS files_total
         |  FROM zone GROUP BY 1),
         |probes AS (
         |  SELECT ptype, pa FROM
         |    (SELECT DISTINCT event_type AS ptype FROM cuts)
         |    CROSS JOIN (SELECT CAST(unnest([2, 9, 16, 23]) AS BIGINT)
         |      AS pa)),
         |rd AS (
         |  SELECT zone.layout, ptype, pa,
         |    CAST(count(*) AS BIGINT) AS files_read
         |  FROM zone CROSS JOIN probes
         |  JOIN pairs ON pairs.layout = zone.layout
         |    AND pairs.file_id = zone.file_id
         |    AND pairs.event_type = probes.ptype
         |  WHERE min_a <= pa + 6 AND pa <= max_a
         |  GROUP BY 1, 2, 3)
         |SELECT rd.layout, ptype, pa, files_read, files_total,
         |  round(CAST(files_read AS DOUBLE) / files_total * 10000)
         |    / 10000 AS read_frac
         |FROM rd JOIN nfiles ON nfiles.layout = rd.layout
         |ORDER BY rd.layout, ptype, pa""".stripMargin
    })

  // --------------------------------------------------------------- q156
  /** Dictionary-encoding advisor — the third leg of the physical-design
    * family (q150 picks the partition key, q151 proves what zone maps
    * buy, q156 decides the column encoding): for each audited string
    * column it compares plain size (Σ value lengths) against
    * dictionary size (distinct-value pool + n × ceil(log2 k)-bit
    * indexes) and recommends DICT when it wins — the parquet-encoding
    * decision a 100 TB table owner bakes into the writer config. Index
    * width comes from the BINARY STRING of k−1 (length(bin(k−1))), not
    * float log2, which misclassifies exact powers of two.
    *
    * Scale shape: per column ONE map-side-combined groupBy on the
    * value domain (these are the low-cardinality columns dictionary
    * encoding targets, so the grid is domain-bounded) followed by a
    * 1-row rollup; three 1-row branches union. All-integer bytes. */
  val q156EncodingAdvisor = QueryDef(
    "q156_encoding_advisor",
    (s, d) => {
      def audit(df: org.apache.spark.sql.DataFrame, name: String,
          c: String) =
        df.select(col(c).as("v")).groupBy("v")
          .agg(count(lit(1)).as("cnt"))
          .agg(sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
            sum(col("cnt") * length(col("v"))).as("plain_bytes"),
            sum(length(col("v"))).as("pool_bytes"))
          .select(lit(name).as("column"), col("n"), col("n_distinct"),
            col("plain_bytes"), col("pool_bytes"))
      val g = graft.Tables.events(s, d)
      val doc = graft.Tables.documents(s, d)
      audit(g, "events.event_type", "event_type")
        .unionByName(audit(doc, "documents.lang", "lang"))
        .unionByName(audit(doc, "documents.source", "source"))
        .withColumn("index_bits",
          length(expr("bin(n_distinct - 1)")).cast("long"))
        .withColumn("dict_bytes",
          col("pool_bytes")
            + expr("(n * index_bits + 7) div 8"))
        .withColumn("saving_ppm",
          round((col("plain_bytes") - col("dict_bytes")).cast("double")
            / col("plain_bytes") * 1e6).cast("long"))
        .withColumn("recommend_dict",
          col("dict_bytes") < col("plain_bytes"))
        .orderBy("column")
    },
    Some("""WITH per AS (
           |  SELECT 'events.event_type' AS "column", event_type AS v
           |  FROM events
           |  UNION ALL
           |  SELECT 'documents.lang', lang FROM documents
           |  UNION ALL
           |  SELECT 'documents.source', source FROM documents),
           |grid AS (
           |  SELECT "column", v, CAST(count(*) AS BIGINT) AS cnt
           |  FROM per GROUP BY 1, 2),
           |st AS (
           |  SELECT "column", CAST(sum(cnt) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS n_distinct,
           |    CAST(sum(cnt * length(v)) AS BIGINT) AS plain_bytes,
           |    CAST(sum(length(v)) AS BIGINT) AS pool_bytes
           |  FROM grid GROUP BY 1),
           |b AS (
           |  SELECT *, CAST(length(bin(n_distinct - 1)) AS BIGINT)
           |    AS index_bits
           |  FROM st),
           |dict AS (
           |  SELECT *, pool_bytes + (n * index_bits + 7) // 8
           |    AS dict_bytes
           |  FROM b)
           |SELECT "column", n, n_distinct, plain_bytes, pool_bytes,
           |  index_bits, CAST(dict_bytes AS BIGINT) AS dict_bytes,
           |  CAST(round(CAST(plain_bytes - dict_bytes AS DOUBLE)
           |    / plain_bytes * 1000000) AS BIGINT) AS saving_ppm,
           |  dict_bytes < plain_bytes AS recommend_dict
           |FROM dict ORDER BY "column" """.stripMargin))

  // --------------------------------------------------------------- q175
  /** Join-cardinality estimation audit: for the three workhorse
    * equi-joins (orders⋈customer, lineitem⋈orders, lineitem⋈part),
    * compare the textbook CBO estimator |R|·|S| / max(ndv_R, ndv_S)
    * with the TRUE join cardinality and report the q-error
    * max(est/act, act/est) — the validation a cost-based optimizer's
    * statistics pipeline runs before anyone trusts its join ordering
    * (the decision q69's star join and q157's fanout audit both hinge
    * on). The true size comes from Σ_k cnt_R(k)·cnt_S(k) over the two
    * KEY HISTOGRAMS — never from executing the row-level join.
    *
    * Scale shape: per join, each side collapses to its key histogram
    * in ONE map-side-combined hash-agg over a single pruned key column
    * (ReadSchema is one column per scan); one FULL OUTER equi-join of
    * the two histograms (key-cardinality-sized, not row-sized) feeds
    * one aggregate that produces act, both row totals, and both NDVs
    * together — so no side is re-scanned for its stats. Pair products
    * move as decimal(38,0) ↔ HUGEINT (the q132 convention); the
    * estimator's |R|·|S| product stays BIGINT (overflows only past
    * ~10^9 × 10^9 rows — move it to decimal alongside). */
  val q175JoinEstimate = QueryDef(
    "q175_join_estimate",
    (s, d) => {
      def hist(df: org.apache.spark.sql.DataFrame, key: String) =
        df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      def audit(name: String, hA: org.apache.spark.sql.DataFrame,
          hB: org.apache.spark.sql.DataFrame) =
        hA.withColumnRenamed("c", "ca")
          .join(hB.withColumnRenamed("c", "cb"), Seq("k"), "full_outer")
          .agg(
            sum(col("ca").cast("decimal(38,0)")
              * col("cb").cast("decimal(38,0)")).as("actd"),
            sum("ca").as("rows_a"), count("ca").as("ndv_a"),
            sum("cb").as("rows_b"), count("cb").as("ndv_b"))
          .select(lit(name).as("join_name"),
            col("rows_a"), col("ndv_a"), col("rows_b"), col("ndv_b"),
            expr("rows_a * rows_b div greatest(ndv_a, ndv_b)")
              .as("est_rows"),
            coalesce(col("actd"), lit(0)).cast("long").as("act_rows"))
      val li = graft.Tables.lineitem(s, d)
      val ord = graft.Tables.orders(s, d)
      audit("lineitem_orders", hist(li, "l_orderkey"),
          hist(ord, "o_orderkey"))
        .unionByName(audit("lineitem_part", hist(li, "l_partkey"),
          hist(graft.Tables.part(s, d), "p_partkey")))
        .unionByName(audit("orders_customer", hist(ord, "o_custkey"),
          hist(graft.Tables.customer(s, d), "c_custkey")))
        .withColumn("q_error",
          graft.functions.Rounding.r4(
            greatest(col("est_rows").cast("double") / col("act_rows"),
              col("act_rows").cast("double") / col("est_rows"))))
        .orderBy("join_name")
    },
    Some("""WITH pairs AS (
           |  SELECT 'lineitem_orders' AS join_name, l_orderkey AS ka,
           |    NULL::BIGINT AS kb FROM lineitem
           |  UNION ALL
           |  SELECT 'lineitem_orders', NULL, o_orderkey FROM orders
           |  UNION ALL
           |  SELECT 'lineitem_part', l_partkey, NULL FROM lineitem
           |  UNION ALL
           |  SELECT 'lineitem_part', NULL, p_partkey FROM part
           |  UNION ALL
           |  SELECT 'orders_customer', o_custkey, NULL FROM orders
           |  UNION ALL
           |  SELECT 'orders_customer', NULL, c_custkey FROM customer),
           |h AS (
           |  SELECT join_name, COALESCE(ka, kb) AS k,
           |    CAST(count(ka) AS BIGINT) AS ca,
           |    CAST(count(kb) AS BIGINT) AS cb
           |  FROM pairs GROUP BY 1, 2),
           |st AS (
           |  SELECT join_name,
           |    CAST(sum(CASE WHEN ca > 0 AND cb > 0
           |      THEN CAST(ca AS HUGEINT) * cb END) AS BIGINT)
           |      AS act_rows,
           |    CAST(sum(ca) AS BIGINT) AS rows_a,
           |    CAST(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS ndv_a,
           |    CAST(sum(cb) AS BIGINT) AS rows_b,
           |    CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS ndv_b
           |  FROM h GROUP BY 1)
           |SELECT join_name, rows_a, ndv_a, rows_b, ndv_b,
           |  rows_a * rows_b // greatest(ndv_a, ndv_b) AS est_rows,
           |  COALESCE(act_rows, 0) AS act_rows,
           |  round(greatest(
           |    CAST(rows_a * rows_b // greatest(ndv_a, ndv_b) AS DOUBLE)
           |      / COALESCE(act_rows, 0),
           |    CAST(COALESCE(act_rows, 0) AS DOUBLE)
           |      / (rows_a * rows_b // greatest(ndv_a, ndv_b)))
           |    * 10000) / 10000 AS q_error
           |FROM st ORDER BY join_name""".stripMargin))

  // --------------------------------------------------------------- q181
  /** Storage-tier placement plan: assign each day-partition to
    * hot / warm / cold by age (≤7d / ≤21d / older, anchored at the
    * corpus's last event day) and price the layout — bytes, row and
    * byte shares, and a monthly cost at per-tier rates. The lifecycle
    * decision every 100 TB event-log owner automates (q150 picks the
    * partition KEY; this prices WHERE each partition lives), computed
    * from the data itself: per-day byte estimates sum the actual
    * payload lengths, so the plan re-prices as the log grows. All
    * integers: byte sums are exact, shares and costs are integer
    * div/ppm (the q146 convention).
    *
    * Scale shape: the anchor is a single-column max (catalog stat);
    * ONE map-side-combined hash-agg onto the day grid; the tier rollup
    * and totals are grid work (window-free — totals attach via a
    * 1-row broadcast). */
  val q181TierPlan = QueryDef(
    "q181_tier_plan",
    (s, d) => {
      val DayUs = 86400000000L
      val ev = graft.Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
          (length(col("props")) + lit(40L)).as("row_bytes"))
      val days = ev.groupBy("day")
        .agg(count(lit(1)).as("n_rows"), sum("row_bytes").as("bytes"))
      val anchor = days.agg(max("day").as("dmax"))
      val tiers = days.crossJoin(broadcast(anchor))
        .withColumn("tier",
          when(col("dmax") - col("day") <= 7L, "1_hot")
            .when(col("dmax") - col("day") <= 21L, "2_warm")
            .otherwise("3_cold"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_days"), sum("n_rows").as("n_rows"),
          sum("bytes").as("bytes"))
      val tot = tiers.agg(sum("n_rows").as("tr"), sum("bytes").as("tb"))
      tiers.crossJoin(broadcast(tot))
        .select(col("tier"), col("n_days"), col("n_rows"), col("bytes"),
          expr("bytes * 1000000 div tb").as("byte_share_ppm"),
          expr("bytes * (case tier when '1_hot' then 23L" +
            " when '2_warm' then 10L else 4L end) div 1048576")
            .as("monthly_cost_micro"))
        .orderBy("tier")
    },
    Some("""WITH ev AS (
           |  SELECT epoch_us(ts) // 86400000000 AS day,
           |    length(props) + 40 AS row_bytes
           |  FROM events),
           |days AS (
           |  SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(sum(row_bytes) AS BIGINT) AS bytes
           |  FROM ev GROUP BY 1),
           |anchor AS (SELECT max(day) AS dmax FROM days),
           |tiers AS (
           |  SELECT CASE WHEN dmax - day <= 7 THEN '1_hot'
           |      WHEN dmax - day <= 21 THEN '2_warm'
           |      ELSE '3_cold' END AS tier,
           |    CAST(count(*) AS BIGINT) AS n_days,
           |    CAST(sum(n_rows) AS BIGINT) AS n_rows,
           |    CAST(sum(bytes) AS BIGINT) AS bytes
           |  FROM days CROSS JOIN anchor GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tr,
           |    CAST(sum(bytes) AS BIGINT) AS tb
           |  FROM tiers)
           |SELECT tier, n_days, n_rows, bytes,
           |  bytes * 1000000 // tb AS byte_share_ppm,
           |  bytes * (CASE tier WHEN '1_hot' THEN 23
           |    WHEN '2_warm' THEN 10 ELSE 4 END) // 1048576
           |    AS monthly_cost_micro
           |FROM tiers CROSS JOIN tot ORDER BY tier""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(q49BloomPruneJoin, q125ArchivePushdown, q142ArchiveAggPushdown,
      q144ArchiveGroupPushdown, q150PartitionPlanner, q151SkippingAudit,
      q156EncodingAdvisor, q175JoinEstimate, q181TierPlan,
      q191ArchiveLimitPushdown, q192ArchiveTopnPushdown,
      q193ArchiveRuntimePrune, q194ArchiveKeyGrouped)
}
