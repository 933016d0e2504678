package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Rounding.{r2, r4, r6}

/** Third relational battery: the multi-table star join every warehouse
  * benchmark hinges on, time-bucketed event-log deduplication, and the
  * argmin/argmax aggregate family.
  */
object Relational3 {

  // ---------------------------------------------------------------- q69
  /** Six-table star join (the TPC-H Q5 shape): revenue by nation for
    * orders placed in 1996 where the supplier and customer share a
    * nation inside one region. This is the canonical join-order /
    * broadcast test: two big fact tables (orders, lineitem) meet three
    * dims (customer, supplier) and two tiny dims (nation, region).
    *
    * Scale shape: the date filter pushes into the orders scan, the
    * fact-fact join shuffles on orderkey once, supplier/customer are
    * hash joins on their keys, and nation/region broadcast — no plan
    * stage ever moves more than the filtered fact data, which is how a
    * 100 TB star join has to execute. AQE re-plans the dim joins to
    * broadcast automatically at runtime when their filtered size fits. */
  val q69StarJoin = QueryDef(
    "q69_star_join",
    (s, d) => {
      val orders96 = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select("o_orderkey", "o_custkey")
      val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
      Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(orders96, col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"),
          r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
           |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           |FROM customer
           |JOIN orders   ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |JOIN nation   ON s_nationkey = n_nationkey
           |JOIN region   ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o_orderdate <  TIMESTAMP '1997-01-01'
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- q70
  /** Event-log deduplication: collapse repeats of the same
    * (user, event_type) within a 10-minute bucket to the first
    * occurrence ((ts, event_id) order, so same-ts rows resolve
    * identically everywhere) and report how many were collapsed — the
    * at-least-once-delivery cleanup every log pipeline runs at ingest.
    *
    * Scale shape: one window partitioned by (user, type, bucket) — key
    * cardinality grows with the data, so parallelism does too; no
    * global sort, no driver state. The streaming twin is
    * Stateful.dedupe (dropDuplicates under a watermark); this is the
    * batch/backfill spelling of the same contract. */
  val q70EventDedup = QueryDef(
    "q70_event_dedup",
    (s, d) => {
      val byBucket = Window.partitionBy("user_id", "event_type", "bkt")
      val w = byBucket.orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("bkt", expr("unix_micros(ts) div 600000000"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_in_bucket", count(lit(1)).over(byBucket))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("bkt") * lit(600000000L)).as("bucket_start"),
          col("n_in_bucket"))
        .orderBy("event_id")
    },
    Some("""WITH b AS (
           |  SELECT event_id, user_id, event_type, ts,
           |    epoch_us(ts) // 600000000 AS bkt
           |  FROM events),
           |r AS (
           |  SELECT *,
           |    row_number() OVER (PARTITION BY user_id, event_type, bkt
           |      ORDER BY ts, event_id) AS rn,
           |    count(*) OVER (PARTITION BY user_id, event_type, bkt)
           |      AS n_in_bucket
           |  FROM b)
           |SELECT event_id, user_id, event_type,
           |  make_timestamp(bkt * 600000000) AS bucket_start,
           |  CAST(n_in_bucket AS BIGINT) AS n_in_bucket
           |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin))

  // ---------------------------------------------------------------- q71
  /** argmin/argmax battery: per order priority, WHICH order carries the
    * highest and lowest total price (max_by/min_by — DuckDB arg_max /
    * arg_min). Doubles can collide, so the selector key is a total
    * order: zero-padded fixed-width price then order key — lexical
    * compare == numeric compare, and ties break identically in any
    * engine.
    *
    * Scale shape: a single map-side-combined hash aggregate — max_by
    * keeps one (ord, value) pair per group per partition, so this is
    * the O(1)-state way to answer "which row is the extreme" without
    * the sort or window a naive top-1 would shuffle. */
  val q71ArgExtremes = QueryDef(
    "q71_arg_extremes",
    (s, d) => {
      val key = concat(format_string("%018.2f", col("o_totalprice")),
        lit("#"), format_string("%012d", col("o_orderkey")))
      Tables.orders(s, d)
        .withColumn("k", key)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          max_by(col("o_orderkey"), col("k")).as("top_order"),
          r2(max(col("o_totalprice"))).as("top_price"),
          min_by(col("o_orderkey"), col("k")).as("bottom_order"),
          r2(min(col("o_totalprice"))).as("bottom_price"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_orders,
           |  arg_max(o_orderkey, printf('%018.2f', o_totalprice) || '#' ||
           |    printf('%012d', o_orderkey)) AS top_order,
           |  round(max(o_totalprice), 2) AS top_price,
           |  arg_min(o_orderkey, printf('%018.2f', o_totalprice) || '#' ||
           |    printf('%012d', o_orderkey)) AS bottom_order,
           |  round(min(o_totalprice), 2) AS bottom_price
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- q72
  /** Linear-regression aggregate battery: per return flag, the OLS fit
    * of extended price on quantity — regr_slope / regr_intercept /
    * regr_r2 / regr_count, the SQL-standard bivariate family q35's
    * corr/covar started. Price scales with quantity by construction, so
    * the slope is the effective unit price and r² its fit quality.
    *
    * Scale shape: one map-side-combined hash aggregate — every regr_*
    * is an algebraic aggregate over (n, Σx, Σy, Σxx, Σyy, Σxy), O(1)
    * state per group, no second pass. */
  val q72Regression = QueryDef(
    "q72_regression",
    (s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(regr_count(col("l_extendedprice"), col("l_quantity"))
          .cast("long").as("n_pairs"),
          r4(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope"),
          r4(regr_intercept(col("l_extendedprice"), col("l_quantity")))
            .as("intercept"),
          r6(regr_r2(col("l_extendedprice"), col("l_quantity"))).as("r2"),
          r4(regr_avgx(col("l_extendedprice"), col("l_quantity"))).as("avg_qty"),
          r4(regr_avgy(col("l_extendedprice"), col("l_quantity"))).as("avg_price"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
           |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_qty,
           |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- q74
  /** Semi-structured VARIANT path extraction — Spark 4's lakehouse
    * answer to schema-on-read JSON: parse once into the binary VARIANT
    * encoding, then typed path extraction (variant_get) without
    * re-tokenizing the document per field, which is how wide
    * event-payload scans stay cheap at 100 TB (vs q20's from_json,
    * which binds one fixed struct schema up front). The corpus' props
    * is flat, so the query composes a nested document (object, array,
    * embedded original) deterministically from each event's own
    * columns — both engines build the identical string, the t06
    * planting pattern.
    *
    * Scale shape: pure per-row parse + projection into one hash-agg;
    * nothing shuffles but the card(tier) aggregate. */
  val q74VariantExtract = QueryDef(
    "q74_variant_extract",
    (s, d) => {
      val doc = concat(
        lit("{\"u\":{\"id\":"), col("user_id"),
        lit(",\"tier\":\""),
        when(pmod(col("user_id"), lit(3)) === 0, "gold").otherwise("std"),
        lit("\"},\"arr\":["), col("event_id"), lit(","),
        pmod(col("event_id"), lit(97)), lit("],\"p\":"), col("props"),
        lit("}"))
      Tables.events(s, d)
        .withColumn("v", parse_json(doc))
        .select(
          variant_get(col("v"), "$.u.tier", "string").as("tier"),
          variant_get(col("v"), "$.u.id", "bigint").as("uid"),
          variant_get(col("v"), "$.arr[1]", "long").as("mod97"),
          variant_get(col("v"), "$.p.k", "long").as("k"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"),
          countDistinct("uid").as("n_users"),
          sum("k").as("sum_k"),
          sum("mod97").as("sum_mod97"))
        .orderBy("tier")
    },
    Some("""WITH docs AS (
           |  SELECT '{"u":{"id":' || user_id || ',"tier":"' ||
           |    (CASE WHEN user_id % 3 = 0 THEN 'gold' ELSE 'std' END) ||
           |    '"},"arr":[' || event_id || ',' || (event_id % 97) ||
           |    '],"p":' || props || '}' AS doc
           |  FROM events)
           |SELECT json_extract_string(doc, '$.u.tier') AS tier,
           |  count(*) AS n,
           |  CAST(count(DISTINCT CAST(json_extract(doc, '$.u.id') AS BIGINT))
           |    AS BIGINT) AS n_users,
           |  CAST(sum(CAST(json_extract(doc, '$.p.k') AS BIGINT)) AS BIGINT)
           |    AS sum_k,
           |  CAST(sum(CAST(json_extract(doc, '$.arr[1]') AS BIGINT)) AS BIGINT)
           |    AS sum_mod97
           |FROM docs GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- q75
  /** Higher-order-function battery — the user-facing lambda forms
    * (transform / filter / exists / aggregate) that replace per-row
    * UDFs for array work: every lambda here compiles to Catalyst
    * expressions (no serialization boundary, codegen-eligible), which
    * is the engine's answer to "map over this array column" without a
    * Scala closure. Internal operators use the same machinery
    * (TextFunctions.shingles); this registers the public surface with
    * an oracle twin.
    *
    * Scale shape: pure per-row projection — zero shuffles; the ORDER BY
    * is presentation-only. */
  val q75HofBattery = QueryDef(
    "q75_hof_battery",
    (s, d) => {
      val toks = split(col("text"), " ")
      val lens = transform(toks, t => length(t))
      Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(lens, lit(0), (acc, x) => acc + x)
            .cast("long").as("sum_len"),
          size(filter(toks, t => length(t) > 4)).as("n_long"),
          exists(toks, t => t === "batch").cast("int").as("has_batch"),
          array_max(lens).as("max_len"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(list_sum(list_transform(string_split(text, ' '),
           |    x -> length(x))) AS BIGINT) AS sum_len,
           |  CAST(len(list_filter(string_split(text, ' '),
           |    x -> length(x) > 4)) AS INT) AS n_long,
           |  CAST(len(list_filter(string_split(text, ' '),
           |    x -> x = 'batch')) > 0 AS INT) AS has_batch,
           |  CAST(list_max(list_transform(string_split(text, ' '),
           |    x -> length(x))) AS INT) AS max_len
           |FROM documents ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- q76
  /** Z-order (Morton) layout audit — multi-dimensional clustering for
    * data skipping: interleave the bits of (minute bucket of ts,
    * md5-hash of event_type) into one sort key, cut the keyspace into
    * 32 range files by key PREFIX (top 5 bits — range partitioning by
    * arithmetic, no global-sort window, no ntile), and report per-file
    * min/max spans in BOTH dimensions against the same cut of a
    * time-only layout. Z-order files bound both the time span and the
    * event-type set, which is exactly what lets a scan on
    * `event_type = X AND ts BETWEEN ...` skip most files; the time-only
    * layout bounds one dimension and sprays the other. The interleave
    * is 32 shift-and-mask terms generated by the same loop for Spark
    * and the oracle — plain codegen'd integer arithmetic, no UDF.
    *
    * Scale shape: pure projection + one hash-agg per layout on a
    * 64-value key — two tiny exchanges; at write time the key feeds
    * repartitionByRange directly. */
  val q76ZorderLayout = QueryDef(
    "q76_zorder_layout",
    (s, d) => {
      def interleave(a: String, b: String): String =
        (0 until 16).map(i =>
          s"(((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1}))")
          .mkString(" + ")
      val ev = Tables.events(s, d)
        .withColumn("a", expr("(unix_micros(ts) div 60000000) & 65535"))
        .withColumn("b",
          expr("cast(conv(substring(md5(event_type), 1, 4), 16, 10) as bigint)"))
        .withColumn("zkey", expr(interleave("a", "b")))
      val stats = (tag: String, fileId: org.apache.spark.sql.Column) => ev
        .withColumn("layout", lit(tag))
        .withColumn("file_id", fileId.cast("int"))
        .groupBy("layout", "file_id")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_type")).as("n_types"),
          (max(col("a")) - min(col("a"))).as("minute_span"))
      stats("zorder", expr("zkey div 134217728"))
        .unionByName(stats("time", expr("a div 2048")))
        .orderBy("layout", "file_id")
    },
    Some {
      val il = (0 until 16).map(i =>
        s"((((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" + ")
      s"""WITH ev AS (
         |  SELECT event_type,
         |    (epoch_us(ts) // 60000000) & 65535 AS a,
         |    ('0x' || substr(md5(event_type), 1, 4))::BIGINT AS b
         |  FROM events),
         |z AS (SELECT *, $il AS zkey FROM ev),
         |cuts AS (
         |  SELECT 'zorder' AS layout, CAST(zkey // 134217728 AS INT) AS file_id,
         |    event_type, a FROM z
         |  UNION ALL
         |  SELECT 'time' AS layout, CAST(a // 2048 AS INT) AS file_id,
         |    event_type, a FROM z)
         |SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         |  CAST(max(a) - min(a) AS BIGINT) AS minute_span
         |FROM cuts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    })

  // ---------------------------------------------------------------- q79
  /** Sole-failing-supplier (the TPC-H Q21 shape on this schema): for
    * finished orders ('F'), count per supplier the orders where that
    * supplier shipped a returned item ('R'), at least one OTHER
    * supplier participated (EXISTS), and no other supplier had a
    * return (NOT EXISTS) — the canonical correlated exists/not-exists
    * chain, which the engine must turn into one semi-join and one
    * anti-join against the same fact rather than two correlated
    * subquery rescans.
    *
    * Scale shape: both the semi and the anti are hash equi-joins on
    * l_orderkey (the non-equi `sk <> sk2` rides along as a join
    * residual), so every stage shuffles on a key whose cardinality
    * scales with the data; the candidate side is pre-shrunk by the
    * returnflag + orderstatus filters before any join. Final top-10 is
    * a TakeOrderedAndProject over the bounded supplier aggregate. */
  val q79ExistsChain = QueryDef(
    "q79_exists_chain",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val finished = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F").select("o_orderkey")
      val candidates = li.filter(col("l_returnflag") === "R")
        .join(finished, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val anyOther = li
        .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val otherReturn = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      candidates
        .join(anyOther,
          col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
        .join(otherReturn,
          col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
        .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
          col("sk") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    },
    Some("""WITH cand AS (
           |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  WHERE l_returnflag = 'R' AND o_orderstatus = 'F')
           |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
           |FROM cand JOIN supplier ON sk = s_suppkey
           |WHERE EXISTS (SELECT 1 FROM lineitem l2
           |        WHERE l2.l_orderkey = cand.ok AND l2.l_suppkey <> cand.sk)
           |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
           |        WHERE l3.l_orderkey = cand.ok AND l3.l_suppkey <> cand.sk
           |          AND l3.l_returnflag = 'R')
           |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin))

  // ---------------------------------------------------------------- q87
  /** Right-to-be-forgotten deletion planner — the lakehouse maintenance
    * query behind GDPR erasure at scale (the x12-compaction/x13-epoch
    * planner family): given a deterministic 1% cohort of users to
    * forget (md5-prefix sample, q46's convention — a real deployment
    * joins its erasure-request table), compute per day-partition how
    * many rows die, how many users are affected, and whether the
    * engine should REWRITE the partition's files or stamp DELETION
    * VECTORS (the Delta/Iceberg merge-on-read decision — rewrite only
    * when the dead fraction clears 5%, else carry DVs and let x12-style
    * compaction fold them in later).
    *
    * Scale shape: the cohort flag is a pure expression (no erasure-set
    * broadcast needed for the sampled form; the join form broadcasts a
    * request table that is small by nature), so the whole plan is ONE
    * map-side-combined hash-agg to the day-partition domain — work ∝
    * corpus rows read, output ∝ days. */
  val q87DeletionPlan = QueryDef(
    "q87_deletion_plan",
    (s, d) => {
      val DayUs = 86400000000L
      val forget = (conv(substring(md5(col("user_id").cast("string")), 1, 8),
        16, 10).cast("long") % 100L) === 0L
      Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
          col("user_id"), forget.cast("long").as("del"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_rows"),
          sum("del").as("n_delete"),
          countDistinct(when(col("del") === 1L, col("user_id")))
            .as("n_users_affected"))
        .withColumn("del_frac",
          r4(col("n_delete").cast("double") / col("n_rows")))
        .withColumn("action",
          when(col("n_delete") === 0L, lit("noop"))
            .when(col("del_frac") >= 0.05, lit("rewrite"))
            .otherwise(lit("deletion_vectors")))
        .select("day", "n_rows", "n_delete", "n_users_affected",
          "del_frac", "action")
        .orderBy("day")
    },
    Some("""WITH ev AS (
           |  SELECT epoch_us(ts) // 86400000000 AS day, user_id,
           |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           |      % 100 = 0 THEN 1 ELSE 0 END AS del
           |  FROM events),
           |agg AS (
           |  SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(sum(del) AS BIGINT) AS n_delete,
           |    CAST(count(DISTINCT CASE WHEN del = 1 THEN user_id END) AS BIGINT)
           |      AS n_users_affected
           |  FROM ev GROUP BY 1)
           |SELECT day, n_rows, n_delete, n_users_affected,
           |  round(CAST(n_delete AS DOUBLE) / n_rows, 4) AS del_frac,
           |  CASE WHEN n_delete = 0 THEN 'noop'
           |       WHEN round(CAST(n_delete AS DOUBLE) / n_rows, 4) >= 0.05
           |         THEN 'rewrite'
           |       ELSE 'deletion_vectors' END AS action
           |FROM agg ORDER BY day""".stripMargin))

  // ---------------------------------------------------------------- q88
  /** Incremental materialized-view maintenance over algebraic
    * aggregates: the event log is carved into a 99% base and a 1% delta
    * (deterministic md5 carve — q78's snapshot convention), each side
    * reduces to PARTIAL aggregate state (n, Σv, min, max), and the view
    * refresh merges the partials instead of rescanning the base — count
    * and sum add, min/max take extremes, avg derives from the merged
    * (n, Σv). The output is the refreshed view; the oracle computes the
    * same view DIRECTLY over the full log, so the hash-match PROVES
    * merge(partials) == recompute cross-engine — the algebraic-
    * mergeability contract every IVM engine (and Spark's own partial
    * aggregation) rests on.
    *
    * Scale shape: base partials are a materialized artifact in
    * production (built once, days-old base never rescanned); refresh
    * cost ∝ delta + |view|, exactly the d10-incremental posture for
    * aggregates. */
  val q88IncrementalView = QueryDef(
    "q88_incremental_view",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"),
        (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100L).as("carve"))
      def partials(side: org.apache.spark.sql.DataFrame) =
        side.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("value").as("sv"),
            min("value").as("mn"), max("value").as("mx"))
      val base = partials(ev.filter(col("carve") =!= 0L))
      val delta = partials(ev.filter(col("carve") === 0L))
      base.unionByName(delta)
        .groupBy("event_type")
        .agg(sum("n").as("n_rows"), r2(sum("sv")).as("sum_value"),
          min("mn").as("min_value"), max("mx").as("max_value"),
          r4(sum("sv") / sum("n")).as("avg_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           |  round(sum(value), 2) AS sum_value,
           |  min(value) AS min_value, max(value) AS max_value,
           |  round(sum(value) / count(*), 4) AS avg_value
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- q91
  /** Exact order-statistics battery: interpolated quartile
    * (percentile_cont), discrete decile cut (percentile_disc), median,
    * and a DETERMINISTIC mode per group — the standard-SQL WITHIN GROUP
    * surface q34/q86 don't cover. The built-in `mode()` breaks ties
    * arbitrarily in both engines, so the modal value is computed as a
    * (value-count hash-agg → per-group argmax with count-desc,
    * value-asc tie-break) instead — reproducible on any engine and any
    * partitioning.
    *
    * Scale shape (r15, guide §2.3/§1): ONE corpus scan collapses to the
    * (flag, distinct price) HISTOGRAM — a codegen hash-agg whose partial
    * phase runs inside the scan tasks — and every statistic derives from
    * it in one linear pipeline: the exact interpolated percentiles via
    * the frequency-weighted `percentile(v, p, cnt)` (the same
    * PercentileBase evaluation as percentile_cont — probe-verified
    * bit-identical on the corpus and at an exact cume boundary),
    * percentile_disc by its ANSI definition (smallest value with
    * cume_dist ≥ p) as a cumulative window over the histogram, and the
    * mode as the same count-desc/value-asc argmax. The former two-branch
    * form scanned lineitem twice and built the percentile's value→count
    * maps from every raw row inside a single scan task (sf0.1 lineitem
    * is one parquet split: ~15 CPU-s serialized); the histogram form
    * feeds them |distinct prices| rows spread across the post-exchange
    * partitions. Exactness still costs the per-group distinct-value
    * state — q86 stays the registered sketch twin for 100 TB. */
  val q91OrderStats = QueryDef(
    "q91_order_stats",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("l_returnflag")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("rs", sum("cnt").over(wc))
        .withColumn("tot", sum("cnt").over(wt))
        .groupBy("l_returnflag")
        .agg(sum("cnt").as("n"),
          r4(expr("percentile(l_extendedprice, 0.25, cnt)")).as("p25_cont"),
          r4(expr("percentile(l_extendedprice, 0.5, cnt)")).as("median_price"),
          min(when(col("rs").cast("double") / col("tot").cast("double")
            >= 0.9, col("l_extendedprice"))).as("p90_disc"),
          max_by(col("l_extendedprice"),
            struct(col("cnt"), col("l_extendedprice") * -1)).as("mode_price"),
          max("cnt").as("mode_n"))
        .orderBy("l_returnflag")
    },
    Some("""WITH modes AS (
           |  SELECT l_returnflag, l_extendedprice, count(*) AS c
           |  FROM lineitem GROUP BY 1, 2),
           |best AS (
           |  SELECT l_returnflag, l_extendedprice AS mode_price, c AS mode_n,
           |    row_number() OVER (PARTITION BY l_returnflag
           |      ORDER BY c DESC, l_extendedprice) AS rn
           |  FROM modes)
           |SELECT s.l_returnflag, s.n, s.p25_cont, s.median_price, s.p90_disc,
           |  b.mode_price, b.mode_n
           |FROM (
           |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           |    round(quantile_cont(l_extendedprice, 0.25) * 10000) / 10000
           |      AS p25_cont,
           |    round(quantile_cont(l_extendedprice, 0.5) * 10000) / 10000
           |      AS median_price,
           |    quantile_disc(l_extendedprice, 0.9) AS p90_disc
           |  FROM lineitem GROUP BY 1) s
           |JOIN (SELECT * FROM best WHERE rn = 1) b USING (l_returnflag)
           |ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- q94
  /** Referential-integrity audit across every foreign-key edge of the
    * schema — the ingest data-quality gate that runs before a corpus is
    * declared joinable: per relationship, child rows, orphaned child
    * rows (no matching parent key), and the orphan rate. Zeros here are
    * the point: the audit PROVES the star joins (q03/q06/q69) are safe.
    *
    * Scale shape: each edge is one pass over the child with a left join
    * against the parent's DISTINCT key set (broadcast for dims; the
    * orders edge shuffles on the key like the join it certifies) folded
    * straight into a single-row aggregate — no orphan materialization,
    * nothing driver-side, 7 rows out regardless of corpus size. */
  val q94FkAudit = QueryDef(
    "q94_fk_audit",
    (s, d) => {
      def audit(rel: String, child: org.apache.spark.sql.DataFrame,
          ck: String, parent: org.apache.spark.sql.DataFrame, pk: String) =
        child.select(col(ck).as("k"))
          .join(parent.select(col(pk).as("k"), lit(1).as("hit")).distinct(),
            Seq("k"), "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(rel).as("relationship"), col("n_rows"),
            col("n_orphans"),
            r6(col("n_orphans").cast("double") / col("n_rows"))
              .as("orphan_rate"))
      val li = Tables.lineitem(s, d)
      Seq(
        audit("customer.nationkey->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey"),
        audit("lineitem.orderkey->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        audit("lineitem.partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"),
        audit("lineitem.suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        audit("nation.regionkey->region", Tables.nation(s, d),
          "n_regionkey", Tables.region(s, d), "r_regionkey"),
        audit("orders.custkey->customer", Tables.orders(s, d),
          "o_custkey", Tables.customer(s, d), "c_custkey"),
        audit("supplier.nationkey->nation", Tables.supplier(s, d),
          "s_nationkey", Tables.nation(s, d), "n_nationkey"))
        .reduce(_ unionByName _)
        .orderBy("relationship")
    },
    Some {
      def one(rel: String, child: String, ck: String, parent: String,
          pk: String) =
        s"""SELECT '$rel' AS relationship,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_orphans,
           |  round(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)
           |    / CAST(count(*) AS DOUBLE) * 1000000) / 1000000 AS orphan_rate
           |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
           |  ON c.$ck = p.$pk""".stripMargin
      Seq(
        one("customer.nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        one("lineitem.orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        one("lineitem.partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        one("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        one("nation.regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey"),
        one("orders.custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        one("supplier.nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
    })

  // ---------------------------------------------------------------- q99
  /** Benford first-digit audit over `l_extendedprice` — the fraud /
    * synthetic-data screen that joins q94's FK audit in the ingest
    * data-quality gate: naturally-occurring multiplicative amounts
    * follow log10(1+1/d); a generator that draws prices uniformly (as
    * TPC-H's does) fails it loudly, which is exactly what the audit is
    * for — the output TELLS you these prices are synthetic.
    *
    * The leading digit comes from the DECIMAL STRING of exact cents
    * (round(price*100) as BIGINT), not from floor(x/10^floor(log10 x)) —
    * float log10 misclassifies values adjacent to powers of ten, and
    * both engines agree on integer-to-string.
    *
    * Scale shape: one projection + one 9-group map-side-combined
    * hash-agg; the expected-law table is an expression, not data. */
  val q99BenfordAudit = QueryDef(
    "q99_benford_audit",
    (s, d) => {
      val digits = Tables.lineitem(s, d)
        .select(substring(expr(
            "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING)"),
          1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val total = sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy())
      digits
        .withColumn("obs_frac", r6(col("n").cast("double") / total))
        .withColumn("exp_frac", r6(log10(lit(1.0) + lit(1.0) / col("digit"))))
        .withColumn("excess", r6(col("n").cast("double") / total -
          log10(lit(1.0) + lit(1.0) / col("digit"))))
        .orderBy("digit")
    },
    Some("""WITH d AS (SELECT CAST(substring(
           |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
           |    1, 1) AS INT) AS digit
           |  FROM lineitem),
           |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n,
           |    sum(count(*)) OVER () AS total
           |  FROM d GROUP BY 1)
           |SELECT digit, n,
           |  round(n * 1.0 / total * 1000000) / 1000000 AS obs_frac,
           |  round(log10(1 + 1.0 / digit) * 1000000) / 1000000 AS exp_frac,
           |  round((n * 1.0 / total - log10(1 + 1.0 / digit)) * 1000000)
           |    / 1000000 AS excess
           |FROM g ORDER BY digit""".stripMargin))

  // --------------------------------------------------------------- q118
  /** Price-volume bridge: decompose each brand's 1996→1997 revenue
    * delta into a volume effect (quantity change at old prices) and a
    * price effect (price change at new volume) via the exact identity
    * q₂p₂ − q₁p₁ = (q₂−q₁)·p₁ + (p₂−p₁)·q₂ — the finance-review
    * waterfall that answers "did we sell more, or sell dearer?".
    *
    * Scale shape: lineitem⋈orders on the order key (both year filters
    * pushed to the scans), lineitem⋈part for the brand dim, then ONE
    * conditional hash-agg pivots both periods in a single pass — no
    * self-join of two period subqueries. Quantities and cents move as
    * exact BIGINTs; unit prices divide them only in the final bounded
    * projection. */
  /** Shared bridge arithmetic over per-brand (q1, c1, q2, c2) exact
    * integer totals — identical code for the batch pivot and the
    * streaming twin's state snapshot. */
  def q118Finish(agg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    agg.filter(col("q1") > 0L && col("q2") > 0L)
      .withColumn("p1", col("c1").cast("double") / col("q1"))
      .withColumn("p2", col("c2").cast("double") / col("q2"))
      .select(col("p_brand"),
        r2(col("c1").cast("double") / 100.0).as("rev_prev"),
        r2(col("c2").cast("double") / 100.0).as("rev_curr"),
        r2((col("c2") - col("c1")).cast("double") / 100.0).as("delta"),
        r2((col("q2") - col("q1")).cast("double") * col("p1") / 100.0)
          .as("volume_effect"),
        r2((col("p2") - col("p1")) * col("q2").cast("double") / 100.0)
          .as("price_effect"))
      .orderBy("p_brand")

  val q118PriceVolumeBridge = QueryDef(
    "q118_price_volume_bridge",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
          .filter(col("yr").isin(1996, 1997)),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("yr"),
          expr("cast(round(l_quantity) as bigint)").as("qc"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cc"))
      q118Finish(li.groupBy("p_brand")
        .agg(sum(when(col("yr") === 1996, col("qc"))).as("q1"),
          sum(when(col("yr") === 1996, col("cc"))).as("c1"),
          sum(when(col("yr") === 1997, col("qc"))).as("q2"),
          sum(when(col("yr") === 1997, col("cc"))).as("c2")))
    },
    Some("""WITH li AS (
           |  SELECT p_brand, year(o_orderdate) AS yr,
           |    CAST(round(l_quantity) AS BIGINT) AS qc,
           |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cc
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN part ON l_partkey = p_partkey
           |  WHERE year(o_orderdate) IN (1996, 1997)),
           |agg AS (
           |  SELECT p_brand,
           |    CAST(sum(CASE WHEN yr = 1996 THEN qc END) AS BIGINT) AS q1,
           |    CAST(sum(CASE WHEN yr = 1996 THEN cc END) AS BIGINT) AS c1,
           |    CAST(sum(CASE WHEN yr = 1997 THEN qc END) AS BIGINT) AS q2,
           |    CAST(sum(CASE WHEN yr = 1997 THEN cc END) AS BIGINT) AS c2
           |  FROM li GROUP BY 1),
           |pp AS (
           |  SELECT *, CAST(c1 AS DOUBLE) / q1 AS p1,
           |    CAST(c2 AS DOUBLE) / q2 AS p2
           |  FROM agg WHERE q1 > 0 AND q2 > 0)
           |SELECT p_brand,
           |  round(CAST(c1 AS DOUBLE) / 100.0 * 100) / 100 AS rev_prev,
           |  round(CAST(c2 AS DOUBLE) / 100.0 * 100) / 100 AS rev_curr,
           |  round(CAST(c2 - c1 AS DOUBLE) / 100.0 * 100) / 100 AS delta,
           |  round(CAST(q2 - q1 AS DOUBLE) * p1 / 100.0 * 100) / 100
           |    AS volume_effect,
           |  round((p2 - p1) * CAST(q2 AS DOUBLE) / 100.0 * 100) / 100
           |    AS price_effect
           |FROM pp ORDER BY p_brand""".stripMargin))

  // --------------------------------------------------------------- q122
  /** Open-order backlog series: each order enters the backlog on its
    * order day and leaves the day AFTER its last line ships; the series
    * is the running sum of +1/−1 day deltas — the operational WIP curve
    * an ops review reads next to q83's concurrency peaks. Orders with
    * no lineitem (none in this corpus — q94 certifies the FK) would
    * stay open forever, which is the honest semantics.
    *
    * Scale shape: one per-order max-agg for ship completion, two
    * projections to (day, ±1) deltas, ONE hash-agg onto the calendar
    * domain, and the cumulative window runs over that day-bounded
    * aggregate — never over orders. All-integer. */
  /** Shared series build from per-order (open_day, close_day) rows
    * (close_day null = never shipped) — identical code for the batch
    * join and the streaming twin's state snapshot. */
  def q122Rollup(perOrder: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val opened = perOrder
      .select(col("open_day").as("day"), lit(1L).as("opened"),
        lit(0L).as("closed"))
    val closed = perOrder.filter(col("close_day").isNotNull)
      .select(col("close_day").as("day"), lit(0L).as("opened"),
        lit(1L).as("closed"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    opened.unionByName(closed)
      .groupBy("day")
      .agg(sum("opened").as("n_opened"), sum("closed").as("n_closed"))
      .withColumn("backlog",
        sum(col("n_opened") - col("n_closed")).over(w))
      .orderBy("day")
  }

  val q122OrderBacklog = QueryDef(
    "q122_order_backlog",
    (s, d) => {
      val DayUs = 86400000000L
      val perOrder = Tables.orders(s, d)
        .select(col("o_orderkey"),
          (unix_micros(col("o_orderdate").cast("timestamp")) / DayUs)
            .cast("long").as("open_day"))
        .join(Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(max(unix_micros(col("l_shipdate").cast("timestamp")))
            .as("last_us")),
          col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("open_day"),
          (expr(s"last_us div ${DayUs}L") + 1L).as("close_day"))
      q122Rollup(perOrder)
    },
    Some("""WITH deltas AS (
           |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
           |    1 AS opened, 0 AS closed
           |  FROM orders
           |  UNION ALL
           |  SELECT max(epoch_us(l_shipdate)) // 86400000000 + 1,
           |    0, 1
           |  FROM lineitem GROUP BY l_orderkey),
           |days AS (
           |  SELECT day, CAST(sum(opened) AS BIGINT) AS n_opened,
           |    CAST(sum(closed) AS BIGINT) AS n_closed
           |  FROM deltas GROUP BY 1)
           |SELECT day, n_opened, n_closed,
           |  CAST(sum(n_opened - n_closed) OVER (ORDER BY day
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
           |FROM days ORDER BY day""".stripMargin))

  // --------------------------------------------------------------- q127
  /** Amount reconciliation: q94's sibling for MONEY — does each order's
    * header total equal the TPC-H line formula
    * Σ extendedprice·(1−discount)·(1+tax)? Reports the match rate at a
    * 1-cent tolerance and the error envelope. On honest TPC-H data
    * this reconciles; on this synthetic corpus it does not, and the
    * mismatch RATE is the finding (the q99/Benford convention: an
    * ingest gate that correctly reports what the data is).
    *
    * Scale shape: one per-line projection to exact cents (the float
    * product rounds ONCE, identically in both engines), one hash-agg
    * per order, an equi-join to headers, and a single-row rollup. */
  val q127AmountReconciliation = QueryDef(
    "q127_amount_reconciliation",
    (s, d) => {
      val lineCents = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          expr("cast(round(l_extendedprice * (1 - l_discount) " +
            "* (1 + l_tax) * 100) as bigint)").as("lc"))
        .groupBy("l_orderkey").agg(sum("lc").as("line_cents"))
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("hdr_cents"))
        .join(lineCents, col("o_orderkey") === col("l_orderkey"))
        .select(abs(col("hdr_cents") - col("line_cents")).as("diff"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("diff") <= 1L, 1L).otherwise(0L)).as("n_match"),
          sum(when(col("diff") > 1L, 1L).otherwise(0L)).as("n_mismatch"),
          max("diff").as("max_diff_cents"),
          sum("diff").as("sum_diff_cents"))
        .select(col("n_orders"), col("n_match"), col("n_mismatch"),
          col("max_diff_cents"),
          r6(col("n_match").cast("double") / col("n_orders"))
            .as("match_rate"),
          r2(col("sum_diff_cents").cast("double") / col("n_orders")
            / 100.0).as("mean_abs_diff"))
    },
    Some("""WITH lc AS (
           |  SELECT l_orderkey,
           |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
           |      * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS line_cents
           |  FROM lineitem GROUP BY 1),
           |j AS (
           |  SELECT abs(CAST(round(o_totalprice * 100) AS BIGINT)
           |    - line_cents) AS diff
           |  FROM orders JOIN lc ON o_orderkey = l_orderkey)
           |SELECT CAST(count(*) AS BIGINT) AS n_orders,
           |  CAST(sum(CASE WHEN diff <= 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_match,
           |  CAST(sum(CASE WHEN diff > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_mismatch,
           |  CAST(max(diff) AS BIGINT) AS max_diff_cents,
           |  round(CAST(sum(CASE WHEN diff <= 1 THEN 1 ELSE 0 END)
           |    AS DOUBLE) / count(*) * 1000000) / 1000000 AS match_rate,
           |  round(CAST(sum(diff) AS DOUBLE) / count(*) / 100.0 * 100)
           |    / 100 AS mean_abs_diff
           |FROM j""".stripMargin))

  // --------------------------------------------------------------- q131
  /** Fulfillment-SLA attainment by order priority: per o_orderpriority,
    * the share of orders FULLY shipped (last line out the door) within
    * 30/60/90 days of placement — whether the priority field actually
    * buys priority. Day gaps are exact integer-µs arithmetic; the three
    * SLA cuts are conditional sums over one per-order row.
    *
    * Scale shape: one per-order max-agg over lineitem, one equi-join to
    * headers, ONE hash-agg onto the 5-priority grid. */
  /** q131's final rollup over (o_orderpriority, gap_days) observations —
    * shared by the batch query and the slaStream twin (identical code ⇒
    * bit-for-bit parity over identical integer gap state). */
  def q131Finish(gaps: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    gaps
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("gap_days") <= 30L, 1L).otherwise(0L)).as("in30"),
        sum(when(col("gap_days") <= 60L, 1L).otherwise(0L)).as("in60"),
        sum(when(col("gap_days") <= 90L, 1L).otherwise(0L)).as("in90"))
      .select(col("o_orderpriority"), col("n_orders"),
        r6(col("in30").cast("double") / col("n_orders")).as("sla30"),
        r6(col("in60").cast("double") / col("n_orders")).as("sla60"),
        r6(col("in90").cast("double") / col("n_orders")).as("sla90"))
      .orderBy("o_orderpriority")

  val q131SlaAttainment = QueryDef(
    "q131_sla_attainment",
    (s, d) => {
      val DayUs = 86400000000L
      val shipped = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(max(unix_micros(col("l_shipdate").cast("timestamp")))
          .as("last_us"))
      val gaps = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("open_us"))
        .join(shipped, col("o_orderkey") === col("l_orderkey"))
        .withColumn("gap_days",
          expr(s"(last_us - open_us) div ${DayUs}L"))
      q131Finish(gaps)
    },
    Some("""WITH shipped AS (
           |  SELECT l_orderkey,
           |    CAST(max(epoch_us(l_shipdate)) AS BIGINT) AS last_us
           |  FROM lineitem GROUP BY 1),
           |j AS (
           |  SELECT o_orderpriority,
           |    CAST((last_us - epoch_us(o_orderdate)) // 86400000000
           |      AS BIGINT) AS gap_days
           |  FROM orders JOIN shipped ON o_orderkey = l_orderkey)
           |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           |  round(CAST(sum(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END)
           |    AS DOUBLE) / count(*) * 1000000) / 1000000 AS sla30,
           |  round(CAST(sum(CASE WHEN gap_days <= 60 THEN 1 ELSE 0 END)
           |    AS DOUBLE) / count(*) * 1000000) / 1000000 AS sla60,
           |  round(CAST(sum(CASE WHEN gap_days <= 90 THEN 1 ELSE 0 END)
           |    AS DOUBLE) / count(*) * 1000000) / 1000000 AS sla90
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q132
  /** Supplier-concentration HHI per nation: the Herfindahl–Hirschman
    * index Σ shareᵢ² of each nation's supplier revenue — the
    * procurement-risk number beside q114's Gini (HHI weights the top,
    * Gini the whole curve; >0.25 is the antitrust "highly
    * concentrated" line). Shares divide exact-cents BIGINTs; the
    * square-sum runs over the supplier-bounded grid.
    *
    * Scale shape: one (nation, supplier) exact-cents hash-agg, nation
    * totals broadcast back, one per-nation rollup. */
  val q132SupplierHhi = QueryDef(
    "q132_supplier_hhi",
    (s, d) => {
      val perSupp = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("s_suppkey"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cc"))
        .groupBy("n_name", "s_suppkey").agg(sum("cc").as("rev"))
      // HHI = Σ rev² / tot² with the square-sum in DECIMAL(38,0)
      // (q100's HUGEINT posture) — a float Σ share² would be partial-
      // sum-order-dependent across partitions AND engines
      perSupp
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("rev").cast("decimal(38,0)")
            * col("rev").cast("decimal(38,0)")).as("sum_sq"),
          sum("rev").as("tot"))
        .select(col("n_name"), col("n_suppliers"),
          r6(col("sum_sq").cast("double")
            / (col("tot").cast("double") * col("tot").cast("double")))
            .as("hhi"))
        .withColumn("concentrated", col("hhi") > 0.25)
        .orderBy("n_name")
    },
    Some("""WITH per_supp AS (
           |  SELECT n_name, s_suppkey,
           |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |      AS BIGINT) AS rev
           |  FROM lineitem
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |  GROUP BY 1, 2),
           |agg AS (
           |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           |    sum(CAST(rev AS HUGEINT) * rev) AS sum_sq,
           |    CAST(sum(rev) AS BIGINT) AS tot
           |  FROM per_supp GROUP BY 1)
           |SELECT n_name, n_suppliers,
           |  round(CAST(sum_sq AS DOUBLE)
           |    / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) * 1000000)
           |    / 1000000 AS hhi,
           |  round(CAST(sum_sq AS DOUBLE)
           |    / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) * 1000000)
           |    / 1000000 > 0.25 AS concentrated
           |FROM agg ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q133
  /** Cross-nation trade matrix (the TPC-H Q7 shape): revenue flows from
    * customer nation to supplier nation, with each cell's share of
    * world trade and a domestic flag — the two-dimensional rollup a
    * trade dashboard draws as a chord diagram. Exact cents throughout;
    * the share divides by a broadcast world total.
    *
    * Scale shape: lineitem joins orders on the order key (the one big
    * shuffle), both nation lookups ride broadcast dims
    * (customer/supplier are key→nation maps — at 100 TB these are the
    * classic broadcast-dim candidates), ONE hash-agg onto the
    * nations² grid. */
  val q133TradeMatrix = QueryDef(
    "q133_trade_matrix",
    (s, d) => {
      val custNation = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val suppNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cells = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .select(col("cust_nation"), col("supp_nation"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cc"))
        .groupBy("cust_nation", "supp_nation")
        .agg(count(lit(1)).as("n_lines"), sum("cc").as("cents"))
      val world = cells.agg(sum("cents").as("world"))
      cells.crossJoin(broadcast(world))
        .select(col("cust_nation"), col("supp_nation"), col("n_lines"),
          r2(col("cents").cast("double") / 100.0).as("revenue"),
          r6(col("cents").cast("double") / col("world")).as("share"),
          (col("cust_nation") === col("supp_nation")).as("domestic"))
        .orderBy("cust_nation", "supp_nation")
    },
    Some("""WITH cn AS (
           |  SELECT c_custkey, n_name AS cust_nation
           |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
           |sn AS (
           |  SELECT s_suppkey, n_name AS supp_nation
           |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
           |cells AS (
           |  SELECT cust_nation, supp_nation,
           |    CAST(count(*) AS BIGINT) AS n_lines,
           |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |      AS BIGINT) AS cents
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN cn ON o_custkey = c_custkey
           |  JOIN sn ON l_suppkey = s_suppkey
           |  GROUP BY 1, 2),
           |world AS (SELECT CAST(sum(cents) AS BIGINT) AS world FROM cells)
           |SELECT cust_nation, supp_nation, n_lines,
           |  round(CAST(cents AS DOUBLE) / 100.0 * 100) / 100 AS revenue,
           |  round(CAST(cents AS DOUBLE) / world * 1000000) / 1000000
           |    AS share,
           |  cust_nation = supp_nation AS domestic
           |FROM cells CROSS JOIN world
           |ORDER BY cust_nation, supp_nation""".stripMargin))


  // --------------------------------------------------------------- q134
  /** Dormant high-value accounts (the TPC-H Q22 shape): customers whose
    * balance beats the positive-balance average but who placed NO order
    * after the cutoff — the "sales should call these" list, rolled up
    * per nation. Composes the scalar-subquery average with the
    * anti-join, the two pieces Q22 is the canonical test of.
    *
    * Scale shape: the average is one broadcast scalar over the customer
    * dim; the anti-join keys on custkey against the date-filtered
    * orders (filter pushed to the orders scan); one hash-agg onto the
    * nation grid. Balances move as exact cents. */
  val q134SalesOpportunity = QueryDef(
    "q134_sales_opportunity",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          expr("cast(round(c_acctbal * 100) as bigint)").as("bal"))
      val avgBal = cust.filter(col("bal") > 0L)
        .agg((sum("bal").cast("double") / count(lit(1))).as("avg_bal"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate").cast("timestamp") >= "1999-01-01")
        .select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(avgBal))
        .filter(col("bal").cast("double") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_dormant"),
          r2(sum("bal").cast("double") / 100.0).as("dormant_balance"))
        .orderBy("n_name")
    },
    Some("""WITH cust AS (
           |  SELECT c_custkey, c_nationkey,
           |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal
           |  FROM customer),
           |ab AS (
           |  SELECT CAST(sum(bal) AS DOUBLE) / count(*) AS avg_bal
           |  FROM cust WHERE bal > 0),
           |recent AS (
           |  SELECT DISTINCT o_custkey FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
           |dormant AS (
           |  SELECT c_custkey, c_nationkey, bal
           |  FROM cust CROSS JOIN ab
           |  WHERE CAST(bal AS DOUBLE) > avg_bal
           |    AND c_custkey NOT IN (SELECT o_custkey FROM recent))
           |SELECT n_name, CAST(count(*) AS BIGINT) AS n_dormant,
           |  round(CAST(sum(bal) AS DOUBLE) / 100.0 * 100) / 100
           |    AS dormant_balance
           |FROM dormant JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q135
  /** Market-share trend (the TPC-H Q8 shape): one supplier nation's
    * share of its REGION's total revenue, per order year — the
    * "are we gaining or losing the region" line a country manager
    * tracks. Nation and region ride broadcast joins; shares divide
    * exact per-(year) cents.
    *
    * Scale shape: lineitem⋈orders shuffles once on the order key (year
    * from the order header), supplier/nation/region are broadcast
    * lookups, ONE hash-agg onto the (year, nation) grid with the
    * year-region totals attached as a window OVER the grid — a totals
    * branch aggregating the `cells` val would re-run its lineage and
    * scan the fact twice (the q190/q195 lesson; this was the one
    * remaining twice-referenced grid, hidden in the plan audit until
    * the AQE empty-relation fallback exposed it at sf0.001). */
  val q135MarketShare = QueryDef(
    "q135_market_share",
    (s, d) => {
      val suppGeo = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("s_suppkey"), col("n_name"))
      val cells = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"),
            year(col("o_orderdate").cast("timestamp")).as("yr")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppGeo), col("l_suppkey") === col("s_suppkey"))
        .select(col("yr"), col("n_name"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cc"))
        .groupBy("yr", "n_name").agg(sum("cc").as("cents"))
      cells
        .withColumn("tot",
          sum("cents").over(Window.partitionBy("yr")))
        .filter(col("n_name") === "NATION_2")
        .select(col("yr"),
          r2(col("cents").cast("double") / 100.0).as("nation_revenue"),
          r2(col("tot").cast("double") / 100.0).as("region_revenue"),
          r6(col("cents").cast("double") / col("tot")).as("mkt_share"))
        .orderBy("yr")
    },
    Some("""WITH sg AS (
           |  SELECT s_suppkey, n_name
           |  FROM supplier
           |  JOIN nation ON s_nationkey = n_nationkey
           |  JOIN region ON n_regionkey = r_regionkey
           |  WHERE r_name = 'ASIA'),
           |cells AS (
           |  SELECT year(o_orderdate) AS yr, n_name,
           |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |      AS BIGINT) AS cents
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN sg ON l_suppkey = s_suppkey
           |  GROUP BY 1, 2),
           |yt AS (
           |  SELECT yr, CAST(sum(cents) AS BIGINT) AS tot
           |  FROM cells GROUP BY 1)
           |SELECT yr,
           |  round(CAST(cents AS DOUBLE) / 100.0 * 100) / 100
           |    AS nation_revenue,
           |  round(CAST(tot AS DOUBLE) / 100.0 * 100) / 100
           |    AS region_revenue,
           |  round(CAST(cents AS DOUBLE) / tot * 1000000) / 1000000
           |    AS mkt_share
           |FROM cells JOIN yt USING (yr)
           |WHERE n_name = 'NATION_2' ORDER BY yr""".stripMargin))


  // --------------------------------------------------------------- q136
  /** Return-rate quality control by brand: each brand's returned share
    * of lines and of revenue, with the deviation from the corpus-wide
    * return rate — the SPC read that flags a brand whose products come
    * back more than the baseline says they should. Exact integer
    * counts/cents; the global baseline broadcasts back.
    *
    * Scale shape: lineitem⋈part on the part key, ONE conditional
    * hash-agg onto the brand grid, baseline from a second grid-sized
    * agg. */
  /** q136's final projection over the per-brand counter grid
    * (p_brand, n_lines, n_returned, cents, ret_cents) — shared by the
    * batch query and the returnRateStream twin (identical code over
    * identical integer counters ⇒ bit-for-bit parity). */
  def q136Finish(brands: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // corpus baseline via a full-frame window over the brand grid — a
    // separate totals branch would re-reference `brands` and re-run
    // the fact join + aggregate (no subplan CSE; scan.input_rows shows
    // it)
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    brands
      .withColumn("base_rate",
        sum("n_returned").over(wAll).cast("double")
          / sum("n_lines").over(wAll))
      .select(col("p_brand"), col("n_lines"), col("n_returned"),
        r6(col("n_returned").cast("double") / col("n_lines"))
          .as("return_rate"),
        r6(col("ret_cents").cast("double") / col("cents"))
          .as("revenue_at_risk"),
        r6(col("n_returned").cast("double") / col("n_lines")
          - col("base_rate")).as("vs_baseline"))
      .orderBy("p_brand")
  }

  val q136ReturnRates = QueryDef(
    "q136_return_rates",
    (s, d) => {
      val lines = Tables.lineitem(s, d)
        .join(Tables.part(s, d).select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cc"))
      val brands = lines.groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"), sum("ret").as("n_returned"),
          sum("cc").as("cents"),
          sum(when(col("ret") === 1L, col("cc")).otherwise(0L))
            .as("ret_cents"))
      q136Finish(brands)
    },
    Some("""WITH lines AS (
           |  SELECT p_brand,
           |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
           |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cc
           |  FROM lineitem JOIN part ON l_partkey = p_partkey),
           |brands AS (
           |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
           |    CAST(sum(ret) AS BIGINT) AS n_returned,
           |    CAST(sum(cc) AS BIGINT) AS cents,
           |    CAST(sum(CASE WHEN ret = 1 THEN cc ELSE 0 END) AS BIGINT)
           |      AS ret_cents
           |  FROM lines GROUP BY 1),
           |base AS (
           |  SELECT CAST(sum(n_returned) AS DOUBLE) / sum(n_lines)
           |    AS base_rate
           |  FROM brands)
           |SELECT p_brand, n_lines, n_returned,
           |  round(CAST(n_returned AS DOUBLE) / n_lines * 1000000)
           |    / 1000000 AS return_rate,
           |  round(CAST(ret_cents AS DOUBLE) / cents * 1000000) / 1000000
           |    AS revenue_at_risk,
           |  round((CAST(n_returned AS DOUBLE) / n_lines - base_rate)
           |    * 1000000) / 1000000 AS vs_baseline
           |FROM brands CROSS JOIN base ORDER BY p_brand""".stripMargin))

  // --------------------------------------------------------------- q153
  /** FIFO return allocation — match each part's returned quantity
    * against its shipments in ship-date order, the inventory-costing /
    * warranty-exposure primitive. The textbook form is a sequential
    * scan per part ("consume the earliest shipment first"); the engine
    * form is PREFIX-SUM ALGEBRA: a shipment's allocated share is
    * clamp(returned_total − cum_qty_before, 0, qty), so one window
    * cumulative sum replaces the sequential matcher — the same
    * sequential→prefix-sum turn behind x06's sequence packing. All
    * quantities are exact BIGINTs; the window order is total
    * (day, orderkey, linenumber), so allocation is deterministic.
    *
    * Scale shape: the window AND the returned-total join both key on
    * l_partkey — a high-cardinality key that scales with the data, one
    * exchange shape shared by both stages. The per-part report rolls
    * up with a map-side-combined hash-agg. Nothing global, nothing
    * driver-side. */
  val q153FifoAllocation = QueryDef(
    "q153_fifo_allocation",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            .as("day"),
          expr("cast(round(l_quantity) as bigint)").as("q"),
          col("l_returnflag"))
      val rtot = li.groupBy(col("l_partkey").as("pk2"))
        .agg(sum(when(col("l_returnflag") === "R", col("q"))
          .otherwise(0L)).as("rq"))
      val w = Window.partitionBy("l_partkey")
        .orderBy("day", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
      val alloc = li.join(rtot, col("l_partkey") === col("pk2"))
        .withColumn("cum", coalesce(sum("q").over(w), lit(0L)))
        .withColumn("alloc",
          greatest(lit(0L), least(col("q"), col("rq") - col("cum"))))
      alloc.groupBy(col("l_partkey").as("part"))
        .agg(count(lit(1)).as("n_ship"), sum("q").as("qty_total"),
          max("rq").as("qty_returned"),
          sum(when(col("alloc") === col("q"), 1L).otherwise(0L))
            .as("n_consumed"),
          sum(when(col("alloc") > 0L && col("alloc") < col("q"), 1L)
            .otherwise(0L)).as("n_partial"),
          coalesce(min(when(col("alloc") < col("q"), col("day"))),
            lit(-1L)).as("open_day"))
        .orderBy("part")
    },
    Some("""WITH li AS (
          |  SELECT l_partkey, l_orderkey, l_linenumber,
          |    epoch_us(l_shipdate) // 86400000000 AS day,
          |    CAST(round(l_quantity) AS BIGINT) AS q, l_returnflag
          |  FROM lineitem),
          |rtot AS (
          |  SELECT l_partkey, CAST(sum(CASE WHEN l_returnflag = 'R'
          |    THEN q ELSE 0 END) AS BIGINT) AS rq
          |  FROM li GROUP BY 1),
          |alloc AS (
          |  SELECT li.*, rq,
          |    COALESCE(CAST(sum(q) OVER (PARTITION BY li.l_partkey
          |      ORDER BY day, l_orderkey, l_linenumber
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |      AS BIGINT), 0) AS cum
          |  FROM li JOIN rtot USING (l_partkey)),
          |cl AS (
          |  SELECT *, greatest(0, least(q, rq - cum)) AS al FROM alloc)
          |SELECT l_partkey AS part, CAST(count(*) AS BIGINT) AS n_ship,
          |  CAST(sum(q) AS BIGINT) AS qty_total,
          |  CAST(max(rq) AS BIGINT) AS qty_returned,
          |  CAST(sum(CASE WHEN al = q THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_consumed,
          |  CAST(sum(CASE WHEN al > 0 AND al < q THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_partial,
          |  COALESCE(min(CASE WHEN al < q THEN day END), -1)
          |    AS open_day
          |FROM cl GROUP BY 1 ORDER BY part""".stripMargin))

  // --------------------------------------------------------------- q157
  /** Join-fanout audit across the schema's foreign-key edges — q94's
    * multiplicity twin: orphans certify a join is SAFE, fanout
    * certifies it is SIZED (an unexpectedly hot parent key turns a
    * fact-dim join into an accidental many-to-many and a 100 TB
    * shuffle into a skew incident). Per edge: parents seen, children,
    * max and mean fanout, and an exact integer-defined p99 (smallest
    * fanout f with cum_keys·100 ≥ parents·99 over the count-of-counts
    * histogram — no interpolation, no float boundary).
    *
    * Scale shape: ONE lineitem scan serves all three of its edges — a
    * map-side stack() unpivots (edge, fk) pairs, so the per-edge
    * "hash-agg onto the parent key" happens in one shared exchange
    * (the q154 lesson: Spark has no subplan CSE, so per-edge branches
    * would re-scan the fact table per edge). Then a count-of-counts
    * hash-agg onto the fanout DOMAIN (bounded by max multiplicity, not
    * key count) where the percentile window runs, partitioned by edge.
    * Nothing key-sized is sorted; 4 rows out regardless of corpus
    * size. */
  val q157FanoutAudit = QueryDef(
    "q157_fanout_audit",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val perKey = Tables.lineitem(s, d)
        .select(expr("""stack(3,
            'lineitem->orders', l_orderkey,
            'lineitem->part', l_partkey,
            'lineitem->supplier', l_suppkey)
          as (relationship, k)"""))
        .unionByName(Tables.orders(s, d)
          .select(lit("orders->customer").as("relationship"),
            col("o_custkey").as("k")))
        .groupBy("relationship", "k").agg(count(lit(1)).as("f"))
      val hist = perKey.groupBy("relationship", "f")
        .agg(count(lit(1)).as("keys"))
      // totals ride the SAME window exchange as the running sum (full
      // frame vs running frame) — a separate totals branch would
      // re-reference hist and duplicate the whole upstream scan
      val w = Window.partitionBy("relationship").orderBy("f")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val full = Window.partitionBy("relationship")
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      hist.withColumn("cum", sum("keys").over(w))
        .withColumn("n_children", sum(col("f") * col("keys")).over(full))
        .withColumn("n_parents", sum("keys").over(full))
        .withColumn("max_fanout", max("f").over(full))
        .filter(col("cum") * 100L >= col("n_parents") * 99L)
        .groupBy("relationship")
        .agg(first("n_parents").as("n_parents"),
          first("n_children").as("n_children"),
          first("max_fanout").as("max_fanout"),
          min("f").as("p99_fanout"))
        .select(col("relationship"), col("n_parents"),
          col("n_children"), col("max_fanout"),
          round(col("n_children").cast("double") / col("n_parents")
            * 1e6).cast("long").as("avg_fanout_micro"),
          col("p99_fanout"))
        .orderBy("relationship")
    },
    Some {
      def edge(rel: String, tbl: String, fk: String) =
        s"""SELECT '$rel' AS relationship, n_parents, n_children,
           |  max_fanout,
           |  CAST(round(CAST(n_children AS DOUBLE) / n_parents * 1000000)
           |    AS BIGINT) AS avg_fanout_micro,
           |  (SELECT min(f) FROM (
           |     SELECT f, sum(keys) OVER (ORDER BY f
           |       ROWS UNBOUNDED PRECEDING) AS cum
           |     FROM (SELECT f, CAST(count(*) AS BIGINT) AS keys
           |           FROM (SELECT $fk AS k, count(*) AS f
           |                 FROM $tbl GROUP BY 1) GROUP BY 1)) h
           |   CROSS JOIN (SELECT CAST(count(DISTINCT $fk) AS BIGINT)
           |     AS np FROM $tbl) t
           |   WHERE cum * 100 >= np * 99) AS p99_fanout
           |FROM (
           |  SELECT CAST(count(DISTINCT $fk) AS BIGINT) AS n_parents,
           |    CAST(count(*) AS BIGINT) AS n_children,
           |    CAST(max(f) AS BIGINT) AS max_fanout
           |  FROM (SELECT $fk, count(*) OVER (PARTITION BY $fk) AS f
           |        FROM $tbl))""".stripMargin
      Seq(edge("lineitem->orders", "lineitem", "l_orderkey"),
        edge("lineitem->part", "lineitem", "l_partkey"),
        edge("lineitem->supplier", "lineitem", "l_suppkey"),
        edge("orders->customer", "orders", "o_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
    })

  // --------------------------------------------------------------- q158
  /** Suppliers who kept orders waiting — the TPC-H Q21 shape, the
    * hardest join chain in the classic battery: for finished orders,
    * blame the supplier who shipped >90 days after the order date
    * (q131's SLA grammar — this corpus has no commitdate) when OTHER
    * suppliers fed the same order and NONE of them was late. The
    * textbook form is a correlated EXISTS + NOT-EXISTS pair per line;
    * the engine form is ONE per-order aggregate — n_suppliers and
    * n_late_suppliers — with blame ⇔ (late ∧ n_supp ≥ 2 ∧ n_late = 1),
    * provably the same predicate, and the DuckDB oracle runs the
    * TEXTBOOK exists form so the rewrite's equivalence is checked by
    * hash, not by argument.
    *
    * Scale shape: one fact-fact shuffle on the order key, one
    * per-order hash-agg, one supplier-grid rollup with a broadcast
    * dim join; the double-correlated subquery never executes as a
    * per-row probe. Total (numwait DESC, s_name) order makes the
    * top-20 cut deterministic. */
  val q158LateBlame = QueryDef(
    "q158_late_blame",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            .as("ship_day"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"),
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            .as("ord_day"))
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late", col("ship_day") > col("ord_day") + 90L)
      val per = j.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey")))
            .as("n_late_supp"))
      val blame = j.filter(col("late"))
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
        .join(per.filter(col("n_supp") >= 2L
          && col("n_late_supp") === 1L),
          col("l_orderkey") === col("ok"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
      blame.join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    Some("""WITH j AS (
           |  SELECT l_orderkey, l_suppkey,
           |    epoch_us(l_shipdate) // 86400000000
           |      > epoch_us(o_orderdate) // 86400000000 + 90 AS late
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  WHERE o_orderstatus = 'F')
           |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
           |FROM (SELECT DISTINCT l_orderkey, l_suppkey
           |      FROM j WHERE late) l1
           |JOIN supplier ON s_suppkey = l1.l_suppkey
           |WHERE EXISTS (
           |    SELECT 1 FROM j l2
           |    WHERE l2.l_orderkey = l1.l_orderkey
           |      AND l2.l_suppkey <> l1.l_suppkey)
           |  AND NOT EXISTS (
           |    SELECT 1 FROM j l3
           |    WHERE l3.l_orderkey = l1.l_orderkey
           |      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
           |GROUP BY 1 ORDER BY numwait DESC, s_name
           |LIMIT 20""".stripMargin))

  // --------------------------------------------------------------- q165
  /** Product-family profit by supplier nation and year — the TPC-H Q9
    * shape (the classic battery's widest join tree: fact × fact ×
    * three dims with a dim-side name filter). The testbed has no
    * partsupp, so unit cost is the standard 80%-of-retail convention:
    * profit = Σ [rev_cents − (retail_cents · qty · 4) div 5] over the
    * filtered part family, every term an exact BIGINT (integer div —
    * deterministic in both engines; the floor loss is the documented
    * trade, identical on both sides).
    *
    * Scale shape: the `p_name` filter broadcasts with the part dim and
    * prunes the fact FIRST (13% selectivity), so only matching lines
    * reach the one fact-fact exchange (lineitem ⋈ orders on orderkey);
    * supplier → nation ride along as broadcasts. The grid (nation ×
    * year) is domain-bounded. */
  /** q165's (nation × year) grid → report projection, shared with the
    * profitStream twin (identical code over identical integer counters
    * ⇒ bit-for-bit). `grid` columns: n_name, o_year, n_lines,
    * profit_cents. */
  def q165Finish(grid: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    grid.groupBy("n_name", "o_year")
      .agg(sum("n_lines").as("n_lines"),
        sum("profit_cents").as("profit_cents"))
      .withColumn("profit", col("profit_cents").cast("double") / 100)
      .orderBy(col("n_name"), col("o_year").desc)

  val q165ProductProfit = QueryDef(
    "q165_product_profit",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_name").like("%red%"))
          .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"),
            year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("n_name"), col("o_year"),
          (expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
            - expr("(cast(round(p_retailprice * 100) as bigint)" +
              " * cast(round(l_quantity) as bigint) * 4) div 5"))
            .as("profit_cents"))
      q165Finish(li.select(col("n_name"), col("o_year"),
        lit(1L).as("n_lines"), col("profit_cents")))
    },
    Some("""WITH li AS (
           |  SELECT n_name, year(o_orderdate) AS o_year,
           |    CAST(round(l_extendedprice * (1 - l_discount) * 100)
           |      AS BIGINT)
           |    - (CAST(round(p_retailprice * 100) AS BIGINT)
           |       * CAST(round(l_quantity) AS BIGINT) * 4) // 5
           |      AS profit_cents
           |  FROM lineitem
           |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |  JOIN orders ON l_orderkey = o_orderkey)
           |SELECT n_name, o_year, CAST(count(*) AS BIGINT) AS n_lines,
           |  CAST(sum(profit_cents) AS BIGINT) AS profit_cents,
           |  CAST(CAST(sum(profit_cents) AS BIGINT) AS DOUBLE) / 100
           |    AS profit
           |FROM li GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin))

  // --------------------------------------------------------------- q166
  /** ABC–XYZ inventory classification — the supply-chain planning
    * matrix: ABC from each part's share of total revenue (A ≈ top 80%,
    * B next 15%, C tail), XYZ from demand variability (CV of weekly
    * shipped quantity: X < 0.25, Y < 0.50, Z otherwise). The classic
    * formulation sorts every part by revenue and cuts the global
    * cumulative share — a corpus-sized single-partition window; here
    * ABC classifies at REVENUE-BAND granularity instead: band =
    * bit-length of the part's revenue cents (length(bin(x)) — integer,
    * never float log2, the q156 lesson), cut thresholds tested with
    * exact integer cross-multiplication (cum·5 vs total·4, cum·20 vs
    * total·19) over the ≤64-row band histogram — the q113 banded-Pareto
    * posture.
    *
    * Scale shape: ONE corpus scan to the (part × week) grid, a
    * part-level rollup on the same exchange — CACHED, because both the
    * band histogram and the classification join consume it and Spark
    * has no subplan CSE (unpersisted, the histogram branch re-runs the
    * corpus scan — scan.input_rows shows it, the q154/q157 lesson); the
    * ≤64-row band-class table broadcasts back; nothing part-sized
    * sorts globally. Weekly CV runs on exact integer Σq/Σq² (milli-CV
    * via one sqrt at the end). The answer is checkpointed before the
    * cache is freed, also when it fails (the q81/d03 lesson). */
  val q166AbcXyz = QueryDef.checkpointed(
    "q166_abc_xyz",
    (s, d) => {
      val wk = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("part"),
          expr("unix_micros(cast(l_shipdate as timestamp)) div 604800000000")
            .as("week"))
        .agg(expr("sum(cast(round(l_quantity) as bigint))").as("wq"),
          expr("sum(cast(round(l_extendedprice * 100) as bigint))")
            .as("wrev"))
      val per = wk.groupBy("part")
        .agg(sum("wrev").as("rev_cents"),
          count(lit(1)).as("n_weeks"),
          sum("wq").as("sq"),
          // pair products as decimal(38,0) ↔ HUGEINT (q132 convention)
          expr("cast(sum(cast(wq as decimal(38,0)) * wq) as bigint)")
            .as("sq2"))
        .withColumn("band", length(bin(col("rev_cents"))))
        .withColumn("cv_milli",
          expr("cast(round(1000 * sqrt(cast(n_weeks as decimal(38,0)) * sq2" +
            " - cast(sq as decimal(38,0)) * sq) / sq) as bigint)"))
        .persist()
      // band histogram: cum revenue from the TOP band down; class cuts
      // by integer cross-multiplication (exact 80% / 95% thresholds)
      val bandW = org.apache.spark.sql.expressions.Window
        .orderBy(col("band").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val bands = per.groupBy("band").agg(sum("rev_cents").as("brev"))
        .withColumn("cum_before", coalesce(sum("brev").over(bandW), lit(0L)))
        .withColumn("total", sum("brev").over(
          org.apache.spark.sql.expressions.Window.partitionBy()
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .withColumn("abc_class",
          when(col("cum_before") * 5 < col("total") * 4, "A")
            .when(col("cum_before") * 20 < col("total") * 19, "B")
            .otherwise("C"))
        .select(col("band"), col("abc_class"))
      val out = per.join(broadcast(bands), Seq("band"))
        .withColumn("xyz_class",
          when(col("cv_milli") < 250, "X")
            .when(col("cv_milli") < 500, "Y").otherwise("Z"))
        .groupBy("abc_class", "xyz_class")
        .agg(count(lit(1)).as("n_parts"),
          sum("rev_cents").as("rev_cents_total"))
        .orderBy("abc_class", "xyz_class")
      (out, () => per.unpersist(): Unit)
    },
    Some("""WITH wk AS (
           |  SELECT l_partkey AS part,
           |    epoch_us(l_shipdate) // 604800000000 AS week,
           |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wq,
           |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |      AS BIGINT) AS wrev
           |  FROM lineitem GROUP BY 1, 2),
           |per AS (
           |  SELECT part, CAST(sum(wrev) AS BIGINT) AS rev_cents,
           |    CAST(count(*) AS BIGINT) AS n_weeks,
           |    CAST(sum(wq) AS BIGINT) AS sq,
           |    CAST(sum(CAST(wq AS HUGEINT) * wq) AS BIGINT) AS sq2
           |  FROM wk GROUP BY 1),
           |pb AS (
           |  SELECT *, length(bin(rev_cents)) AS band,
           |    CAST(round(1000 * sqrt(CAST(n_weeks AS HUGEINT) * sq2
           |      - CAST(sq AS HUGEINT) * sq) / sq) AS BIGINT) AS cv_milli
           |  FROM per),
           |bands AS (
           |  SELECT band, CAST(sum(rev_cents) AS BIGINT) AS brev
           |  FROM pb GROUP BY 1),
           |cls AS (
           |  SELECT band,
           |    CAST(coalesce(sum(brev) OVER (ORDER BY band DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS cum_before,
           |    CAST(sum(brev) OVER () AS BIGINT) AS total
           |  FROM bands),
           |abc AS (
           |  SELECT band,
           |    CASE WHEN cum_before * 5 < total * 4 THEN 'A'
           |         WHEN cum_before * 20 < total * 19 THEN 'B'
           |         ELSE 'C' END AS abc_class
           |  FROM cls)
           |SELECT abc_class,
           |  CASE WHEN cv_milli < 250 THEN 'X'
           |       WHEN cv_milli < 500 THEN 'Y' ELSE 'Z' END AS xyz_class,
           |  CAST(count(*) AS BIGINT) AS n_parts,
           |  CAST(sum(rev_cents) AS BIGINT) AS rev_cents_total
           |FROM pb JOIN abc USING (band)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // --------------------------------------------------------------- q177
  /** Customer order-count distribution (the TPC-H Q13 shape): how many
    * customers placed 0, 1, 2, … orders — the engagement histogram
    * behind every "active customer" definition, and the classic
    * OUTER-join aggregate (zero-order customers must appear, so the
    * join can't be inner and the count must count JOIN MATCHES, not
    * rows). Output ordered by (custdist DESC, c_count DESC), the
    * benchmark's canonical order, with integer ties exact.
    *
    * Scale shape: orders collapse to per-customer counts in ONE
    * map-side-combined hash-agg BEFORE the join (never join raw orders
    * to customer and count rows — that shuffles the fact table twice);
    * the outer join then moves one row per customer; the distribution
    * is a second bounded hash-agg (counts range over a few dozen
    * values). */
  val q177CustDist = QueryDef(
    "q177_custdist",
    (s, d) => {
      val perCust = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"),
          "left_outer")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""WITH per_cust AS (
           |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
           |  FROM orders GROUP BY 1)
           |SELECT COALESCE(n_orders, 0) AS c_count,
           |  CAST(count(*) AS BIGINT) AS custdist
           |FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
           |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin))

  // --------------------------------------------------------------- q178
  /** Large-volume orders (the TPC-H Q18 shape): orders whose total
    * line quantity exceeds 300 units, with the customer and order
    * context attached — the "whale order" report whose naive form
    * (join everything, then filter) ships the whole fact table through
    * the join. Quantities are exact integers (units are whole in this
    * corpus), so the HAVING cut and the ordering are bit-stable.
    *
    * Scale shape: the HAVING filter runs on the per-order quantity
    * aggregate FIRST (one map-side-combined hash-agg), so only the
    * handful of qualifying orderkeys reach the joins — and both
    * context joins then BROADCAST that tiny qualifying set against
    * orders and customer instead of shuffling either. Top-100 by
    * (qty DESC, orderkey) is a TakeOrdered, never a global sort. */
    val q178LargeOrders = QueryDef(
    "q178_large_orders",
    (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(expr("cast(sum(cast(round(l_quantity) as bigint)) as bigint)")
          .as("total_qty"))
        .filter(col("total_qty") > 300L)
      Tables.orders(s, d)
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          expr("cast(round(o_totalprice * 100) as bigint)")
            .as("total_cents"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(100)
    },
    Some("""WITH big AS (
           |  SELECT l_orderkey,
           |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
           |      AS total_qty
           |  FROM lineitem GROUP BY 1
           |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 300)
           |SELECT c_name, o_custkey, o_orderkey, o_orderdate,
           |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
           |  total_qty
           |FROM big JOIN orders ON o_orderkey = l_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |ORDER BY total_qty DESC, o_orderkey ASC
           |LIMIT 100""".stripMargin))

  // --------------------------------------------------------------- q183
  /** Important stock (the TPC-H Q11 shape): parts whose traded value
    * through one nation's suppliers exceeds a fixed fraction (0.1%) of
    * that nation's total — the HAVING-against-a-global-aggregate
    * pattern whose naive form evaluates a correlated subquery per
    * group. Value is exact BIGINT cents; the cut is the exact integer
    * cross-multiplication value·10000 > total·10 (no float threshold,
    * the q166 band-cut convention).
    *
    * Scale shape: the nation's supplier keys broadcast into the fact
    * scan (dim-filter-first, q69's rule); ONE map-side hash-agg onto
    * the part grid; the global total attaches as a 1-row broadcast —
    * the "correlated" threshold costs one scalar, not a per-group
    * probe. Output ordered by (value DESC, part). */
  val q183ImportantStock = QueryDef(
    "q183_important_stock",
    (s, d) => {
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val vals = Tables.lineitem(s, d)
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("part_key"))
        .agg(expr("cast(sum(cast(round(l_extendedprice * 100) as bigint))"
          + " as bigint)").as("value_cents"))
      val tot = vals.agg(sum("value_cents").as("total_cents"))
      vals.crossJoin(broadcast(tot))
        .filter(col("value_cents") * 10000L > col("total_cents") * 10L)
        .select(col("part_key"), col("value_cents"),
          expr("value_cents * 1000000 div total_cents").as("share_ppm"))
        .orderBy(col("value_cents").desc, col("part_key").asc)
    },
    Some("""WITH supp AS (
           |  SELECT s_suppkey FROM supplier JOIN nation
           |    ON s_nationkey = n_nationkey
           |  WHERE n_name = 'NATION_3'),
           |vals AS (
           |  SELECT l_partkey AS part_key,
           |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |      AS BIGINT) AS value_cents
           |  FROM lineitem JOIN supp ON l_suppkey = s_suppkey
           |  GROUP BY 1),
           |tot AS (SELECT CAST(sum(value_cents) AS BIGINT)
           |    AS total_cents
           |  FROM vals)
           |SELECT part_key, value_cents,
           |  value_cents * 1000000 // total_cents AS share_ppm
           |FROM vals CROSS JOIN tot
           |WHERE value_cents * 10000 > total_cents * 10
           |ORDER BY value_cents DESC, part_key ASC""".stripMargin))

  // --------------------------------------------------------------- q190
  /** Top supplier (the TPC-H Q15 shape): the supplier(s) achieving the
    * MAXIMUM revenue over the corpus's opening quarter — the argmax-
    * against-an-aggregate pattern whose textbook form is a view joined
    * to its own MAX; ties are INCLUDED (equality against the max, not
    * a LIMIT 1 — the detail Q15 exists to test). Revenue rounds to
    * exact cents PER LINE before summing (order/partition-proof), the
    * quarter anchors at the corpus min ship day (the ingest-catalog-
    * parameter posture, q90/q104 convention).
    *
    * Scale shape: the anchor is a single-column min (one pruned scan),
    * the max attaches as a full-frame window OVER the supplier-sized
    * revenue table (one pass — a broadcast-max crossJoin would re-run
    * the revenue lineage and scan the fact twice, the round-7 branchy-
    * totals lesson), and the name join broadcasts the dim — the only
    * corpus-sized work is the one map-side-combined revenue hash-agg. */
  val q190TopSupplier = QueryDef(
    "q190_top_supplier",
    (s, d) => {
      def li0 = Tables.lineitem(s, d)
        .select(col("l_suppkey"),
          expr("unix_micros(cast(l_shipdate as timestamp))"
            + " div 86400000000").as("ship_day"),
          expr("cast(round(l_extendedprice * (1 - l_discount) * 100)"
            + " as bigint)").as("rev_cents"))
      val anchor = li0.agg(min("ship_day").as("d0"))
      val full = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      li0.crossJoin(broadcast(anchor))
        .filter(col("ship_day") < col("d0") + 90L)
        .groupBy(col("l_suppkey"))
        .agg(sum("rev_cents").as("total_rev_cents"))
        .withColumn("mx", max("total_rev_cents").over(full))
        .filter(col("total_rev_cents") === col("mx"))
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_cents"))
        .orderBy("s_suppkey")
    },
    Some("""WITH li AS (
           |  SELECT l_suppkey,
           |    epoch_us(l_shipdate) // 86400000000 AS ship_day,
           |    CAST(round(l_extendedprice * (1 - l_discount) * 100)
           |      AS BIGINT) AS rev_cents
           |  FROM lineitem),
           |anchor AS (SELECT min(ship_day) AS d0 FROM li),
           |rev AS (
           |  SELECT l_suppkey,
           |    CAST(sum(rev_cents) AS BIGINT) AS total_rev_cents
           |  FROM li CROSS JOIN anchor
           |  WHERE ship_day < d0 + 90 GROUP BY 1),
           |mx AS (SELECT max(total_rev_cents) AS mx FROM rev)
           |SELECT s_suppkey, s_name, total_rev_cents
           |FROM rev CROSS JOIN mx
           |JOIN supplier ON l_suppkey = s_suppkey
           |WHERE total_rev_cents = mx
           |ORDER BY s_suppkey""".stripMargin))

  // --------------------------------------------------------------- q195
  /** Volume-dominant suppliers (the TPC-H Q20 shape): suppliers from
    * one nation who shipped MORE THAN TWICE a part's fair share (their
    * quantity × the part's supplier count > 2 × the part's total) —
    * the two-level nested subquery Q20 exists to test: an IN/semi-join
    * whose inner query carries a HAVING against correlated aggregates
    * over a second scan (here TWO of them: the part's total AND its
    * supplier count). Fair-share-relative dominance is scale-stable
    * where Q20's fixed 50% is not (shares dilute as parts gain
    * suppliers with volume). The oracle runs the textbook nested form
    * (IN + correlated scalar subqueries in HAVING) so DuckDB proves
    * the reformulation below is semantics-preserving.
    *
    * Scale shape: the naive form rescans the fact once per (supplier,
    * part) group for the correlated aggregates — quadratic at 100 TB.
    * Here the fact is scanned ONCE into the (part, supplier) quantity
    * grid, the per-part totals and supplier counts are an aggregate OF
    * that aggregate (grid-sized work, no second fact scan), the
    * dominance test is an equi-join back on p_key, and the supplier
    * dim (with its nation filter) broadcasts. Quantities are
    * integer-valued doubles cast to BIGINT so the dominance inequality
    * is exact in both engines. PlanSpec pins the single fact scan. */
  val q195VolumeDominantSupplier = QueryDef(
    "q195_volume_dominant_supplier",
    (s, d) => {
      val grid = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum("qty").as("supp_qty"))
      // per-part totals attach as a window OVER the grid — deriving
      // them as a second aggregate of a twice-referenced `grid` val
      // re-runs the grid's lineage and scans the fact twice (the q190
      // branchy-totals lesson, plan-pinned here)
      val perPart = Window.partitionBy("l_partkey")
      val natSupp = broadcast(Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name") === "NATION_1").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name"))
      grid
        .withColumn("part_qty", sum("supp_qty").over(perPart))
        .withColumn("n_supp", count(lit(1)).over(perPart))
        .filter(col("supp_qty") * col("n_supp") > col("part_qty") * 2L)
        .join(natSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_dominated_parts"),
          sum("supp_qty").as("dominated_qty"))
        .orderBy(col("n_dominated_parts").desc, col("s_suppkey"))
    },
    Some("""SELECT s_suppkey, s_name,
           |  CAST(count(*) AS BIGINT) AS n_dominated_parts,
           |  CAST(sum(supp_qty) AS BIGINT) AS dominated_qty
           |FROM (
           |  SELECT l1.l_partkey, l1.l_suppkey,
           |    CAST(sum(CAST(l1.l_quantity AS BIGINT)) AS BIGINT)
           |      AS supp_qty
           |  FROM lineitem l1
           |  GROUP BY 1, 2
           |  HAVING sum(CAST(l1.l_quantity AS BIGINT)) *
           |    (SELECT count(DISTINCT l3.l_suppkey)
           |     FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey) >
           |    2 * (SELECT sum(CAST(l2.l_quantity AS BIGINT))
           |     FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
           |) g
           |JOIN supplier ON l_suppkey = s_suppkey
           |WHERE s_suppkey IN (
           |  SELECT s2.s_suppkey FROM supplier s2
           |  JOIN nation ON s2.s_nationkey = n_nationkey
           |  WHERE n_name = 'NATION_1')
           |GROUP BY 1, 2
           |ORDER BY n_dominated_parts DESC, s_suppkey""".stripMargin))

  // --------------------------------------------------------------- q196
  /** Disjunctive-predicate join (the TPC-H Q19 shape): revenue from
    * lineitems matching an OR-of-ANDs over brand × quantity-band ×
    * size — the pattern Q19 exists to test, because a disjunction in
    * the join condition defeats naive join-key extraction and a naive
    * planner degrades to a nested-loop/cartesian scan of the fact per
    * dim row. The engine must instead extract the conjunct common to
    * every disjunct — the p_partkey equi-key — plan a single hash join
    * on it, and carry the OR as a post-join residual (Catalyst does
    * exactly this; PlanSpec pins no-BNLJ/no-Cartesian + the broadcast
    * hash join).
    *
    * Scale shape: one fact scan, the part dim broadcasts, revenue
    * rounds to exact cents per line before the per-brand sum
    * (order/partition-proof); the size/brand halves of each disjunct
    * are dim-only predicates, so the residual evaluates on the joined
    * row without a second scan. */
  val q196DisjunctiveJoin = QueryDef(
    "q196_disjunctive_join",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          expr("cast(round(l_extendedprice * (1 - l_discount) * 100)"
            + " as bigint)").as("rev_cents"))
      val part = broadcast(Tables.part(s, d)
        .select("p_partkey", "p_brand", "p_size"))
      val disj =
        (col("p_brand") === "Brand#1" && col("qty").between(1L, 11L) &&
          col("p_size") <= 5) ||
        (col("p_brand") === "Brand#2" && col("qty").between(10L, 20L) &&
          col("p_size") <= 10) ||
        (col("p_brand") === "Brand#3" && col("qty").between(20L, 30L) &&
          col("p_size") <= 15)
      li.join(part, col("l_partkey") === col("p_partkey") && disj)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum("rev_cents").as("revenue_cents"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
           |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
           |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#1'
           |       AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11
           |       AND p_size <= 5)
           |   OR (p_brand = 'Brand#2'
           |       AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20
           |       AND p_size <= 10)
           |   OR (p_brand = 'Brand#3'
           |       AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30
           |       AND p_size <= 15)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q197
  /** Small-order revenue (the TPC-H Q17 shape): revenue from lineitems
    * whose quantity is below 20% of their part's average order
    * quantity, for a handful of brands — the correlated scalar
    * subquery Q17 exists to test (`l_quantity < 0.2 * (SELECT avg ...
    * WHERE same part)`). The oracle runs the textbook correlated form
    * so DuckDB proves the reformulation: because the brand filter is
    * PART-level, every retained part keeps ALL its lineitems, so the
    * per-part average is computable as a window over the already-
    * joined rows — ONE fact scan and ONE shuffle (by l_partkey),
    * where the naive decorrelation (aggregate the fact per part, join
    * back to the fact) scans or shuffles the fact twice.
    *
    * Scale shape: brand dim broadcasts; the 0.2·avg threshold is
    * evaluated as exact integer cross-multiplication
    * (5·n·qty < Σqty ⟺ qty < 0.2·(Σqty/n), n > 0) so no
    * decimal-vs-double arithmetic reaches the compare in either
    * engine; revenue rounds to exact cents per line. */
  val q197SmallOrderRevenue = QueryDef(
    "q197_small_order_revenue",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          expr("cast(round(l_extendedprice * 100) as bigint)")
            .as("price_cents"))
      val brandParts = broadcast(Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey", "p_brand"))
      val perPart = Window.partitionBy("l_partkey")
      li.join(brandParts, col("l_partkey") === col("p_partkey"))
        .withColumn("part_n", count(lit(1)).over(perPart))
        .withColumn("part_qty", sum("qty").over(perPart))
        .filter(col("qty") * lit(5L) * col("part_n") < col("part_qty"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small_lines"),
          sum("price_cents").as("revenue_cents"))
        .orderBy("p_brand")
    },
    Some("""SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small_lines,
           |  CAST(sum(CAST(round(l1.l_extendedprice * 100) AS BIGINT))
           |    AS BIGINT) AS revenue_cents
           |FROM lineitem l1 JOIN part p ON l1.l_partkey = p.p_partkey
           |WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
           |  AND CAST(l1.l_quantity AS BIGINT) * 5 *
           |    (SELECT count(*) FROM lineitem l2
           |     WHERE l2.l_partkey = p.p_partkey) <
           |    (SELECT sum(CAST(l3.l_quantity AS BIGINT)) FROM lineitem l3
           |     WHERE l3.l_partkey = p.p_partkey)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q198
  /** Cheapest regional supplier per part (the TPC-H Q2 shape): for
    * each small part, the supplier from one region offering it at the
    * lowest price — Q2's correlated-min subquery (`cost = (SELECT
    * min(cost) ... WHERE same part AND supplier in region)`), with
    * ties broken deterministically to the lowest supplier key. The
    * testdata has no partsupp table, so the offer grid derives from
    * shipment history: min observed line price per (part, supplier).
    * The oracle runs the textbook correlated-min form against the
    * same grid CTE (MATERIALIZED — it is referenced twice).
    *
    * Scale shape: region→nation→supplier chain collapses to one
    * broadcast semi-filter applied BEFORE the grid aggregate (prunes
    * fact rows early), the part-size filter broadcasts likewise; the
    * fact is scanned once into the (part, supplier) min-price grid;
    * the per-part min attaches as a window OVER the grid (grid-sized
    * work — a correlated probe per part would rescan, and a second
    * aggregate of the twice-referenced grid val would re-run its
    * lineage, the q190/q195 lesson); the name join-back touches only
    * the winner rows against a broadcast dim. */
  val q198CheapestSupplier = QueryDef(
    "q198_cheapest_supplier",
    (s, d) => {
      val regionSupp = broadcast(Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)
                .filter(col("r_name") === "EUROPE").select("r_regionkey")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("rs_suppkey")))
      val smallParts = broadcast(Tables.part(s, d)
        .filter(col("p_size") <= 15).select("p_partkey"))
      val grid = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          expr("cast(round(l_extendedprice * 100) as bigint)")
            .as("line_cents"))
        .join(regionSupp, col("l_suppkey") === col("rs_suppkey"))
        .join(smallParts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min("line_cents").as("cost_cents"))
      val perPart = Window.partitionBy("l_partkey")
      grid
        .withColumn("min_cost", min("cost_cents").over(perPart))
        .filter(col("cost_cents") === col("min_cost"))
        .groupBy(col("l_partkey").as("p_partkey"), col("cost_cents"))
        .agg(min("l_suppkey").as("best_suppkey"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("best_suppkey") === col("s_suppkey"))
        .select("p_partkey", "best_suppkey", "s_name", "cost_cents")
        .orderBy("p_partkey")
    },
    Some("""WITH grid AS MATERIALIZED (
           |  SELECT l_partkey, l_suppkey,
           |    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
           |      AS BIGINT) AS cost_cents
           |  FROM lineitem
           |  WHERE l_suppkey IN (
           |      SELECT s_suppkey FROM supplier
           |      JOIN nation ON s_nationkey = n_nationkey
           |      JOIN region ON n_regionkey = r_regionkey
           |      WHERE r_name = 'EUROPE')
           |    AND l_partkey IN (
           |      SELECT p_partkey FROM part WHERE p_size <= 15)
           |  GROUP BY 1, 2)
           |SELECT w.p_partkey, w.best_suppkey, s_name, w.cost_cents
           |FROM (
           |  SELECT g.l_partkey AS p_partkey, g.cost_cents,
           |    min(g.l_suppkey) AS best_suppkey
           |  FROM grid g
           |  WHERE g.cost_cents = (SELECT min(g2.cost_cents) FROM grid g2
           |                        WHERE g2.l_partkey = g.l_partkey)
           |  GROUP BY 1, 2) w
           |JOIN supplier ON w.best_suppkey = s_suppkey
           |ORDER BY w.p_partkey""".stripMargin))

  // --------------------------------------------------------------- q199
  /** Returned-item ranking (the TPC-H Q10 shape): the top 20 customers
    * by revenue lost to returned items in one quarter, with their
    * nation. Q10 joins all four tables and then groups; here the fact
    * is aggregated to customer grain FIRST (lineitem×orders is the
    * only at-scale join; returnflag and the quarter prune it), and the
    * customer/nation dims broadcast onto the already-small per-customer
    * grid — at 100 TB the grid is |customers|, not |lineitems|. The
    * top-20 plans as TakeOrderedAndProject (bounded take, no global
    * sort); ties at the cut break deterministically on c_custkey.
    * Revenue rounds to exact cents per line before the sum. */
  val q199ReturnedItemRanking = QueryDef(
    "q199_returned_item_ranking",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("cast(round(l_extendedprice * (1 - l_discount) * 100)"
            + " as bigint)").as("rev_cents"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum("rev_cents").as("revenue_cents"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c.c_custkey, c.c_name, n.n_name,
           |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
           |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
           |FROM lineitem l
           |JOIN orders o ON l.l_orderkey = o.o_orderkey
           |JOIN customer c ON o.o_custkey = c.c_custkey
           |JOIN nation n ON c.c_nationkey = n.n_nationkey
           |WHERE l.l_returnflag = 'R'
           |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
           |GROUP BY 1, 2, 3
           |ORDER BY revenue_cents DESC, c_custkey
           |LIMIT 20""".stripMargin))

  // --------------------------------------------------------------- q200
  /** Promotion revenue share (the TPC-H Q14 shape): what fraction of
    * one month's revenue came from PROMO-type parts — the conditional-
    * numerator / unconditional-denominator ratio Q14 exists to test.
    * One fact scan with the month pruned at the parquet scan, the part
    * dim broadcasts, both sums are exact BIGINT cents (the hash anchor)
    * and the ratio is the r4 of their double quotient — the one
    * rounding convention bit-compatible with DuckDB. */
  val q200PromoRevenue = QueryDef(
    "q200_promo_revenue",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_partkey"),
          expr("cast(round(l_extendedprice * (1 - l_discount) * 100)"
            + " as bigint)").as("rev_cents"))
      li.join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev_cents"))
            .otherwise(0L)).as("promo_cents"),
          sum("rev_cents").as("total_cents"))
        .select(col("promo_cents"), col("total_cents"),
          r4(col("promo_cents").cast("double") / col("total_cents"))
            .as("promo_ratio"))
    },
    Some("""SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rc ELSE 0
           |    END) AS BIGINT) AS promo_cents,
           |  CAST(sum(rc) AS BIGINT) AS total_cents,
           |  round(CAST(sum(CASE WHEN p_type = 'PROMO' THEN rc ELSE 0
           |    END) AS DOUBLE) / sum(rc) * 10000) / 10000 AS promo_ratio
           |FROM (SELECT CAST(round(l_extendedprice * (1 - l_discount)
           |    * 100) AS BIGINT) AS rc, p_type
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
           |    AND l_shipdate < TIMESTAMP '1996-04-01') t""".stripMargin))

  // --------------------------------------------------------------- q201
  /** Supplier diversity per part class (the TPC-H Q16 shape): distinct
    * suppliers who shipped each (brand, size) class, excluding one
    * brand and a NOT-IN-subquery supplier blocklist (Q16's complaint
    * filter, here low-balance suppliers under a fixed literal — a raw
    * column-vs-literal compare, no cross-engine arithmetic). The
    * blocklist is a broadcast anti-join (s_suppkey is non-null, so
    * NOT IN == anti-join; q51 covers the null-aware divergence), the
    * part dim broadcasts its filter, and the distinct count is the
    * standard two-phase expand — only (class, suppkey) pairs shuffle. */
  val q201SupplierDiversity = QueryDef(
    "q201_supplier_diversity",
    (s, d) => {
      val badSupp = broadcast(Tables.supplier(s, d)
        .filter(col("s_acctbal") < 2000)
        .select(col("s_suppkey").as("bad_suppkey")))
      val parts = broadcast(Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#1" && col("p_size") <= 25)
        .select("p_partkey", "p_brand", "p_size"))
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(badSupp, col("l_suppkey") === col("bad_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    },
    Some("""SELECT p_brand, p_size,
           |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE p_brand <> 'Brand#1' AND p_size <= 25
           |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
           |                        WHERE s_acctbal < 2000)
           |GROUP BY 1, 2
           |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(q69StarJoin, q70EventDedup, q71ArgExtremes, q72Regression,
      q74VariantExtract, q75HofBattery, q76ZorderLayout, q79ExistsChain,
      q87DeletionPlan, q88IncrementalView, q91OrderStats, q94FkAudit,
      q99BenfordAudit, q118PriceVolumeBridge, q122OrderBacklog,
      q127AmountReconciliation, q131SlaAttainment, q132SupplierHhi,
      q133TradeMatrix, q134SalesOpportunity, q135MarketShare,
      q136ReturnRates, q153FifoAllocation, q157FanoutAudit,
      q158LateBlame, q165ProductProfit, q166AbcXyz, q177CustDist,
      q178LargeOrders, q183ImportantStock, q190TopSupplier,
      q195VolumeDominantSupplier, q196DisjunctiveJoin,
      q197SmallOrderRevenue, q198CheapestSupplier,
      q199ReturnedItemRanking, q200PromoRevenue, q201SupplierDiversity)
}
