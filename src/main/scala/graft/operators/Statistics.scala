package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Rounding.{r2, r4, r6}

/** Statistical monitoring / inference operators over the event stream:
  * distribution-drift scoring (PSI), one-pass bootstrap resampling, and
  * piecewise-linear interpolation lookup. The family's 100 TB posture:
  * fixed-bin histograms and replica grids that collapse the corpus in
  * ONE map-side-combined hash-agg; exact BIGINT fixed-point cores with
  * float division only at the final projection; per-key windows only on
  * high-cardinality keys (user_id).
  *
  * Reference scope note: runreveal/cheetah (types.go, processor.go) has
  * no statistics surface at all — this battery is part of the
  * large-scale-pipeline extension the brief mandates. */
object Statistics {

  private val DayUs = 86400000000L

  // --------------------------------------------------------------- q137
  /** Population Stability Index per event type: the train/serve drift
    * score an ML monitoring stack computes before every retrain. The
    * timeline splits at its midpoint (q90's convention — first half
    * "train", second "serve"); `value` lands in 10 fixed-width
    * milli-unit bins (integer div — no data-dependent edges, so the
    * binning is reproducible across engines and snapshots); PSI is
    * Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) over Laplace-smoothed bin shares. Each
    * bin's contribution rounds to a micro-unit BIGINT BEFORE the
    * per-type total, so the total is an exact integer sum —
    * order-proof across engines and partitionings (the fixed-point
    * posture).
    *
    * Scale shape: ONE map-side-combined hash-agg to the
    * (type × 10 bins) grid with conditional train/serve counters; the
    * timeline span is a single-column scan (catalog stat at ingest);
    * totals and PSI roll up on the grid and broadcast back. 100 TB of
    * events never reaches a window or join. */
  /** q137's grid → report projection, shared with the psiStream twin
    * (identical code over identical integer counters ⇒ bit-for-bit).
    * `grid` columns: event_type, bin, train_n, serve_n. */
  def q137Finish(grid: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // per-type totals and the PSI rollup via full-frame windows over
    // the types×10 grid, NOT groupBy branches — each branch would
    // re-reference the grid and re-run the corpus aggregate (no
    // subplan CSE; the branchy form read events twice, as the layer
    // record's scan.input_rows shows). One scan, one grid exchange, zero
    // joins.
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("tt", sum("train_n").over(byType))
      .withColumn("st", sum("serve_n").over(byType))
      .withColumn("p",
        (col("train_n") + 1L).cast("double") / (col("tt") + 10L))
      .withColumn("q",
        (col("serve_n") + 1L).cast("double") / (col("st") + 10L))
      .withColumn("contrib_micro",
        round((col("p") - col("q")) * log(col("p") / col("q")) * 1e6)
          .cast("long"))
      .withColumn("psi_micro", sum("contrib_micro").over(byType))
      .select(col("event_type"), col("bin"), col("train_n"),
        col("serve_n"), col("contrib_micro"), col("psi_micro"))
      .orderBy("event_type", "bin")
  }

  val q137PsiDrift = QueryDef(
    "q137_psi_drift",
    (s, d) => {
      val span = Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div ${DayUs}L").as("day"))
        .agg(min("day").as("d0"), max("day").as("d1"))
      val grid = Tables.events(s, d)
        .select(col("event_type"),
          expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
          greatest(least(
            expr("cast(round(value * 1000) as bigint) div 50000"),
            lit(9L)), lit(0L)).as("bin"))
        .crossJoin(broadcast(span))
        .withColumn("is_train", col("day") < expr("(d0 + d1 + 1) div 2"))
        .groupBy("event_type", "bin")
        .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("train_n"),
          sum(when(col("is_train"), 0L).otherwise(1L)).as("serve_n"))
      q137Finish(grid)
    },
    Some(s"""WITH span AS (
           |  SELECT min(epoch_us(ts) // ${DayUs}) AS d0,
           |    max(epoch_us(ts) // ${DayUs}) AS d1
           |  FROM events),
           |grid AS (
           |  SELECT event_type,
           |    greatest(least(CAST(round(value * 1000) AS BIGINT)
           |        // 50000, 9), 0)
           |      AS bin,
           |    CAST(sum(CASE WHEN epoch_us(ts) // ${DayUs}
           |        < (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS train_n,
           |    CAST(sum(CASE WHEN epoch_us(ts) // ${DayUs}
           |        < (d0 + d1 + 1) // 2 THEN 0 ELSE 1 END) AS BIGINT)
           |      AS serve_n
           |  FROM events CROSS JOIN span GROUP BY 1, 2),
           |tots AS (
           |  SELECT event_type, CAST(sum(train_n) AS BIGINT) AS tt,
           |    CAST(sum(serve_n) AS BIGINT) AS st
           |  FROM grid GROUP BY 1),
           |contrib AS (
           |  SELECT grid.event_type, bin, train_n, serve_n,
           |    CAST(round(
           |      (CAST(train_n + 1 AS DOUBLE) / (tt + 10)
           |        - CAST(serve_n + 1 AS DOUBLE) / (st + 10))
           |      * ln((CAST(train_n + 1 AS DOUBLE) / (tt + 10))
           |          / (CAST(serve_n + 1 AS DOUBLE) / (st + 10)))
           |      * 1e6) AS BIGINT) AS contrib_micro
           |  FROM grid JOIN tots USING (event_type)),
           |psi AS (
           |  SELECT event_type, CAST(sum(contrib_micro) AS BIGINT)
           |    AS psi_micro
           |  FROM contrib GROUP BY 1)
           |SELECT event_type, bin, train_n, serve_n, contrib_micro,
           |  psi_micro
           |FROM contrib JOIN psi USING (event_type)
           |ORDER BY event_type, bin""".stripMargin))

  // --------------------------------------------------------------- q138
  /** One-pass bootstrap confidence interval for the per-type mean value
    * — resampling WITHOUT resampling passes. Each row's multiplicity in
    * replica b is a deterministic hash-Poisson(1) draw (inverse CDF on
    * u = md5(event_id, b)/2³², the Poisson bootstrap: at corpus scale a
    * with-replacement sample of n rows is Binomial(n, 1/n) ≈ Poisson(1)
    * per row, independent per row — so the resample needs NO global
    * coordination, just a per-row hash). All 32 replica sums accumulate
    * in one map-side-combined aggregate; replica means round to exact
    * milli-unit BIGINTs so the variance core (Σm, Σm²) is exact integer
    * arithmetic — order-proof — and the percentile CI interpolates over
    * 32 integers (the proven percentile_cont ↔ quantile_cont bridge).
    *
    * Scale shape: the 32× explode happens map-side and collapses to the
    * (type × 32) grid before the only shuffle; the replica grid and the
    * final stats are catalog-sized. No second scan, no driver loop. */
  val q138BootstrapCi = QueryDef(
    "q138_bootstrap_ci",
    (s, d) => {
      // Poisson(1) CDF: P(X <= k) for k = 0..6; ties impossible since
      // u has 2^-32 granularity and thresholds are irrational
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
      val point = ev.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("n"),
          round(sum("vm").cast("double") / count(lit(1))).cast("long")
            .as("mean_milli"))
      // one md5 yields four independent 32-bit words: 8 digests cover
      // all 32 replicas (4x fewer hashes than one digest per replica);
      // the 32x fan-out collapses map-side to the (type x 32) grid
      // before the only shuffle. (A 64-buffer wide aggregate was tried
      // and measured SLOWER: codegen does not share the digest across
      // aggregate buffers, so it pays 64 md5 evaluations per row.)
      val reps = ev
        .select(col("event_type"), col("vm"),
          explode(expr("sequence(0L, 7L)")).as("g"),
          col("event_id"))
        .withColumn("h", md5(concat_ws("_", col("event_id"), col("g"))))
        .select(col("event_type"), col("vm"), col("g"), col("h"),
          explode(expr("sequence(0L, 3L)")).as("j"))
        .withColumn("b", col("g") * 4L + col("j"))
        .withColumn("u",
          conv(expr("substring(h, cast(j * 8 + 1 as int), 8)"), 16, 10)
            .cast("long").cast("double") / 4294967296.0)
        .withColumn("w",
          when(col("u") < 0.36787944117144233, 0L)
            .when(col("u") < 0.7357588823428847, 1L)
            .when(col("u") < 0.9196986029286058, 2L)
            .when(col("u") < 0.9810118431238462, 3L)
            .when(col("u") < 0.9963401531726563, 4L)
            .when(col("u") < 0.9994058151824183, 5L)
            .when(col("u") < 0.9999167588507119, 6L)
            .otherwise(7L))
        .groupBy("event_type", "b")
        .agg(sum("w").as("nb"), sum(col("w") * col("vm")).as("sb"))
        .select(col("event_type"), col("b"),
          round(col("sb").cast("double") / col("nb")).cast("long")
            .as("m"))
      reps.groupBy("event_type")
        .agg(sum("m").as("sm"), sum(col("m") * col("m")).as("sm2"),
          expr("percentile_cont(0.025) WITHIN GROUP (ORDER BY m)")
            .as("lo_milli"),
          expr("percentile_cont(0.975) WITHIN GROUP (ORDER BY m)")
            .as("hi_milli"))
        .join(broadcast(point), col("event_type") === col("et"))
        .select(col("event_type"), col("n"),
          r4(col("mean_milli") / 1000.0).as("mean_value"),
          r4(sqrt((col("sm2") - col("sm") * col("sm") / 32.0) / 31.0)
            / 1000.0).as("se_value"),
          r4(col("lo_milli") / 1000.0).as("ci_lo"),
          r4(col("hi_milli") / 1000.0).as("ci_hi"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
           |  SELECT event_type, event_id,
           |    CAST(round(value * 1000) AS BIGINT) AS vm
           |  FROM events),
           |point AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(round(CAST(sum(vm) AS DOUBLE) / count(*)) AS BIGINT)
           |      AS mean_milli
           |  FROM ev GROUP BY 1),
           |reps AS (
           |  SELECT event_type, b,
           |    CAST(round(CAST(sum(w * vm) AS DOUBLE) / sum(w))
           |      AS BIGINT) AS m
           |  FROM (
           |    SELECT event_type, vm, b,
           |      CASE
           |        WHEN u < 0.36787944117144233 THEN 0
           |        WHEN u < 0.7357588823428847 THEN 1
           |        WHEN u < 0.9196986029286058 THEN 2
           |        WHEN u < 0.9810118431238462 THEN 3
           |        WHEN u < 0.9963401531726563 THEN 4
           |        WHEN u < 0.9994058151824183 THEN 5
           |        WHEN u < 0.9999167588507119 THEN 6
           |        ELSE 7 END AS w
           |    FROM (
           |      SELECT event_type, vm, g * 4 + j AS b,
           |        ('0x' || substr(h, CAST(j * 8 + 1 AS INT), 8))::BIGINT
           |          / 4294967296.0 AS u
           |      FROM (
           |        SELECT event_type, vm,
           |          md5(CAST(event_id AS VARCHAR) || '_'
           |            || CAST(g AS VARCHAR)) AS h, g
           |        FROM ev CROSS JOIN (
           |          SELECT unnest(range(0, 8)) AS g))
           |      CROSS JOIN (SELECT unnest(range(0, 4)) AS j)))
           |  GROUP BY 1, 2),
           |stats AS (
           |  SELECT event_type,
           |    CAST(sum(m) AS BIGINT) AS sm,
           |    CAST(sum(m * m) AS BIGINT) AS sm2,
           |    quantile_cont(m, 0.025) AS lo_milli,
           |    quantile_cont(m, 0.975) AS hi_milli
           |  FROM reps GROUP BY 1)
           |SELECT event_type, n,
           |  round(mean_milli / 1000.0 * 10000) / 10000 AS mean_value,
           |  round(sqrt((sm2 - sm * sm / 32.0) / 31.0) / 1000.0 * 10000)
           |    / 10000 AS se_value,
           |  round(lo_milli / 1000.0 * 10000) / 10000 AS ci_lo,
           |  round(hi_milli / 1000.0 * 10000) / 10000 AS ci_hi
           |FROM stats JOIN point USING (event_type)
           |ORDER BY event_type""".stripMargin))

  // --------------------------------------------------------------- q139
  /** Piecewise-linear interpolation join: estimate each user's signal
    * level at purchase time from their bracketing view samples — the
    * sensor-alignment primitive (calibration lookup, price marking,
    * telemetry resampling) that as-of joins only half-solve: backward
    * as-of gives the stale last sample, interpolation splits the gap
    * proportionally. q89's dual-window composition (backward-inclusive
    * + forward-exclusive ignore-nulls windows over the unioned,
    * tagged stream) yields both brackets in ONE shuffle on user_id —
    * no join at all, the q97 merge-apply posture. Exact integer micros
    * and milli-values feed one final float interpolation.
    *
    * A sample exactly at query time collapses both brackets to itself
    * (the zero-gap guard); purchases missing either bracket stay out
    * (inner semantics, matching the batch oracle). */
  val q139InterpJoin = QueryDef(
    "q139_interp_join",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "view", 1).otherwise(0).as("is_s"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
      val wb = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_s").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_s"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val sUs = when(col("is_s") === 1, unix_micros(col("ts")))
      val sVm = when(col("is_s") === 1, col("vm"))
      ev
        .withColumn("t0", last(sUs, ignoreNulls = true).over(wb))
        .withColumn("v0", last(sVm, ignoreNulls = true).over(wb))
        .withColumn("t1", first(sUs, ignoreNulls = true).over(wf))
        .withColumn("v1", first(sVm, ignoreNulls = true).over(wf))
        .filter(col("is_s") === 0 && col("t0").isNotNull &&
          col("t1").isNotNull)
        .withColumn("t", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"),
          (col("t") - col("t0")).as("back_us"),
          (col("t1") - col("t")).as("fwd_us"),
          r4(when(col("t1") === col("t0"), col("v0").cast("double"))
            .otherwise(col("v0") +
              (col("v1") - col("v0")).cast("double")
                * (col("t") - col("t0")) / (col("t1") - col("t0")))
            / 1000.0).as("interp_value"))
        .orderBy("event_id")
    },
    Some("""WITH u AS (
           |  SELECT user_id, ts, event_id,
           |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_s,
           |    CAST(round(value * 1000) AS BIGINT) AS vm
           |  FROM events WHERE event_type IN ('view', 'purchase')),
           |br AS (
           |  SELECT *,
           |    last_value(CASE WHEN is_s = 1 THEN epoch_us(ts) END
           |      IGNORE NULLS) OVER wb AS t0,
           |    last_value(CASE WHEN is_s = 1 THEN vm END IGNORE NULLS)
           |      OVER wb AS v0,
           |    first_value(CASE WHEN is_s = 1 THEN epoch_us(ts) END
           |      IGNORE NULLS) OVER wf AS t1,
           |    first_value(CASE WHEN is_s = 1 THEN vm END IGNORE NULLS)
           |      OVER wf AS v1
           |  FROM u
           |  WINDOW wb AS (PARTITION BY user_id
           |    ORDER BY ts, is_s DESC, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |  wf AS (PARTITION BY user_id ORDER BY ts, is_s, event_id
           |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           |SELECT event_id, user_id,
           |  CAST(epoch_us(ts) - t0 AS BIGINT) AS back_us,
           |  CAST(t1 - epoch_us(ts) AS BIGINT) AS fwd_us,
           |  round((CASE WHEN t1 = t0 THEN CAST(v0 AS DOUBLE)
           |    ELSE v0 + CAST(v1 - v0 AS DOUBLE)
           |      * (epoch_us(ts) - t0) / (t1 - t0) END) / 1000.0
           |    * 10000) / 10000 AS interp_value
           |FROM br
           |WHERE is_s = 0 AND t0 IS NOT NULL AND t1 IS NOT NULL
           |ORDER BY event_id""".stripMargin))

  // --------------------------------------------------------------- q140
  /** CUPED variance reduction for the A/B readout (q106's family): use
    * each user's PRE-period activity as a control covariate so the
    * experiment needs fewer users for the same power. Users split into
    * md5 arms (q106's convention); x = the user's exact milli-value sum
    * in the first timeline half, y = in the second; θ = cov(x,y)/var(x)
    * comes from POOLED sufficient statistics, and the adjusted metric
    * ŷ = y − θ·(x − x̄) shrinks every arm's variance by the squared
    * correlation. Per-user products fit in BIGINT; their corpus sums
    * move as decimal(38,0) ↔ HUGEINT (the q132 convention), so every
    * input to the final float algebra is exact.
    *
    * Scale shape: one hash-agg to the user grid (conditional pre/post
    * sums), one agg to the 2-row arm grid carrying six sufficient
    * statistics, pooled scalars broadcast back. No window, no second
    * scan of raw events. */
  val q140CupedLift = QueryDef(
    "q140_cuped_lift",
    (s, d) => {
      val span = Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div ${DayUs}L").as("day"))
        .agg(min("day").as("d0"), max("day").as("d1"))
      val per = Tables.events(s, d)
        .select(col("user_id"),
          expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
        .crossJoin(broadcast(span))
        .withColumn("pre", col("day") < expr("(d0 + d1 + 1) div 2"))
        .groupBy("user_id")
        .agg(sum(when(col("pre"), col("vm")).otherwise(0L)).as("x"),
          sum(when(col("pre"), 0L).otherwise(col("vm"))).as("y"))
        .withColumn("arm",
          (conv(substring(md5(col("user_id").cast("string")), 1, 8),
            16, 10).cast("long") % 2L).cast("int"))
      val armStats = per.groupBy("arm")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      val pooled = armStats.agg(
        sum("n").as("np"), sum("sx").as("sxp"), sum("sy").as("syp"),
        sum("sxy").as("sxyp"), sum("sxx").as("sxxp"),
        sum("syy").as("syyp"))
        .select(col("np"),
          (col("sxp").cast("double") / col("np")).as("xbar"),
          ((col("sxyp").cast("double")
            - col("sxp").cast("double") * col("syp").cast("double")
              / col("np"))
            / (col("sxxp").cast("double")
              - col("sxp").cast("double") * col("sxp").cast("double")
                / col("np"))).as("theta"),
          ((col("sxxp").cast("double")
            - col("sxp").cast("double") * col("sxp").cast("double")
              / col("np")) / col("np")).as("var_x"),
          ((col("syyp").cast("double")
            - col("syp").cast("double") * col("syp").cast("double")
              / col("np")) / col("np")).as("var_y"))
      armStats.crossJoin(broadcast(pooled))
        .withColumn("mean_x", col("sx").cast("double") / col("n"))
        .withColumn("mean_y", col("sy").cast("double") / col("n"))
        .select(col("arm"), col("n"),
          r4(col("mean_x") / 1000.0).as("mean_pre"),
          r4(col("mean_y") / 1000.0).as("mean_post"),
          r4((col("mean_y") - col("theta")
            * (col("mean_x") - col("xbar"))) / 1000.0).as("mean_adj"),
          r6(col("theta")).as("theta"),
          r6(col("theta") * col("theta") * col("var_x") / col("var_y"))
            .as("var_reduction"))
        .orderBy("arm")
    },
    Some(s"""WITH span AS (
           |  SELECT min(epoch_us(ts) // ${DayUs}) AS d0,
           |    max(epoch_us(ts) // ${DayUs}) AS d1
           |  FROM events),
           |per AS (
           |  SELECT user_id,
           |    CAST(sum(CASE WHEN epoch_us(ts) // ${DayUs}
           |        < (d0 + d1 + 1) // 2
           |      THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END)
           |      AS BIGINT) AS x,
           |    CAST(sum(CASE WHEN epoch_us(ts) // ${DayUs}
           |        < (d0 + d1 + 1) // 2
           |      THEN 0 ELSE CAST(round(value * 1000) AS BIGINT) END)
           |      AS BIGINT) AS y
           |  FROM events CROSS JOIN span GROUP BY 1),
           |armed AS (
           |  SELECT *, CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
           |    1, 8))::BIGINT % 2 AS INT) AS arm
           |  FROM per),
           |a AS (
           |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(x AS HUGEINT)) AS sx,
           |    sum(CAST(y AS HUGEINT)) AS sy,
           |    sum(CAST(x AS HUGEINT) * y) AS sxy,
           |    sum(CAST(x AS HUGEINT) * x) AS sxx,
           |    sum(CAST(y AS HUGEINT) * y) AS syy
           |  FROM armed GROUP BY 1),
           |p AS (
           |  SELECT CAST(sum(n) AS BIGINT) AS np,
           |    CAST(sum(sx) AS DOUBLE) / sum(n) AS xbar,
           |    (CAST(sum(sxy) AS DOUBLE)
           |      - CAST(sum(sx) AS DOUBLE) * CAST(sum(sy) AS DOUBLE)
           |        / sum(n))
           |    / (CAST(sum(sxx) AS DOUBLE)
           |      - CAST(sum(sx) AS DOUBLE) * CAST(sum(sx) AS DOUBLE)
           |        / sum(n)) AS theta,
           |    (CAST(sum(sxx) AS DOUBLE)
           |      - CAST(sum(sx) AS DOUBLE) * CAST(sum(sx) AS DOUBLE)
           |        / sum(n)) / sum(n) AS var_x,
           |    (CAST(sum(syy) AS DOUBLE)
           |      - CAST(sum(sy) AS DOUBLE) * CAST(sum(sy) AS DOUBLE)
           |        / sum(n)) / sum(n) AS var_y
           |  FROM a)
           |SELECT arm, n,
           |  round(CAST(sx AS DOUBLE) / n / 1000.0 * 10000) / 10000
           |    AS mean_pre,
           |  round(CAST(sy AS DOUBLE) / n / 1000.0 * 10000) / 10000
           |    AS mean_post,
           |  round((CAST(sy AS DOUBLE) / n - theta
           |    * (CAST(sx AS DOUBLE) / n - xbar)) / 1000.0 * 10000)
           |    / 10000 AS mean_adj,
           |  round(theta * 1000000) / 1000000 AS theta,
           |  round(theta * theta * var_x / var_y * 1000000) / 1000000
           |    AS var_reduction
           |FROM a CROSS JOIN p ORDER BY arm""".stripMargin))

  // --------------------------------------------------------------- q141
  /** Ranking-family window battery over the per-type daily series —
    * the distribution functions (percent_rank, cume_dist, ntile,
    * nth_value, first/last over the full frame) the rest of the query
    * surface never needed in one place, closing the window-function
    * category: which days carry each event type's volume, where each
    * day sits in the type's distribution, and its volume quartile.
    *
    * Scale shape: the corpus collapses first to the (type × day)
    * calendar grid in ONE map-side-combined hash-agg; every window
    * then runs over a calendar-bounded partition with a total
    * (n DESC, day) order — deterministic ranks, no raw row ever
    * reaches a window. Explicit full-frame bounds on the value
    * functions keep both engines on the same frame. */
  val q141RankBattery = QueryDef(
    "q141_rank_battery",
    (s, d) => {
      val grid = Tables.events(s, d)
        .select(col("event_type"),
          expr(s"unix_micros(ts) div ${DayUs}L").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("n").desc, col("day"))
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      grid
        .select(col("event_type"), col("day"), col("n"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          r6(percent_rank().over(w)).as("prank"),
          r6(cume_dist().over(w)).as("cdist"),
          ntile(4).over(w).as("quartile"),
          nth_value(col("day"), 2).over(wf).as("second_day"),
          first(col("n")).over(wf).as("peak_n"),
          last(col("n")).over(wf).as("low_n"))
        .orderBy("event_type", "rnk")
    },
    Some(s"""WITH grid AS (
           |  SELECT event_type, epoch_us(ts) // ${DayUs} AS day,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM events GROUP BY 1, 2)
           |SELECT event_type, day, n,
           |  CAST(rank() OVER w AS INT) AS rnk,
           |  CAST(dense_rank() OVER w AS INT) AS drnk,
           |  round(percent_rank() OVER w * 1000000) / 1000000 AS prank,
           |  round(cume_dist() OVER w * 1000000) / 1000000 AS cdist,
           |  CAST(ntile(4) OVER w AS INT) AS quartile,
           |  nth_value(day, 2) OVER wf AS second_day,
           |  first_value(n) OVER wf AS peak_n,
           |  last_value(n) OVER wf AS low_n
           |FROM grid
           |WINDOW w AS (PARTITION BY event_type ORDER BY n DESC, day),
           |  wf AS (PARTITION BY event_type ORDER BY n DESC, day
           |    ROWS BETWEEN UNBOUNDED PRECEDING
           |    AND UNBOUNDED FOLLOWING)
           |ORDER BY event_type, rnk""".stripMargin))

  // --------------------------------------------------------------- q143
  /** Kaplan–Meier survival curve for signup → purchase conversion with
    * right-censoring — the time-to-event read product analytics needs
    * when the naive conversion rate lies (users who signed up recently
    * haven't HAD 30 days to convert; censoring handles that, a filter
    * doesn't). Each user contributes a duration: days from first
    * signup to first subsequent purchase (event), or to the exclusive
    * timeline end (censored). The risk table collapses durations to
    * the day grid; S(t) = Π(1 − dᵢ/nᵢ) runs in log space over the
    * calendar-bounded grid (÷ exact integer counts; full-absorption
    * guard keeps ln away from zero on both engines).
    *
    * Scale shape: two user-grid hash-aggs (first signup, first
    * qualifying purchase) and one join on user_id; the survival
    * windows run over the ≤365-row day grid (the q113 domain-bounded
    * global-window posture) — raw events never reach a window. */
  /** q143's duration-table → survival-curve projection, shared with the
    * survivalStream twin (identical code over identical integer
    * durations ⇒ bit-for-bit). `durs` columns: t, ev (1 event /
    * 0 censored). */
  def q143Finish(durs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val grid = durs.groupBy("t")
      .agg(sum("ev").as("d"), sum(lit(1L) - col("ev")).as("c"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // n0 rides a full-frame window over the day grid rather than a
    // separate totals branch — a second reference to `grid` would
    // re-run the whole upstream per-user pipeline (no subplan CSE)
    val wAll = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("n0", sum(col("d") + col("c")).over(wAll))
      .withColumn("n_risk",
        col("n0") - coalesce(sum(col("d") + col("c")).over(wPrev),
          lit(0L)))
      .withColumn("term",
        when(col("n_risk") > col("d"),
          log(lit(1.0) - col("d").cast("double") / col("n_risk")))
          .otherwise(lit(-1e308)))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        r6(exp(sum("term").over(wCum))).as("s_hat"))
      .orderBy("t")
  }

  val q143SurvivalKm = QueryDef(
    "q143_survival_km",
    (s, d) => {
      val span = Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div ${DayUs}L").as("day"))
        .agg(max("day").as("d1"))
      // ONE events pass for both the signup time and the first
      // qualifying purchase: a per-user full-frame window pins us =
      // min signup time beside every row, then a single grouped agg
      // takes the earliest purchase at-or-after it — the branchy
      // signup/purchase join re-ran the signup aggregate (and its
      // scan) twice (events×4 in scan.input_rows of the layer record;
      // now events×2 — corpus + the 1-column span stat)
      val byUser = Window.partitionBy("user_id")
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      val perUser = Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tu"))
        .withColumn("us",
          min(when(col("event_type") === "signup", col("tu")))
            .over(byUser))
        .filter(col("us").isNotNull)
        .groupBy("user_id")
        .agg(first("us").as("us"),
          min(when(col("event_type") === "purchase"
            && col("tu") >= col("us"), col("tu"))).as("pu"))
      val durs = perUser
        .crossJoin(broadcast(span))
        .select(
          when(col("pu").isNotNull, expr(s"(pu - us) div ${DayUs}L"))
            .otherwise(expr(s"((d1 + 1) * ${DayUs}L - us) div ${DayUs}L"))
            .as("t"),
          when(col("pu").isNotNull, 1L).otherwise(0L).as("ev"))
      q143Finish(durs)
    },
    Some(s"""WITH span AS (
           |  SELECT max(epoch_us(ts) // ${DayUs}) AS d1 FROM events),
           |signup AS (
           |  SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS us
           |  FROM events WHERE event_type = 'signup' GROUP BY 1),
           |firstp AS (
           |  SELECT signup.user_id, CAST(min(epoch_us(ts)) AS BIGINT)
           |    AS pu
           |  FROM signup JOIN events USING (user_id)
           |  WHERE event_type = 'purchase' AND epoch_us(ts) >= us
           |  GROUP BY 1),
           |durs AS (
           |  SELECT CASE WHEN pu IS NOT NULL
           |      THEN CAST((pu - us) // ${DayUs} AS BIGINT)
           |      ELSE CAST(((d1 + 1) * ${DayUs} - us) // ${DayUs}
           |        AS BIGINT) END AS t,
           |    CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END AS ev
           |  FROM signup LEFT JOIN firstp USING (user_id)
           |  CROSS JOIN span),
           |grid AS (
           |  SELECT t, CAST(sum(ev) AS BIGINT) AS d,
           |    CAST(sum(1 - ev) AS BIGINT) AS c
           |  FROM durs GROUP BY 1),
           |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n0 FROM grid),
           |risk AS (
           |  SELECT *, n0 - COALESCE(CAST(sum(d + c) OVER
           |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
           |       AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
           |  FROM grid CROSS JOIN tot),
           |terms AS (
           |  SELECT *, CASE WHEN n_risk > d
           |      THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
           |      ELSE -1e308 END AS term
           |  FROM risk)
           |SELECT t, n_risk, d, c,
           |  round(exp(sum(term) OVER (ORDER BY t
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           |    * 1000000) / 1000000 AS s_hat
           |FROM terms ORDER BY t""".stripMargin))

  // --------------------------------------------------------------- q145
  /** Classical seasonal decomposition (STL-lite) of the per-type daily
    * series: trend = centered 7-day moving average, seasonality = the
    * day-of-week mean of the detrended series, residual = the rest —
    * the decomposition a capacity planner reads before q60's anomaly
    * thresholds make sense (a Monday spike is seasonality, not an
    * incident). Daily means are exact milli BIGINTs; the trend divides
    * an exact ≤7-int window sum; detrended values round to micro-unit
    * BIGINTs BEFORE the day-of-week mean so every aggregate is an
    * exact integer sum — order-proof (the q137 fixed-point posture).
    *
    * Scale shape: one map-side hash-agg to the (type × day) calendar
    * grid; every window and the dow rollup run calendar-bounded,
    * partitioned by type; raw events never reach a window. */
  val q145SeasonalDecompose = QueryDef(
    "q145_seasonal_decompose",
    (s, d) => {
      val grid = Tables.events(s, d)
        .select(col("event_type"),
          expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
        .groupBy("event_type", "day")
        .agg(round(sum("vm").cast("double") / count(lit(1))).cast("long")
          .as("mi"))
      val wMa = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val trended = grid
        .withColumn("trend", avg(col("mi")).over(wMa))
        .withColumn("det_micro",
          round((col("mi") - col("trend")) * 1000.0).cast("long"))
        .withColumn("dow", expr("day % 7"))
      val seasonal = trended.groupBy(col("event_type").as("et"),
          col("dow").as("dw"))
        .agg(round(sum("det_micro").cast("double") / count(lit(1)))
          .cast("long").as("seas_micro"))
      trended.join(broadcast(seasonal),
          col("event_type") === col("et") && col("dow") === col("dw"))
        .select(col("event_type"), col("day"), col("mi"),
          r4(col("trend") / 1000.0).as("trend"),
          r4(col("seas_micro") / 1000000.0).as("seasonal"),
          r4((col("det_micro") - col("seas_micro")) / 1000000.0)
            .as("residual"))
        .orderBy("event_type", "day")
    },
    Some(s"""WITH grid AS (
           |  SELECT event_type, epoch_us(ts) // ${DayUs} AS day,
           |    CAST(round(CAST(sum(CAST(round(value * 1000) AS BIGINT))
           |      AS DOUBLE) / count(*)) AS BIGINT) AS mi
           |  FROM events GROUP BY 1, 2),
           |trended AS (
           |  SELECT *,
           |    avg(mi) OVER (PARTITION BY event_type ORDER BY day
           |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
           |    CAST(round((mi - avg(mi) OVER (PARTITION BY event_type
           |      ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
           |      * 1000.0) AS BIGINT) AS det_micro,
           |    day % 7 AS dow
           |  FROM grid),
           |seasonal AS (
           |  SELECT event_type, dow,
           |    CAST(round(CAST(sum(det_micro) AS DOUBLE) / count(*))
           |      AS BIGINT) AS seas_micro
           |  FROM trended GROUP BY 1, 2)
           |SELECT event_type, day, mi,
           |  round(trend / 1000.0 * 10000) / 10000 AS trend,
           |  round(seas_micro / 1000000.0 * 10000) / 10000 AS seasonal,
           |  round((det_micro - seas_micro) / 1000000.0 * 10000) / 10000
           |    AS residual
           |FROM trended JOIN seasonal USING (event_type, dow)
           |ORDER BY event_type, day""".stripMargin))

  // --------------------------------------------------------------- q147
  /** Theil-Sen robust trend per event type: the median of all pairwise
    * slopes of the daily-revenue series, plus the matching median
    * intercept — the slope estimator a capacity planner trusts when
    * q60/q117 say the series has outliers (a single flash-sale day
    * drags OLS (q72) but moves at most half the pairwise medians).
    * Daily revenue is an exact cents BIGINT; each pairwise slope is
    * Δcents/Δdays on exact integers, so both engines divide identical
    * operands; the median interpolates with the proven
    * percentile_cont ↔ quantile_cont bridge and rounds to 6 places.
    *
    * Scale shape: ONE map-side hash-agg collapses the corpus to the
    * (type × day) calendar grid; the all-pairs self-join runs on that
    * calendar-bounded grid (≤ days²/2 rows per type — thousands, not
    * corpus-sized), never on raw events. The intercept pass re-joins
    * the broadcast 5-row slope table. 100 TB changes the first agg's
    * input only. */
  /** q147's calendar grid → slope/intercept projection, shared with
    * the dailyRevenueStream twin (identical code over identical
    * integer cells ⇒ bit-for-bit). `grid` columns: event_type, day,
    * c (exact daily cents). */
  def q147Finish(grid: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val a = grid.select(col("event_type"), col("day").as("d1"),
      col("c").as("c1"))
    val b = grid.select(col("event_type").as("et2"),
      col("day").as("d2"), col("c").as("c2"))
    val slopes = a.join(b,
        col("event_type") === col("et2") && col("d1") < col("d2"))
      .withColumn("slope",
        (col("c2") - col("c1")).cast("double") / (col("d2") - col("d1")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY slope)")
          .as("slope"))
    grid.join(broadcast(slopes), "event_type")
      .withColumn("ic", col("c") - col("slope") * col("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), first("n_pairs").as("n_pairs"),
        r6(first("slope")).as("slope_cents"),
        r6(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ic)"))
          .as("icept_cents"))
      .orderBy("event_type")
  }

  val q147TheilSen = QueryDef(
    "q147_theilsen",
    (s, d) =>
      q147Finish(Tables.events(s, d)
        .select(col("event_type"),
          expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .groupBy("event_type", "day")
        .agg(sum("c").as("c"))),
    Some(s"""WITH grid AS (
           |  SELECT event_type, epoch_us(ts) // ${DayUs} AS day,
           |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           |      AS c
           |  FROM events GROUP BY 1, 2),
           |sl AS (
           |  SELECT a.event_type, count(*) AS n_pairs,
           |    quantile_cont((b.c - a.c) / CAST(b.day - a.day AS DOUBLE),
           |      0.5) AS slope
           |  FROM grid a JOIN grid b
           |    ON a.event_type = b.event_type AND a.day < b.day
           |  GROUP BY 1)
           |SELECT g.event_type, count(*) AS n_days,
           |  any_value(n_pairs) AS n_pairs,
           |  round(any_value(slope) * 1000000) / 1000000 AS slope_cents,
           |  round(quantile_cont(g.c - slope * g.day, 0.5) * 1000000)
           |    / 1000000 AS icept_cents
           |FROM grid g JOIN sl USING (event_type)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q148
  /** Chi-square independence test on the return-flag × line-status
    * contingency table — the categorical-drift check a data-quality
    * gate runs before trusting a snapshot (q136's return rates assume
    * the two dimensions move independently; this quantifies it).
    * Observed counts are exact BIGINTs from one hash-agg; expected
    * counts divide exact integer products; each cell's (O−E)²/E
    * contribution rounds to a micro-unit BIGINT BEFORE the total, so
    * the statistic is an exact integer sum (the q137 posture).
    *
    * Scale shape: ONE map-side-combined hash-agg to the ≤ R×C cell
    * grid; marginals and the total roll up on the grid and broadcast
    * back. Raw lineitem never reaches a join or window. */
  /** q148's cell grid → report projection, shared with the
    * chiSquareStream twin (identical code over identical integer
    * counters ⇒ bit-for-bit). `obs` columns: l_returnflag,
    * l_linestatus, o. */
  def q148Finish(obs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // marginals via window aggregates over the R×C grid, NOT separate
    // groupBy branches: each branch would re-reference obs, and with no
    // subplan CSE the corpus aggregate (and its scan) re-executes per
    // marginal — the old form read lineitem FOUR times (scan.input_rows
    // of the layer record). Full-frame windows over ≤ R×C rows cost nothing and keep
    // the plan linear: one scan, one grid exchange.
    import org.apache.spark.sql.expressions.Window
    val byRf = Window.partitionBy("l_returnflag")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byLs = Window.partitionBy("l_linestatus")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cells = obs
        .withColumn("rt", sum("o").over(byRf))
        .withColumn("nc", count(lit(1)).over(byRf))
        .withColumn("ct", sum("o").over(byLs))
        .withColumn("nr", count(lit(1)).over(byLs))
        .withColumn("n", sum("o").over(all))
        .withColumn("e",
          (col("rt") * col("ct")).cast("double") / col("n"))
        .withColumn("contrib_micro",
          round((col("o") - col("e")) * (col("o") - col("e")) / col("e")
            * 1e6).cast("long"))
    cells
      .withColumn("chi2_micro", sum("contrib_micro").over(all))
      .withColumn("dof",
        max((col("nr") - 1) * (col("nc") - 1)).over(all))
      .select(col("l_returnflag"), col("l_linestatus"), col("o"),
        r4(col("e")).as("expected"), col("contrib_micro"),
        col("chi2_micro"), col("dof"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q148ChiSquare = QueryDef(
    "q148_chi_square",
    (s, d) =>
      q148Finish(Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("o"))),
    Some("""WITH obs AS (
          |  SELECT l_returnflag, l_linestatus,
          |    CAST(count(*) AS BIGINT) AS o
          |  FROM lineitem GROUP BY 1, 2),
          |rt AS (SELECT l_returnflag, CAST(sum(o) AS BIGINT) AS rt,
          |    CAST(count(*) AS BIGINT) AS nc
          |  FROM obs GROUP BY 1),
          |ct AS (SELECT l_linestatus, CAST(sum(o) AS BIGINT) AS ct,
          |    CAST(count(*) AS BIGINT) AS nr
          |  FROM obs GROUP BY 1),
          |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
          |cells AS (
          |  SELECT l_returnflag, l_linestatus, o,
          |    CAST(rt * ct AS DOUBLE) / n AS e, nr, nc
          |  FROM obs JOIN rt USING (l_returnflag)
          |    JOIN ct USING (l_linestatus) CROSS JOIN tot),
          |cm AS (
          |  SELECT *, CAST(round((o - e) * (o - e) / e * 1e6) AS BIGINT)
          |    AS contrib_micro
          |  FROM cells),
          |chi AS (SELECT CAST(sum(contrib_micro) AS BIGINT)
          |    AS chi2_micro,
          |    CAST(max((nr - 1) * (nc - 1)) AS BIGINT) AS dof
          |  FROM cm)
          |SELECT l_returnflag, l_linestatus, o,
          |  round(e * 10000) / 10000 AS expected, contrib_micro,
          |  chi2_micro, dof
          |FROM cm CROSS JOIN chi
          |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  // --------------------------------------------------------------- q149
  /** Mann-Whitney U (rank-sum) test comparing `value` between purchase
    * and click events — the nonparametric A/B companion to q106/q140:
    * no normality assumption, so it survives the heavy-tailed revenue
    * distributions that break a t-test. Values bin to exact milli
    * units; ranks come from the VALUE HISTOGRAM, not a per-row sort:
    * the tied-rank midpoint for a distinct value is
    * (2·cum_before + t + 1)/2, so doubling every rank keeps the rank
    * sum an exact BIGINT. U, the tie-corrected normal approximation z,
    * and the rank-biserial effect size all derive from five exact
    * integers in one final row.
    *
    * Scale shape: ONE map-side hash-agg to the value histogram
    * (domain-bounded — milli-unit values, the q50/q54 posture), one
    * window over that bounded histogram, one 1-row reduce. Raw events
    * are never sorted or windowed. */
  /** q149's histogram → U/z/effect projection, shared with the
    * mannWhitneyStream twin (identical code over identical integer
    * counters ⇒ bit-for-bit). `h` columns: vm (milli-unit value bin),
    * n1 (purchase count), n2 (click count). */
  def q149Finish(h: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.orderBy("vm")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = h
      .withColumn("t", col("n1") + col("n2"))
      .withColumn("cum", coalesce(sum("t").over(w), lit(0L)))
      .withColumn("ar2", lit(2L) * col("cum") + col("t") + 1L)
    ranked.agg(
        sum("n1").as("na"), sum("n2").as("nb"),
        sum(col("n1") * col("ar2")).as("r1_x2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .select(col("na").as("n_purchase"), col("nb").as("n_click"),
        r2((col("r1_x2") - col("na") * (col("na") + 1L)) / 2.0)
          .as("u"),
        r6(((col("r1_x2") - col("na") * (col("na") + 1L)) / 2.0
          - col("na") * col("nb") / 2.0)
          / sqrt(col("na").cast("double") * col("nb") / 12.0
            * ((col("na") + col("nb") + 1L)
              - col("ties").cast("double")
                / ((col("na") + col("nb"))
                  * (col("na") + col("nb") - 1L))))).as("z"),
        r6((col("r1_x2") - col("na") * (col("na") + 1L)).cast("double")
          / (col("na") * col("nb")) - 1.0).as("rank_biserial"))
  }

  val q149MannWhitney = QueryDef(
    "q149_mann_whitney",
    (s, d) =>
      q149Finish(Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(expr("cast(round(value * 1000) as bigint)").as("vm"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("isp"))
        .groupBy("vm")
        .agg(sum("isp").as("n1"), sum(lit(1L) - col("isp")).as("n2"))),
    Some("""WITH h AS (
          |  SELECT CAST(round(value * 1000) AS BIGINT) AS vm,
          |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
          |      END) AS BIGINT) AS n1,
          |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
          |      END) AS BIGINT) AS n2
          |  FROM events WHERE event_type IN ('purchase', 'click')
          |  GROUP BY 1),
          |ranked AS (
          |  SELECT *, n1 + n2 AS t,
          |    COALESCE(CAST(sum(n1 + n2) OVER (ORDER BY vm
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |      AS BIGINT), 0) AS cum
          |  FROM h),
          |agg AS (
          |  SELECT CAST(sum(n1) AS BIGINT) AS na,
          |    CAST(sum(n2) AS BIGINT) AS nb,
          |    CAST(sum(n1 * (2 * cum + t + 1)) AS BIGINT) AS r1_x2,
          |    CAST(sum(t * t * t - t) AS BIGINT) AS ties
          |  FROM ranked)
          |SELECT na AS n_purchase, nb AS n_click,
          |  round((r1_x2 - na * (na + 1)) / 2.0 * 100) / 100 AS u,
          |  round(((r1_x2 - na * (na + 1)) / 2.0 - na * nb / 2.0)
          |    / sqrt(CAST(na AS DOUBLE) * nb / 12.0
          |      * ((na + nb + 1) - CAST(ties AS DOUBLE)
          |        / ((na + nb) * (na + nb - 1)))) * 1000000) / 1000000
          |    AS z,
          |  round((CAST(r1_x2 - na * (na + 1) AS DOUBLE) / (na * nb)
          |    - 1.0) * 1000000) / 1000000 AS rank_biserial
          |FROM agg""".stripMargin))

  // --------------------------------------------------------------- q154
  /** Autocorrelation function of the per-type daily-revenue series at
    * lags 1..7 — the weekly-rhythm diagnostic that tells q145's
    * seasonal decomposition WHICH period to model (a spike at lag 7
    * says day-of-week; a flat ACF says don't bother). Distinct
    * estimator from q65's correlogram (per-lag Pearson over 6-hour
    * float bucket-means): this is the TEXTBOOK sample ACF — one global
    * mean, full-series denominator, ρ(L) = Σ(xₜ−μ)(xₜ₊L−μ) /
    * Σ(xₜ−μ)² — on daily revenue SUMS, expanded so every sum is exact — pair products Σxₜxₜ₊L
    * move as decimal(38,0) ↔ HUGEINT (the q132 convention), the mean
    * enters only in the final one-row-per-(type,lag) float algebra,
    * mirrored term-for-term in the oracle so both engines evaluate
    * identical doubles. Calendar gaps pair only days that both exist —
    * the join handles missing days for free.
    *
    * Scale shape: ONE map-side hash-agg collapses the corpus to the
    * (type × day) calendar grid; the lag pairing is a broadcast 7-row
    * cross join + an equi-join of the grid against itself (calendar-
    * bounded — thousands of rows, never corpus-sized); per-type stats
    * broadcast back. 100 TB changes only the first agg's input —
    * q147's posture exactly. */
  /** q154's calendar grid → ACF projection, shared with the
    * dailyRevenueStream twin (identical code over identical integer
    * cells ⇒ bit-for-bit). `g` columns: event_type, day, x (exact
    * daily cents).
    *
    * Deliberately LINEAR: a naive self-join formulation references the
    * grid three times and Spark plans THREE corpus scans (no subplan
    * CSE) — PlanSpec pins this pipeline to one scan. Instead each grid
    * row explodes by lag offset 0..7 (map-side, calendar-sized), one
    * hash-agg aligns x_T with each x_{T−L} on the target day, a wide
    * conditional aggregate collects every lag's sufficient statistics
    * in one pass, and stack() unpivots the 7 lags back to rows — the
    * q121 one-table-many-models idiom. */
  def q154Finish(g: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cells = g
      .select(col("event_type"), col("day"), col("x"),
        explode(array((0 to 7).map(lit(_)): _*)).as("l"))
      .select(col("event_type"), (col("day") + col("l")).as("t"),
        col("l"), col("x"))
      .groupBy("event_type", "t")
      .agg(max(when(col("l") === 0, col("x"))).as("x0"),
        (1 to 7).map(lg =>
          max(when(col("l") === lg, col("x"))).as(s"xm$lg")): _*)
    val wide = cells.groupBy("event_type")
      .agg(count(col("x0")).as("n"),
        Seq(sum("x0").as("s"),
          sum(dec(col("x0")) * dec(col("x0"))).as("ss")) ++
        (1 to 7).flatMap(lg => Seq(
          count(when(col("x0").isNotNull
            && col(s"xm$lg").isNotNull, 1)).as(s"k$lg"),
          sum(when(col("x0").isNotNull, col(s"xm$lg"))).as(s"sx$lg"),
          sum(when(col(s"xm$lg").isNotNull, col("x0"))).as(s"sy$lg"),
          sum(dec(col(s"xm$lg")) * dec(col("x0"))).as(s"sxy$lg"))): _*)
      .withColumn("mu", col("s").cast("double") / col("n"))
    val stackExpr = (1 to 7)
      .map(lg => s"bigint($lg), k$lg, sx$lg, sy$lg, sxy$lg")
      .mkString("stack(7, ", ", ", ") as (lag, k, sx, sy, sxy)")
    wide.select(col("event_type"), col("n"), col("ss"), col("mu"),
        expr(stackExpr))
      .filter(col("k") > 0L)
      .select(col("event_type"), col("lag"),
        col("k").as("n_pairs"),
        r6((col("sxy").cast("double")
          - col("mu") * (col("sx") + col("sy"))
          + col("k") * col("mu") * col("mu"))
          / (col("ss").cast("double")
            - col("n") * col("mu") * col("mu"))).as("acf"))
      .orderBy("event_type", "lag")
  }

  val q154Autocorrelation = QueryDef(
    "q154_autocorrelation",
    (s, d) =>
      q154Finish(Tables.events(s, d)
        .select(col("event_type"),
          expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .groupBy("event_type", "day")
        .agg(sum("c").as("x"))),
    Some("""WITH g AS (
           |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           |      AS x
           |  FROM events GROUP BY 1, 2),
           |st AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS s,
           |    sum(CAST(x AS HUGEINT) * x) AS ss
           |  FROM g GROUP BY 1),
           |mu AS (SELECT *, CAST(s AS DOUBLE) / n AS mu FROM st),
           |lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
           |p AS (
           |  SELECT g.event_type, lags.lag,
           |    CAST(count(*) AS BIGINT) AS k,
           |    CAST(sum(g.x) AS BIGINT) AS sx,
           |    CAST(sum(b.x) AS BIGINT) AS sy,
           |    sum(CAST(g.x AS HUGEINT) * b.x) AS sxy
           |  FROM g CROSS JOIN lags
           |    JOIN g b ON b.event_type = g.event_type
           |      AND b.day = g.day + lags.lag
           |  GROUP BY 1, 2)
           |SELECT p.event_type, lag, k AS n_pairs,
           |  round((CAST(sxy AS DOUBLE) - mu * (sx + sy)
           |      + k * mu * mu)
           |    / (CAST(ss AS DOUBLE) - n * mu * mu) * 1000000)
           |    / 1000000 AS acf
           |FROM p JOIN mu ON mu.event_type = p.event_type
           |ORDER BY p.event_type, lag""".stripMargin))

  // --------------------------------------------------------------- q159
  /** Revenue-weighted median ship delay per order priority — the
    * logistics question the PLAIN median answers wrong: "by what day
    * has half the REVENUE shipped?" differs from "half the lines"
    * whenever expensive lines ship on a different schedule. Both
    * medians come from the same delay histogram with the exact lower-
    * median rule (smallest delay d with 2·cum(d) ≥ total — integer
    * comparison, no interpolation, no float boundary), weights as
    * exact cents, so the answer is order-proof and engine-proof. The
    * gap column (weighted − plain) is the skew diagnostic itself.
    *
    * Scale shape: one order-key fact-fact shuffle, ONE map-side
    * hash-agg onto the (priority × delay-day) histogram — delay is
    * calendar-bounded, so the cumulative windows run over a tiny
    * domain grid; raw lines are never sorted (the q149 histogram-rank
    * posture). */
  val q159WeightedMedian = QueryDef(
    "q159_weighted_median",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            .as("ship_day"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cc"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            .as("ord_day"))
      val hist = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          (col("ship_day") - col("ord_day")).as("delay"), col("cc"))
        .groupBy("o_orderpriority", "delay")
        .agg(count(lit(1)).as("n"), sum("cc").as("w"))
      val w = Window.partitionBy("o_orderpriority").orderBy("delay")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cn", sum("n").over(w))
        .withColumn("cw", sum("w").over(w))
      val tot = hist.groupBy(col("o_orderpriority").as("pr"))
        .agg(sum("n").as("tn"), sum("w").as("tw"))
      cum.join(broadcast(tot), col("o_orderpriority") === col("pr"))
        .groupBy("o_orderpriority")
        .agg(first("tn").as("n_lines"), first("tw").as("total_cents"),
          min(when(col("cn") * 2L >= col("tn"), col("delay")))
            .as("median_delay"),
          min(when(col("cw") * 2L >= col("tw"), col("delay")))
            .as("w_median_delay"))
        .withColumn("skew_days",
          col("w_median_delay") - col("median_delay"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH j AS (
           |  SELECT o_orderpriority,
           |    epoch_us(l_shipdate) // 86400000000
           |      - epoch_us(o_orderdate) // 86400000000 AS delay,
           |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cc
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |hist AS (
           |  SELECT o_orderpriority, delay,
           |    CAST(count(*) AS BIGINT) AS n, CAST(sum(cc) AS BIGINT) AS w
           |  FROM j GROUP BY 1, 2),
           |cum AS (
           |  SELECT *,
           |    CAST(sum(n) OVER (PARTITION BY o_orderpriority
           |      ORDER BY delay ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
           |    CAST(sum(w) OVER (PARTITION BY o_orderpriority
           |      ORDER BY delay ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
           |  FROM hist),
           |tot AS (
           |  SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS tn,
           |    CAST(sum(w) AS BIGINT) AS tw
           |  FROM hist GROUP BY 1)
           |SELECT cum.o_orderpriority, any_value(tn) AS n_lines,
           |  any_value(tw) AS total_cents,
           |  min(CASE WHEN cn * 2 >= tn THEN delay END) AS median_delay,
           |  min(CASE WHEN cw * 2 >= tw THEN delay END) AS w_median_delay,
           |  min(CASE WHEN cw * 2 >= tw THEN delay END)
           |    - min(CASE WHEN cn * 2 >= tn THEN delay END) AS skew_days
           |FROM cum JOIN tot ON tot.o_orderpriority = cum.o_orderpriority
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q169
  /** Feature-relevance audit: mutual information and Cramér's V between
    * the event type and each candidate feature (weekday, value band) —
    * the dependence screen a feature store runs before admitting a
    * column. Both features stack into ONE corpus scan (explode to
    * (feature, x, y) cells, map-side-combined count-agg to the ≤70-row
    * grid); marginals and totals come from windows OVER THE GRID, so
    * 100 TB of events reaches the information theory as a handful of
    * counters. Per-cell MI contributions round to micro BIGINTs before
    * the per-feature total (the fixed-point posture: exact integer sum,
    * order-proof); the ln/χ² arguments are ratios of exact integers —
    * identical doubles in both engines.
    *
    * MI uses natural log (nats); V normalizes χ² by N·(min(r,c)−1);
    * weekday is epoch-day mod 7 (engine-neutral, no locale), the value
    * band is q137's fixed-width milli-unit bin. */
  /** q169's cell grid → information-theory projection, shared with the
    * relevanceStream twin (identical code over identical integer
    * counters ⇒ bit-for-bit). `cells` columns: feature, x, y, nxy. */
  def q169Finish(cells: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val wf = Window.partitionBy("feature")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wx = Window.partitionBy("feature", "x")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wy = Window.partitionBy("feature", "y")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cells
        .withColumn("n", sum("nxy").over(wf))
        .withColumn("nx", sum("nxy").over(wx))
        .withColumn("ny", sum("nxy").over(wy))
        .withColumn("rr", size(collect_set(col("x")).over(wf)))
        .withColumn("cc", size(collect_set(col("y")).over(wf)))
        .withColumn("mi_c",
          expr("cast(round(1e6 * nxy / n" +
            " * ln(cast(nxy as double) * n / (cast(nx as double) * ny)))" +
            " as bigint)"))
        .withColumn("chi_c",
          expr("cast(round(1e6 * pow(nxy - cast(nx as double) * ny / n, 2)" +
            " / (cast(nx as double) * ny / n)) as bigint)"))
        .groupBy("feature")
        .agg(count(lit(1)).as("n_cells"),
          sum("mi_c").as("mi_micro"),
          sum("chi_c").as("chi2_micro"),
          expr("cast(round(1000 * sqrt(cast(sum(chi_c) as double) / 1e6" +
            " / (any_value(n) * (least(any_value(rr), any_value(cc)) - 1))))" +
            " as bigint)").as("v_milli"))
        .orderBy("feature")
  }

  /** The (feature, x, y) cell builder shared by batch and the stream
    * twin's feed enrichment: both candidate features stack into one
    * pass over the raw (event_type, ts, value) columns. */
  def q169Cells(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ev.select(col("event_type").as("x"),
        explode(array(
          struct(lit("weekday").as("feature"),
            expr(s"(unix_micros(ts) div ${DayUs}L) % 7").as("y")),
          struct(lit("value_band").as("feature"),
            greatest(least(
              expr("cast(round(value * 1000) as bigint) div 50000"),
              lit(9L)), lit(0L)).as("y")))).as("f"))
      .select(col("x"), col("f.feature").as("feature"), col("f.y").as("y"))

  val q169FeatureRelevance = QueryDef(
    "q169_feature_relevance",
    (s, d) => q169Finish(
      q169Cells(Tables.events(s, d))
        .groupBy("feature", "x", "y").agg(count(lit(1)).as("nxy"))),
    Some(s"""WITH ev AS (
            |  SELECT event_type AS x,
            |    (epoch_us(ts) // ${DayUs}) % 7 AS wd,
            |    greatest(least(CAST(round(value * 1000) AS BIGINT)
            |        // 50000, 9), 0) AS vb
            |  FROM events),
            |cells AS (
            |  SELECT 'weekday' AS feature, x, wd AS y,
            |    CAST(count(*) AS BIGINT) AS nxy
            |  FROM ev GROUP BY 1, 2, 3
            |  UNION ALL
            |  SELECT 'value_band', x, vb, CAST(count(*) AS BIGINT)
            |  FROM ev GROUP BY 1, 2, 3),
            |marg AS (
            |  SELECT feature, x, y, nxy,
            |    CAST(sum(nxy) OVER (PARTITION BY feature) AS BIGINT) AS n,
            |    CAST(sum(nxy) OVER (PARTITION BY feature, x) AS BIGINT) AS nx,
            |    CAST(sum(nxy) OVER (PARTITION BY feature, y) AS BIGINT) AS ny,
            |    CAST(count(DISTINCT x) OVER (PARTITION BY feature)
            |      AS BIGINT) AS rr,
            |    CAST(count(DISTINCT y) OVER (PARTITION BY feature)
            |      AS BIGINT) AS cc
            |  FROM cells),
            |contrib AS (
            |  SELECT feature, rr, cc, n,
            |    CAST(round(1e6 * nxy / n
            |      * ln(CAST(nxy AS DOUBLE) * n
            |        / (CAST(nx AS DOUBLE) * ny))) AS BIGINT) AS mi_c,
            |    CAST(round(1e6 * pow(nxy - CAST(nx AS DOUBLE) * ny / n, 2)
            |      / (CAST(nx AS DOUBLE) * ny / n)) AS BIGINT) AS chi_c
            |  FROM marg)
            |SELECT feature, CAST(count(*) AS BIGINT) AS n_cells,
            |  CAST(sum(mi_c) AS BIGINT) AS mi_micro,
            |  CAST(sum(chi_c) AS BIGINT) AS chi2_micro,
            |  CAST(round(1000 * sqrt(CAST(sum(chi_c) AS DOUBLE) / 1e6
            |    / (any_value(n) * (least(any_value(rr), any_value(cc)) - 1))))
            |    AS BIGINT) AS v_milli
            |FROM contrib GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The (event_type, day, x) daily-revenue calendar grid — exact
    * cents, ONE map-side hash-agg over the corpus. Shared input shape
    * of q154/q171/q173 and of the dailyRevenueStream twin. */
  private def dailyRevGrid(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
        expr("cast(round(value * 100) as bigint)").as("c"))
      .groupBy("event_type", "day")
      .agg(sum("c").as("x"))

  // --------------------------------------------------------------- q171
  /** Change-point localization per event type: the single split of the
    * daily-revenue series that maximizes the two-sample CUSUM statistic
    * √(k(n−k)/n)·|mean_left − mean_right| — binary segmentation's inner
    * step, the "WHEN did behavior change" answer that q60's rolling
    * z-score (local spikes) and q137's PSI (distribution drift score)
    * don't give. On this stationary synthetic log the located split is
    * noise — and the statistic SAYS so (small stat vs the series
    * spread), the q99/Benford convention.
    *
    * Scale shape: the corpus collapses to the (type × day) calendar
    * grid in ONE map-side hash-agg (dailyRevGrid); prefix sums, the
    * per-split statistic, and the argmax all run as windows over that
    * calendar-bounded grid. The statistic derives from exact integer
    * prefix sums; ties break on the earlier day, so the argmax is a
    * deterministic total order. */
  /** q171's grid → split projection, shared with the dailyRevenueStream
    * twin (identical code over identical integer cells ⇒ bit-for-bit).
    * `g` columns: event_type, day, x (exact daily cents). */
  def q171Finish(g: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val cum = byDay.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val full = Window.partitionBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scored = g
      .withColumn("k", count(lit(1)).over(cum))
      .withColumn("cum", sum("x").over(cum))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("tot", sum("x").over(full))
      .filter(col("k") < col("n"))
      .withColumn("ml", col("cum").cast("double") / col("k"))
      .withColumn("mr",
        (col("tot") - col("cum")).cast("double") / (col("n") - col("k")))
      .withColumn("stat_micro",
        round(sqrt((col("k") * (col("n") - col("k"))).cast("double")
            / col("n"))
          * abs(col("ml") - col("mr")) * 10000).cast("long"))
    val best = Window.partitionBy("event_type")
      .orderBy(col("stat_micro").desc, col("day").asc)
    scored.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("split_day"),
        col("k").as("n_before"), (col("n") - col("k")).as("n_after"),
        r4(col("ml") / 100.0).as("mean_before"),
        r4(col("mr") / 100.0).as("mean_after"), col("stat_micro"))
      .orderBy("event_type")
  }

  val q171ChangePoint = QueryDef(
    "q171_change_point",
    (s, d) => q171Finish(dailyRevGrid(s, d)),
    Some("""WITH g AS (
           |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           |      AS x
           |  FROM events GROUP BY 1, 2),
           |scored AS (
           |  SELECT event_type, day,
           |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY day
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k,
           |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
           |      AS n,
           |    CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
           |      AS tot
           |  FROM g),
           |st AS (
           |  SELECT *, CAST(cum AS DOUBLE) / k AS ml,
           |    CAST(tot - cum AS DOUBLE) / (n - k) AS mr,
           |    CAST(round(sqrt(CAST(k * (n - k) AS DOUBLE) / n)
           |      * abs(CAST(cum AS DOUBLE) / k
           |        - CAST(tot - cum AS DOUBLE) / (n - k)) * 10000)
           |      AS BIGINT) AS stat_micro
           |  FROM scored WHERE k < n),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY event_type
           |    ORDER BY stat_micro DESC, day ASC) AS rn
           |  FROM st)
           |SELECT event_type, day AS split_day, k AS n_before,
           |  n - k AS n_after,
           |  round(ml / 100.0 * 10000) / 10000 AS mean_before,
           |  round(mr / 100.0 * 10000) / 10000 AS mean_after, stat_micro
           |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin))

  // --------------------------------------------------------------- q173
  /** Rolling-origin forecast backtest: score three one-step-ahead
    * forecasters of the daily-revenue series — naive (yesterday),
    * seasonal-naive (same weekday last week), 7-day moving average —
    * by MAE and MAPE over every day where the forecaster's inputs
    * exist. The eval layer a forecasting stack runs before trusting any
    * model (q168's role, for time series): on this synthetic log the
    * honest answer is that seasonal-naive buys nothing (no weekly
    * rhythm — q154's flat ACF said so) and the smoother MA7 wins.
    *
    * Scale shape: the corpus collapses to the calendar grid in ONE
    * map-side hash-agg; the lag alignment is q154's explode-by-offset
    * idiom (map-side, calendar-sized — NO grid self-joins, one scan);
    * errors stay exact: every forecast scales by 7 so MA7's mean is the
    * exact integer Σx, |7·actual − 7·forecast| is an exact BIGINT, and
    * per-origin APE rounds to micro BEFORE the exact-integer sum (the
    * fixed-point posture). */
  def q173Finish(g: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cells = g
      .select(col("event_type"), col("day"), col("x"),
        explode(array((0 to 7).map(lit(_)): _*)).as("l"))
      .select(col("event_type"), (col("day") + col("l")).as("t"),
        col("l"), col("x"))
      .groupBy("event_type", "t")
      .agg(max(when(col("l") === 0, col("x"))).as("x0"),
        (1 to 7).map(lg =>
          max(when(col("l") === lg, col("x"))).as(s"xm$lg")): _*)
      .filter(col("x0").isNotNull && col("x0") > 0L)
    val sum7 = (1 to 7).map(lg => col(s"xm$lg")).reduce(_ + _)
    val scored = cells
      .withColumn("e_naive",
        when(col("xm1").isNotNull, abs(lit(7L) * (col("x0") - col("xm1")))))
      .withColumn("e_snaive",
        when(col("xm7").isNotNull, abs(lit(7L) * (col("x0") - col("xm7")))))
      .withColumn("e_ma7",
        when((1 to 7).map(lg => col(s"xm$lg").isNotNull).reduce(_ && _),
          abs(lit(7L) * col("x0") - sum7)))
    def ape(e: String) = round(col(e).cast("double") * 1e6
      / (lit(7L) * col("x0"))).cast("long")
    val wide = scored.groupBy("event_type")
      .agg(count("e_naive").as("n_naive"),
        sum("e_naive").as("se_naive"),
        sum(ape("e_naive")).as("sa_naive"),
        count("e_snaive").as("n_snaive"),
        sum("e_snaive").as("se_snaive"),
        sum(ape("e_snaive")).as("sa_snaive"),
        count("e_ma7").as("n_ma7"),
        sum("e_ma7").as("se_ma7"),
        sum(ape("e_ma7")).as("sa_ma7"))
    wide.select(col("event_type"),
        expr("stack(3, 'ma7', n_ma7, se_ma7, sa_ma7," +
          " 'naive', n_naive, se_naive, sa_naive," +
          " 'snaive', n_snaive, se_snaive, sa_snaive)" +
          " as (method, n_origins, se7, sape)"))
      .filter(col("n_origins") > 0L)
      .select(col("event_type"), col("method"), col("n_origins"),
        r4(col("se7").cast("double") / 700.0 / col("n_origins"))
          .as("mae"),
        expr("sape div n_origins").as("mape_ppm"))
      .orderBy("event_type", "method")
  }

  val q173ForecastBacktest = QueryDef(
    "q173_forecast_backtest",
    (s, d) => q173Finish(dailyRevGrid(s, d)),
    Some("""WITH g AS (
           |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           |      AS x
           |  FROM events GROUP BY 1, 2),
           |cells AS (
           |  SELECT event_type, day + l AS t, l, x
           |  FROM g CROSS JOIN (SELECT unnest(generate_series(0, 7))
           |    AS l)),
           |al AS (
           |  SELECT event_type, t,
           |    max(CASE WHEN l = 0 THEN x END) AS x0,
           |    max(CASE WHEN l = 1 THEN x END) AS xm1,
           |    max(CASE WHEN l = 2 THEN x END) AS xm2,
           |    max(CASE WHEN l = 3 THEN x END) AS xm3,
           |    max(CASE WHEN l = 4 THEN x END) AS xm4,
           |    max(CASE WHEN l = 5 THEN x END) AS xm5,
           |    max(CASE WHEN l = 6 THEN x END) AS xm6,
           |    max(CASE WHEN l = 7 THEN x END) AS xm7
           |  FROM cells GROUP BY 1, 2
           |  HAVING max(CASE WHEN l = 0 THEN x END) IS NOT NULL
           |    AND max(CASE WHEN l = 0 THEN x END) > 0),
           |scored AS (
           |  SELECT event_type,
           |    CASE WHEN xm1 IS NOT NULL
           |      THEN abs(7 * (x0 - xm1)) END AS e_naive,
           |    CASE WHEN xm7 IS NOT NULL
           |      THEN abs(7 * (x0 - xm7)) END AS e_snaive,
           |    CASE WHEN xm1 IS NOT NULL AND xm2 IS NOT NULL
           |        AND xm3 IS NOT NULL AND xm4 IS NOT NULL
           |        AND xm5 IS NOT NULL AND xm6 IS NOT NULL
           |        AND xm7 IS NOT NULL
           |      THEN abs(7 * x0 - (xm1 + xm2 + xm3 + xm4 + xm5 + xm6
           |        + xm7)) END AS e_ma7,
           |    x0
           |  FROM al),
           |wide AS (
           |  SELECT event_type,
           |    CAST(count(e_naive) AS BIGINT) AS n_naive,
           |    CAST(sum(e_naive) AS BIGINT) AS se_naive,
           |    CAST(sum(CAST(round(CAST(e_naive AS DOUBLE) * 1e6
           |      / (7 * x0)) AS BIGINT)) AS BIGINT) AS sa_naive,
           |    CAST(count(e_snaive) AS BIGINT) AS n_snaive,
           |    CAST(sum(e_snaive) AS BIGINT) AS se_snaive,
           |    CAST(sum(CAST(round(CAST(e_snaive AS DOUBLE) * 1e6
           |      / (7 * x0)) AS BIGINT)) AS BIGINT) AS sa_snaive,
           |    CAST(count(e_ma7) AS BIGINT) AS n_ma7,
           |    CAST(sum(e_ma7) AS BIGINT) AS se_ma7,
           |    CAST(sum(CAST(round(CAST(e_ma7 AS DOUBLE) * 1e6
           |      / (7 * x0)) AS BIGINT)) AS BIGINT) AS sa_ma7
           |  FROM scored GROUP BY 1),
           |stacked AS (
           |  SELECT event_type, 'ma7' AS method, n_ma7 AS n_origins,
           |    se_ma7 AS se7, sa_ma7 AS sape FROM wide
           |  UNION ALL
           |  SELECT event_type, 'naive', n_naive, se_naive, sa_naive
           |  FROM wide
           |  UNION ALL
           |  SELECT event_type, 'snaive', n_snaive, se_snaive, sa_snaive
           |  FROM wide)
           |SELECT event_type, method, n_origins,
           |  round(CAST(se7 AS DOUBLE) / 700.0 / n_origins * 10000)
           |    / 10000 AS mae,
           |  sape // n_origins AS mape_ppm
           |FROM stacked WHERE n_origins > 0
           |ORDER BY event_type, method""".stripMargin))

  // --------------------------------------------------------------- q174
  /** Robust outlier census per event type: median / MAD / robust
    * z-scores (0.6745·(x−med)/MAD, outlier at |z| > 3.5 — the
    * Iglewicz-Hoaglin rule) — the heavy-tail-proof sibling of q60's
    * mean/σ z-score, which a single whale purchase corrupts. Both
    * medians use the exact lower-median rule (smallest value with
    * 2·cum ≥ total — integer comparison, q159's convention), and the
    * outlier test rewrites 0.6745·|x−med| > 3.5·MAD as the EXACT
    * integer comparison 6745·dm > 35000·MAD, so the census is
    * bit-stable in any engine at any partitioning.
    *
    * Scale shape: ONE corpus scan hash-aggs to the milli-unit value
    * histogram (domain-bounded — the q149/q59 posture); the median,
    * the deviation histogram, the MAD, and the outlier counts are all
    * windows + one re-agg OVER THE HISTOGRAM. The pipeline is linear
    * (full-frame window totals, not joins back), so Spark plans exactly
    * one fact scan. */
  val q174RobustOutliers = QueryDef(
    "q174_robust_outliers",
    (s, d) => {
      val byVm = Window.partitionBy("event_type").orderBy("vm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byDm = Window.partitionBy("event_type").orderBy("dm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val full = Window.partitionBy("event_type")
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      val hist = Tables.events(s, d)
        .select(col("event_type"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
        .groupBy("event_type", "vm")
        .agg(count(lit(1)).as("cnt"))
      val med = hist
        .withColumn("cum", sum("cnt").over(byVm))
        .withColumn("tn", sum("cnt").over(full))
        .withColumn("med",
          min(when(col("cum") * 2L >= col("tn"), col("vm"))).over(full))
      val dev = med
        .select(col("event_type"), abs(col("vm") - col("med")).as("dm"),
          col("cnt"), col("tn"), col("med"))
        .groupBy("event_type", "dm")
        .agg(sum("cnt").as("c2"), max("tn").as("tn"),
          max("med").as("med"))
      val mad = dev
        .withColumn("cumd", sum("c2").over(byDm))
        .withColumn("mad",
          min(when(col("cumd") * 2L >= col("tn"), col("dm"))).over(full))
      mad.groupBy("event_type")
        .agg(max("tn").as("n"), max("med").as("median_milli"),
          max("mad").as("mad_milli"),
          sum(when(lit(6745L) * col("dm") > lit(35000L) * col("mad"),
            col("c2")).otherwise(0L)).as("n_outliers"),
          max("dm").as("max_dev"))
        .select(col("event_type"), col("n"), col("median_milli"),
          col("mad_milli"), col("n_outliers"),
          r4(lit(0.6745) * col("max_dev").cast("double")
            / col("mad_milli")).as("max_abs_z"))
        .orderBy("event_type")
    },
    Some("""WITH h AS (
           |  SELECT event_type, CAST(round(value * 1000) AS BIGINT)
           |      AS vm,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM events GROUP BY 1, 2),
           |c AS (
           |  SELECT *,
           |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY vm
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
           |      AS tn
           |  FROM h),
           |m AS (
           |  SELECT *, min(CASE WHEN cum * 2 >= tn THEN vm END)
           |    OVER (PARTITION BY event_type) AS med
           |  FROM c),
           |dev AS (
           |  SELECT event_type, abs(vm - med) AS dm,
           |    CAST(sum(cnt) AS BIGINT) AS c2, max(tn) AS tn,
           |    max(med) AS med
           |  FROM m GROUP BY 1, 2),
           |cd AS (
           |  SELECT *, CAST(sum(c2) OVER (PARTITION BY event_type
           |    ORDER BY dm ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumd
           |  FROM dev),
           |m2 AS (
           |  SELECT *, min(CASE WHEN cumd * 2 >= tn THEN dm END)
           |    OVER (PARTITION BY event_type) AS mad
           |  FROM cd)
           |SELECT event_type, max(tn) AS n, max(med) AS median_milli,
           |  max(mad) AS mad_milli,
           |  CAST(sum(CASE WHEN 6745 * dm > 35000 * mad THEN c2 ELSE 0
           |    END) AS BIGINT) AS n_outliers,
           |  round(0.6745e0 * max(dm) / max(mad) * 10000) / 10000
           |    AS max_abs_z
           |FROM m2 GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q176
  /** Seasonality-adjusted robust anomaly census: q145's STL-lite
    * decomposition feeding q174's MAD rule — the COMPOSED detector a
    * monitoring stack actually deploys (flag a day only when it's
    * anomalous AFTER trend and day-of-week are explained away; q60's
    * raw z-score pages on every Monday). Residuals are exact micro
    * BIGINTs (q145's fixed-point detrending), both medians use the
    * exact lower-median rule, and the flag is the exact integer
    * comparison 6745·dm > 35000·MAD — so the census is engine- and
    * partitioning-proof. The worst day ties break on the earlier day.
    *
    * Scale shape: ONE map-side hash-agg to the (type × day) calendar
    * grid; the decomposition, both median passes, and the census are
    * windows + one broadcast joinback over that calendar-bounded grid
    * (never the corpus) — q145's posture with q174's tail. */
  val q176StlAnomaly = QueryDef(
    "q176_stl_anomaly",
    (s, d) => {
      val grid = Tables.events(s, d)
        .select(col("event_type"),
          expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
        .groupBy("event_type", "day")
        .agg(round(sum("vm").cast("double") / count(lit(1))).cast("long")
          .as("mi"))
      val wMa = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val trended = grid
        .withColumn("trend", avg(col("mi")).over(wMa))
        .withColumn("det_micro",
          round((col("mi") - col("trend")) * 1000.0).cast("long"))
        .withColumn("dow", expr("day % 7"))
      val seasonal = trended.groupBy(col("event_type").as("et"),
          col("dow").as("dw"))
        .agg(round(sum("det_micro").cast("double") / count(lit(1)))
          .cast("long").as("seas_micro"))
      val res = trended.join(broadcast(seasonal),
          col("event_type") === col("et") && col("dow") === col("dw"))
        .select(col("event_type"), col("day"),
          (col("det_micro") - col("seas_micro")).as("res"))
      val byRes = Window.partitionBy("event_type").orderBy("res", "day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fullW = Window.partitionBy("event_type")
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      val withMed = res
        .withColumn("cum", count(lit(1)).over(byRes))
        .withColumn("n", count(lit(1)).over(fullW))
        .withColumn("med",
          min(when(col("cum") * 2L >= col("n"), col("res"))).over(fullW))
        .withColumn("dm", abs(col("res") - col("med")))
      val byDm = Window.partitionBy("event_type").orderBy("dm", "day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withMed
        .withColumn("cumd", count(lit(1)).over(byDm))
        .withColumn("mad",
          min(when(col("cumd") * 2L >= col("n"), col("dm"))).over(fullW))
        .withColumn("maxdm", max("dm").over(fullW))
        .groupBy("event_type")
        .agg(max("n").as("n_days"), max("med").as("med_res_micro"),
          max("mad").as("mad_res_micro"),
          sum(when(lit(6745L) * col("dm") > lit(35000L) * col("mad"),
            1L).otherwise(0L)).as("n_anomalies"),
          min(when(col("dm") === col("maxdm"), col("day")))
            .as("worst_day"),
          max("maxdm").as("mx"))
        .select(col("event_type"), col("n_days"), col("med_res_micro"),
          col("mad_res_micro"), col("n_anomalies"), col("worst_day"),
          when(col("mad_res_micro") > 0L,
            r4(lit(0.6745) * col("mx").cast("double")
              / col("mad_res_micro"))).as("worst_z"))
        .orderBy("event_type")
    },
    Some(s"""WITH grid AS (
           |  SELECT event_type, epoch_us(ts) // ${DayUs} AS day,
           |    CAST(round(CAST(sum(CAST(round(value * 1000) AS BIGINT))
           |      AS DOUBLE) / count(*)) AS BIGINT) AS mi
           |  FROM events GROUP BY 1, 2),
           |trended AS (
           |  SELECT *,
           |    CAST(round((mi - avg(mi) OVER (PARTITION BY event_type
           |      ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
           |      * 1000.0) AS BIGINT) AS det_micro,
           |    day % 7 AS dow
           |  FROM grid),
           |seasonal AS (
           |  SELECT event_type, dow,
           |    CAST(round(CAST(sum(det_micro) AS DOUBLE) / count(*))
           |      AS BIGINT) AS seas_micro
           |  FROM trended GROUP BY 1, 2),
           |res AS (
           |  SELECT event_type, day, det_micro - seas_micro AS res
           |  FROM trended JOIN seasonal USING (event_type, dow)),
           |c1 AS (
           |  SELECT *,
           |    CAST(count(*) OVER (PARTITION BY event_type
           |      ORDER BY res, day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           |      AS cum,
           |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
           |      AS n
           |  FROM res),
           |m1 AS (
           |  SELECT *, min(CASE WHEN cum * 2 >= n THEN res END)
           |    OVER (PARTITION BY event_type) AS med
           |  FROM c1),
           |d1 AS (SELECT *, abs(res - med) AS dm FROM m1),
           |c2 AS (
           |  SELECT *, CAST(count(*) OVER (PARTITION BY event_type
           |    ORDER BY dm, day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           |    AS cumd
           |  FROM d1),
           |m2 AS (
           |  SELECT *,
           |    min(CASE WHEN cumd * 2 >= n THEN dm END)
           |      OVER (PARTITION BY event_type) AS mad,
           |    max(dm) OVER (PARTITION BY event_type) AS maxdm
           |  FROM c2)
           |SELECT event_type, max(n) AS n_days,
           |  max(med) AS med_res_micro, max(mad) AS mad_res_micro,
           |  CAST(sum(CASE WHEN 6745 * dm > 35000 * mad THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_anomalies,
           |  min(CASE WHEN dm = maxdm THEN day END) AS worst_day,
           |  CASE WHEN max(mad) > 0
           |    THEN round(0.6745e0 * max(maxdm) / max(mad) * 10000) / 10000
           |    END AS worst_z
           |FROM m2 GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q184
  /** Group-sequential A/B monitoring (O'Brien–Fleming-style spending):
    * the daily interim analysis a live experiment runs INSTEAD of one
    * end-of-test readout — each day k of K gets the cumulative pooled
    * two-proportion z against the shrinking boundary c·√(K/k)
    * (conservative early, nominal at the horizon), answering "when
    * could we have stopped?" without inflating false positives the way
    * daily peeking at a fixed threshold does. Completes the
    * experimentation battery (q106 lift, q140 CUPED, q149 rank-sum)
    * with its SEQUENTIAL member. Assignment is the md5 user split;
    * c = 2.24 (≈ the two-sided α=0.05 OBF constant at these look
    * counts — the shape, not a lookup table, is the operator). On this
    * synthetic log the honest readout is no crossing.
    *
    * Scale shape: ONE map-side hash-agg onto the (day × arm) grid with
    * purchase/event counters; cumulative sums, K, and the z/boundary
    * algebra are windows over the ≤31-row-per-arm grid; every input to
    * the float algebra is an exact integer prefix sum, so both engines
    * evaluate identical doubles. */
  /** q184's per-event (day, is_a, is_p) projection, shared with the
    * streaming twin's feed enrichment. */
  def q184Flags(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ev.select(col("ts"),
      expr(s"unix_micros(ts) div ${DayUs}L").as("day"),
      when(substring(md5(col("user_id").cast("string")), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L)
        .otherwise(0L).as("is_a"),
      when(col("event_type") === "purchase", 1L).otherwise(0L)
        .as("is_p"))

  /** q184's day grid → interim-analysis projection, shared with the
    * seqAbStream twin (identical code over identical integer counters
    * ⇒ bit-for-bit). `grid` columns: day, na_d, xa_d, nb_d, xb_d. */
  def q184Finish(grid: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byDay = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
        .withColumn("k", count(lit(1)).over(byDay))
        .withColumn("kk", count(lit(1)).over(full))
        .withColumn("cna", sum("na_d").over(byDay))
        .withColumn("cxa", sum("xa_d").over(byDay))
        .withColumn("cnb", sum("nb_d").over(byDay))
        .withColumn("cxb", sum("xb_d").over(byDay))
        .withColumn("z_micro", expr(
          "cast(round(1e6 * (cast(cxa as double) / cna" +
            " - cast(cxb as double) / cnb)" +
            " / sqrt((cast(cxa + cxb as double) / (cna + cnb))" +
            " * (1e0 - cast(cxa + cxb as double) / (cna + cnb))" +
            " * (1e0 / cna + 1e0 / cnb))) as bigint)"))
        .withColumn("boundary_micro", expr(
          "cast(round(1e6 * 2.24e0 * sqrt(cast(kk as double) / k))" +
            " as bigint)"))
        .select(col("day"), col("k"), col("cna"), col("cxa"),
          col("cnb"), col("cxb"), col("z_micro"), col("boundary_micro"),
          (abs(col("z_micro")) > col("boundary_micro")).as("crossed"))
        .orderBy("day")
  }

  val q184SequentialAb = QueryDef(
    "q184_sequential_ab",
    (s, d) =>
      q184Finish(q184Flags(Tables.events(s, d))
        .groupBy("day")
        .agg(sum(col("is_a")).as("na_d"),
          sum(col("is_a") * col("is_p")).as("xa_d"),
          sum(lit(1L) - col("is_a")).as("nb_d"),
          sum((lit(1L) - col("is_a")) * col("is_p")).as("xb_d"))),
    Some("""WITH grid AS (
           |  SELECT epoch_us(ts) // 86400000000 AS day,
           |    CAST(sum(CASE WHEN substring(md5(CAST(user_id AS
           |      VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')
           |      THEN 1 ELSE 0 END) AS BIGINT) AS na_d,
           |    CAST(sum(CASE WHEN substring(md5(CAST(user_id AS
           |      VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')
           |      AND event_type = 'purchase' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS xa_d,
           |    CAST(sum(CASE WHEN substring(md5(CAST(user_id AS
           |      VARCHAR)), 1, 1) NOT IN ('0','1','2','3','4','5','6',
           |      '7') THEN 1 ELSE 0 END) AS BIGINT) AS nb_d,
           |    CAST(sum(CASE WHEN substring(md5(CAST(user_id AS
           |      VARCHAR)), 1, 1) NOT IN ('0','1','2','3','4','5','6',
           |      '7') AND event_type = 'purchase' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS xb_d
           |  FROM events GROUP BY 1),
           |cum AS (
           |  SELECT day,
           |    CAST(count(*) OVER (ORDER BY day ROWS UNBOUNDED
           |      PRECEDING) AS BIGINT) AS k,
           |    CAST(count(*) OVER () AS BIGINT) AS kk,
           |    CAST(sum(na_d) OVER (ORDER BY day ROWS UNBOUNDED
           |      PRECEDING) AS BIGINT) AS cna,
           |    CAST(sum(xa_d) OVER (ORDER BY day ROWS UNBOUNDED
           |      PRECEDING) AS BIGINT) AS cxa,
           |    CAST(sum(nb_d) OVER (ORDER BY day ROWS UNBOUNDED
           |      PRECEDING) AS BIGINT) AS cnb,
           |    CAST(sum(xb_d) OVER (ORDER BY day ROWS UNBOUNDED
           |      PRECEDING) AS BIGINT) AS cxb
           |  FROM grid),
           |st AS (
           |  SELECT *,
           |    CAST(round(1e6 * (CAST(cxa AS DOUBLE) / cna
           |      - CAST(cxb AS DOUBLE) / cnb)
           |      / sqrt((CAST(cxa + cxb AS DOUBLE) / (cna + cnb))
           |        * (1e0 - CAST(cxa + cxb AS DOUBLE) / (cna + cnb))
           |        * (1e0 / cna + 1e0 / cnb))) AS BIGINT) AS z_micro,
           |    CAST(round(1e6 * 2.24e0 * sqrt(CAST(kk AS DOUBLE) / k))
           |      AS BIGINT) AS boundary_micro
           |  FROM cum)
           |SELECT day, k, cna, cxa, cnb, cxb, z_micro, boundary_micro,
           |  abs(z_micro) > boundary_micro AS crossed
           |FROM st ORDER BY day""".stripMargin))

  // --------------------------------------------------------------- q185
  /** Distribution-free median confidence interval per event type — the
    * order-statistic (binomial) CI: ranks l = ⌊(n − z√n)/2⌋ and
    * u = ⌈(n + 2 + z√n)/2⌉ bracket the true median with ≥95%
    * confidence under NO distributional assumption, the nonparametric
    * companion to q138's bootstrap (which resamples) and q174's MAD
    * (which scores) — this one just reads two order statistics.
    * Rank→value lookups use the exact cumulative rule (smallest value
    * with cum ≥ r, the q159 convention); the only float is z√n from an
    * exact integer, identical in both engines.
    *
    * Scale shape: ONE corpus scan hash-aggs to the milli-unit value
    * histogram (q174's posture); rank selection is a cumulative window
    * + full-frame min-when over the domain-bounded histogram — raw
    * events are never sorted. */
  val q185MedianCi = QueryDef(
    "q185_median_ci",
    (s, d) => {
      val byVm = Window.partitionBy("event_type").orderBy("vm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val full = Window.partitionBy("event_type")
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("event_type"),
          expr("cast(round(value * 1000) as bigint)").as("vm"))
        .groupBy("event_type", "vm")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(byVm))
        .withColumn("n", sum("cnt").over(full))
        .withColumn("lo_r", expr(
          "greatest(1L, cast(floor((n - 1.959964e0 * sqrt(cast(n as" +
            " double))) / 2e0) as bigint))"))
        .withColumn("hi_r", expr(
          "least(n, cast(ceil((n + 2 + 1.959964e0 * sqrt(cast(n as" +
            " double))) / 2e0) as bigint))"))
        .withColumn("med",
          min(when(col("cum") * 2L >= col("n"), col("vm"))).over(full))
        .withColumn("lo",
          min(when(col("cum") >= col("lo_r"), col("vm"))).over(full))
        .withColumn("hi",
          min(when(col("cum") >= col("hi_r"), col("vm"))).over(full))
        .groupBy("event_type")
        .agg(max("n").as("n"), max("med").as("median_milli"),
          max("lo").as("lo_milli"), max("hi").as("hi_milli"))
        .withColumn("width_milli", col("hi_milli") - col("lo_milli"))
        .orderBy("event_type")
    },
    Some("""WITH h AS (
           |  SELECT event_type, CAST(round(value * 1000) AS BIGINT)
           |      AS vm,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM events GROUP BY 1, 2),
           |c AS (
           |  SELECT *,
           |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY vm
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
           |      AS n
           |  FROM h),
           |r AS (
           |  SELECT *,
           |    greatest(1, CAST(floor((n - 1.959964e0
           |      * sqrt(CAST(n AS DOUBLE))) / 2e0) AS BIGINT)) AS lo_r,
           |    least(n, CAST(ceil((n + 2 + 1.959964e0
           |      * sqrt(CAST(n AS DOUBLE))) / 2e0) AS BIGINT)) AS hi_r
           |  FROM c),
           |m AS (
           |  SELECT *,
           |    min(CASE WHEN cum * 2 >= n THEN vm END)
           |      OVER (PARTITION BY event_type) AS med,
           |    min(CASE WHEN cum >= lo_r THEN vm END)
           |      OVER (PARTITION BY event_type) AS lo,
           |    min(CASE WHEN cum >= hi_r THEN vm END)
           |      OVER (PARTITION BY event_type) AS hi
           |  FROM r)
           |SELECT event_type, max(n) AS n, max(med) AS median_milli,
           |  max(lo) AS lo_milli, max(hi) AS hi_milli,
           |  max(hi) - max(lo) AS width_milli
           |FROM m GROUP BY 1 ORDER BY 1""".stripMargin))

  // --------------------------------------------------------------- q187
  /** Exact higher moments per event type — skewness g₁, excess
    * kurtosis g₂, and Sarle's bimodality coefficient (g₁²+1)/(g₂+3) —
    * the shape screen (heavy tail? two regimes?) that q35's
    * second-moment battery can't see and that decides between q60's
    * mean/σ and q174's MAD detectors. Spark's built-in skewness/
    * kurtosis accumulate FLOATS (partial-order-dependent, and DuckDB's
    * definitions differ) — here every moment derives from exact power
    * sums of milli-unit integers: Σv, Σv², Σv³, Σv⁴ move as
    * decimal(38,0) ↔ HUGEINT (v⁴ ≤ 1.2×10²² already exceeds BIGINT —
    * the q132 rule one power up), central moments expand from raw
    * sums in the final 5-row float algebra, mirrored term-for-term.
    *
    * Scale shape: ONE map-side-combined hash-agg, O(1) state per
    * group; nothing else. */
  val q187HigherMoments = QueryDef(
    "q187_higher_moments",
    (s, d) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      Tables.events(s, d)
        .select(col("event_type"),
          expr("cast(round(value * 1000) as bigint)").as("v"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("v").as("s1"),
          sum(dec(col("v")) * dec(col("v"))).as("s2"),
          sum(dec(col("v")) * dec(col("v")) * dec(col("v"))).as("s3"),
          sum(dec(col("v")) * dec(col("v")) * dec(col("v"))
            * dec(col("v"))).as("s4"))
        .select(col("event_type"), col("n"),
          expr("cast(s1 as double) / n").as("mu"),
          expr("cast(s2 as double) / n" +
            " - (cast(s1 as double) / n) * (cast(s1 as double) / n)")
            .as("m2"),
          expr("cast(s3 as double) / n" +
            " - 3e0 * (cast(s1 as double) / n)" +
            " * (cast(s2 as double) / n)" +
            " + 2e0 * pow(cast(s1 as double) / n, 3)").as("m3"),
          expr("cast(s4 as double) / n" +
            " - 4e0 * (cast(s1 as double) / n)" +
            " * (cast(s3 as double) / n)" +
            " + 6e0 * pow(cast(s1 as double) / n, 2)" +
            " * (cast(s2 as double) / n)" +
            " - 3e0 * pow(cast(s1 as double) / n, 4)").as("m4"))
        .select(col("event_type"), col("n"),
          r4(col("mu") / 1000.0).as("mean"),
          r6(col("m3") / expr("pow(m2, 1.5e0)")).as("skewness"),
          r6(col("m4") / (col("m2") * col("m2")) - 3.0).as("ex_kurtosis"),
          r6((col("m3") / expr("pow(m2, 1.5e0)")
              * (col("m3") / expr("pow(m2, 1.5e0)")) + 1.0)
            / (col("m4") / (col("m2") * col("m2"))))
            .as("bimodality"))
        .orderBy("event_type")
    },
    Some("""WITH s AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
           |      AS s1,
           |    sum(CAST(CAST(round(value * 1000) AS BIGINT) AS HUGEINT)
           |      * CAST(round(value * 1000) AS BIGINT)) AS s2,
           |    sum(CAST(CAST(round(value * 1000) AS BIGINT) AS HUGEINT)
           |      * CAST(round(value * 1000) AS BIGINT)
           |      * CAST(round(value * 1000) AS BIGINT)) AS s3,
           |    sum(CAST(CAST(round(value * 1000) AS BIGINT) AS HUGEINT)
           |      * CAST(round(value * 1000) AS BIGINT)
           |      * CAST(round(value * 1000) AS BIGINT)
           |      * CAST(round(value * 1000) AS BIGINT)) AS s4
           |  FROM events GROUP BY 1),
           |m AS (
           |  SELECT event_type, n,
           |    CAST(s1 AS DOUBLE) / n AS mu,
           |    CAST(s2 AS DOUBLE) / n
           |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
           |      AS m2,
           |    CAST(s3 AS DOUBLE) / n
           |      - 3e0 * (CAST(s1 AS DOUBLE) / n)
           |      * (CAST(s2 AS DOUBLE) / n)
           |      + 2e0 * pow(CAST(s1 AS DOUBLE) / n, 3) AS m3,
           |    CAST(s4 AS DOUBLE) / n
           |      - 4e0 * (CAST(s1 AS DOUBLE) / n)
           |      * (CAST(s3 AS DOUBLE) / n)
           |      + 6e0 * pow(CAST(s1 AS DOUBLE) / n, 2)
           |      * (CAST(s2 AS DOUBLE) / n)
           |      - 3e0 * pow(CAST(s1 AS DOUBLE) / n, 4) AS m4
           |  FROM s)
           |SELECT event_type, n,
           |  round(mu / 1000.0 * 10000) / 10000 AS mean,
           |  round(m3 / pow(m2, 1.5e0) * 1000000) / 1000000 AS skewness,
           |  round((m4 / (m2 * m2) - 3.0) * 1000000) / 1000000
           |    AS ex_kurtosis,
           |  round(((m3 / pow(m2, 1.5e0)) * (m3 / pow(m2, 1.5e0)) + 1.0)
           |    / (m4 / (m2 * m2)) * 1000000) / 1000000 AS bimodality
           |FROM m ORDER BY event_type""".stripMargin))

  // --------------------------------------------------------------- q188
  /** Two-sample Kolmogorov–Smirnov test comparing `value` between
    * purchase and click events — the whole-distribution companion to
    * q149's rank-sum (location) and q137's binned PSI (pre-chosen
    * bins): D = sup|F₁−F₂| sees ANY distributional difference at its
    * own resolution. The supremum is found EXACTLY in integers: at
    * every distinct value, |cumA·n_B − cumB·n_A| (cross-multiplied, no
    * float CDFs), the argmax threshold ties to the smallest value. The
    * only floats are the final D, the scaled statistic λ =
    * D·√(n_A·n_B/(n_A+n_B)), and the asymptotic p ≈ 2e^(−2λ²) — each
    * from exact integers, identical in both engines.
    *
    * Scale shape: ONE map-side hash-agg to the milli-unit value
    * histogram (the q149/q174 posture), cumulative + full-frame
    * windows over that domain-bounded grid, a 1-row reduce. Cross
    * products stay BIGINT to ~10⁹ rows per arm (decimal beyond — the
    * q132 note). */
  /** q188's histogram → D/λ/p projection, shared with the
    * mannWhitneyStream twin (identical code over identical integer counters ⇒
    * bit-for-bit — the q149Finish precedent). `h` columns: vm
    * (milli-unit value bin), n1 (purchase count), n2 (click count).
    * Sentinel / other-event bins arriving as (0, 0) cells are inert:
    * they repeat the previous bin's cumulative counts, so they can
    * only tie an existing supremum at a LARGER vm, which the
    * min-threshold projection never selects. */
  def q188Finish(h: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byVm = Window.orderBy("vm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
    h.withColumn("cuma", sum("n1").over(byVm))
      .withColumn("cumb", sum("n2").over(byVm))
      .withColumn("na", sum("n1").over(full))
      .withColumn("nb", sum("n2").over(full))
      .withColumn("num",
        abs(col("cuma") * col("nb") - col("cumb") * col("na")))
      .withColumn("mx", max("num").over(full))
      .groupBy("na", "nb", "mx")
      .agg(min(when(col("num") === col("mx"), col("vm")))
        .as("ks_threshold_milli"))
      .select(col("na").as("n_purchase"), col("nb").as("n_click"),
          col("ks_threshold_milli"),
          r6(col("mx").cast("double") / (col("na") * col("nb")))
            .as("d"),
          r6(col("mx").cast("double") / (col("na") * col("nb"))
            * sqrt(col("na").cast("double") * col("nb")
              / (col("na") + col("nb")))).as("lambda"),
          r6(lit(2.0) * exp(lit(-2.0)
            * pow(col("mx").cast("double") / (col("na") * col("nb"))
              * sqrt(col("na").cast("double") * col("nb")
                / (col("na") + col("nb"))), 2.0))).as("p_asymptotic"))
  }

  val q188KsTest = QueryDef(
    "q188_ks_test",
    (s, d) =>
      q188Finish(Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(expr("cast(round(value * 1000) as bigint)").as("vm"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("isp"))
        .groupBy("vm")
        .agg(sum("isp").as("n1"), sum(lit(1L) - col("isp")).as("n2"))),
    Some("""WITH h AS (
           |  SELECT CAST(round(value * 1000) AS BIGINT) AS vm,
           |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
           |      END) AS BIGINT) AS na_c,
           |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
           |      END) AS BIGINT) AS nb_c
           |  FROM events WHERE event_type IN ('purchase', 'click')
           |  GROUP BY 1),
           |c AS (
           |  SELECT *,
           |    CAST(sum(na_c) OVER (ORDER BY vm ROWS UNBOUNDED
           |      PRECEDING) AS BIGINT) AS cuma,
           |    CAST(sum(nb_c) OVER (ORDER BY vm ROWS UNBOUNDED
           |      PRECEDING) AS BIGINT) AS cumb,
           |    CAST(sum(na_c) OVER () AS BIGINT) AS na,
           |    CAST(sum(nb_c) OVER () AS BIGINT) AS nb
           |  FROM h),
           |n AS (
           |  SELECT *, abs(cuma * nb - cumb * na) AS num,
           |    max(abs(cuma * nb - cumb * na)) OVER () AS mx
           |  FROM c)
           |SELECT na AS n_purchase, nb AS n_click,
           |  min(CASE WHEN num = mx THEN vm END) AS ks_threshold_milli,
           |  round(CAST(mx AS DOUBLE) / (na * nb) * 1000000) / 1000000
           |    AS d,
           |  round(CAST(mx AS DOUBLE) / (na * nb)
           |    * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)) * 1000000)
           |    / 1000000 AS lambda,
           |  round(2.0 * exp(-2.0 * pow(CAST(mx AS DOUBLE) / (na * nb)
           |    * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)), 2.0))
           |    * 1000000) / 1000000 AS p_asymptotic
           |FROM n GROUP BY 1, 2, mx""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(q137PsiDrift, q138BootstrapCi, q139InterpJoin, q140CupedLift,
      q141RankBattery, q143SurvivalKm, q145SeasonalDecompose,
      q147TheilSen, q148ChiSquare, q149MannWhitney,
      q154Autocorrelation, q159WeightedMedian, q169FeatureRelevance,
      q171ChangePoint, q173ForecastBacktest, q174RobustOutliers,
      q176StlAnomaly, q184SequentialAb, q185MedianCi,
      q187HigherMoments, q188KsTest)
}
