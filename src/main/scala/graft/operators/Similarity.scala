package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.functions.Rounding.{r4, r6}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two tiers, mirroring how ANN works on a real cluster:
  *  - brute-force cosine top-k: broadcast the (small) query set against the
  *    full corpus — exact, O(corpus × queries), the correctness baseline;
  *  - LSH-bucketed ANN: sign-random-projection buckets with multi-probe
  *    (the query probes its own bucket); candidates are generated by an
  *    equi-join on bucket id, so corpus-side work is near-linear and the
  *    shuffle moves only bucket keys — the 100 TB path.
  */
object Similarity {

  private val K = 10
  private val NQueries = 5 // vec_id < 5 are the query vectors

  // ------------------------------------------------------ brute force
  /** Exact top-k: query set (5 rows) is broadcast; cosine is a pure
    * HOF expression (double, sequential fold — bit-identical to the
    * DuckDB oracle); ranking is a per-query window (shuffle on qid,
    * 5 partitions × corpus rows). */
  val s01BruteForceTopK = QueryDef(
    "s01_sim_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("sim_exact").desc, col("vec_id"))
      emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("vec_id"), r4(col("sim_exact")).as("sim"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
            |           FROM embeddings WHERE vec_id < $NQueries),
            |sims AS (SELECT qid, vec_id,
            |    list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim_exact
            |  FROM q, embeddings WHERE vec_id <> qid),
            |ranked AS (SELECT qid, vec_id, sim_exact,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY sim_exact DESC, vec_id) AS rank
            |  FROM sims)
            |SELECT qid, rank, vec_id, round(sim_exact, 4) AS sim
            |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ------------------------------------------------------ LSH ANN
  /** Approximate top-k: 6-bit SRP buckets + multi-probe — each query
    * probes its own cell and every Hamming-1 neighbor cell (7 probes of
    * 64 cells ≈ 11% of the corpus), then exact cosine re-rank within the
    * candidates. Multi-probe is what makes sign-LSH usable: a true
    * neighbor differing on one hyperplane lands one bit away, and
    * single-probe recall collapses to ~0 on weakly-clustered embeddings.
    * nPlanes/nProbes tune candidate volume vs recall at scale; the
    * corpus side still only ever moves (bucket, id) through the join.
    *
    * FULLY ORACLE-CHECKED (round 10): the ±1 plane matrix is a
    * `scala.util.Random(7)` Boolean stream — i.e. the Java LCG
    * (seed·0x5DEECE66D+0xB mod 2^48, bit 47 per draw), which the
    * DuckDB oracle replays with a 384-step recursive CTE, rebuilding
    * the exact buckets, the 7-cell multi-probe, and the re-rank. The
    * s17 SQ8 precedent generalized: deterministic projection ⇒
    * hash-matchable. */
  val s02LshAnn = QueryDef(
    "s02_sim_ann_lsh",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nPlanes = 6
      val planes = V.planesSeq(nPlanes, 64, seed = 7L)
      val emb = Tables.embeddings(s, d)
        .withColumn("bucket", V.srpBucketFast(col("embedding"), planes))
      val probeCols = col("bucket") +: (0 until nPlanes).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j)))
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          explode(array(probeCols: _*)).as("bucket"))
      val w = Window.partitionBy("qid").orderBy(col("sim_exact").desc, col("vec_id"))
      emb.join(broadcast(queries), Seq("bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("vec_id"), r4(col("sim_exact")).as("sim"))
        .orderBy("qid", "rank")
    },
    // the oracle replays the seed-7 Java LCG (scala.util.Random's
    // backing generator): 384 nextBoolean draws → the 6×64 ±1 plane
    // matrix → Horner-packed buckets (plane 0 = high bit, dot >= 0)
    // → 7-probe candidate join → exact-cosine re-rank
    Some(s"""WITH RECURSIVE lcg(i, s) AS (
            |  SELECT 0, CAST(xor(7, 25214903917) AS BIGINT)
            |  UNION ALL
            |  SELECT i+1, CAST((CAST(s AS HUGEINT) * 25214903917 + 11)
            |    % 281474976710656 AS BIGINT)
            |  FROM lcg WHERE i < 384),
            |signs AS (
            |  SELECT (i-1) // 64 AS p, (i-1) % 64 AS j,
            |    CASE WHEN ((s >> 47) & 1) = 1 THEN 1.0e0 ELSE -1.0e0 END AS sgn
            |  FROM lcg WHERE i >= 1),
            |planes AS (SELECT p, list(sgn ORDER BY j) AS pl FROM signs GROUP BY p),
            |buckets AS (
            |  SELECT e.vec_id,
            |    CAST(SUM(CASE WHEN list_dot_product(
            |        CAST(e.embedding AS DOUBLE[]), p.pl) >= 0
            |      THEN (CAST(1 AS BIGINT) << (5 - CAST(p.p AS INT)))
            |      ELSE 0 END) AS BIGINT) AS bucket
            |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id),
            |q AS (
            |  SELECT b.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS qe,
            |    b.bucket AS qb
            |  FROM buckets b JOIN embeddings e ON b.vec_id = e.vec_id
            |  WHERE b.vec_id < $NQueries),
            |probes AS (
            |  SELECT qid, qe,
            |    CASE WHEN g = 0 THEN qb
            |      ELSE xor(qb, CAST(1 AS BIGINT) << (g - 1)) END AS bucket
            |  FROM q, generate_series(0, 6) t(g)),
            |cands AS (
            |  SELECT pr.qid, e.vec_id,
            |    list_cosine_similarity(pr.qe,
            |      CAST(e.embedding AS DOUBLE[])) AS sim_exact
            |  FROM probes pr
            |  JOIN buckets b ON b.bucket = pr.bucket
            |  JOIN embeddings e ON e.vec_id = b.vec_id
            |  WHERE e.vec_id <> pr.qid),
            |ranked AS (
            |  SELECT qid, vec_id, sim_exact,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY sim_exact DESC, vec_id) AS rank
            |  FROM cands)
            |SELECT qid, rank, vec_id, round(sim_exact, 4) AS sim
            |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ------------------------------------------------------ IVF ANN
  // private[graft]: BenchOne's `_fit_ann` probe times the shipped fit
  // through annFit itself — hardcoded copies there silently diverged
  // when a constant moved (round-13 ADVICE)
  private[graft] val NList = 16
  private[graft] val LloydRounds = 3
  private[graft] val Dim = 64
  private val PqM = 8       // subvectors
  private val PqK = NList   // centroids per subvector (4-bit codes); one
                            // lockstep fit needs one k for IVF and PQ
  private val PqSubDim = Dim / PqM

  /** The ANN fit's input frame: subspace 0 is the whole 64-dim embedding
    * (the IVF quantizer), subspaces 1..8 its 8-dim slices (the PQ
    * codebooks), so one lockstep IntKMeans.fit serves both. */
  private def annFrame(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val e = col("embedding").cast("array<double>")
    Tables.embeddings(s, d)
      .select(col("vec_id"), explode(array(
        struct(lit(0).as("m"), e.as("e")) +: (0 until PqM).map { m =>
          struct(lit(m + 1).as("m"),
            slice(e, m * PqSubDim + 1, PqSubDim).as("e"))
        }: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.e").as("e"))
  }

  /** The IVF quantizer and the PQ codebooks in ONE deterministic integer
    * k-means (Gonzalez init + exact-integer Lloyd rounds, see IntKMeans):
    * [0] is IVF, [1..8] are the PQ subspaces. Subspaces never interact,
    * so each codebook is bit-identical to fitting it alone — which the
    * DuckDB oracle does (ivfFitCtes/pqFitCtes), so s03/s04/s13/s15
    * hash-match. */
  private[graft] def annFit(s: org.apache.spark.sql.SparkSession, d: String)
      : IndexedSeq[IndexedSeq[Array[Long]]] =
    IntKMeans.fit(annFrame(s, d), k = NList, rounds = LloydRounds,
      dims = Dim +: Seq.fill(PqM)(PqSubDim))

  /** Ingest-time ANN artifacts per (session, sfDir): in production the
    * ANN models are fitted ONCE when data lands and persisted beside it;
    * the query path only broadcasts the tiny tables. Both artifacts
    * (`ivf_k…_r…` and `pq_m…_k…_r…` parquet, fit parameters in the name)
    * publish from one lazily forced annFit, so a root that already holds
    * both never fits, and a root holding only one publishes the other from
    * the same fit. This map is only a per-JVM cache over the artifacts
    * (IngestArtifacts): a second session finds the tables instead of
    * re-fitting. Memo keys include the corpus fingerprint
    * (IngestArtifacts.memoKey), so an in-place corpus regeneration
    * invalidates live sessions too. */
  private val annCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, String),
      (IndexedSeq[Seq[Long]], Seq[Seq[Long]])]
  IngestArtifacts.registerMemo(annCache)

  /** (IVF centroids, cell order; PQ codebook rows, flattened m·k + cell —
    * the PqEncodeInt/PqLutInt layout), in micro-units. */
  private[graft] def annFits(s: org.apache.spark.sql.SparkSession, d: String)
      : (IndexedSeq[Seq[Long]], Seq[Seq[Long]]) =
    annCache.getOrElseUpdate(IngestArtifacts.memoKey(s, d), {
      lazy val fit = annFit(s, d)
      import s.implicits._
      // coalesce(1): each artifact lands as one tiny parquet file
      val ivf = IngestArtifacts.readOrCreate(s, d,
        s"ivf_k${NList}_r$LloydRounds.parquet") {
        fit(0).zipWithIndex.map { case (e, cell) => (cell, e.toSeq) }
          .toDF("cell", "e").coalesce(1)
      }
      val pq = IngestArtifacts.readOrCreate(s, d,
        s"pq_m${PqM}_k${PqK}_r$LloydRounds.parquet") {
        fit.tail.zipWithIndex.flatMap { case (cb, m) =>
          cb.zipWithIndex.map { case (e, cell) => (m, cell, e.toSeq) }
        }.toDF("m", "cell", "e").coalesce(1)
      }
      (ivf.orderBy("cell").collect().map(_.getSeq[Long](1).toSeq).toIndexedSeq,
        pq.orderBy("m", "cell").collect().map(_.getSeq[Long](2).toSeq).toSeq)
    })

  /** The IVF coarse quantizer: 16 centroids in micro-units (annFits). */
  private[graft] def ivfCentroids(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[Seq[Long]] = annFits(s, d)._1

  /** IVF probe stage shared by s03 and the s15 sweep: every corpus
    * vector in the query's `nProbe` nearest cells, exact-cosine scored.
    * Corpus-side cell assignment is one codegen'd integer argmin over the
    * broadcast centroid table (at scale: persisted at ingest); candidates
    * come from an equi-join on cell id against the broadcast 5-row query
    * set — the inverted-file layout every vector store uses at 100 TB. */
  private[graft] def ivfCandidates(s: org.apache.spark.sql.SparkSession,
      d: String, nProbe: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val E = graft.expressions.VectorExpressions
    val cents = ivfCentroids(s, d)
    val emb = Tables.embeddings(s, d)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      element_at(E.pqEncodeInt(col("embedding"), cents, 1, NList, Dim,
        IntKMeans.Scale), 1).as("cell"))
    // queries probe their nProbe nearest cells — exact integer distances
    // (posexplode of the 16-entry LUT), ties to the lowest cell id
    val wCells = Window.partitionBy("qid").orderBy(col("cdist"), col("cell"))
    val queryCells = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        posexplode(E.pqLutInt(col("embedding"), cents, 1, NList, Dim,
          IntKMeans.Scale)))
      .withColumnRenamed("pos", "cell").withColumnRenamed("col", "cdist")
      .withColumn("crank", row_number().over(wCells))
      .filter(col("crank") <= nProbe)
      .select(col("qid"), col("qe"), col("cell"))
    assigned.join(broadcast(queryCells), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
  }

  // ---------------------------------------------- oracle fit replays
  /** DuckDB CTE chains replaying the two ingest fits (see
    * IntKMeans.fitCtes): `iv` ends in ivcb (m=0, cell, e) + ivcells;
    * `pq` ends in pqcb (m, cell, e) + pqcells. */
  private def ivfFitCtes: Seq[String] =
    (s"ivq AS MATERIALIZED (SELECT vec_id, 0 AS m, " +
      s"list_transform(CAST(embedding AS DOUBLE[]), ${IntKMeans.sqlQuant}) " +
      s"AS e FROM embeddings)") +:
      IntKMeans.fitCtes("iv", "ivq", NList, LloydRounds, Dim)

  private def pqFitCtes: Seq[String] =
    (s"pvq AS MATERIALIZED (SELECT vec_id, t.m, " +
      s"list_transform(CAST(embedding AS DOUBLE[])" +
      s"[t.m*$PqSubDim+1 : t.m*$PqSubDim+$PqSubDim], " +
      s"${IntKMeans.sqlQuant}) AS e FROM embeddings, " +
      s"generate_series(0, ${PqM - 1}) t(m))") +:
      IntKMeans.fitCtes("pq", "pvq", PqK, LloydRounds, PqSubDim)

  /** The query-side probe ranking: each query's cells ordered by exact
    * integer distance, ties to the lowest cell. */
  private def qcellsCte: String =
    "qcells AS MATERIALIZED (SELECT qid, cell, crank FROM (SELECT " +
      "q.vec_id AS qid, c.cell, row_number() OVER (PARTITION BY " +
      "q.vec_id ORDER BY list_sum(list_transform(list_zip(q.e, c.e), " +
      "p -> (p[1]-p[2])*(p[1]-p[2]))), c.cell) AS crank FROM ivq q " +
      s"JOIN ivcb c ON c.m = 0 WHERE q.vec_id < $NQueries))"

  /** The PQ query-side: per-query integer ADC LUT as (qid, m, code, d)
    * rows, replaying PqLutInt. */
  private def qlutCtes: Seq[String] = Seq(
    s"q AS MATERIALIZED (SELECT vec_id AS qid, CAST(embedding AS " +
      s"DOUBLE[]) AS qe FROM embeddings WHERE vec_id < $NQueries)",
    s"qsub AS MATERIALIZED (SELECT q.qid, t.m, list_transform(" +
      s"q.qe[t.m*$PqSubDim+1 : t.m*$PqSubDim+$PqSubDim], " +
      s"${IntKMeans.sqlQuant}) AS e FROM q, " +
      s"generate_series(0, ${PqM - 1}) t(m))",
    "lut AS MATERIALIZED (SELECT s.qid, cb.m, cb.cell AS code, " +
      "list_sum(list_transform(list_zip(s.e, cb.e), " +
      "p -> (p[1]-p[2])*(p[1]-p[2]))) AS d FROM qsub s JOIN pqcb cb " +
      "ON cb.m = s.m)")

  /** IVF ANN, nprobe=4. FULLY ORACLE-CHECKED (round 11): the coarse
    * quantizer is the deterministic integer k-means, so the oracle
    * replays the fit itself (IntKMeans.fitCtes — Gonzalez init + 3
    * exact-integer Lloyd rounds as unrolled CTEs), rebuilds the cells,
    * probes, and re-ranks. The s22/s02 replay techniques composed: the
    * fit is just one more deterministic recursion. */
  val s03IvfAnn = QueryDef(
    "s03_sim_ann_ivf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wRank = Window.partitionBy("qid").orderBy(col("sim_exact").desc, col("vec_id"))
      ivfCandidates(s, d, nProbe = 4)
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("vec_id"), r4(col("sim_exact")).as("sim"))
        .orderBy("qid", "rank")
    },
    Some("WITH " + (ivfFitCtes :+ qcellsCte).mkString(",\n") + s""",
         |cand AS (SELECT qc.qid, v.vec_id FROM qcells qc
         |  JOIN ivcells v ON v.cell = qc.cell AND qc.crank <= 4
         |  WHERE v.vec_id <> qc.qid),
         |scored AS (SELECT c.qid, c.vec_id,
         |    list_cosine_similarity(qv.qe, CAST(e2.embedding AS DOUBLE[]))
         |      AS sim_exact
         |  FROM cand c
         |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qe
         |        FROM embeddings) qv ON qv.vec_id = c.qid
         |  JOIN embeddings e2 ON e2.vec_id = c.vec_id),
         |ranked AS (SELECT qid, vec_id, sim_exact,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY sim_exact DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT qid, rank, vec_id, round(sim_exact, 4) AS sim
         |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------- s16
  /** Filtered vector search — predicate + similarity in one query, the
    * production retrieval shape ("nearest docs WHERE tenant/label/date
    * matches") every vector store special-cases: exact top-5 per query
    * among only the corpus vectors sharing the query's label. The
    * predicate composes into the candidate stream BEFORE ranking (label
    * equality rides the broadcast-join condition), so selective filters
    * SHRINK the scored set — post-filtering an unfiltered top-k, the
    * naive composition, both over-fetches and under-returns. Exact ⇒
    * fully oracle-checked; the bucketed variants (s02/s03/s13) carry
    * the same composition at ANN scale by adding the predicate to
    * their candidate equi-joins. */
  val s16FilteredSearch = QueryDef(
    "s16_filtered_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("qlabel"))
      val w = Window.partitionBy("qid").orderBy(col("sim_exact").desc, col("vec_id"))
      emb.join(broadcast(queries),
          col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id"), col("label"),
          r4(col("sim_exact")).as("sim"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
            |            label AS qlabel
            |           FROM embeddings WHERE vec_id < $NQueries),
            |sims AS (SELECT qid, vec_id, label,
            |    list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim_exact
            |  FROM q JOIN embeddings ON label = qlabel AND vec_id <> qid),
            |ranked AS (SELECT qid, vec_id, label, sim_exact,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY sim_exact DESC, vec_id) AS rank
            |  FROM sims)
            |SELECT qid, rank, vec_id, label, round(sim_exact, 4) AS sim
            |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------- s15
  /** IVF nprobe tuning sweep — the recall/cost table consulted BEFORE
    * fixing an ANN operating point: for nprobe ∈ {1, 2, 4, 8}, the
    * mean recall@10 against the exact brute-force top-k and the mean
    * fraction of the corpus actually scored. At 100 TB this table is
    * the difference between probing 1% and 25% of the index for the
    * same product requirement; computing it IN the engine (same scan,
    * same expressions) keeps the measurement honest. FULLY
    * ORACLE-CHECKED (round 11): the integer k-means fit is replayed by
    * the oracle, which then re-derives recall and scan fraction per
    * nprobe against its own exact top-k; RecallSpec keeps the
    * monotonicity + floor gates as quality (not correctness) checks. */
  val s15IvfSweep = QueryDef(
    "s15_ivf_nprobe_sweep",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val exact = s01BruteForceTopK.fn(s, d).select(col("qid"), col("vec_id"))
      val corpusN = Tables.rowCount(s, d, "embeddings").toDouble
      val wRank = Window.partitionBy("qid")
        .orderBy(col("sim_exact").desc, col("vec_id"))
      Seq(1, 2, 4, 8).map { np =>
        val cand = ivfCandidates(s, d, np)
        val nCand = cand.groupBy().agg(count(lit(1)).as("n_cand"))
        val hits = cand
          .withColumn("rank", row_number().over(wRank))
          .filter(col("rank") <= K)
          .join(exact, Seq("qid", "vec_id"))
          .agg(count(lit(1)).as("n_hit"))
        hits.crossJoin(nCand).select(
          lit(np).as("nprobe"),
          r4(col("n_hit").cast("double") / (NQueries * K)).as("mean_recall"),
          r6(col("n_cand").cast("double") / (NQueries * corpusN))
            .as("cand_frac"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    },
    Some("WITH " + (ivfFitCtes :+ qcellsCte).mkString(",\n") + s""",
         |q AS MATERIALIZED (SELECT vec_id AS qid,
         |    CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id < $NQueries),
         |exact AS MATERIALIZED (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e2.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_cosine_similarity(q.qe,
         |        CAST(e2.embedding AS DOUBLE[])) DESC, e2.vec_id) AS rank
         |  FROM q, embeddings e2 WHERE e2.vec_id <> q.qid)
         |  WHERE rank <= $K),
         |corpus AS (SELECT count(*) AS n FROM embeddings),
         |probes AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
         |cand AS MATERIALIZED (SELECT p.nprobe, qc.qid, v.vec_id,
         |    list_cosine_similarity(q.qe, CAST(e2.embedding AS DOUBLE[]))
         |      AS sim_exact
         |  FROM probes p
         |  JOIN qcells qc ON qc.crank <= p.nprobe
         |  JOIN ivcells v ON v.cell = qc.cell
         |  JOIN q ON q.qid = qc.qid
         |  JOIN embeddings e2 ON e2.vec_id = v.vec_id
         |  WHERE v.vec_id <> qc.qid),
         |ncand AS (SELECT nprobe, count(*) AS n_cand FROM cand
         |  GROUP BY nprobe),
         |hits AS (SELECT c.nprobe, count(*) AS n_hit FROM (
         |    SELECT nprobe, qid, vec_id, row_number() OVER (PARTITION BY
         |        nprobe, qid ORDER BY sim_exact DESC, vec_id) AS rank
         |    FROM cand) c
         |  JOIN exact x ON x.qid = c.qid AND x.vec_id = c.vec_id
         |  WHERE c.rank <= $K GROUP BY c.nprobe)
         |SELECT h.nprobe,
         |  round(CAST(h.n_hit AS DOUBLE) / ${NQueries * K}, 4)
         |    AS mean_recall,
         |  round(CAST(nc.n_cand AS DOUBLE)
         |    / ($NQueries * (SELECT n FROM corpus)), 6) AS cand_frac
         |FROM hits h JOIN ncand nc ON nc.nprobe = h.nprobe
         |ORDER BY h.nprobe""".stripMargin))

  // ------------------------------------------------------ PQ ANN
  /** Per-subspace PQ codebooks (m·k rows of subDim micro-unit integers,
    * row m·k + ki): subspaces 1..8 of the shared ANN fit (annFits). */
  private[graft] def pqCodebook(s: org.apache.spark.sql.SparkSession, d: String)
      : Seq[Seq[Long]] = annFits(s, d)._2

  /** Product-quantization ANN: corpus vectors are PQ-coded (8×4-bit — at
    * scale this code table is persisted at ingest, 32× smaller than the
    * floats, which is what lets the candidate scan touch every vector
    * cheaply); each query computes one ADC lookup table and scans codes
    * at `m` array lookups per candidate (no vector math), then the top
    * `rerank` ADC candidates are exactly re-ranked with the native
    * cosine. All three steps are native codegen expressions over EXACT
    * integer arithmetic (micro-unit grid — PqEncodeInt/PqLutInt/
    * PqAdcInt), so both the ingest fit and the ADC ranking are pure
    * functions of the data; candidates move through a broadcast of the
    * 5-row query set, never a shuffle of the corpus. FULLY
    * ORACLE-CHECKED (round 11): the oracle replays the codebook fit
    * (IntKMeans.fitCtes), the codes, the LUT, and the integer ADC
    * ranking; RecallSpec keeps the recall floor as a quality gate. */
  val s04PqAnn = QueryDef(
    "s04_sim_ann_pq",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val E = graft.expressions.VectorExpressions
      val rerank = 64
      val cb = pqCodebook(s, d)
      val emb = Tables.embeddings(s, d)
      val coded = emb.withColumn("codes",
        E.pqEncodeInt(col("embedding"), cb, PqM, PqK, PqSubDim,
          IntKMeans.Scale))
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .withColumn("lut", E.pqLutInt(col("qe"), cb, PqM, PqK, PqSubDim,
          IntKMeans.Scale))
      val wAdc = Window.partitionBy("qid").orderBy(col("adc"), col("vec_id"))
      val wRank = Window.partitionBy("qid").orderBy(col("sim_exact").desc, col("vec_id"))
      coded.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("adc", E.pqAdcInt(col("codes"), col("lut"), PqK))
        .withColumn("crank", row_number().over(wAdc))
        .filter(col("crank") <= rerank)
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("vec_id"), r4(col("sim_exact")).as("sim"))
        .orderBy("qid", "rank")
    },
    Some("WITH " + (pqFitCtes ++ qlutCtes).mkString(",\n") + s""",
         |adc AS MATERIALIZED (SELECT l.qid, pc.vec_id, sum(l.d) AS adc
         |  FROM pqcells pc JOIN lut l ON l.m = pc.m AND l.code = pc.cell
         |  WHERE pc.vec_id <> l.qid GROUP BY l.qid, pc.vec_id),
         |shortlist AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id)
         |      AS crank FROM adc) WHERE crank <= 64),
         |scored AS (SELECT sl.qid, sl.vec_id,
         |    list_cosine_similarity(q.qe, CAST(e2.embedding AS DOUBLE[]))
         |      AS sim_exact
         |  FROM shortlist sl JOIN q ON q.qid = sl.qid
         |  JOIN embeddings e2 ON e2.vec_id = sl.vec_id),
         |ranked AS (SELECT qid, vec_id, sim_exact,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY sim_exact DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT qid, rank, vec_id, round(sim_exact, 4) AS sim
         |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ------------------------------------------------------ IVF-PQ ANN
  /** Composed IVF + PQ: the production ANN shape (FAISS's IVFPQ) — the
    * coarse quantizer (s03's ingest-fitted k-means) prunes the corpus to
    * the query's nProbe cells via a bucket EQUI-join, then the 8×4-bit
    * PQ codes (s04's ingest-fitted codebooks) are ADC-scanned WITHIN
    * those cells only, and the top `rerank` candidates are exactly
    * re-ranked with the native cosine. s03 pays exact vector math on
    * every probed-cell member; s04 ADC-scans the whole corpus; this
    * pays ADC only inside probed cells and exact math only on the
    * rerank set — at 100 TB both the scan volume (cells/nlist of the
    * corpus) and the per-candidate cost (m table lookups) shrink
    * multiplicatively. Candidates move through a broadcast of the tiny
    * query set; the corpus never shuffles. FULLY ORACLE-CHECKED
    * (round 11): both ingest fits are the deterministic integer k-means,
    * so the oracle replays the coarse quantizer AND the codebooks, then
    * the probe/ADC/re-rank cascade; RecallSpec keeps the recall floors
    * as quality gates. */
  val s13IvfPqAnn = QueryDef(
    "s13_sim_ann_ivfpq",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val E = graft.expressions.VectorExpressions
      val nProbe = 4
      val rerank = 64
      val cents = ivfCentroids(s, d)
      val cb = pqCodebook(s, d)
      val emb = Tables.embeddings(s, d)
      // ingest-time layout: cell assignment + PQ codes per vector
      val assigned = emb.select(col("vec_id"), col("embedding"),
          element_at(E.pqEncodeInt(col("embedding"), cents, 1, NList, Dim,
            IntKMeans.Scale), 1).as("cell"),
          E.pqEncodeInt(col("embedding"), cb, PqM, PqK, PqSubDim,
            IntKMeans.Scale).as("codes"))
      val wCells = Window.partitionBy("qid").orderBy(col("cdist"), col("cell"))
      val queryCells = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          E.pqLutInt(col("embedding"), cb, PqM, PqK, PqSubDim,
            IntKMeans.Scale).as("lut"),
          posexplode(E.pqLutInt(col("embedding"), cents, 1, NList, Dim,
            IntKMeans.Scale)))
        .withColumnRenamed("pos", "cell").withColumnRenamed("col", "cdist")
        .withColumn("crank", row_number().over(wCells))
        .filter(col("crank") <= nProbe)
        .select(col("qid"), col("qe"), col("lut"), col("cell"))
      val wAdc = Window.partitionBy("qid").orderBy(col("adc"), col("vec_id"))
      val wRank = Window.partitionBy("qid")
        .orderBy(col("sim_exact").desc, col("vec_id"))
      assigned.join(broadcast(queryCells), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("adc", E.pqAdcInt(col("codes"), col("lut"), PqK))
        .withColumn("crank", row_number().over(wAdc))
        .filter(col("crank") <= rerank)
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("vec_id"),
          r4(col("sim_exact")).as("sim"))
        .orderBy("qid", "rank")
    },
    Some("WITH " + (ivfFitCtes ++ pqFitCtes ++ Seq(qcellsCte) ++ qlutCtes)
      .mkString(",\n") + s""",
         |cand AS MATERIALIZED (SELECT qc.qid, v.vec_id FROM qcells qc
         |  JOIN ivcells v ON v.cell = qc.cell AND qc.crank <= 4
         |  WHERE v.vec_id <> qc.qid),
         |adc AS MATERIALIZED (SELECT c.qid, c.vec_id, sum(l.d) AS adc
         |  FROM cand c JOIN pqcells pc ON pc.vec_id = c.vec_id
         |  JOIN lut l ON l.qid = c.qid AND l.m = pc.m AND l.code = pc.cell
         |  GROUP BY c.qid, c.vec_id),
         |shortlist AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id)
         |      AS crank FROM adc) WHERE crank <= 64),
         |scored AS (SELECT sl.qid, sl.vec_id,
         |    list_cosine_similarity(q.qe, CAST(e2.embedding AS DOUBLE[]))
         |      AS sim_exact
         |  FROM shortlist sl JOIN q ON q.qid = sl.qid
         |  JOIN embeddings e2 ON e2.vec_id = sl.vec_id),
         |ranked AS (SELECT qid, vec_id, sim_exact,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY sim_exact DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT qid, rank, vec_id, round(sim_exact, 4) AS sim
         |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ------------------------------------------------- Matryoshka eval
  /** Matryoshka truncation evaluation (MRL, Kusupati et al. 2022): rank
    * every query's top-k under the cosine of the FIRST 16 of 64
    * dimensions, carrying the full-dimension cosine of each result
    * alongside — the table that tells you what a 4× cheaper truncated
    * index costs in ranking quality before you commit to it (RecallSpec
    * pins the overlap against the full-dim s01 ranking).
    *
    * Deliberately the s01 brute-force shape: this is the small-SF EVAL
    * of a truncation decision, not the serving path — a production
    * deployment that adopts the truncation then serves it through
    * s02/s13 over the sliced vectors, whose plans are unchanged by
    * dimension count. */
  val s14MatryoshkaTopK = QueryDef(
    "s14_sim_matryoshka",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val TruncDim = 16
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid")
        .orderBy(col("sim_trunc").desc, col("vec_id"))
      emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim_trunc", V.cosine(
          slice(col("qe"), 1, TruncDim), slice(col("embedding"), 1, TruncDim)))
        .withColumn("sim_full", V.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("vec_id"),
          r4(col("sim_trunc")).as("sim_trunc"),
          r4(col("sim_full")).as("sim_full"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
            |           FROM embeddings WHERE vec_id < $NQueries),
            |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            |      FROM embeddings),
            |sims AS (SELECT qid, vec_id,
            |    list_cosine_similarity(qe[1:16], e[1:16]) AS sim_trunc,
            |    list_cosine_similarity(qe, e) AS sim_full
            |  FROM q, c WHERE vec_id <> qid),
            |ranked AS (SELECT qid, vec_id, sim_trunc, sim_full,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY sim_trunc DESC, vec_id) AS rank
            |  FROM sims)
            |SELECT qid, rank, vec_id, round(sim_trunc, 4) AS sim_trunc,
            |  round(sim_full, 4) AS sim_full
            |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------- s17
  private val sqStatsCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, String),
      (Seq[Double], Seq[Double])]
  IngestArtifacts.registerMemo(sqStatsCache)

  /** Per-dimension (lo, step) for 8-bit scalar quantization, fitted once
    * per corpus — an ingest artifact like the IVF/PQ models: one
    * posexplode min/max agg over the corpus, persisted as a 64-row
    * (pos, lo, hi) FLOAT table (IngestArtifacts) and read back exact —
    * parquet floats round-trip bit-identically, so the derived (lo,
    * step) doubles are the same whether computed from the corpus or the
    * table. step has a floor so a constant dimension quantizes to its
    * own value instead of dividing by zero. */
  private[graft] def sqStats(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[Double], Seq[Double]) =
    sqStatsCache.getOrElseUpdate(IngestArtifacts.memoKey(s, d), {
      val rows = IngestArtifacts.readOrCreate(s, d, "sq8_minmax.parquet") {
        Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
          .coalesce(1)
      }.orderBy("pos").collect()
      val los = rows.map(_.getAs[Float]("lo").toDouble).toSeq
      val steps = rows.map(r => math.max(
        (r.getAs[Float]("hi").toDouble - r.getAs[Float]("lo").toDouble) / 255,
        1e-30)).toSeq
      (los, steps)
    })

  /** 8-bit SCALAR quantization ANN (FAISS SQ8): each dimension maps to
    * one byte via the ingest-fitted per-dim (lo, step); candidates are
    * scored by asymmetric cosine — full-precision query against the
    * DEQUANTIZED corpus vector — then the top `rerank` re-rank exactly.
    * Completes the compression ladder: s04/s13's PQ is 32× smaller but
    * lossy-coarse; SQ8 is 4× smaller and nearly lossless, the default
    * first step production indexes take before PQ.
    *
    * Unlike the rest of the ANN family this one HASH-MATCHES a DuckDB
    * oracle: quantize→dequantize is pure elementwise IEEE arithmetic on
    * corpus stats (min/max — no k-means seed), so both engines compute
    * bit-identical codes; the codes column is genuinely array<tinyint>
    * (the 1-byte-per-dim artifact a 100 TB index persists at ingest —
    * the scan that serves this query never touches the floats except
    * for the rerank set).
    *
    * Scale shape: s04's — candidates move through a broadcast of the
    * 5-row query set, never a corpus shuffle; the ADC scan reads 64
    * bytes + 2 windows bound the rerank set. */
  val s17SqAnn = QueryDef(
    "s17_sim_ann_sq8",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rerank = 64
      val (los, steps) = sqStats(s, d)
      val loArr = typedLit(los)
      val stArr = typedLit(steps)
      val emb = Tables.embeddings(s, d)
      // ingest layout: 1-byte codes per dim (offset -128 into tinyint)
      val coded = emb.withColumn("codes",
        transform(col("embedding"), (x, i) =>
          (least(greatest(
            round((x - element_at(loArr, i + 1)) / element_at(stArr, i + 1)),
            lit(0.0)), lit(255.0)) - 128).cast("tinyint")))
      val deq = coded.withColumn("dq",
        transform(col("codes"), (c, i) =>
          element_at(loArr, i + 1) +
            (c.cast("double") + 128.0) * element_at(stArr, i + 1)))
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wAdc = Window.partitionBy("qid")
        .orderBy(col("sim_sq").desc, col("vec_id"))
      val wRank = Window.partitionBy("qid")
        .orderBy(col("sim_exact").desc, col("vec_id"))
      deq.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim_sq", V.cosine(col("qe"), col("dq")))
        .withColumn("crank", row_number().over(wAdc))
        .filter(col("crank") <= rerank)
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("vec_id"),
          r4(col("sim_sq")).as("sim_sq"), r4(col("sim_exact")).as("sim"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            |          FROM embeddings),
            |stats AS (SELECT i, min(e[i]) AS lo,
            |    greatest((max(e[i]) - min(e[i])) / 255, 1e-30) AS step
            |  FROM c, range(1, 65) t(i) GROUP BY i),
            |arrs AS (SELECT list(lo ORDER BY i) AS los,
            |    list(step ORDER BY i) AS steps FROM stats),
            |deq AS (SELECT vec_id, e,
            |    list_transform(range(1, 65), i -> los[i] +
            |      least(greatest(round((e[i] - los[i]) / steps[i]), 0), 255)
            |        * steps[i]) AS dq
            |  FROM c, arrs),
            |q AS (SELECT vec_id AS qid, e AS qe FROM c
            |      WHERE vec_id < $NQueries),
            |sims AS (SELECT qid, d.vec_id,
            |    list_cosine_similarity(qe, dq) AS sim_sq,
            |    list_cosine_similarity(qe, d.e) AS sim_exact
            |  FROM q, deq d WHERE d.vec_id <> qid),
            |cand AS (SELECT *, row_number() OVER (PARTITION BY qid
            |      ORDER BY sim_sq DESC, vec_id) AS crank FROM sims),
            |ranked AS (SELECT qid, vec_id, sim_sq, sim_exact,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY sim_exact DESC, vec_id) AS rank
            |  FROM cand WHERE crank <= 64)
            |SELECT qid, rank, vec_id, round(sim_sq, 4) AS sim_sq,
            |  round(sim_exact, 4) AS sim
            |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------- s05
  /** Per-label embedding centroids (the nearest-centroid classifier
    * prototype / k-means E-step building block), computed as
    * posexplode → (label, dim) hash-agg — the distributed formulation
    * (no per-label vector accumulation on the driver, no UDAF holding a
    * dim-length buffer per group in the agg hash map; row count after
    * explode is n·dim but each row is 20 bytes and combines map-side).
    * Emitted long-form (label, dim, centroid) — the shape the next
    * stage's equi-join wants. */
  val s05LabelCentroids = QueryDef(
    "s05_label_centroids",
    (s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("label"), (col("pos") + 1).as("dim"), col("v"))
        .groupBy("label", "dim")
        .agg(graft.functions.Rounding.r6(avg("v")).as("centroid"))
        .orderBy("label", "dim")
    },
    Some("""SELECT label, CAST(pos AS INT) AS dim, round(avg(v), 6) AS centroid
           |FROM (
           |  SELECT label, unnest(embedding) AS v,
           |         unnest(range(1, len(embedding)+1)) AS pos
           |  FROM embeddings)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // ---------------------------------------------------------------- s06
  /** Cluster cohesion: mean cosine of each vector to its own label
    * centroid — the per-class compactness score that monitors embedding
    * drift / label quality. Reassembles s05's long-form centroids into
    * arrays (sort_array over collected (dim, value) structs — a
    * label-cardinality-sized group, NOT a per-row operation), broadcasts
    * the 10-row centroid table, and scores every vector with the native
    * codegen cosine in one pass. */
  val s06ClusterCohesion = QueryDef(
    "s06_cluster_cohesion",
    (s, d) => {
      val centroids = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(avg("v").as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("centroid"))
      Tables.embeddings(s, d)
        .join(broadcast(centroids), Seq("label"))
        .select(col("label"),
          V.cosine(col("embedding"), col("centroid")).as("cos"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), r4(avg("cos")).as("cohesion"))
        .orderBy("label")
    },
    Some("""WITH c AS (
           |  SELECT label, pos, avg(v) AS c FROM (
           |    SELECT label, unnest(embedding) AS v,
           |           unnest(range(1, len(embedding)+1)) AS pos
           |    FROM embeddings)
           |  GROUP BY 1, 2),
           |centroids AS (
           |  SELECT label, list(c ORDER BY pos) AS centroid FROM c GROUP BY 1)
           |SELECT e.label, CAST(count(*) AS BIGINT) AS n,
           |  round(avg(list_cosine_similarity(
           |    CAST(e.embedding AS DOUBLE[]), centroid)), 4) AS cohesion
           |FROM embeddings e JOIN centroids USING (label)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- s07
  /** Centroid outliers: the 5 vectors per label farthest from their own
    * label centroid (lowest cosine), with a per-label z-score of that
    * cosine — the mislabeled-example / embedding-drift detector that
    * runs after every ingest batch.
    *
    * Parity note: the centroid components are rounded to 6 decimals
    * BEFORE the cosine (both engines), so the cosine inputs — and hence
    * the ranking keys — are bit-identical across engines; the ordering
    * can't flip on last-ulp noise from aggregation order. The z-score's
    * mean/stddev are engine-summed (ulp-noisy) but only surface through
    * round(·,4).
    *
    * Scale shape: centroids are a label-cardinality table (broadcast);
    * scoring is one codegen'd pass over the corpus; the per-label stats
    * are a second tiny broadcast; the top-5 filter is one row_number
    * window partitioned by label. Nothing here is O(n²) and the corpus
    * is shuffled once (by label, for the window). */
  val s07CentroidOutliers = QueryDef(
    "s07_centroid_outliers",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val centroids = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(graft.functions.Rounding.r6(avg("v")).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("centroid"))
      val scored = Tables.embeddings(s, d)
        .join(broadcast(centroids), Seq("label"))
        .select(col("label"), col("vec_id"),
          V.cosine(col("embedding"), col("centroid")).as("cos"))
      val stats = scored.groupBy("label")
        .agg(avg("cos").as("mu"), stddev_samp(col("cos")).as("sd"))
      val w = Window.partitionBy("label").orderBy(col("cos").asc, col("vec_id").asc)
      scored.join(broadcast(stats), Seq("label"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("label"), col("rank"), col("vec_id"),
          r4(col("cos")).as("cos"),
          r4((col("cos") - col("mu")) / col("sd")).as("z"))
        .orderBy("label", "rank")
    },
    Some("""WITH comp AS (
           |  SELECT label, pos, round(avg(v) * 1000000) / 1000000 AS c FROM (
           |    SELECT label, unnest(embedding) AS v,
           |           unnest(range(1, len(embedding)+1)) AS pos
           |    FROM embeddings)
           |  GROUP BY 1, 2),
           |centroids AS (
           |  SELECT label, list(c ORDER BY pos) AS centroid FROM comp GROUP BY 1),
           |scored AS (
           |  SELECT e.label, e.vec_id,
           |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), centroid)
           |      AS cos
           |  FROM embeddings e JOIN centroids USING (label)),
           |stats AS (
           |  SELECT label, avg(cos) AS mu, stddev_samp(cos) AS sd
           |  FROM scored GROUP BY 1),
           |ranked AS (
           |  SELECT s.label, s.vec_id, s.cos, t.mu, t.sd,
           |    row_number() OVER (PARTITION BY s.label
           |                       ORDER BY s.cos ASC, s.vec_id ASC) AS rank
           |  FROM scored s JOIN stats t USING (label))
           |SELECT label, CAST(rank AS INT) AS rank, vec_id,
           |  round(cos * 10000) / 10000 AS cos,
           |  round((cos - mu) / sd * 10000) / 10000 AS z
           |FROM ranked WHERE rank <= 5 ORDER BY label, rank""".stripMargin))

  // ------------------------------------------------------ MMR rerank
  /** Diversified top-k via Maximal Marginal Relevance: per query, take
    * the exact top-C (C = 50) cosine candidates (the s01 shape), then
    * greedily select k = 10 maximizing λ·rel − (1−λ)·max-sim-to-selected
    * (λ = 0.7, ties → lower vec_id) — the rerank that keeps a retrieval
    * page or a few-shot example set from filling up with near-duplicates
    * of the best hit. The greedy argmax is inherently sequential in k,
    * so it runs as a per-query flatMapGroups over the LOCAL candidate
    * list — O(k·C) cosines per query, never a cross-candidate shuffle.
    *
    * Scale shape: candidate generation is the broadcast-query window
    * scan (or s02's LSH path when the corpus side must shrink); the MMR
    * stage's state is the ≤ C candidate vectors per query — bounded by
    * construction, parallel across queries. FULLY ORACLE-CHECKED
    * (round 10): the greedy is deterministic given the candidate set,
    * so the DuckDB oracle unrolls all 10 selection steps over a
    * materialized candidate-pair cosine matrix and hash-matches;
    * RecallSpec still gates top-1 agreement with s01, candidate
    * containment, diversity gain vs the plain top-k, and determinism
    * across runs. */
  val s08MmrTopK = QueryDef(
    "s08_sim_mmr",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val C = 50
      val lambda = 0.7
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("rel").desc, col("vec_id"))
      val cand = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rel", V.cosine(col("qe"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= C)
        .select(col("qid").cast("long").as("qid"), col("vec_id"),
          col("rel"), col("embedding"))
        .as[(Long, Long, Double, Array[Float])]
      cand.groupByKey(_._1).flatMapGroups { (qid, it) =>
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
            nb += b(i).toDouble * b(i); i += 1
          }
          dot / math.sqrt(na * nb)
        }
        val remaining = scala.collection.mutable.ArrayBuffer.from(
          it.toArray.sortBy(c => (-c._3, c._2)))
        val selEmb = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double, Double)]
        while (out.length < K && remaining.nonEmpty) {
          var bestIdx = -1; var bestScore = Double.NegativeInfinity
          var bestId = Long.MaxValue
          remaining.zipWithIndex.foreach { case ((_, id, rel, e), idx) =>
            val maxSim = if (selEmb.isEmpty) 0.0
              else selEmb.map(se => cos(se, e)).max
            val score = lambda * rel - (1 - lambda) * maxSim
            if (score > bestScore || (score == bestScore && id < bestId)) {
              bestScore = score; bestIdx = idx; bestId = id
            }
          }
          val (_, id, rel, e) = remaining.remove(bestIdx)
          selEmb += e
          out += ((qid, out.length + 1, id, rel, bestScore))
        }
        out.iterator
      }.toDF("qid", "rank", "vec_id", "rel", "mmr")
        .select(col("qid"), col("rank"), col("vec_id"),
          r4(col("rel")).as("sim"), r4(col("mmr")).as("mmr_score"))
        .orderBy("qid", "rank")
    },
    // the greedy unrolls: a 50x50 per-query cosine matrix once, then 10
    // argmax steps, each ranking remaining candidates by
    // 0.7*rel - (1-0.7)*maxSim-to-selected. (1e0 - 0.7e0) is deliberate:
    // Scala's 1 - 0.7 is 0.30000000000000004, and a 0.3 literal would
    // diverge in the 17th digit of every score
    Some("""WITH q AS MATERIALIZED (
           |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           |  FROM embeddings WHERE vec_id < 5),
           |cand AS MATERIALIZED (
           |  SELECT qid, vec_id, rel FROM (
           |    SELECT q.qid, e.vec_id,
           |      list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS rel,
           |      row_number() OVER (PARTITION BY q.qid
           |        ORDER BY list_cosine_similarity(q.qe,
           |          CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rnk
           |    FROM q JOIN embeddings e ON e.vec_id <> q.qid)
           |  WHERE rnk <= 50),
           |candcos AS MATERIALIZED (
           |  SELECT a.qid, a.vec_id AS a_id, b.vec_id AS b_id,
           |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
           |      CAST(eb.embedding AS DOUBLE[])) AS sim
           |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id
           |  JOIN embeddings ea ON ea.vec_id = a.vec_id
           |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
           |sel1 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, 0.7e0 * rel AS score, 1 AS rank FROM (
           |    SELECT qid, vec_id, rel,
           |      row_number() OVER (PARTITION BY qid
           |        ORDER BY 0.7e0 * rel DESC, vec_id) AS r
           |    FROM cand) WHERE r = 1),
           |prev2 AS MATERIALIZED (SELECT qid, vec_id FROM sel1),
           |sel2 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 2 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev2 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev2 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1),
           |prev3 AS MATERIALIZED (SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2),
           |sel3 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 3 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev3 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev3 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1),
           |prev4 AS MATERIALIZED (SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2 UNION ALL SELECT qid, vec_id FROM sel3),
           |sel4 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 4 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev4 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev4 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1),
           |prev5 AS MATERIALIZED (SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2 UNION ALL SELECT qid, vec_id FROM sel3 UNION ALL SELECT qid, vec_id FROM sel4),
           |sel5 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 5 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev5 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev5 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1),
           |prev6 AS MATERIALIZED (SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2 UNION ALL SELECT qid, vec_id FROM sel3 UNION ALL SELECT qid, vec_id FROM sel4 UNION ALL SELECT qid, vec_id FROM sel5),
           |sel6 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 6 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev6 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev6 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1),
           |prev7 AS MATERIALIZED (SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2 UNION ALL SELECT qid, vec_id FROM sel3 UNION ALL SELECT qid, vec_id FROM sel4 UNION ALL SELECT qid, vec_id FROM sel5 UNION ALL SELECT qid, vec_id FROM sel6),
           |sel7 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 7 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev7 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev7 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1),
           |prev8 AS MATERIALIZED (SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2 UNION ALL SELECT qid, vec_id FROM sel3 UNION ALL SELECT qid, vec_id FROM sel4 UNION ALL SELECT qid, vec_id FROM sel5 UNION ALL SELECT qid, vec_id FROM sel6 UNION ALL SELECT qid, vec_id FROM sel7),
           |sel8 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 8 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev8 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev8 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1),
           |prev9 AS MATERIALIZED (SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2 UNION ALL SELECT qid, vec_id FROM sel3 UNION ALL SELECT qid, vec_id FROM sel4 UNION ALL SELECT qid, vec_id FROM sel5 UNION ALL SELECT qid, vec_id FROM sel6 UNION ALL SELECT qid, vec_id FROM sel7 UNION ALL SELECT qid, vec_id FROM sel8),
           |sel9 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 9 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev9 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev9 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1),
           |prev10 AS MATERIALIZED (SELECT qid, vec_id FROM sel1 UNION ALL SELECT qid, vec_id FROM sel2 UNION ALL SELECT qid, vec_id FROM sel3 UNION ALL SELECT qid, vec_id FROM sel4 UNION ALL SELECT qid, vec_id FROM sel5 UNION ALL SELECT qid, vec_id FROM sel6 UNION ALL SELECT qid, vec_id FROM sel7 UNION ALL SELECT qid, vec_id FROM sel8 UNION ALL SELECT qid, vec_id FROM sel9),
           |sel10 AS MATERIALIZED (
           |  SELECT qid, vec_id, rel, score, 10 AS rank FROM (
           |    SELECT c.qid, c.vec_id, c.rel,
           |      0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) AS score,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY 0.7e0 * c.rel - (1e0 - 0.7e0) * max(cc.sim) DESC,
           |          c.vec_id) AS r
           |    FROM cand c
           |    JOIN prev10 p ON p.qid = c.qid
           |    JOIN candcos cc ON cc.qid = c.qid AND cc.a_id = c.vec_id
           |      AND cc.b_id = p.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev10 p2
           |      WHERE p2.qid = c.qid AND p2.vec_id = c.vec_id)
           |    GROUP BY c.qid, c.vec_id, c.rel) WHERE r = 1)
           |SELECT qid, CAST(rank AS INT) AS rank, vec_id,
           |  round(rel, 4) AS sim, round(score, 4) AS mmr_score
           |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2 UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4 UNION ALL SELECT * FROM sel5 UNION ALL SELECT * FROM sel6 UNION ALL SELECT * FROM sel7 UNION ALL SELECT * FROM sel8 UNION ALL SELECT * FROM sel9 UNION ALL SELECT * FROM sel10) ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------- s09
  /** k-nearest-neighbor graph over the corpus — the structure
    * cluster-based curation (SemDeDup-style semantic dedup, diversity
    * filtering, graph-walk sampling) consumes. Candidates come from the
    * d08 banded-SRP tables (equi-joins only, never all-pairs),
    * symmetrized, exactly cosine-scored, and each vector keeps its top-3
    * neighbors by (r4-rounded cosine desc, neighbor id) — the rounded
    * key makes the cut deterministic cross-run. `mutual` marks edges
    * whose reverse also survived — the mutual-kNN subgraph is the usual
    * high-precision clustering substrate.
    *
    * Scale shape: candidate generation is d08's (subquadratic,
    * stats-scaled bits); ranking is one window on the HIGH-cardinality
    * vec id; mutuality is a self equi-join on the kNN edge list (≤ 3n
    * rows). FULLY ORACLE-CHECKED (round 10): the d08 LCG plane replay
    * extends through the symmetrize→rank→mutual-join pipeline, so the
    * whole graph construction hash-matches in DuckDB; RecallSpec still
    * gates structure: ≤ k ranked edges per vector, non-increasing
    * cosine, symmetric mutual flags. */
  val s09KnnGraph = QueryDef(
    "s09_knn_graph",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.bucketedPairs(Tables.embeddings(s, d), 0.2)
      val sym = pairs
        .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"), col("cos"))
        .unionByName(pairs
          .select(col("b_id").as("vec_id"), col("a_id").as("neighbor_id"), col("cos")))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      val knn = sym.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
      val rev = knn.select(col("neighbor_id").as("vec_id"),
        col("vec_id").as("neighbor_id"), lit(1).as("m"))
      knn.join(rev, Seq("vec_id", "neighbor_id"), "left")
        .select(col("vec_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"), col("cos"),
          coalesce(col("m"), lit(0)).as("mutual"))
        .orderBy("vec_id", "rank")
    },
    // d08's seed-42 LCG plane replay (see d08PairsBucketed) extended
    // through the kNN construction: symmetrize the verified pairs,
    // rank top-3 per node, left-join the reverse edge for mutuality
    Some("""WITH RECURSIVE
           |cfg AS (SELECT CAST(least(20, greatest(4,
           |    ceil(log2(greatest((SELECT count(*) FROM embeddings), 16)
           |      / 8.0e0)))) AS INT) AS bits),
           |lcg(i, s) AS (
           |  SELECT 0, CAST(xor(42, 25214903917) AS BIGINT)
           |  UNION ALL
           |  SELECT i+1, CAST((CAST(s AS HUGEINT) * 25214903917 + 11)
           |    % 281474976710656 AS BIGINT)
           |  FROM lcg WHERE i < 16 * 20 * 64),
           |signs AS (
           |  SELECT (i-1) // 64 AS q, (i-1) % 64 AS j,
           |    CASE WHEN ((s >> 47) & 1) = 1 THEN 1.0e0 ELSE -1.0e0 END AS sgn
           |  FROM lcg, cfg WHERE i >= 1 AND (i-1) // 64 < 16 * cfg.bits),
           |planes AS MATERIALIZED (SELECT q, list(sgn ORDER BY j) AS pl
           |                        FROM signs GROUP BY q),
           |bands AS MATERIALIZED (
           |  SELECT e.vec_id, CAST(p.q // cfg.bits AS INT) AS t,
           |    CAST(SUM(CASE WHEN list_dot_product(
           |        CAST(e.embedding AS DOUBLE[]), p.pl) >= 0
           |      THEN (CAST(1 AS BIGINT) << CAST(p.q % cfg.bits AS INT))
           |      ELSE 0 END) AS BIGINT) AS h
           |  FROM embeddings e CROSS JOIN planes p CROSS JOIN cfg
           |  GROUP BY 1, 2),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
           |  FROM bands x JOIN bands y
           |    ON x.t = y.t AND x.h = y.h AND x.vec_id < y.vec_id),
           |pairs AS MATERIALIZED (
           |  SELECT a_id, b_id, round(cos_exact, 4) AS cos FROM (
           |    SELECT c.a_id, c.b_id,
           |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |        CAST(b.embedding AS DOUBLE[])) AS cos_exact
           |    FROM cand c
           |    JOIN embeddings a ON a.vec_id = c.a_id
           |    JOIN embeddings b ON b.vec_id = c.b_id)
           |  WHERE cos_exact >= 0.2e0),
           |sym AS (
           |  SELECT a_id AS vec_id, b_id AS neighbor_id, cos FROM pairs
           |  UNION ALL
           |  SELECT b_id AS vec_id, a_id AS neighbor_id, cos FROM pairs),
           |k3 AS MATERIALIZED (
           |  SELECT vec_id, neighbor_id, cos, rank FROM (
           |    SELECT vec_id, neighbor_id, cos,
           |      row_number() OVER (PARTITION BY vec_id
           |        ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM sym) WHERE rank <= 3)
           |SELECT k.vec_id, CAST(k.rank AS INT) AS rank, k.neighbor_id,
           |  k.cos,
           |  CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END AS mutual
           |FROM k3 k LEFT JOIN k3 r
           |  ON r.vec_id = k.neighbor_id AND r.neighbor_id = k.vec_id
           |ORDER BY k.vec_id, k.rank""".stripMargin))

  // ------------------------------------------------------ radius search
  /** Radius (range) similarity search — "everything within cosine τ of
    * the query set", the retrieval mode dedup audits and
    * recall-with-guarantee lookups use where top-k's fixed cutoff is
    * wrong (k misses ties at the boundary, returns junk when nothing is
    * close). τ = 0.25 against the 5-query set; per-hit rank by
    * similarity within each query for a deterministic presentation
    * order.
    *
    * Scale shape: broadcast query set + one codegen'd cosine scan with
    * the threshold fused into the filter (no window, no sort until the
    * ≤hits-sized output) — the exact oracle twin; at corpus scale the
    * probe side swaps to d08's banded-SRP candidates exactly as top-k
    * does, since radius τ lower-bounds the SRP collision probability. */
  val s10RadiusSearch = QueryDef(
    "s10_sim_radius",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("sim_exact").desc, col("vec_id"))
      emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .filter(col("sim_exact") >= 0.25)
        .withColumn("rank", row_number().over(w))
        .select(col("qid"), col("rank"), col("vec_id"),
          r4(col("sim_exact")).as("sim"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
            |           FROM embeddings WHERE vec_id < $NQueries),
            |sims AS (SELECT qid, vec_id,
            |    list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim_exact
            |  FROM q, embeddings WHERE vec_id <> qid),
            |hits AS (SELECT qid, vec_id, sim_exact,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY sim_exact DESC, vec_id) AS rank
            |  FROM sims WHERE sim_exact >= 0.25)
            |SELECT qid, rank, vec_id, round(sim_exact, 4) AS sim
            |FROM hits ORDER BY qid, rank""".stripMargin))

  // ------------------------------------------------------ hybrid RRF
  /** Hybrid retrieval via reciprocal-rank fusion: production retrieval
    * stacks run BOTH a vector index and a lexical index and fuse the two
    * rankings — RRF (Cormack et al., score-free fusion) is the standard:
    * fused(q,c) = 1/(60+rank_vec) + 1/(60+rank_lex). The corpus-wide
    * cosine ranking covers every candidate, so fusion is a left join and
    * a candidate missing from the lexical list keeps only its vector
    * term. The embeddings/documents tables share the 0..N id space, so
    * query i's text is documents.doc_id = i.
    *
    * Scale shape: the vector rank is s01's broadcast-query scan; the
    * lexical rank is a d05-style posting-list equi-join on token against
    * the broadcast 5-doc query token set (work ∝ actual collisions, no
    * all-pairs); each ranking and the fused top-10 window on qid —
    * per-query parallelism throughout. */
  val s11HybridRrf = QueryDef(
    "s11_hybrid_rrf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val RrfK = 60
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wv = Window.partitionBy("qid")
        .orderBy(col("sim_exact").desc, col("vec_id"))
      val vecRank = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .withColumn("rv", row_number().over(wv))
        .select(col("qid"), col("vec_id").as("id"), col("rv"))
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(T.tokens(col("text")))).as("tok"))
      val qtoks = toks.filter(col("doc_id") < NQueries)
        .select(col("doc_id").as("qid"), col("tok"))
      val sharedToks = toks.join(broadcast(qtoks), Seq("tok"))
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id").as("id"))
        .agg(count(lit(1)).as("shared"))
      val wl = Window.partitionBy("qid").orderBy(col("shared").desc, col("id"))
      val lexRank = sharedToks.withColumn("rl", row_number().over(wl))
        .select(col("qid"), col("id"), col("rl"))
      val wf = Window.partitionBy("qid")
        .orderBy(col("rrf_score").desc, col("id"))
      vecRank.join(lexRank, Seq("qid", "id"), "left")
        .withColumn("rrf_score",
          lit(1.0) / (lit(RrfK) + col("rv")) +
            coalesce(lit(1.0) / (lit(RrfK) + col("rl")), lit(0.0)))
        .withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("id"), col("rv"), col("rl"),
          r4(col("rrf_score")).as("rrf"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
            |           FROM embeddings WHERE vec_id < $NQueries),
            |v AS (SELECT qid, vec_id AS id,
            |    row_number() OVER (PARTITION BY qid ORDER BY
            |      list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) DESC,
            |      vec_id) AS rv
            |  FROM q, embeddings WHERE vec_id <> qid),
            |toks AS (SELECT DISTINCT doc_id, tok FROM (
            |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            |  FROM documents)),
            |sh AS (SELECT qt.doc_id AS qid, t.doc_id AS id,
            |    CAST(count(*) AS BIGINT) AS shared
            |  FROM toks t JOIN toks qt
            |    ON t.tok = qt.tok AND qt.doc_id < $NQueries
            |  WHERE t.doc_id <> qt.doc_id GROUP BY 1, 2),
            |l AS (SELECT qid, id,
            |    row_number() OVER (PARTITION BY qid ORDER BY shared DESC, id) AS rl
            |  FROM sh),
            |f AS (SELECT v.qid, v.id, rv, rl,
            |    1 / CAST(60 + rv AS DOUBLE) +
            |      coalesce(1 / CAST(60 + rl AS DOUBLE), 0) AS rrf_score
            |  FROM v LEFT JOIN l ON v.qid = l.qid AND v.id = l.id),
            |r AS (SELECT qid, id, rv, rl, rrf_score,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY rrf_score DESC, id) AS rank
            |  FROM f)
            |SELECT qid, rank, id, rv, rl, round(rrf_score, 4) AS rrf
            |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ------------------------------------------------------ drift report
  /** Embedding-distribution drift between two deterministic corpus
    * halves (md5 split of vec_id — the house q46/x02 sampling
    * convention): per label, the half sizes plus the cosine and L2
    * distance between the halves' centroids. The monitoring table an
    * embedding pipeline watches across ingest batches — centroid
    * movement means the upstream encoder or corpus mix shifted.
    * Centroid components are 6dp-rounded BEFORE the distance math
    * (s07's bit-parity trick) so both engines compare identical keys.
    *
    * Scale shape: one posexplode hash-agg on (label, half, dim) with
    * map-side combine, then all remaining work is over the
    * labels×dims-bounded centroid table — corpus-sized data crosses
    * exactly one exchange. */
  val s12EmbeddingDrift = QueryDef(
    "s12_embedding_drift",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("half",
          when(substring(md5(col("vec_id").cast("string")), 1, 1) < "8", "a")
            .otherwise("b"))
      val cent = emb
        .select(col("label"), col("half"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "half", "pos")
        .agg(r6(avg("v")).as("c"))
      val a = cent.filter(col("half") === "a")
        .select(col("label"), col("pos"), col("c").as("ca"))
      val b = cent.filter(col("half") === "b")
        .select(col("label"), col("pos"), col("c").as("cb"))
      val stats = a.join(b, Seq("label", "pos"))
        .groupBy("label")
        .agg(sum(col("ca") * col("cb")).as("dot"),
          sum(col("ca") * col("ca")).as("na"),
          sum(col("cb") * col("cb")).as("nb"),
          sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("d2"))
      val counts = emb.groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("half") === "a", 1).otherwise(0)).as("n_a"))
      counts.join(stats, "label")
        .select(col("label"), col("n_a"), (col("n") - col("n_a")).as("n_b"),
          r6(col("dot") / sqrt(col("na") * col("nb"))).as("centroid_cos"),
          r6(sqrt(col("d2"))).as("centroid_l2"))
        .orderBy("label")
    },
    Some("""WITH h AS (SELECT label,
           |    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
           |      THEN 'a' ELSE 'b' END AS half, embedding
           |  FROM embeddings),
           |lng AS (SELECT label, half,
           |    unnest(range(1, len(embedding)+1)) AS pos,
           |    unnest(embedding) AS v FROM h),
           |cent AS (SELECT label, half, pos, round(avg(v), 6) AS c
           |  FROM lng GROUP BY 1, 2, 3),
           |j AS (SELECT a.label, a.c AS ca, b.c AS cb
           |  FROM cent a JOIN cent b
           |    ON a.label = b.label AND a.pos = b.pos
           |   AND a.half = 'a' AND b.half = 'b'),
           |st AS (SELECT label, sum(ca*cb) AS dot, sum(ca*ca) AS na,
           |    sum(cb*cb) AS nb, sum((ca-cb)*(ca-cb)) AS d2
           |  FROM j GROUP BY 1),
           |cn AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a
           |  FROM h GROUP BY 1)
           |SELECT cn.label, n_a, n - n_a AS n_b,
           |  round(dot / sqrt(na * nb), 6) AS centroid_cos,
           |  round(sqrt(d2), 6) AS centroid_l2
           |FROM cn JOIN st ON cn.label = st.label ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- s18
  /** Embedding-integrity audit — the ingest gate the whole ANN family
    * (s01–s17, d06–d08) assumes has passed, the way q94's FK audit
    * certifies the star joins: per label, vector counts, dimension
    * consistency, zero-vector counts (cosine is undefined on them — any
    * nonzero count here is a data bug upstream), and the L2-norm
    * envelope that tells whether vectors arrive normalized.
    *
    * Scale shape: one pass, one map-side-combined hash-agg; the norm is
    * row-local double math and the mean norm sums exact integer
    * micro-units (the s12/x15 bit-parity trick), so the audit is
    * bit-stable across partitionings and engines. */
  val s18EmbeddingAudit = QueryDef(
    "s18_embedding_audit",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("norm", sqrt(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))))
        .withColumn("norm_micro",
          round(col("norm") * 1000000).cast("long"))
        .withColumn("dim", size(col("embedding")))
      emb.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min("dim").as("dim_min"), max("dim").as("dim_max"),
          sum(when(col("norm_micro") === 0L, 1L).otherwise(0L))
            .as("n_zero"),
          r6(min("norm")).as("min_norm"),
          r6(sum("norm_micro") / 1000000.0 / count(lit(1)))
            .as("avg_norm"),
          r6(max("norm")).as("max_norm"))
        .orderBy("label")
    },
    Some("""WITH e AS (
           |  SELECT label,
           |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
           |      x -> x * x))) AS norm,
           |    CAST(round(sqrt(list_sum(list_transform(
           |      CAST(embedding AS DOUBLE[]), x -> x * x))) * 1000000)
           |      AS BIGINT) AS norm_micro,
           |    len(embedding) AS dim
           |  FROM embeddings)
           |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           |  CAST(min(dim) AS INT) AS dim_min,
           |  CAST(max(dim) AS INT) AS dim_max,
           |  CAST(sum(CASE WHEN norm_micro = 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_zero,
           |  round(min(norm) * 1000000) / 1000000 AS min_norm,
           |  round(sum(norm_micro) / 1000000.0 / count(*) * 1000000)
           |    / 1000000 AS avg_norm,
           |  round(max(norm) * 1000000) / 1000000 AS max_norm
           |FROM e GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- s19
  /** Graph-walk ANN (the HNSW-family search shape, distributed): a
    * navigable kNN edge list is fitted at ingest (here: s09's banded-SRP
    * candidates, degree 8); each query enters at a bounded seed sample
    * scored exactly, then BeamHops rounds of expand-score-prune — join
    * the frontier to the edge list, exact-cosine the new nodes, keep the
    * Beam best per query — and the answer is the top-k of everything
    * visited.
    *
    * Scale shape: per hop ONE equi-join of the (queries × Beam)-sized
    * frontier against the n×degree edge list plus a window on qid —
    * never a corpus scan after the seed round; the seed sample is a
    * fixed-rate deterministic hash slice (a catalog parameter, √n-ish
    * in production). Frontier and visited sets are bounded by
    * queries × Beam × hops. FULLY ORACLE-CHECKED (round 10): the
    * plane-matrix LCG replay (d08), a SQL rendition of Spark's
    * Murmur3 hash for the seed slice, and the walk unrolled hop by
    * hop make the whole traversal hash-match in DuckDB; RecallSpec
    * still pins recall@10 vs s01 plus the structural gates. */
  /** The ingest-time navigable graph: symmetrized banded-SRP
    * candidates, top-`Degree` by exact cosine per node (s09's
    * construction, wider). Callers `Rounds.hold` the result: the walk's
    * plan references the edge list once per hop, and an unmaterialized
    * graph would be recomputed (bucketedPairs included) at every
    * reference — in production it IS a persisted artifact. */
  private def navGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Degree = 8
    val pairs = Dedup.bucketedPairs(Tables.embeddings(s, d), 0.2)
    val sym = pairs
      .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
        col("cos"))
      .unionByName(pairs.select(col("b_id").as("vec_id"),
        col("a_id").as("neighbor_id"), col("cos")))
    val wg = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    sym.withColumn("gr", row_number().over(wg))
      .filter(col("gr") <= Degree)
      .select(col("vec_id"), col("neighbor_id"))
  }

  /** Exact-scored entry points: the deterministic ~8% seed slice
    * scored against every query (beam-independent — a wider beam just
    * keeps more of the same ranking). */
  private def seedScoresDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    emb.filter(expr("pmod(hash(vec_id), 37) < 3"))
      .select(col("vec_id"))
      .crossJoin(queries.select("qid"))
      .join(emb, "vec_id")
      .join(broadcast(queries), "qid")
      .withColumn("sim", V.cosine(col("qe"), col("embedding")))
      .select(col("qid"), col("vec_id"), col("sim"))
  }

  /** The beam walk: seeds → `hops` × (edge-join, exact score, prune to
    * `beam` per query) → everything visited, ranked. Shared by s19
    * (fixed beam) and s20 (the beam sweep); `graph` arrives held, so it
    * is not recomputed per hop or per beam. */
  private def graphWalkVisited(s: org.apache.spark.sql.SparkSession,
      d: String, beam: Int, hops: Int,
      graph: org.apache.spark.sql.DataFrame,
      seedScores: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wq = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    def score(cand: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      cand.join(emb, "vec_id")
        .join(broadcast(queries), "qid")
        .withColumn("sim", V.cosine(col("qe"), col("embedding")))
        .select(col("qid"), col("vec_id"), col("sim"))
    var frontier = seedScores
      .withColumn("r", row_number().over(wq)).filter(col("r") <= beam)
      .select("qid", "vec_id", "sim")
    var visited = frontier
    for (_ <- 1 to hops) {
      val expand = frontier.join(graph, "vec_id")
        .select(col("qid"), col("neighbor_id").as("vec_id")).distinct()
      val scored = score(expand)
      visited = visited.unionByName(scored)
      frontier = scored
        .withColumn("r", row_number().over(wq)).filter(col("r") <= beam)
        .select("qid", "vec_id", "sim")
    }
    // ONE dedup at the end instead of per hop — same set (sim is a
    // pure function of the pair), three fewer shuffles per beam
    visited.dropDuplicates("qid", "vec_id")
  }

  val s19GraphWalk = QueryDef.checkpointed(
    "s19_graph_walk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wq = Window.partitionBy("qid")
        .orderBy(col("sim").desc, col("vec_id"))
      val graph = Rounds.hold(navGraph(s, d))
      val seeds = seedScoresDf(s, d)
      val res = graphWalkVisited(s, d, beam = 8, hops = 3, graph, seeds)
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"), col("vec_id"),
          r4(col("sim")).as("sim"))
        .orderBy("qid", "rank")
      (res, () => Rounds.release(graph))
    },
    // d08's seed-42 LCG plane replay builds the degree-8 nav graph;
    // the seed slice replays Spark's hash() (Murmur3 x86_32 of the
    // long, seed 42) as unrolled 32-bit wrapping arithmetic; the
    // 3-hop beam-8 walk unrolls as expand/score/prune CTE triples
    Some("""WITH RECURSIVE
           |cfg AS (SELECT CAST(least(20, greatest(4,
           |    ceil(log2(greatest((SELECT count(*) FROM embeddings), 16) / 8.0e0)))) AS INT) AS bits),
           |lcg(i, s) AS (
           |  SELECT 0, CAST(xor(42, 25214903917) AS BIGINT)
           |  UNION ALL
           |  SELECT i+1, CAST((CAST(s AS HUGEINT) * 25214903917 + 11) % 281474976710656 AS BIGINT)
           |  FROM lcg WHERE i < 16 * 20 * 64),
           |signs AS (
           |  SELECT (i-1) // 64 AS q, (i-1) % 64 AS j,
           |    CASE WHEN ((s >> 47) & 1) = 1 THEN 1.0e0 ELSE -1.0e0 END AS sgn
           |  FROM lcg, cfg WHERE i >= 1 AND (i-1) // 64 < 16 * cfg.bits),
           |planes AS MATERIALIZED (SELECT q, list(sgn ORDER BY j) AS pl FROM signs GROUP BY q),
           |bands AS MATERIALIZED (
           |  SELECT e.vec_id, CAST(p.q // cfg.bits AS INT) AS t,
           |    CAST(SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pl) >= 0
           |        THEN (CAST(1 AS BIGINT) << CAST(p.q % cfg.bits AS INT)) ELSE 0 END) AS BIGINT) AS h
           |  FROM embeddings e CROSS JOIN planes p CROSS JOIN cfg GROUP BY 1, 2),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
           |  FROM bands x JOIN bands y ON x.t = y.t AND x.h = y.h AND x.vec_id < y.vec_id),
           |pairs AS MATERIALIZED (
           |  SELECT a_id, b_id, round(cos_exact, 4) AS cos FROM (
           |    SELECT c.a_id, c.b_id,
           |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |        CAST(b.embedding AS DOUBLE[])) AS cos_exact
           |    FROM cand c
           |    JOIN embeddings a ON a.vec_id = c.a_id
           |    JOIN embeddings b ON b.vec_id = c.b_id)
           |  WHERE cos_exact >= 0.2e0),
           |sym AS (
           |  SELECT a_id AS vec_id, b_id AS neighbor_id, cos FROM pairs
           |  UNION ALL
           |  SELECT b_id AS vec_id, a_id AS neighbor_id, cos FROM pairs),
           |graph AS MATERIALIZED (
           |  SELECT vec_id, neighbor_id FROM (
           |    SELECT vec_id, neighbor_id,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS gr
           |    FROM sym) WHERE gr <= 8),
           |mh0 AS (SELECT vec_id,
           |  CAST(vec_id AS BIGINT) & 4294967295 AS lo,
           |  (CAST(vec_id AS BIGINT) >> 32) & 4294967295 AS hi FROM embeddings),
           |mk1a AS (SELECT vec_id, hi, CAST((CAST(lo AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS k FROM mh0),
           |mk1b AS (SELECT vec_id, hi, ((k << 15) | (k >> 17)) & 4294967295 AS k FROM mk1a),
           |mk1c AS (SELECT vec_id, hi, CAST((CAST(k AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k FROM mk1b),
           |mha AS (SELECT vec_id, hi, xor(42, k) AS h FROM mk1c),
           |mhb AS (SELECT vec_id, hi, ((h << 13) | (h >> 19)) & 4294967295 AS h FROM mha),
           |mhc AS (SELECT vec_id, hi, CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM mhb),
           |mk2a AS (SELECT vec_id, h, CAST((CAST(hi AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS k FROM mhc),
           |mk2b AS (SELECT vec_id, h, ((k << 15) | (k >> 17)) & 4294967295 AS k FROM mk2a),
           |mk2c AS (SELECT vec_id, h, CAST((CAST(k AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k FROM mk2b),
           |mh2a AS (SELECT vec_id, xor(h, k) AS h FROM mk2c),
           |mh2b AS (SELECT vec_id, ((h << 13) | (h >> 19)) & 4294967295 AS h FROM mh2a),
           |mh2c AS (SELECT vec_id, CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM mh2b),
           |mf1 AS (SELECT vec_id, xor(xor(h, 8), xor(h, 8) >> 16) AS h FROM mh2c),
           |mf2 AS (SELECT vec_id, CAST((CAST(h AS HUGEINT) * 2246822507) % 4294967296 AS BIGINT) AS h FROM mf1),
           |mf3 AS (SELECT vec_id, xor(h, h >> 13) AS h FROM mf2),
           |mf4 AS (SELECT vec_id, CAST((CAST(h AS HUGEINT) * 3266489909) % 4294967296 AS BIGINT) AS h FROM mf3),
           |mf5 AS (SELECT vec_id, xor(h, h >> 16) AS h FROM mf4),
           |seedset AS (
           |  SELECT vec_id FROM mf5
           |  WHERE ((CASE WHEN h >= 2147483648 THEN h - 4294967296 ELSE h END % 37) + 37) % 37 < 3),
           |q AS MATERIALIZED (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           |      FROM embeddings WHERE vec_id < 5),
           |seeds AS (
           |  SELECT q.qid, e.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM seedset s JOIN embeddings e ON e.vec_id = s.vec_id CROSS JOIN q),
           |front0 AS MATERIALIZED (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM seeds) WHERE r <= 8),
           |exp1 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |         FROM front0 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc1 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp1 x JOIN embeddings e ON e.vec_id = x.vec_id JOIN q ON q.qid = x.qid),
           |front1 AS (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM sc1) WHERE r <= 8),
           |exp2 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |         FROM front1 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc2 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp2 x JOIN embeddings e ON e.vec_id = x.vec_id JOIN q ON q.qid = x.qid),
           |front2 AS (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM sc2) WHERE r <= 8),
           |exp3 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |         FROM front2 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc3 AS (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp3 x JOIN embeddings e ON e.vec_id = x.vec_id JOIN q ON q.qid = x.qid),
           |visited AS (
           |  SELECT qid, vec_id, max(sim) AS sim FROM (
           |    SELECT * FROM front0 UNION ALL SELECT * FROM sc1
           |    UNION ALL SELECT * FROM sc2 UNION ALL SELECT * FROM sc3)
           |  GROUP BY qid, vec_id),
           |ranked AS (
           |  SELECT qid, vec_id, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
           |  FROM visited WHERE vec_id <> qid)
           |SELECT qid, rank, vec_id, round(sim, 4) AS sim
           |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------- s20
  /** Beam-width sweep for the graph walk: recall@10 against the exact
    * s01 ranking and the visited-set size (the scan cost) at beam 2, 4
    * and 8 — the recall/cost knob an operator tunes before running the
    * walk over a full corpus, same audit posture as s15's nprobe sweep.
    * FULLY ORACLE-CHECKED (round 10) via the s19 walk replay at all
    * three beams; RecallSpec still pins both monotonicities. */
  val s20BeamSweep = QueryDef.checkpointed(
    "s20_beam_sweep",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wq = Window.partitionBy("beam", "qid")
        .orderBy(col("sim").desc, col("vec_id"))
      val exact = s01BruteForceTopK.fn(s, d).select(col("qid"),
        col("vec_id"))
      val graph = Rounds.hold(navGraph(s, d))
      val seeds = seedScoresDf(s, d)
      // materialized once: both the hit ranking and the visited-cost
      // rollup read it, and the 3-beam walk must not execute twice
      val perBeam = Rounds.hold(Seq(2, 4, 8).map { beam =>
        graphWalkVisited(s, d, beam, hops = 3, graph, seeds)
          .withColumn("beam", lit(beam))
      }.reduce(_ unionByName _))
      val hits = perBeam
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= K)
        .join(exact.withColumn("ex", lit(1L)), Seq("qid", "vec_id"),
          "left")
      val visitedCost = perBeam.groupBy("beam")
        .agg(count(lit(1)).as("n_visited"))
      val res = hits.groupBy("beam")
        .agg(sum(coalesce(col("ex"), lit(0L))).as("n_hit"),
          count(lit(1)).as("n_returned"))
        .join(broadcast(visitedCost), "beam")
        .select(col("beam"), col("n_hit"), col("n_returned"),
          col("n_visited"),
          r4(col("n_hit").cast("double")
            / (lit(NQueries) * K)).as("recall_at_10"))
        .orderBy("beam")
      (res, () => Seq(perBeam, graph).foreach(Rounds.release))
    },
    // the s19 walk replay instantiated at beams 2/4/8 plus the exact
    // s01 top-10 as the recall denominator — the whole sweep
    // (hit counts, visited-set costs, recall ratios) hash-matches
    Some("""WITH RECURSIVE
           |cfg AS (SELECT CAST(least(20, greatest(4,
           |    ceil(log2(greatest((SELECT count(*) FROM embeddings), 16) / 8.0e0)))) AS INT) AS bits),
           |lcg(i, s) AS (
           |  SELECT 0, CAST(xor(42, 25214903917) AS BIGINT)
           |  UNION ALL
           |  SELECT i+1, CAST((CAST(s AS HUGEINT) * 25214903917 + 11) % 281474976710656 AS BIGINT)
           |  FROM lcg WHERE i < 16 * 20 * 64),
           |signs AS (
           |  SELECT (i-1) // 64 AS q, (i-1) % 64 AS j,
           |    CASE WHEN ((s >> 47) & 1) = 1 THEN 1.0e0 ELSE -1.0e0 END AS sgn
           |  FROM lcg, cfg WHERE i >= 1 AND (i-1) // 64 < 16 * cfg.bits),
           |planes AS MATERIALIZED (SELECT q, list(sgn ORDER BY j) AS pl FROM signs GROUP BY q),
           |bands AS MATERIALIZED (
           |  SELECT e.vec_id, CAST(p.q // cfg.bits AS INT) AS t,
           |    CAST(SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pl) >= 0
           |        THEN (CAST(1 AS BIGINT) << CAST(p.q % cfg.bits AS INT)) ELSE 0 END) AS BIGINT) AS h
           |  FROM embeddings e CROSS JOIN planes p CROSS JOIN cfg GROUP BY 1, 2),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
           |  FROM bands x JOIN bands y ON x.t = y.t AND x.h = y.h AND x.vec_id < y.vec_id),
           |pairs AS MATERIALIZED (
           |  SELECT a_id, b_id, round(cos_exact, 4) AS cos FROM (
           |    SELECT c.a_id, c.b_id,
           |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |        CAST(b.embedding AS DOUBLE[])) AS cos_exact
           |    FROM cand c
           |    JOIN embeddings a ON a.vec_id = c.a_id
           |    JOIN embeddings b ON b.vec_id = c.b_id)
           |  WHERE cos_exact >= 0.2e0),
           |sym AS (
           |  SELECT a_id AS vec_id, b_id AS neighbor_id, cos FROM pairs
           |  UNION ALL
           |  SELECT b_id AS vec_id, a_id AS neighbor_id, cos FROM pairs),
           |graph AS MATERIALIZED (
           |  SELECT vec_id, neighbor_id FROM (
           |    SELECT vec_id, neighbor_id,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS gr
           |    FROM sym) WHERE gr <= 8),
           |mh0 AS (SELECT vec_id,
           |  CAST(vec_id AS BIGINT) & 4294967295 AS lo,
           |  (CAST(vec_id AS BIGINT) >> 32) & 4294967295 AS hi FROM embeddings),
           |mk1a AS (SELECT vec_id, hi, CAST((CAST(lo AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS k FROM mh0),
           |mk1b AS (SELECT vec_id, hi, ((k << 15) | (k >> 17)) & 4294967295 AS k FROM mk1a),
           |mk1c AS (SELECT vec_id, hi, CAST((CAST(k AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k FROM mk1b),
           |mha AS (SELECT vec_id, hi, xor(42, k) AS h FROM mk1c),
           |mhb AS (SELECT vec_id, hi, ((h << 13) | (h >> 19)) & 4294967295 AS h FROM mha),
           |mhc AS (SELECT vec_id, hi, CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM mhb),
           |mk2a AS (SELECT vec_id, h, CAST((CAST(hi AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS k FROM mhc),
           |mk2b AS (SELECT vec_id, h, ((k << 15) | (k >> 17)) & 4294967295 AS k FROM mk2a),
           |mk2c AS (SELECT vec_id, h, CAST((CAST(k AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k FROM mk2b),
           |mh2a AS (SELECT vec_id, xor(h, k) AS h FROM mk2c),
           |mh2b AS (SELECT vec_id, ((h << 13) | (h >> 19)) & 4294967295 AS h FROM mh2a),
           |mh2c AS (SELECT vec_id, CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM mh2b),
           |mf1 AS (SELECT vec_id, xor(xor(h, 8), xor(h, 8) >> 16) AS h FROM mh2c),
           |mf2 AS (SELECT vec_id, CAST((CAST(h AS HUGEINT) * 2246822507) % 4294967296 AS BIGINT) AS h FROM mf1),
           |mf3 AS (SELECT vec_id, xor(h, h >> 13) AS h FROM mf2),
           |mf4 AS (SELECT vec_id, CAST((CAST(h AS HUGEINT) * 3266489909) % 4294967296 AS BIGINT) AS h FROM mf3),
           |mf5 AS (SELECT vec_id, xor(h, h >> 16) AS h FROM mf4),
           |seedset AS (
           |  SELECT vec_id FROM mf5
           |  WHERE ((CASE WHEN h >= 2147483648 THEN h - 4294967296 ELSE h END % 37) + 37) % 37 < 3),
           |q AS MATERIALIZED (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           |      FROM embeddings WHERE vec_id < 5),
           |seeds AS MATERIALIZED (
           |  SELECT q.qid, e.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM seedset s JOIN embeddings e ON e.vec_id = s.vec_id CROSS JOIN q),
           |exact10 AS MATERIALIZED (
           |  SELECT qid, vec_id FROM (
           |    SELECT q.qid, e.vec_id,
           |      row_number() OVER (PARTITION BY q.qid
           |        ORDER BY list_cosine_similarity(q.qe,
           |          CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS r
           |    FROM q JOIN embeddings e ON e.vec_id <> q.qid)
           |  WHERE r <= 10),
           |front0_b2 AS MATERIALIZED (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM seeds) WHERE r <= 2),
           |exp1_b2 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front0_b2 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc1_b2 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp1_b2 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |front1_b2 AS (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM sc1_b2) WHERE r <= 2),
           |exp2_b2 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front1_b2 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc2_b2 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp2_b2 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |front2_b2 AS (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM sc2_b2) WHERE r <= 2),
           |exp3_b2 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front2_b2 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc3_b2 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp3_b2 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |vis_b2 AS MATERIALIZED (
           |  SELECT qid, vec_id, max(sim) AS sim FROM (
           |    SELECT * FROM front0_b2 UNION ALL SELECT * FROM sc1_b2
           |    UNION ALL SELECT * FROM sc2_b2 UNION ALL SELECT * FROM sc3_b2)
           |  GROUP BY qid, vec_id),
           |front0_b4 AS MATERIALIZED (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM seeds) WHERE r <= 4),
           |exp1_b4 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front0_b4 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc1_b4 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp1_b4 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |front1_b4 AS (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM sc1_b4) WHERE r <= 4),
           |exp2_b4 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front1_b4 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc2_b4 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp2_b4 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |front2_b4 AS (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM sc2_b4) WHERE r <= 4),
           |exp3_b4 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front2_b4 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc3_b4 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp3_b4 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |vis_b4 AS MATERIALIZED (
           |  SELECT qid, vec_id, max(sim) AS sim FROM (
           |    SELECT * FROM front0_b4 UNION ALL SELECT * FROM sc1_b4
           |    UNION ALL SELECT * FROM sc2_b4 UNION ALL SELECT * FROM sc3_b4)
           |  GROUP BY qid, vec_id),
           |front0_b8 AS MATERIALIZED (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM seeds) WHERE r <= 8),
           |exp1_b8 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front0_b8 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc1_b8 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp1_b8 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |front1_b8 AS (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM sc1_b8) WHERE r <= 8),
           |exp2_b8 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front1_b8 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc2_b8 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp2_b8 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |front2_b8 AS (
           |  SELECT qid, vec_id, sim FROM (
           |    SELECT qid, vec_id, sim,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
           |    FROM sc2_b8) WHERE r <= 8),
           |exp3_b8 AS (SELECT DISTINCT f.qid, g.neighbor_id AS vec_id
           |  FROM front2_b8 f JOIN graph g ON g.vec_id = f.vec_id),
           |sc3_b8 AS MATERIALIZED (SELECT x.qid, x.vec_id,
           |    list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim
           |  FROM exp3_b8 x JOIN embeddings e ON e.vec_id = x.vec_id
           |  JOIN q ON q.qid = x.qid),
           |vis_b8 AS MATERIALIZED (
           |  SELECT qid, vec_id, max(sim) AS sim FROM (
           |    SELECT * FROM front0_b8 UNION ALL SELECT * FROM sc1_b8
           |    UNION ALL SELECT * FROM sc2_b8 UNION ALL SELECT * FROM sc3_b8)
           |  GROUP BY qid, vec_id),
           |perbeam AS (
           |  SELECT 2 AS beam, * FROM vis_b2
           |  UNION ALL SELECT 4 AS beam, * FROM vis_b4
           |  UNION ALL SELECT 8 AS beam, * FROM vis_b8),
           |hits AS (
           |  SELECT beam, qid, vec_id FROM (
           |    SELECT beam, qid, vec_id,
           |      row_number() OVER (PARTITION BY beam, qid
           |        ORDER BY sim DESC, vec_id) AS rank
           |    FROM perbeam WHERE vec_id <> qid)
           |  WHERE rank <= 10),
           |agg AS (
           |  SELECT h.beam,
           |    CAST(sum(CASE WHEN e.qid IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
           |    CAST(count(*) AS BIGINT) AS n_returned
           |  FROM hits h LEFT JOIN exact10 e
           |    ON e.qid = h.qid AND e.vec_id = h.vec_id
           |  GROUP BY h.beam),
           |cost AS (SELECT beam, CAST(count(*) AS BIGINT) AS n_visited
           |         FROM perbeam GROUP BY beam)
           |SELECT a.beam, a.n_hit, a.n_returned, c.n_visited,
           |  round(a.n_hit / 50e0, 4) AS recall_at_10
           |FROM agg a JOIN cost c ON c.beam = a.beam
           |ORDER BY a.beam""".stripMargin))

  // ------------------------------------------------------ IR metrics
  /** Ranking-quality metrics over the exact top-k — NDCG@10, MRR,
    * precision@10 per query, with binary relevance = label match (every
    * label has ≥ 10 corpus members, so the ideal ranking is 10 relevant
    * hits and IDCG@10 is the full discount sum — documented convention).
    * This is the eval layer a retrieval stack runs beside RecallSpec's
    * recall floors: registered on s01's exact ranking so the METRIC
    * arithmetic itself is oracle-verified; pointing it at any ANN
    * variant's (qid, rank, vec_id) output is a drop-in.
    *
    * Determinism: each rank's discount is a micro-unit BIGINT
    * (round(1e6/log2(rank+1)) — identical in both engines away from
    * .5 boundaries, verified for ranks 1..10), so DCG is an exact
    * integer sum; NDCG divides two exact integers. MRR comes from
    * min(relevant rank) — integer.
    *
    * Scale shape: s01's candidate pass (broadcast query set, one
    * per-qid window) plus a rank-bounded (queries × 10 rows) rollup —
    * the metric layer adds O(queries · k) work to any retriever. */
  val s21IrMetrics = QueryDef(
    "q168_ir_metrics",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("qlabel"))
      val w = Window.partitionBy("qid")
        .orderBy(col("sim_exact").desc, col("vec_id"))
      val top = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim_exact", V.cosine(col("qe"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("rank"),
          when(col("label") === col("qlabel"), 1L).otherwise(0L).as("rel"),
          expr("cast(round(1e6 / log2(rank + 1)) as bigint)").as("disc"))
      top.groupBy("qid")
        .agg(sum("rel").as("n_rel"),
          (sum("rel") * 100000L).as("p_at_10_micro"),
          coalesce(
            expr("cast(round(1e6 / min(CASE WHEN rel = 1 THEN rank END))" +
              " as bigint)"), lit(0L)).as("mrr_micro"),
          sum(col("rel") * col("disc")).as("dcg_micro"),
          expr("cast(round(1e6 * sum(rel * disc) / sum(disc)) as bigint)")
            .as("ndcg_micro"))
        .orderBy("qid")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid,
            |    CAST(embedding AS DOUBLE[]) AS qe, label AS qlabel
            |  FROM embeddings WHERE vec_id < $NQueries),
            |sims AS (SELECT qid, qlabel, vec_id, label,
            |    list_cosine_similarity(qe, CAST(embedding AS DOUBLE[]))
            |      AS sim_exact
            |  FROM q, embeddings WHERE vec_id <> qid),
            |ranked AS (SELECT qid, vec_id, qlabel, label,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY sim_exact DESC, vec_id) AS rank
            |  FROM sims),
            |top AS (SELECT qid, rank,
            |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
            |    CAST(round(1e6 / log2(rank + 1)) AS BIGINT) AS disc
            |  FROM ranked WHERE rank <= $K)
            |SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel,
            |  CAST(sum(rel) * 100000 AS BIGINT) AS p_at_10_micro,
            |  coalesce(CAST(round(1e6
            |    / min(CASE WHEN rel = 1 THEN rank END)) AS BIGINT),
            |    0) AS mrr_micro,
            |  CAST(sum(rel * disc) AS BIGINT) AS dcg_micro,
            |  CAST(round(1e6 * sum(rel * disc) / sum(disc)) AS BIGINT)
            |    AS ndcg_micro
            |FROM top GROUP BY 1 ORDER BY 1""".stripMargin))

  // ------------------------------------------------ k-center coreset
  /** Greedy k-center coreset selection (Gonzalez's farthest-point
    * traversal — cover radius provably within 2× of the optimal
    * k-center cover): pick 16 vectors that maximize coverage of the
    * embedding space under cosine distance. The diversity-first
    * data-selection primitive for training-set curation — cap
    * redundancy, keep every region represented — complementing x19's
    * SemDeDup (which PRUNES dense regions; this SELECTS spread
    * representatives).
    *
    * Scale shape: k of IntKMeans's Gonzalez rounds (`gonzalezArgmax`)
    * over ONE persisted (vec_id, embedding) frame, each a corpus-linear
    * min-distance map + a TakeOrderedAndProject(1) argmax to the driver;
    * never a pairwise matrix. Deterministic end to end: seed = smallest
    * vec_id, argmax ties break on vec_id, distances are exact double
    * folds — reproducible at any partitioning. FULLY ORACLE-CHECKED
    * (round 10): determinism makes the recursion unrollable — the
    * DuckDB oracle runs the same 16 steps as chained CTEs and
    * hash-matches; RecallSpec still gates monotone radius + coverage
    * beating a random-pick baseline. */
  val s22KCenterCoreset = QueryDef(
    "s22_kcenter_coreset",
    (s, d) => {
      val KSel = 16
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"))
      import s.implicits._
      val q = emb.select(col("vec_id"), col("embedding").as("ei")).persist()
      // (vec_id, embedding, cover radius of the PREVIOUS pick set) in pick
      // order; with no pick yet every radius is 2.0 (the whole cosine
      // sphere), so the seed is the lowest vec_id
      val picks = try (1 to KSel).foldLeft(Vector.empty[Row]) { (picks, _) =>
        // picks as ONE literal, so every round compiles the same code; a
        // literal m plans TakeOrderedAndProject(1); picks filtered up front
        // leave the anti-join an empty set, which plans away (no broadcast)
        val mind = aggregate(typedLit(picks.map(_.getSeq[Float](1))),
          lit(2.0), (m, p) => least(m, lit(1.0) - V.cosine(col("ei"), p)))
        val rest = q.filter(!col("vec_id").isin(picks.map(_.getLong(0)): _*))
        picks ++ IntKMeans.gonzalezArgmax(rest.withColumn("m", lit(0)),
          Seq.empty[(Int, Long)].toDF("m", "vec_id"), mind)
          .select("vec_id", "ei", "mind").collect()
      } finally q.unpersist()
      val sel = picks.zipWithIndex.map { case (p, i) => (i + 1, p.getLong(0),
        p.getDouble(2)) }.toDF("pick_order", "vec_id", "radius")
      emb.select(col("vec_id").as("v2"), col("label"))
        .join(broadcast(sel), col("v2") === col("vec_id"))
        .select(col("pick_order"), col("vec_id"), col("label"),
          r6(col("radius")).as("radius"))
        .orderBy("pick_order")
    },
    // Gonzalez's traversal is deterministic (seed = smallest vec_id,
    // ties to lowest id), so the oracle unrolls all 16 farthest-point
    // steps: each picks argmax of min(1 - cos) against the pick set
    Some("""WITH e AS MATERIALIZED (
           |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings),
           |p1 AS MATERIALIZED (
           |  SELECT 1 AS pick_order, vec_id, 2.0e0 AS radius
           |  FROM e ORDER BY vec_id LIMIT 1),
           |pv2 AS MATERIALIZED (SELECT vec_id FROM p1),
           |p2 AS MATERIALIZED (
           |  SELECT 2 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv2 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv2 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv3 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2),
           |p3 AS MATERIALIZED (
           |  SELECT 3 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv3 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv3 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv4 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3),
           |p4 AS MATERIALIZED (
           |  SELECT 4 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv4 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv4 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv5 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4),
           |p5 AS MATERIALIZED (
           |  SELECT 5 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv5 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv5 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv6 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5),
           |p6 AS MATERIALIZED (
           |  SELECT 6 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv6 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv6 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv7 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6),
           |p7 AS MATERIALIZED (
           |  SELECT 7 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv7 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv7 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv8 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7),
           |p8 AS MATERIALIZED (
           |  SELECT 8 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv8 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv8 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv9 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8),
           |p9 AS MATERIALIZED (
           |  SELECT 9 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv9 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv9 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv10 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9),
           |p10 AS MATERIALIZED (
           |  SELECT 10 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv10 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv10 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv11 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9 UNION ALL SELECT vec_id FROM p10),
           |p11 AS MATERIALIZED (
           |  SELECT 11 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv11 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv11 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv12 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9 UNION ALL SELECT vec_id FROM p10 UNION ALL SELECT vec_id FROM p11),
           |p12 AS MATERIALIZED (
           |  SELECT 12 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv12 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv12 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv13 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9 UNION ALL SELECT vec_id FROM p10 UNION ALL SELECT vec_id FROM p11 UNION ALL SELECT vec_id FROM p12),
           |p13 AS MATERIALIZED (
           |  SELECT 13 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv13 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv13 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv14 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9 UNION ALL SELECT vec_id FROM p10 UNION ALL SELECT vec_id FROM p11 UNION ALL SELECT vec_id FROM p12 UNION ALL SELECT vec_id FROM p13),
           |p14 AS MATERIALIZED (
           |  SELECT 14 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv14 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv14 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv15 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9 UNION ALL SELECT vec_id FROM p10 UNION ALL SELECT vec_id FROM p11 UNION ALL SELECT vec_id FROM p12 UNION ALL SELECT vec_id FROM p13 UNION ALL SELECT vec_id FROM p14),
           |p15 AS MATERIALIZED (
           |  SELECT 15 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv15 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv15 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |pv16 AS MATERIALIZED (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9 UNION ALL SELECT vec_id FROM p10 UNION ALL SELECT vec_id FROM p11 UNION ALL SELECT vec_id FROM p12 UNION ALL SELECT vec_id FROM p13 UNION ALL SELECT vec_id FROM p14 UNION ALL SELECT vec_id FROM p15),
           |p16 AS MATERIALIZED (
           |  SELECT 16 AS pick_order, vec_id, mind AS radius FROM (
           |    SELECT c.vec_id,
           |      min(1e0 - list_cosine_similarity(c.emb, pe.emb)) AS mind
           |    FROM e c JOIN pv16 pv ON true JOIN e pe ON pe.vec_id = pv.vec_id
           |    WHERE NOT EXISTS (SELECT 1 FROM pv16 x WHERE x.vec_id = c.vec_id)
           |    GROUP BY c.vec_id)
           |  ORDER BY mind DESC, vec_id ASC LIMIT 1)
           |SELECT p.pick_order, p.vec_id, e.label, round(p.radius, 6) AS radius
           |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM p6 UNION ALL SELECT * FROM p7 UNION ALL SELECT * FROM p8 UNION ALL SELECT * FROM p9 UNION ALL SELECT * FROM p10 UNION ALL SELECT * FROM p11 UNION ALL SELECT * FROM p12 UNION ALL SELECT * FROM p13 UNION ALL SELECT * FROM p14 UNION ALL SELECT * FROM p15 UNION ALL SELECT * FROM p16) p JOIN e ON e.vec_id = p.vec_id
           |ORDER BY p.pick_order""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(s01BruteForceTopK, s02LshAnn, s03IvfAnn, s04PqAnn, s05LabelCentroids,
      s06ClusterCohesion, s07CentroidOutliers, s08MmrTopK, s09KnnGraph,
      s10RadiusSearch, s11HybridRrf, s12EmbeddingDrift, s13IvfPqAnn,
      s14MatryoshkaTopK, s15IvfSweep, s16FilteredSearch, s17SqAnn,
      s18EmbeddingAudit, s19GraphWalk, s20BeamSweep, s21IrMetrics,
      s22KCenterCoreset)
}
