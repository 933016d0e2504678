package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.functions.Rounding.{r4, r6}

/** Deduplication operators for training-data pipelines (north-star surface,
  * BASELINE.json): exact, canonical-fingerprint, MinHash+LSH, SimHash, exact
  * n-gram Jaccard verification, and embedding-cosine near-dup.
  *
  * Scale design: every variant is shuffle-linear in the corpus —
  * signatures/buckets are computed as per-row projections (no UDFs, all
  * Catalyst HOFs over token arrays), then candidates are generated by
  * equi-joins on bucket keys (never an all-pairs cross product). At 100 TB
  * the bucket-key groupBys shuffle only (key, doc_id) pairs, and skewed
  * buckets are handled by AQE skew-join splitting.
  */
object Dedup {

  // ---------------------------------------------------------------- exact
  /** Exact dedup by content hash: group on md5(text), keep min(doc_id).
    * One shuffle on the hash key; at scale this is the classic
    * hash-partitioned exact dedup. */
  val d01Exact = QueryDef(
    "d01_dedup_exact",
    (s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    },
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
           |  count(*) AS n_copies
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------- canonical fingerprint
  /** Near-exact dedup on the canonicalized fingerprint (lower + trim +
    * whitespace-collapse), which survives formatting noise. */
  val d02Fingerprint = QueryDef(
    "d02_dedup_fingerprint",
    (s, d) => {
      Tables.documents(s, d)
        .groupBy(T.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("fp")
    },
    Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---------------------------------------------------------------- minhash
  private val NumPerm = 32 // 8 bands × 4 rows
  private val NumBands = 8
  private val RowsPerBand = NumPerm / NumBands
  /** Universal-hash minhash family over a cross-engine base hash:
    * v = first 8 hex chars of md5(shingle) as int, h_i = (a_i·v + b_i)
    * mod p with p = 2^31-1 — every term computable identically in any
    * ANSI-ish SQL engine, which is what lets the DuckDB oracle replay the
    * whole pipeline bit-for-bit. Constants are fixed at seed 1234. */
  private val MinhashP = 2147483647L
  private val (minhashA, minhashB) = {
    val rnd = new scala.util.Random(1234L)
    (Seq.fill(NumPerm)(rnd.nextInt(Int.MaxValue - 1).toLong + 1L),
      Seq.fill(NumPerm)(rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Doc → 32-permutation minhash signature (columns h0..h31): shingle
    * (3-word) → md5-derived base value → (a·v+b) mod p minima. Pure
    * projections + one hash-agg with map-side combine. */
  private[graft] def minhashSig(docs: org.apache.spark.sql.DataFrame) = {
    val shingled = docs
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(T.shingles(col("toks"), 3)).as("shingle"))
      .select(col("doc_id"),
        (conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long")
          % MinhashP).as("v"))
    val sigCols = (0 until NumPerm).map(i =>
      min((lit(minhashA(i)) * col("v") + lit(minhashB(i))) % MinhashP).as(s"h$i"))
    shingled.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** Doc → exploded band hashes: the minhash signature folded into 8
    * bands of 4 rows, band index baked into the band hash. Shuffles move
    * only (doc_id, band_hash). */
  private[graft] def minhashBands(docs: org.apache.spark.sql.DataFrame) = {
    val bandExprs = (0 until NumBands).map(b =>
      md5(concat_ws(",", lit(b.toString) +:
        (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}").cast("string")): _*)))
    minhashSig(docs).select(col("doc_id"), explode(array(bandExprs: _*)).as("band_hash"))
  }

  /** MinHash + LSH clustering with TRANSITIVE cluster labels: bucket-mates
    * are edges, `cluster_id` = min doc_id of the connected component,
    * computed by iterating min-label propagation (doc → bucket → doc) to
    * fixpoint. Chains A~B~C where A,C share no bucket co-cluster (a
    * single propagation pass would split them).
    *
    * Each round is the per-bucket (bmin, bmax) label range, cut by
    * `Rounds.iterate`: a doc's next label is the minimum bmin over its
    * buckets (every bucket's bmin is at most each member's current
    * label), so the range table alone carries the labels from round to
    * round. Converged ⇔ every bucket is label-homogeneous, and that
    * test — count(bmin <> bmax) — is the round's one action.
    *
    * 100 TB posture: each round is two hash-agg shuffles moving only
    * (id, label) pairs, and round count is the candidate-graph diameter
    * (2-3 in practice for dedup graphs; the classic large-star/small-star
    * optimization drops in here if a corpus ever needs it). The DuckDB
    * oracle replays the same clustering as recursive-CTE connected
    * components over bucket-sharing edges. */
  private[graft] def minhashClusters(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Rounds.checkpoint(minhashClusterRounds(docs))

  /** `minhashClusters` up to its answer, plus the thunk that frees the
    * buckets, the round-0 labels and the last round. */
  private[graft] def minhashClusterRounds(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val bands = minhashBands(docs).persist()
    // a doc's label is the min bmin over its buckets; docs too short to
    // shingle have no bucket and self-label
    def labels(bmins: DataFrame) =
      bmins.groupBy("doc_id").agg(min("bmin").as("label"))
    def withDocs(labels: DataFrame) = docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
    def range(labels: DataFrame) = bands.join(labels, "doc_id")
      .groupBy("band_hash")
      .agg(min("label").as("bmin"), max("label").as("bmax"))
    val mixed = Rounds.countWhere(col("bmin") =!= col("bmax"))
    // Round 0 as a window pass (2 shuffles, no joins): bmin = min doc_id
    // of the bucket. Identical to one propagation round from identity
    // labels, so the loop usually runs no round at all; its labels are
    // persisted, as they are then the answer. Its range table is probed,
    // not cut: in that common case nothing reads it again.
    val labels0 = withDocs(labels(bands.withColumn("bmin",
      min("doc_id").over(Window.partitionBy("band_hash"))))).persist()
    val start = range(labels0)
    val (last, _) = Rounds.iterate((start, mixed(start)), Int.MaxValue,
      (_, m) => m.head.getLong(0) == 0, mixed)(
      (r, _) => range(labels(bands.join(r, "band_hash"))))
    // at the fixpoint each bucket's bmin is its members' label
    val res = (if (last eq start) labels0
      else withDocs(labels(bands.join(last, "band_hash"))))
      .select(col("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
    (res, () => { last.unpersist(); labels0.unpersist(); bands.unpersist() })
  }

  /** The d03 clustering as an INGEST-TIME ARTIFACT (the s03 ivfModel
    * precedent): near-dup cluster labels are computed once when a corpus
    * lands and persisted next to it — every resolution/split/pipeline
    * operator (x07/x09/x10) consumes the artifact rather than re-running
    * label propagation. Memoized per (session, dir, corpus
    * fingerprint) — IngestArtifacts.memoKey — and cached; d03
    * itself still computes fresh so its benched time measures the
    * clustering, not a cache hit. */
  private val clusterCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, String),
      org.apache.spark.sql.DataFrame]
  IngestArtifacts.registerMemo(clusterCache)

  private[graft] def minhashClustersCached(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    clusterCache.getOrElseUpdate(IngestArtifacts.memoKey(s, d), {
      // Write-then-reread, not persist(): a persisted DataFrame pins its
      // entire propagation lineage — shuffle files, iteration broadcasts,
      // cached blocks — for the life of the session, and that residue
      // measurably taxes every LATER query's scheduling and GC (observed
      // ~1.5-2x on unrelated benched queries). Landing the labels as a
      // parquet artifact and re-reading severs the DAG: consumers get a
      // plain pruned scan. Round 12 moved the table from a per-JVM temp
      // dir to the shared IngestArtifacts root (the same posture as the
      // IVF/PQ fits): a second session finds the labels instead of
      // re-propagating — the clustering is the most expensive ingest
      // artifact this corpus carries. Pure function of the data
      // (md5-seeded minhash), so artifact and re-compute are identical
      // and the oracles keep replaying the clustering from raw text.
      IngestArtifacts.readOrCreate(s, d,
        s"d03_clusters_p${NumPerm}_b$NumBands.parquet")(
        minhashClusters(Tables.documents(s, d)))
    })

  /** The minhash banding replayed as DuckDB CTEs (shingle → minhash
    * signature → per-band hashes in `bands`) — the shared prefix for
    * every oracle that consumes the LSH index (d03/x07 clustering, d10
    * incremental matching). */
  private[graft] val minhashBandsCteSql: String = {
    val sigMins = (0 until NumPerm).map(i =>
      s"min((${minhashA(i)}*v + ${minhashB(i)}) % $MinhashP) AS h$i").mkString(", ")
    val bandList = (0 until NumBands).map { b =>
      val hs = (0 until RowsPerBand)
        .map(r => s"CAST(h${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"md5('$b,' || $hs)"
    }.mkString(", ")
    s"""WITH RECURSIVE
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
       |  FROM toks),
       |v AS (SELECT doc_id,
       |    ('0x' || substr(md5(shingle), 1, 8))::BIGINT % $MinhashP AS v
       |  FROM sh),
       |sig AS (SELECT doc_id, $sigMins FROM v GROUP BY doc_id),
       |bands AS (SELECT doc_id, unnest([$bandList]) AS band_hash FROM sig)""".stripMargin
  }

  /** The d03 clustering on top of the banding (bucket-sharing edges →
    * recursive-CTE connected components, labels in `lbl`). Shared by the
    * d03 oracle and x07 representative selection. */
  private[graft] val minhashCteSql: String = minhashBandsCteSql +
    """,
      |edges AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS w
      |  FROM bands a JOIN bands b USING (band_hash)
      |  WHERE a.doc_id <> b.doc_id),
      |reach(u, w) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u),
      |lbl AS (SELECT u AS doc_id, min(w) AS cluster_id
      |  FROM reach GROUP BY 1)""".stripMargin

  val d03MinHashLsh = QueryDef.checkpointed(
    "d03_dedup_minhash_lsh",
    (s, d) => minhashClusterRounds(Tables.documents(s, d)),
    Some(minhashCteSql +
      "\nSELECT doc_id, cluster_id FROM lbl ORDER BY doc_id"))

  // ---------------------------------------------------------------- simhash
  /** 64-bit SimHash: per-token base hash = md5, bit j = bit (j mod 4) of
    * hex digit ⌊j/4⌋, each bit weighted by token count; position j of the
    * fingerprint is '1' iff the weighted sum is positive. Computed as
    * explode → (doc, token) counts → 64 conditional sums → concat bits.
    * Near-identical docs land within small Hamming distance.
    *
    * The fingerprint is a 64-char '0'/'1' string rather than a packed
    * BIGINT: bit 63 would set the sign bit (undefined/overflowing shift
    * semantics across engines), and the md5-digit family makes the whole
    * computation replayable by the DuckDB oracle. */
  val d04SimHash = QueryDef(
    "d04_dedup_simhash",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        .withColumn("h", md5(col("tok")))
      val digits = tok.select(col("doc_id") +: col("cnt") +:
        (0 until 16).map(k =>
          conv(substring(col("h"), k + 1, 1), 16, 10).cast("int").as(s"d$k")): _*)
      val bitSums = (0 until 64).map { j =>
        sum(when(shiftright(col(s"d${j / 4}"), j % 4).bitwiseAND(1) === 1, col("cnt"))
          .otherwise(-col("cnt"))).as(s"b$j")
      }
      val packed = concat((0 until 64).map(j =>
        when(col(s"b$j") > 0, "1").otherwise("0")): _*)
      digits.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), packed.as("simhash"))
        .orderBy("doc_id")
    },
    Some {
      val digitCols = (0 until 16)
        .map(k => s"('0x' || substr(h, ${k + 1}, 1))::INT AS d$k").mkString(", ")
      val bitSums = (0 until 64).map(j =>
        s"sum(CASE WHEN (d${j / 4} >> ${j % 4}) & 1 = 1 THEN cnt ELSE -cnt END) AS b$j")
        .mkString(", ")
      val packed = (0 until 64)
        .map(j => s"(CASE WHEN b$j > 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH tokc AS (
         |  SELECT doc_id, tok, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents) GROUP BY 1, 2),
         |dg AS (SELECT doc_id, cnt, $digitCols
         |  FROM (SELECT doc_id, cnt, md5(tok) AS h FROM tokc)),
         |bs AS (SELECT doc_id, $bitSums FROM dg GROUP BY 1)
         |SELECT doc_id, $packed AS simhash FROM bs ORDER BY doc_id""".stripMargin
    })

  // ------------------------------------------------------- n-gram jaccard
  /** Exact 3-shingle Jaccard verification over blocked candidate pairs
    * (block = (lang, source) — in production the blocks come from LSH
    * buckets; here a deterministic blocking key keeps the oracle
    * SQL-expressible). Detects the planted near-duplicates (j ≥ 0.02). */
  /** d05's posting-list pairwise Jaccard (all pairs ≥ 0.02), shared with
    * the d14 threshold sweep. */
  private[graft] def pairwiseJaccard(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // Posting-list formulation: explode distinct shingles, equi-join on
    // (block, shingle) to count the intersection per pair, then join the
    // per-doc set sizes (broadcast) for the union term. Work is
    // proportional to Σ matches-per-shingle, NOT pairs × array-length —
    // the all-pairs array_intersect variant does ~100× more element
    // comparisons and can't skip intersection-free pairs. Pairs with
    // zero shared shingles have jaccard 0 < threshold, so output is
    // identical to the oracle's all-pairs SQL.
    val posting = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        T.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(T.shingles(col("toks"), 3)).as("shingle"))
    val sizes = posting.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = posting.select(col("doc_id").as("a_id"), col("lang"),
      col("source"), col("shingle"))
    val b = posting.select(col("doc_id").as("b_id"), col("lang"),
      col("source"), col("shingle"))
    a.join(b, Seq("lang", "source", "shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_sh", "a_n")), Seq("a_id"))
      .join(broadcast(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_sh", "b_n")), Seq("b_id"))
      .withColumn("jaccard", r4(col("inter").cast("double") /
        (col("a_n") + col("b_n") - col("inter")).cast("double")))
      .filter(col("jaccard") >= 0.02)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  val d05NgramJaccard = QueryDef(
    "d05_ngram_jaccard",
    (s, d) => pairwiseJaccard(s, d).orderBy("a_id", "b_id"),
    Some("""WITH sh AS (
           |  SELECT doc_id, lang, source,
           |    list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
           |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           |  FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS t
           |        FROM documents))
           |SELECT a_id, b_id, jaccard FROM (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |      CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE),
           |      4) AS jaccard
           |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source
           |    AND a.doc_id < b.doc_id)
           |WHERE jaccard >= 0.02 ORDER BY a_id, b_id""".stripMargin))

  // ------------------------------------------------- embedding near-dup
  /** Embedding-cosine near-dup via sign-random-projection LSH: 16-bit
    * bucket from a deterministic broadcast hyperplane matrix, then
    * cluster label = min vec_id per bucket. Candidates only ever pair
    * within a bucket (2^16 buckets), so work stays near-linear.
    *
    * Oracle-matched: the ±1 hyperplane matrix is deterministic, so the
    * DuckDB twin inlines it as literal DOUBLE[] rows and replays the same
    * Horner bit-packing with `list_inner_product` (sequential fold, bit-
    * identical to the native dot). */
  val d06EmbeddingNearDup = QueryDef(
    "d06_dedup_embedding",
    (s, d) => {
      val planes = V.planesSeq(16, 64)
      val emb = Tables.embeddings(s, d)
        .withColumn("bucket", V.srpBucketFast(col("embedding"), planes))
      val buckets = emb.groupBy("bucket").agg(min("vec_id").as("cluster_id"),
        count(lit(1)).as("bucket_size"))
      emb.join(buckets, Seq("bucket"))
        .select(col("vec_id"), col("bucket"), col("cluster_id"), col("bucket_size"))
        .orderBy("vec_id")
    },
    Some {
      val planes = V.planesSeq(16, 64)
      // Horner fold acc*2 + bit over 16 planes == Σ bit_i · 2^(15-i)
      val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
        val lit = p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        val w = 1L << (15 - i)
        s"(CASE WHEN list_inner_product(e, $lit) >= 0 THEN $w ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH b AS (
         |  SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)),
         |g AS (SELECT bucket, min(vec_id) AS cluster_id, count(*) AS bucket_size
         |  FROM b GROUP BY 1)
         |SELECT b.vec_id, b.bucket, g.cluster_id, g.bucket_size
         |FROM b JOIN g USING (bucket) ORDER BY vec_id""".stripMargin
    })

  // -------------------------------------------- embedding pair verify
  /** Exact embedding-cosine near-dup pairs: all pairs with cosine ≥ 0.42
    * (the corpus' high-similarity tail), computed with the native codegen
    * cosine. This is the exact VERIFICATION operator — quadratic by
    * definition, so at scale it runs ONLY on candidates from the d06 LSH
    * buckets; here the full cross product doubles as the oracle twin. */
  val d07EmbeddingPairs = QueryDef(
    "d07_embedding_pairs",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_e"))
      val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_e"))
      // The cosine threshold lives INSIDE the join condition: the nested-loop
      // join then evaluates it per candidate pair and only surviving pairs are
      // ever copied out as joined rows. With the filter applied after the join
      // instead, every one of the n²/2 pairs is materialized as a wide row
      // (two 64-float arrays) first — ~4× slower at sf0.1. The cheap few
      // surviving rows recompute the cosine once more for the output column.
      val cos = graft.functions.VectorFunctions.cosine(col("a_e"), col("b_e"))
      // A small corpus arrives as ONE input split, which would run the whole
      // quadratic probe on a single core; an explicit round-robin repartition
      // spreads the probe rows evenly across every core (and, unlike a hash
      // repartition, is neither AQE-coalesced nor key-skewed) for one tiny
      // shuffle. (At real scale the probe side is already many splits.)
      a.repartition(s.sparkContext.defaultParallelism)
        .join(broadcast(b), col("a_id") < col("b_id") && cos >= 0.42)
        .select(col("a_id"), col("b_id"), r4(cos).as("cos"))
        .orderBy("a_id", "b_id")
    },
    Some("""SELECT a_id, b_id, round(c, 4) AS cos FROM (
           |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |                           CAST(b.embedding AS DOUBLE[])) AS c
           |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
           |WHERE c >= 0.42e0 ORDER BY a_id, b_id""".stripMargin))

  // ------------------------------------- bucketed embedding pair verify
  /** Banded-SRP candidate generation + exact cosine verification — the
    * scale path for embedding near-dup pairs. `nTables` independent LSH
    * tables of `bitsPerTable` sign-random-projection bits each; a pair is
    * a candidate iff it collides in at least one table, and every candidate
    * is then EXACTLY verified with the native codegen cosine, so precision
    * is 1.0 by construction (output ⊆ the all-pairs d07 result).
    *
    * Scale math: candidate volume from random collisions is
    * ≈ nTables · 2^-bitsPerTable of all pairs, so `bitsPerTable` must grow
    * with log2(corpus) to stay subquadratic. By default it auto-scales as
    * ⌈log2(n/8)⌉ (mean bucket size ~8, clamped to [4, 20]) from one cheap
    * count — the analog of reading table stats at ingest. Recall per pair
    * at cosine c is 1-(1-p^b)^L with p = 1-acos(c)/π: ≈0.95+ for true
    * near-dups (c ≥ 0.9) at the auto-chosen b, degrading gracefully on the
    * moderate-similarity tail (reported honestly by BucketedPairsSpec);
    * raise `nTables` to buy recall at constant per-table cost.
    * Everything is projections + equi-joins — no broadcast of the corpus,
    * no nested-loop join, shuffles move only (table, bandHash, id) rows. */
  private[graft] def bucketedPairs(emb: org.apache.spark.sql.DataFrame,
      minCos: Double, nTables: Int = 16, bitsPerTable: Option[Int] = None,
      dim: Int = 64): org.apache.spark.sql.DataFrame = {
    val bits = bitsPerTable.getOrElse(autoBits(emb.count()))
    val planes = V.planesSeq(nTables * bits, dim)
    // one fused native expression for all band hashes — O(1) plan size
    // (the per-band literal-fold formulation spent ~10s/query in analysis
    // and janino once the matrix passed ~100 planes)
    val banded = emb.select(col("vec_id"),
      posexplode(graft.expressions.VectorExpressions.srpBands(
        col("embedding"), planes, nTables, bits)).as(Seq("t", "h")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.t") === col("y.t") && col("x.h") === col("y.h") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("a_e")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b_e")), "b_id")
      .withColumn("cos", V.cosine(col("a_e"), col("b_e")))
      .filter(col("cos") >= minCos)
      .select(col("a_id"), col("b_id"), r4(col("cos")).as("cos"))
      .orderBy("a_id", "b_id")
  }

  /** bits per table for a corpus of n vectors: mean bucket size ~8,
    * clamped to [4, 20] (20 bits ≈ 1M buckets carries corpora into the
    * billions of rows at bounded bucket size). */
  private[graft] def autoBits(n: Long): Int =
    math.min(20, math.max(4,
      math.ceil(math.log(math.max(n, 16L) / 8.0) / math.log(2.0)).toInt))

  /** Registered scale-path twin of d07: same output schema and threshold,
    * but candidates come from LSH buckets instead of an all-pairs cross
    * join. FULLY ORACLE-CHECKED (round 10): the seed-42 ±1 plane matrix
    * is a Java-LCG Boolean stream the DuckDB oracle replays with a
    * recursive CTE, rebuilding the banded hashes (any injective packing
    * reproduces the collision structure — hash equality ⟺ sign-sequence
    * equality), the ≥1-table candidate join, and the exact-cosine
    * verify; `autoBits` is recomputed in SQL from the same count(*).
    * BucketedPairsSpec still pins recall/containment vs d07. Table
    * stats (the row count that sizes the hash) come from the memoized
    * ingest-time count, mirroring a catalog-stats lookup rather than a
    * per-query scan. */
  val d08PairsBucketed = QueryDef(
    "d08_dedup_pairs_bucketed",
    (s, d) => bucketedPairs(Tables.embeddings(s, d), minCos = 0.42,
      bitsPerTable = Some(autoBits(Tables.rowCount(s, d, "embeddings")))),
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
           |planes AS (SELECT q, list(sgn ORDER BY j) AS pl
           |           FROM signs GROUP BY q),
           |bands AS (
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
           |scored AS (
           |  SELECT c.a_id, c.b_id,
           |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |      CAST(b.embedding AS DOUBLE[])) AS cos_exact
           |  FROM cand c
           |  JOIN embeddings a ON a.vec_id = c.a_id
           |  JOIN embeddings b ON b.vec_id = c.b_id)
           |SELECT a_id, b_id, round(cos_exact, 4) AS cos
           |FROM scored WHERE cos_exact >= 0.42e0
           |ORDER BY a_id, b_id""".stripMargin))

  // ---------------------------------------------------------------- d09
  /** Repeated-passage detection: the most-duplicated 10-token passages
    * across the corpus, with total occurrences (intra-doc repeats count)
    * and the number of distinct documents containing each. This is the
    * passage-level signal behind substring-dedup of pretraining corpora
    * — boilerplate, licenses, and templates surface here long before
    * whole-document dedup fires.
    *
    * Scale shape: positional shingle explode → one hash-agg on the
    * passage (map-side combine collapses intra-partition repeats —
    * exactly the hot-key pattern partial aggregation exists for) →
    * global top-k via TakeOrdered. No joins, no driver state. A
    * suffix-array formulation finds arbitrary-length repeats but needs
    * a global sort of every suffix; fixed-k windows at 100 TB keep the
    * work linear and the hot keys pre-aggregated. */
  val d09RepeatedPassages = QueryDef(
    "d09_repeated_passages",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), T.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(T.shinglesAll(col("toks"), 10)).as("passage"))
        .groupBy("passage")
        .agg(count(lit(1)).as("n_occur"),
          countDistinct("doc_id").as("n_docs"))
        .filter(col("n_occur") > 1)
        .orderBy(col("n_occur").desc, col("passage"))
        .limit(20)
    },
    Some("""WITH p AS (
           |  SELECT doc_id,
           |    unnest(list_transform(range(1, greatest(len(t)-9, 0)+1),
           |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
           |           t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' ||
           |           t[i+8] || ' ' || t[i+9])) AS passage
           |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
           |SELECT passage, CAST(count(*) AS BIGINT) AS n_occur,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           |FROM p GROUP BY passage HAVING count(*) > 1
           |ORDER BY n_occur DESC, passage LIMIT 20""".stripMargin))

  // --------------------------------------------------- incremental dedup
  /** Incremental dedup: match a NEW BATCH of documents against the
    * existing corpus's LSH index — the production shape of dedup at
    * 100 TB, where the corpus's band postings are materialized at ingest
    * and each arriving increment probes them instead of re-clustering
    * the world. The batch is modeled deterministically as doc_id % 7 == 0
    * (≈14%); for each new doc sharing ≥ 1 minhash band with the corpus,
    * report the best corpus match (most shared bands, tie → lowest id).
    *
    * Scale shape: posting-list equi-join on band_hash (probe ∝ increment
    * size, not corpus size), per-pair hash-agg, then one row_number
    * window partitioned by the HIGH-cardinality new-doc id. */
  val d10IncrementalDedup = QueryDef(
    "d10_incremental_dedup",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bands = minhashBands(Tables.documents(s, d))
      val newB = bands.filter(col("doc_id") % 7 === 0)
      val corpB = bands.filter(col("doc_id") % 7 =!= 0)
      val hits = newB.as("n").join(corpB.as("c"), Seq("band_hash"))
        .groupBy(col("n.doc_id").as("doc_id"),
          col("c.doc_id").as("match_doc_id"))
        .agg(count(lit(1)).as("shared_bands"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("shared_bands").desc, col("match_doc_id"))
      hits.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("match_doc_id"), col("shared_bands"))
        .orderBy("doc_id")
    },
    Some(minhashBandsCteSql + """,
         |nb AS (SELECT doc_id, band_hash FROM bands WHERE doc_id % 7 = 0),
         |cb AS (SELECT doc_id, band_hash FROM bands WHERE doc_id % 7 <> 0),
         |hits AS (
         |  SELECT n.doc_id, c.doc_id AS match_doc_id,
         |         CAST(count(*) AS BIGINT) AS shared_bands
         |  FROM nb n JOIN cb c USING (band_hash)
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY shared_bands DESC, match_doc_id) AS rn
         |  FROM hits)
         |SELECT doc_id, match_doc_id, shared_bands
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------- edit-distance verify
  /** Character-level verification of near-dup candidates: exact
    * Levenshtein distance and its normalized similarity
    * (1 - dist/max(len)) for every candidate pair d05 surfaces
    * (same blocking, same jaccard ≥ 0.02 floor). Edit distance is the
    * ground-truth fuzzy-match metric, but its O(|a|·|b|) DP is only
    * affordable AFTER blocking — this is the verify stage of the
    * classic candidate→verify fuzzy-dedup pipeline, and its cost scales
    * with the candidate count, never the corpus size.
    *
    * Scale shape: d05's posting-list equi-join emits the pairs; the two
    * text payloads arrive through joins on the high-cardinality doc_id;
    * the DP itself is a per-row projection (codegen'd levenshtein). */
  val d11EditVerify = QueryDef(
    "d11_edit_verify",
    (s, d) => {
      val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
      d05NgramJaccard.run(s, d)
        .join(texts.select(col("doc_id").as("a_id"), col("text").as("ta")),
          Seq("a_id"))
        .join(texts.select(col("doc_id").as("b_id"), col("text").as("tb")),
          Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("jaccard"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
          graft.functions.Rounding.r4(lit(1.0) -
            levenshtein(col("ta"), col("tb")).cast("double") /
              greatest(length(col("ta")), length(col("tb"))).cast("double"))
            .as("edit_sim"))
        .orderBy("a_id", "b_id")
    },
    d05NgramJaccard.oracle.map(d05Sql => s"""WITH cand AS (
         |${d05Sql.replace("ORDER BY a_id, b_id", "")})
         |SELECT c.a_id, c.b_id, c.jaccard,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         |  round(1.0 - levenshtein(a.text, b.text) /
         |    CAST(greatest(length(a.text), length(b.text)) AS DOUBLE), 4)
         |    AS edit_sim
         |FROM cand c
         |JOIN documents a ON c.a_id = a.doc_id
         |JOIN documents b ON c.b_id = b.doc_id
         |ORDER BY c.a_id, c.b_id""".stripMargin))

  // ---------------------------------------------------------------- d12
  /** MinHash estimator calibration: for every d05-verified candidate pair,
    * the signature-estimated Jaccard (share of the 32 permutation minima
    * that agree) set against the exact n-gram Jaccard, with the absolute
    * error — the measurement that justifies (or re-tunes) the d03/d08/d10
    * banding parameters on a NEW corpus before committing to them.
    * MinHash theory bounds the estimator's std dev at √(J(1−J)/k)
    * (≈0.09 at k=32, J=0.5); DedupQualitySpec pins the observed mean
    * error under that envelope.
    *
    * Scale shape: signatures are one hash-agg (the d03 path — an ingest
    * artifact at corpus scale), pairs come from d05's posting-list join;
    * the comparison is 32 integer equality terms per candidate pair —
    * cost ∝ candidates, never corpus². All arithmetic is integer counts
    * over md5-derived values, so both engines agree bit-for-bit; the
    * error term subtracts two identically-rounded doubles (same IEEE
    * values in either engine) before its own rounding. */
  val d12MinhashCalibration = QueryDef(
    "d12_minhash_calibration",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = d05NgramJaccard.run(s, d)
      val sig = minhashSig(docs)
      val sigA = sig.select(col("doc_id").as("a_id") +:
        (0 until NumPerm).map(i => col(s"h$i").as(s"a_h$i")): _*)
      val sigB = sig.select(col("doc_id").as("b_id") +:
        (0 until NumPerm).map(i => col(s"h$i").as(s"b_h$i")): _*)
      val agree = (0 until NumPerm)
        .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1).otherwise(0))
        .reduce(_ + _)
      // Broadcast direction matters at corpus scale: the signature table
      // is doc-count-sized (never broadcastable at 10^9 docs) while the
      // pair set — and the pair set enriched with one side's signature —
      // is candidate-bounded. Stream the signatures, broadcast the pairs.
      val aSide = sigA.join(broadcast(pairs), Seq("a_id"))
      sigB.join(broadcast(aSide), Seq("b_id"))
        .withColumn("jaccard_est", r4(agree.cast("double") / NumPerm))
        .select(col("a_id"), col("b_id"), col("jaccard"), col("jaccard_est"),
          r4(abs(col("jaccard_est") - col("jaccard"))).as("abs_err"))
        .orderBy("a_id", "b_id")
    },
    d05NgramJaccard.oracle.map { d05Sql =>
      val agreeSql = (0 until NumPerm)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      minhashBandsCteSql + s""",
        |pairs AS (${d05Sql.replace("ORDER BY a_id, b_id", "")})
        |SELECT a_id, b_id, jaccard,
        |  round(CAST($agreeSql AS DOUBLE) / $NumPerm, 4) AS jaccard_est,
        |  round(abs(round(CAST($agreeSql AS DOUBLE) / $NumPerm, 4) - jaccard), 4)
        |    AS abs_err
        |FROM pairs
        |JOIN sig sa ON pairs.a_id = sa.doc_id
        |JOIN sig sb ON pairs.b_id = sb.doc_id
        |ORDER BY a_id, b_id""".stripMargin
    })

  // ---------------------------------------------------------------- d13
  /** Longest-common-substring spans between documents — the forensic
    * step after near-dup detection: not "are these similar" (d05/d11)
    * but "WHICH run of text do they share, where, and how long". The
    * classic suffix-automaton answer needs all text on one machine; the
    * distributed shape is k-gram seed-and-extend: match positional
    * 8-token shingles across docs, then merge consecutive matches along
    * each alignment diagonal (pos_a − pos_b constant) into maximal
    * shared runs — exactly how genome aligners (BLAST) and
    * plagiarism detectors scale the same problem.
    *
    * Scale shape: posting-list equi-join on the shingle restricted to
    * RARE shingles (corpus occurrences ≤ 20 — the blocking step that
    * bounds the join fan-out; boilerplate that repeats thousands of
    * times is d09's business, not an alignment seed), then
    * gaps-and-islands per (a, b, diagonal) over one window exchange.
    * Join traffic ∝ Σ occ² over rare shingles — linear-ish in corpus
    * size with the cap, never the all-pairs cross join. */
  /** d13's seed-and-extend core over an arbitrary (doc_id, text) frame:
    * rare positional k-shingle matches merged along alignment diagonals
    * into maximal shared runs. Exposed for the planted-duplicate gate in
    * DedupQualitySpec. */
  private[graft] def lcsSpans(docs: org.apache.spark.sql.DataFrame,
      k: Int = 8, maxOcc: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = docs
      .select(col("doc_id"),
        posexplode(T.shinglesAll(T.tokens(col("text")), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("sh"))
    val st = p.groupBy("sh")
      .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("nd"))
      .filter(col("n_occ") <= maxOcc && col("nd") >= 2)
    val rare = p.join(st.select("sh"), "sh")
    // The stats filter bounds every surviving shingle to ≤ maxOcc
    // occurrences, so collecting its posting list is O(maxOcc) state —
    // never a hot-key hazard — and intra-list pair generation replaces
    // a postings self-join (which would plan the whole explode subtree
    // twice more). The groupBy reuses the join's hashpartitioning(sh),
    // so no additional exchange; collect_list order doesn't matter
    // because the emitted pair SET is order-invariant.
    val grouped = rare.groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("occ"))
    val pairsCol = flatten(transform(col("occ"), a =>
      filter(
        transform(col("occ"), b =>
          when(a("doc_id") < b("doc_id"),
            struct(a("doc_id").as("a_id"), b("doc_id").as("b_id"),
              a("pos").as("pa"), b("pos").as("pb")))),
        x => x.isNotNull)))
    val pairs = grouped.select(explode(pairsCol).as("pr"))
      .select(col("pr.a_id").as("a_id"), col("pr.b_id").as("b_id"),
        col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    val runs = pairs
      .withColumn("brk",
        when(col("pa") - lag("pa", 1).over(w) === 1, 0).otherwise(1))
      .withColumn("iid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("a_id", "b_id", "diag", "iid")
      .agg(count(lit(1)).as("len"),
        min("pa").as("start_a"), min("pb").as("start_b"))
    runs.select(col("a_id"), col("b_id"),
      (col("len") + (k - 1)).as("span_tokens"),
      col("start_a"), col("start_b"))
  }

  val d13SubstringSpans = QueryDef(
    "d13_substring_spans",
    (s, d) =>
      lcsSpans(Tables.documents(s, d))
        .orderBy(col("span_tokens").desc, col("a_id"), col("b_id"),
          col("start_a"), col("start_b"))
        .limit(20),
    Some("""WITH docs AS (
           |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |p AS (
           |  SELECT doc_id, u.pos AS pos, u.sh AS sh
           |  FROM (SELECT doc_id,
           |      unnest(list_transform(range(1, greatest(len(t)-7, 0)+1),
           |        i -> struct_pack(pos := i,
           |          sh := t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
           |                t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
           |                t[i+6] || ' ' || t[i+7]))) AS u
           |    FROM docs)),
           |st AS (
           |  SELECT sh FROM p GROUP BY sh
           |  HAVING count(*) <= 20 AND count(DISTINCT doc_id) >= 2),
           |rare AS (SELECT p.* FROM p JOIN st USING (sh)),
           |pairs AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
           |  FROM rare a JOIN rare b
           |    ON a.sh = b.sh AND a.doc_id < b.doc_id),
           |isl AS (
           |  SELECT *, CASE WHEN pa - lag(pa) OVER w = 1 THEN 0 ELSE 1 END AS brk
           |  FROM pairs
           |  WINDOW w AS (PARTITION BY a_id, b_id, diag ORDER BY pa)),
           |ii AS (
           |  SELECT *, sum(brk) OVER (PARTITION BY a_id, b_id, diag ORDER BY pa
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
           |  FROM isl),
           |runs AS (
           |  SELECT a_id, b_id, diag, iid, count(*) AS len,
           |    min(pa) AS start_a, min(pb) AS start_b
           |  FROM ii GROUP BY 1, 2, 3, 4)
           |SELECT a_id, b_id, CAST(len + 7 AS BIGINT) AS span_tokens,
           |  start_a, start_b
           |FROM runs
           |ORDER BY span_tokens DESC, a_id, b_id, start_a, start_b
           |LIMIT 20""".stripMargin))

  // ---------------------------------------------------------------- d14
  /** Dedup threshold ROI sweep — the tuning table consulted before
    * fixing a near-dup cutoff: for jaccard τ ∈ {0.1, 0.3, 0.5, 0.7},
    * how many pairs fire, how many documents a keep-the-lowest-id
    * policy removes (a doc is removed iff it has ANY ≥ τ partner with
    * a smaller id — deterministic without transitive closure), and the
    * character volume / corpus share that frees. The d05↔d03↔x07
    * family's s15-style operating-point table.
    *
    * Scale shape: the pair set is computed ONCE (d05's posting-list
    * join); per-removed-doc stats fold in a single groupBy(b_id) with
    * per-τ conditional counters, then ONE global agg + a 4-struct
    * explode — no per-τ re-scan, no self-join, nothing driver-side. */
  val d14ThresholdSweep = QueryDef(
    "d14_dedup_threshold_sweep",
    (s, d) => {
      val taus = Seq(0.1, 0.3, 0.5, 0.7)
      val perBAggs = max("jaccard").as("jmax") +:
        taus.zipWithIndex.map { case (t, i) =>
          sum(when(col("jaccard") >= t, 1L).otherwise(0L)).as(s"np_$i") }
      val perB = pairwiseJaccard(s, d)
        .groupBy(col("b_id").as("doc_id"))
        .agg(perBAggs.head, perBAggs.tail: _*)
      val oneAggs = taus.zipWithIndex.flatMap { case (t, i) => Seq(
        sum(col(s"np_$i")).as(s"pairs_$i"),
        sum(when(col("jmax") >= t, 1L).otherwise(0L)).as(s"docs_$i"),
        sum(when(col("jmax") >= t, col("n_chars"))).as(s"chars_$i")) }
      val one = perB
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id")
        .agg(oneAggs.head, oneAggs.tail: _*)
      val tot = Tables.documents(s, d).agg(sum("n_chars").as("tot_chars"))
      val rows = taus.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("tau"),
          coalesce(col(s"pairs_$i"), lit(0L)).as("n_pairs"),
          coalesce(col(s"docs_$i"), lit(0L)).as("n_docs_removed"),
          coalesce(col(s"chars_$i"), lit(0L)).as("chars_removed")) }
      one.crossJoin(broadcast(tot))
        .select(explode(array(rows: _*)).as("r"), col("tot_chars"))
        .select(col("r.tau").as("tau"), col("r.n_pairs").as("n_pairs"),
          col("r.n_docs_removed").as("n_docs_removed"),
          col("r.chars_removed").as("chars_removed"),
          r6(col("r.chars_removed").cast("double") / col("tot_chars"))
            .as("pct_chars"))
        .orderBy("tau")
    },
    Some {
      val taus = Seq("0.1", "0.3", "0.5", "0.7")
      val npCols = taus.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN jaccard >= $t THEN 1 ELSE 0 END) AS BIGINT) AS np_$i" }
      val oneCols = taus.zipWithIndex.flatMap { case (t, i) => Seq(
        s"CAST(sum(np_$i) AS BIGINT) AS pairs_$i",
        s"CAST(sum(CASE WHEN jmax >= $t THEN 1 ELSE 0 END) AS BIGINT) AS docs_$i",
        s"CAST(sum(CASE WHEN jmax >= $t THEN n_chars END) AS BIGINT) AS chars_$i") }
      val unions = taus.zipWithIndex.map { case (t, i) =>
        s"""SELECT CAST($t AS DOUBLE) AS tau,
           |  COALESCE(pairs_$i, 0) AS n_pairs,
           |  COALESCE(docs_$i, 0) AS n_docs_removed,
           |  COALESCE(chars_$i, 0) AS chars_removed,
           |  round(COALESCE(chars_$i, 0) / CAST(tc AS DOUBLE) * 1000000)
           |    / 1000000 AS pct_chars
           |FROM one CROSS JOIN tot""".stripMargin }
      s"""WITH sh AS (
         |  SELECT doc_id, lang, source,
         |    list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
         |  FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS t
         |        FROM documents)),
         |pairs AS (
         |  SELECT a_id, b_id, jaccard FROM (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
         |          AS DOUBLE), 4) AS jaccard
         |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source
         |      AND a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.02),
         |perb AS (
         |  SELECT b_id, max(jaccard) AS jmax, ${npCols.mkString(", ")}
         |  FROM pairs GROUP BY 1),
         |one AS (
         |  SELECT ${oneCols.mkString(", ")}
         |  FROM perb JOIN documents ON documents.doc_id = perb.b_id),
         |tot AS (SELECT sum(n_chars) AS tc FROM documents)
         |${unions.mkString("\nUNION ALL\n")}
         |ORDER BY tau""".stripMargin
    })

  // ---------------------------------------------------------------- d15
  /** Dedup cluster-size distribution: the audit read before shipping a
    * deduplicated corpus — how many docs sit in clusters of each size,
    * the singleton share, and the removal budget (docs − clusters). A
    * long tail of big clusters means boilerplate or a too-loose
    * threshold; a ~1.0 singleton share means the dedup bought nothing.
    *
    * Scale shape: two hash-aggs over d03's cached cluster labels
    * (cluster → size, size → frequency) plus a broadcast scalar total —
    * the histogram is bounded by max cluster size, never corpus size. */
  val d15ClusterSizes = QueryDef(
    "d15_cluster_sizes",
    (s, d) => {
      val lbl = minhashClustersCached(s, d)
      val sizes = lbl.groupBy("cluster_id")
        .agg(count(lit(1)).as("sz"))
      val total = sizes.agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"))
      sizes.groupBy("sz")
        .agg(count(lit(1)).as("n_clusters_of_sz"))
        .crossJoin(broadcast(total))
        .select(col("sz"), col("n_clusters_of_sz"),
          (col("sz") * col("n_clusters_of_sz")).as("docs_covered"),
          graft.functions.Rounding.r6(
            (col("sz") * col("n_clusters_of_sz")).cast("double")
              / col("n_docs")).as("doc_share"))
        .orderBy("sz")
    },
    Some(minhashCteSql +
      """,
        |csz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
        |  FROM lbl GROUP BY 1),
        |tot AS (SELECT count(*) AS n_clusters, sum(sz) AS n_docs FROM csz)
        |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters_of_sz,
        |  CAST(sz * count(*) AS BIGINT) AS docs_covered,
        |  round(CAST(sz * count(*) AS DOUBLE) / (SELECT n_docs FROM tot)
        |    * 1000000) / 1000000 AS doc_share
        |FROM csz GROUP BY sz ORDER BY sz""".stripMargin))

  // ---------------------------------------------------------------- d16
  /** SemDeDup-style semantic prune: every vector with ANY lower-id
    * neighbor at cosine ≥ 0.42 is dropped, keeping the minimum-id
    * member of each similarity neighborhood — the one-pass priority
    * rule semantic dedup pipelines apply per cluster (greedy chains are
    * approximated: a pruned vector can itself prune others, documented
    * and deterministic). Output is the full per-vector decision table
    * with the pruning witness.
    *
    * Scale shape: the pair set is d07's exact tail here (the oracle
    * twin); at corpus scale the candidate pairs come from d08's
    * banded-SRP equi-joins exactly as the d07↔d08 split documents. The
    * prune itself is one hash-agg on the pair list + a left join on
    * vec_id. */
  val d16SemanticPrune = QueryDef(
    "d16_semantic_prune",
    (s, d) => {
      val pairs = d07EmbeddingPairs.run(s, d).select("a_id", "b_id")
      val pruned = pairs.groupBy("b_id").agg(min("a_id").as("pruned_by"))
      Tables.embeddings(s, d).select(col("vec_id"))
        .join(pruned.withColumnRenamed("b_id", "vec_id"), Seq("vec_id"),
          "left")
        .select(col("vec_id"), col("pruned_by").isNull.as("kept"),
          col("pruned_by"))
        .orderBy("vec_id")
    },
    Some("""WITH p AS (
           |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
           |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |    AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |      CAST(b.embedding AS DOUBLE[])) >= 0.42e0),
           |pr AS (
           |  SELECT b_id, CAST(min(a_id) AS BIGINT) AS pruned_by
           |  FROM p GROUP BY 1)
           |SELECT vec_id, pruned_by IS NULL AS kept, pruned_by
           |FROM embeddings LEFT JOIN pr ON vec_id = b_id
           |ORDER BY vec_id""".stripMargin))

  // ---------------------------------------------------------------- d17
  /** Dedup-method agreement: d03's transitive MinHash clusters against
    * d05's direct n-gram Jaccard pairs over the same corpus — same-
    * cluster pairs classified both / cluster_only / jaccard_only with
    * each class's mean jaccard. cluster_only pairs are TRANSITIVE
    * matches (A~B~C with A,C not directly similar — exactly what
    * clustering adds over pairwise); jaccard_only pairs are similarity
    * the banding missed. The audit run before trusting one method's
    * removal list, x17's cross-method sibling INSIDE the text modality.
    *
    * Scale shape: cluster-pair enumeration is per-cluster (bounded by
    * the d15-audited max cluster size, never corpus²); the d05 side is
    * the posting-list join; the full-outer and rollup are pair-
    * bounded. */
  val d17MethodAgreement = QueryDef(
    "d17_method_agreement",
    (s, d) => {
      val lbl = minhashClustersCached(s, d)
      val cPairs = lbl.as("a")
        .join(lbl.withColumnRenamed("doc_id", "b_doc")
          .withColumnRenamed("cluster_id", "b_cl").as("b"),
          col("cluster_id") === col("b_cl") && col("doc_id") < col("b_doc"))
        .select(col("doc_id").as("a_id"), col("b_doc").as("b_id"),
          lit(1).as("in_cluster"))
      val jPairs = d05NgramJaccard.run(s, d)
        .select(col("a_id"), col("b_id"), col("jaccard"))
      cPairs.join(jPairs, Seq("a_id", "b_id"), "full_outer")
        .withColumn("agreement",
          when(col("in_cluster").isNotNull && col("jaccard").isNotNull,
            lit("both"))
            .when(col("in_cluster").isNotNull, lit("cluster_only"))
            .otherwise(lit("jaccard_only")))
        .groupBy("agreement")
        .agg(count(lit(1)).as("n_pairs"),
          r4(avg("jaccard")).as("mean_jaccard"))
        .orderBy("agreement")
    },
    for (d05Sql <- d05NgramJaccard.oracle) yield
      minhashCteSql +
        s""",
           |cp AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, 1 AS in_cluster
           |  FROM lbl a JOIN lbl b ON a.cluster_id = b.cluster_id
           |    AND a.doc_id < b.doc_id),
           |jp AS (${d05Sql.replace("ORDER BY a_id, b_id", "")}),
           |j AS (
           |  SELECT coalesce(cp.a_id, jp.a_id) AS a_id,
           |    coalesce(cp.b_id, jp.b_id) AS b_id, in_cluster, jaccard,
           |    CASE WHEN in_cluster IS NOT NULL AND jaccard IS NOT NULL
           |      THEN 'both'
           |         WHEN in_cluster IS NOT NULL THEN 'cluster_only'
           |         ELSE 'jaccard_only' END AS agreement
           |  FROM cp FULL OUTER JOIN jp
           |    ON cp.a_id = jp.a_id AND cp.b_id = jp.b_id)
           |SELECT agreement, CAST(count(*) AS BIGINT) AS n_pairs,
           |  round(avg(jaccard) * 10000) / 10000 AS mean_jaccard
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)

  // ---------------------------------------------------------------- d18
  /** Cross-entity set-similarity join: match customers to suppliers by
    * the Jaccard similarity of their traded PART SETS — the
    * entity-resolution / recommendation shape ("which supplier's
    * assortment does this customer's demand look like") that applies
    * the d05 posting-list discipline to BEHAVIORAL sets instead of
    * text shingles, across two DIFFERENT tables. Exact: candidates
    * come from the part-keyed posting join (a pair appears once per
    * SHARED part, so one count-agg yields |A∩B|), set sizes broadcast
    * back, Jaccard = shared/(|A|+|B|−shared) in exact integers.
    *
    * Scale shape: both set tables are ONE distinct-agg each
    * (map-side); candidate volume is Σ_p cust(p)·supp(p) — the
    * posting-list cost that hot keys inflate, which is why real
    * deployments cap or tf-idf-weight the hottest parts (the d05/x01
    * stop-shingle discipline; at this catalog no part is degenerate,
    * so the exact form IS the registered path); the pair grid is
    * bounded by |customers|×|suppliers|, and the report is a
    * TakeOrdered(20) with an exact-integer (jaccard, c, s) total
    * order. */
  val d18AssortmentMatch = QueryDef(
    "d18_assortment_match",
    (s, d) => {
      // NOTE (r14): tried persisting cs/ss and attaching the set sizes
      // after the pair agg instead of via these windows — measured 7.1 s
      // / 79 CPU-s vs 5.5 s / 20 CPU-s: caching pins the set tables at
      // the pre-AQE partition count (canChangeCachedPlanOutputPartitioning
      // is off), which defeats the coalescing that makes the candidate
      // agg cheap. The window form stays.
      val cs = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val ss = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("sup"), col("l_partkey").as("p"))
        .distinct()
      // set sizes ride along as full-frame windows on the (already
      // exchanged) high-cardinality set keys — no size branch ever
      // re-scans the fact table (Spark has no subplan CSE)
      import org.apache.spark.sql.expressions.Window
      val wc = Window.partitionBy("c")
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      val ws = Window.partitionBy("sup")
        .rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
      val cs2 = cs.withColumn("na", count(lit(1)).over(wc))
      // the supplier posting list is |suppliers|×catalog-bounded (a few
      // hundred thousand (sup, part) rows even at large SF) — broadcast
      // it so the corpus-sized customer side never shuffles for the
      // posting join, and the pair agg combines map-side
      val ss2 = ss.withColumn("nb", count(lit(1)).over(ws))
      cs2.join(broadcast(ss2), "p")
        .groupBy("c", "sup")
        .agg(count(lit(1)).as("shared"), max("na").as("na"),
          max("nb").as("nb"))
        .filter(col("shared") >= 10L)
        .select(col("c").as("cust_key"), col("sup").as("supp_key"),
          col("na"), col("nb"), col("shared"),
          expr("shared * 1000000 div (na + nb - shared)")
            .as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("cust_key").asc,
          col("supp_key").asc)
        .limit(20)
    },
    Some("""WITH cs AS (
           |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |ss AS (
           |  SELECT DISTINCT l_suppkey AS sup, l_partkey AS p
           |  FROM lineitem),
           |csize AS (SELECT c, CAST(count(*) AS BIGINT) AS na
           |  FROM cs GROUP BY 1),
           |ssize AS (SELECT sup, CAST(count(*) AS BIGINT) AS nb
           |  FROM ss GROUP BY 1),
           |pairs AS (
           |  SELECT c, sup, CAST(count(*) AS BIGINT) AS shared
           |  FROM cs JOIN ss USING (p)
           |  GROUP BY 1, 2 HAVING count(*) >= 10)
           |SELECT c AS cust_key, sup AS supp_key, na, nb, shared,
           |  shared * 1000000 // (na + nb - shared) AS jaccard_ppm
           |FROM pairs JOIN csize USING (c) JOIN ssize USING (sup)
           |ORDER BY jaccard_ppm DESC, cust_key ASC, supp_key ASC
           |LIMIT 20""".stripMargin))

  val all: Seq[QueryDef] =
    Seq(d01Exact, d02Fingerprint, d03MinHashLsh, d04SimHash, d05NgramJaccard,
      d06EmbeddingNearDup, d07EmbeddingPairs, d08PairsBucketed,
      d09RepeatedPassages, d10IncrementalDedup, d11EditVerify,
      d12MinhashCalibration, d13SubstringSpans, d14ThresholdSweep,
      d15ClusterSizes, d16SemanticPrune, d17MethodAgreement,
      d18AssortmentMatch)
}
