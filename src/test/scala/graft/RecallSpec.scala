package graft

import org.apache.spark.sql.functions._

/** ANN quality gate: the LSH and IVF approximate paths must reach a
  * minimum recall@10 against the exact brute-force ranking — catches
  * silent quality regressions in bucketing/probing parameters that a
  * rows-only correctness check can't see. */
class RecallSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def topk(name: String): Map[(Long, Long), Int] =
    SparkEntry.queries(name)(spark, sf)
      .select(col("qid").cast("long"), col("vec_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> 1).toMap

  test("LSH and IVF ANN recall@10 vs exact brute force") {
    val exact = topk("s01_sim_topk")
    assert(exact.nonEmpty)
    val lsh = topk("s02_sim_ann_lsh")
    val ivf = topk("s03_sim_ann_ivf")
    val lshRecall = exact.keys.count(lsh.contains).toDouble / exact.size
    val ivfRecall = exact.keys.count(ivf.contains).toDouble / exact.size
    info(f"recall@10 — lsh: $lshRecall%.2f, ivf: $ivfRecall%.2f")
    // 8-bit LSH on 500 vectors is a coarse prefilter; IVF probes 4/16
    // cells. Floors are deliberately modest but non-trivial.
    assert(ivfRecall >= 0.5, f"IVF recall collapsed: $ivfRecall%.2f")
    assert(lshRecall >= 0.1, f"LSH recall collapsed: $lshRecall%.2f")
  }

  test("PQ+ADC ANN recall@10 vs exact brute force") {
    val exact = topk("s01_sim_topk")
    val pq = topk("s04_sim_ann_pq")
    val recall = exact.keys.count(pq.contains).toDouble / exact.size
    info(f"recall@10 — pq(adc, rerank=64): $recall%.2f")
    // 8×4-bit codes quantize hard, but the 64-candidate exact re-rank
    // recovers the true neighbors the ADC scan surfaces.
    assert(recall >= 0.5, f"PQ recall collapsed: $recall%.2f")
  }

  test("SQ8 ANN recall@10 vs exact brute force, and above PQ") {
    val exact = topk("s01_sim_topk")
    val sq = topk("s17_sim_ann_sq8")
    val pq = topk("s04_sim_ann_pq")
    val sqRecall = exact.keys.count(sq.contains).toDouble / exact.size
    val pqRecall = exact.keys.count(pq.contains).toDouble / exact.size
    info(f"recall@10 — sq8(rerank=64): $sqRecall%.2f (pq: $pqRecall%.2f)")
    // 8 bits PER DIMENSION is nearly lossless — the whole point of SQ8
    // over PQ's 4 bits per 8-dim subvector; if its recall ever drops to
    // PQ's level the quantizer stats are broken.
    assert(sqRecall >= 0.8, f"SQ8 recall collapsed: $sqRecall%.2f")
    assert(sqRecall >= pqRecall,
      f"SQ8 ($sqRecall%.2f) must not lose to the 32x-smaller PQ ($pqRecall%.2f)")
  }

  test("IVF-PQ composed ANN recall@10 vs exact brute force and vs its parents") {
    val exact = topk("s01_sim_topk")
    val ivf = topk("s03_sim_ann_ivf")
    val ivfpq = topk("s13_sim_ann_ivfpq")
    val recall = exact.keys.count(ivfpq.contains).toDouble / exact.size
    val ivfRecall = exact.keys.count(ivf.contains).toDouble / exact.size
    info(f"recall@10 — ivfpq(nprobe=4, adc, rerank=64): $recall%.2f " +
      f"(ivf parent: $ivfRecall%.2f)")
    // the composition can only lose candidates vs plain IVF (same cells,
    // ADC prefilter before the exact re-rank) — recall must stay within
    // the quantization loss of the PQ stage, and above the hard floor
    assert(recall >= 0.4, f"IVF-PQ recall collapsed: $recall%.2f")
    assert(recall >= ivfRecall - 0.25,
      f"PQ stage lost too much vs IVF parent: $recall%.2f vs $ivfRecall%.2f")
    // every result must come from the probed cells: ⊆ IVF's candidate
    // universe ⇒ any (q, v) hit that IVF ranked top-10 and s13 also
    // ranked top-10 is consistent by construction; structural check —
    // 10 ranked rows per query, ranks 1..10 dense
    val byQ = SparkEntry.queries("s13_sim_ann_ivfpq")(spark, sf)
      .collect().groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 10),
        s"query $q: ranks not dense 1..10")
    }
  }

  test("s15 nprobe sweep: recall and scan cost both monotone, full-probe recall high") {
    val rows = SparkEntry.queries("s15_ivf_nprobe_sweep")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    // more probes can only add candidates: recall and cost are monotone
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"recall fell: $a -> $b")
      assert(b._3 >= a._3, s"cand_frac fell: $a -> $b")
    }
    assert(rows.last._2 >= 0.7,
      s"nprobe=8 (half the cells) should recover most of top-10: ${rows.last}")
    assert(rows.head._3 < rows.last._3,
      "sweep must actually trade scan cost for recall")
  }

  test("s14 matryoshka: truncated ranking structurally sound, overlap measured") {
    val exact = topk("s01_sim_topk")
    val rows = SparkEntry.queries("s14_sim_matryoshka")(spark, sf).collect()
    // dense ranks 1..10 per query, sims in [-1, 1], trunc ordering holds
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 10),
        s"query $q: ranks not dense")
      val simsInRankOrder = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      simsInRankOrder.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0) >= w(1) - 1e-9,
          s"query $q: sim_trunc not non-increasing in rank")
      }
      rs.foreach { r =>
        assert(r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
        assert(r.getDouble(4) >= -1.0 - 1e-9 && r.getDouble(4) <= 1.0 + 1e-9)
      }
    }
    // overlap@10 vs the full-dim ranking: 16/64 dims of these synthetic
    // embeddings retain little of the ranking (~0.2 here) — the eval
    // exists to surface exactly that number; floor only against collapse
    val trunc = rows.map(r => (r.getLong(0), r.getLong(2)) -> 1).toMap
    val overlap = exact.keys.count(trunc.contains).toDouble / exact.size
    info(f"overlap@10 truncated-16 vs full-64: $overlap%.2f")
    assert(overlap >= 0.05, f"truncated ranking collapsed: $overlap%.2f")
  }

  test("MMR rerank: anchored on top-1, contained in candidates, more diverse, deterministic") {
    import org.apache.spark.sql.Row
    def rows(name: String): Array[Row] =
      SparkEntry.queries(name)(spark, sf).collect()
    val exact = rows("s01_sim_topk")
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val mmr1 = rows("s08_sim_mmr")
    val mmr = mmr1.map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(mmr.nonEmpty)
    val qids = mmr.keys.map(_._1).toSet

    // rank 1 is the plain top-1 (MMR with empty selected set = pure rel)
    qids.foreach { q =>
      assert(mmr((q, 1)) == exact((q, 1)), s"query $q: MMR rank-1 != top-1")
    }
    // k selections per query, all drawn from the exact top-50 candidates
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i))
      val na = a.foldLeft(0.0)((s, x) => s + x.toDouble * x)
      val nb = b.foldLeft(0.0)((s, x) => s + x.toDouble * x)
      dot / math.sqrt(na * nb)
    }
    def meanPairwise(ids: Seq[Long]): Double = {
      val pairs = for { i <- ids.indices; j <- i + 1 until ids.length }
        yield cos(emb(ids(i)), emb(ids(j)))
      pairs.sum / pairs.length
    }
    // diversity: the MMR set's mean pairwise similarity never exceeds the
    // plain top-10's, and is strictly lower for at least one query
    var strictly = 0
    qids.foreach { q =>
      assert(mmr.count(_._1._1 == q) == 10, s"query $q: wrong k")
      val plain = meanPairwise((1 to 10).map(r => exact((q, r))))
      val divers = meanPairwise((1 to 10).map(r => mmr((q, r))))
      assert(divers <= plain + 1e-12,
        s"query $q: MMR less diverse ($divers) than plain top-k ($plain)")
      if (divers < plain - 1e-9) strictly += 1
    }
    assert(strictly >= 1, "MMR never improved diversity on any query")
    // deterministic across runs
    val mmr2 = rows("s08_sim_mmr")
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(mmr == mmr2, "MMR output varies across runs")
  }

  test("s09 knn graph: ranked, cosine-ordered, mutual flags symmetric") {
    val out = SparkEntry.queries("s09_knn_graph")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    assert(out.nonEmpty)
    // per vector: ranks contiguous from 1, at most 3, cosine non-increasing
    out.groupBy(_._1).foreach { case (v, edges) =>
      val sorted = edges.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq,
        s"vec $v ranks not contiguous")
      assert(sorted.length <= 3)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4; case _ => true
      }, s"vec $v cosine not non-increasing")
      // no self loops
      assert(edges.forall(e => e._3 != v))
    }
    // mutual flag symmetric: edge marked mutual iff reverse edge exists
    val edgeSet = out.map(e => (e._1, e._3)).toSet
    out.foreach { e =>
      val expect = if (edgeSet.contains((e._3, e._1))) 1 else 0
      assert(e._5 == expect, s"edge ${(e._1, e._3)} mutual=${e._5} expected $expect")
    }
    // deterministic across runs
    val again = SparkEntry.queries("s09_knn_graph")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.map(e => (e._1, e._2, e._3)).toSeq == again.toSeq)
  }

  test("s20 beam sweep: recall and visited cost both monotone in beam") {
    val rows = SparkEntry.queries("s20_beam_sweep")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    info(rows.map(r => f"beam=${r._1}: recall=${r._4}%.2f visited=${r._3}")
      .mkString(", "))
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8))
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._4 <= b._4; case _ => true
    }, "recall must be non-decreasing in beam width")
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._3 < b._3; case _ => true
    }, "visited cost must strictly grow with beam width")
    assert(rows.last._4 >= 0.6, "widest beam must reach s19's floor")
  }

  test("graph-walk ANN recall@10 vs exact brute force + beam structure") {
    val exact = topk("s01_sim_topk")
    val walk = topk("s19_graph_walk")
    val recall = exact.keys.count(walk.contains).toDouble / exact.size
    info(f"recall@10 — graph walk(beam=8, hops=3): $recall%.2f")
    // measured 0.72 at sf0.001 / 0.78 at sf0.01 for the degree-8 graph;
    // a drop below 0.6 means the seed slice or the walk broke
    assert(recall >= 0.6, f"graph-walk recall collapsed: $recall%.2f")
    val rows = SparkEntry.queries("s19_graph_walk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (qid, hits) =>
      val sorted = hits.sortBy(_._2)
      assert(sorted.length <= 10, s"qid $qid returned ${sorted.length} hits")
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq,
        s"qid $qid ranks not contiguous")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4; case _ => true
      }, s"qid $qid sims not non-increasing")
      assert(hits.forall(_._3 != qid), s"qid $qid returned itself")
    }
  }

  test("s22 k-center coreset: monotone radius, beats random baseline") {
    val picks = SparkEntry.queries("s22_kcenter_coreset")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(picks.length == 16)
    assert(picks.map(_._2).distinct.length == 16, "duplicate pick")
    // the recorded radius at pick i is the cover radius of the first
    // i−1 centers — farthest-point traversal makes it non-increasing
    val radii = picks.sortBy(_._1).map(_._3).drop(1)
    assert(radii.sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true
    }, s"cover radius not monotone: ${radii.toSeq}")

    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val all = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def coverRadius(ids: Set[Long]): Double =
      all.valuesIterator.map(v =>
        ids.iterator.map(id => 1.0 - cos(v, all(id))).min).max
    val greedy = coverRadius(picks.map(_._2).toSet)
    // deterministic "random" baseline: 16 smallest md5(vec_id) picks
    val md = java.security.MessageDigest.getInstance("MD5")
    val baseline = all.keys.toSeq
      .sortBy(id => java.util.Arrays.hashCode(
        md.digest(id.toString.getBytes)) -> id)
      .take(16).toSet
    val rand = coverRadius(baseline)
    info(f"cover radius — greedy: $greedy%.4f, random: $rand%.4f")
    assert(greedy <= rand,
      f"greedy k-center ($greedy%.4f) lost to random picks ($rand%.4f)")
  }

  test("ANN fits are persisted parquet ingest artifacts (read-back == pure re-fit)") {
    // Round-12 posture (the d03-labels precedent): the IVF centroids and
    // PQ codebooks are tiny parquet tables written once per corpus and
    // READ by the query path — the TrieMap memo is only a per-JVM cache,
    // so a second session (or second driver on a cluster) finds the
    // table instead of re-fitting. Pin: (1) the artifact exists on disk
    // after the fit is requested, (2) the memoized value IS the table's
    // content, (3) the table equals an independent re-fit — the
    // pure-function property that makes artifact and re-fit
    // interchangeable (and lets the DuckDB oracle replay the fit).
    import graft.operators.{IngestArtifacts, IntKMeans, Similarity}
    val cents = Similarity.ivfCentroids(spark, sf)
    Similarity.pqCodebook(spark, sf) // materialize the PQ artifact too
    val ivfPath = IngestArtifacts.path(sf, "ivf_k16_r3.parquet")
    assert(new java.io.File(ivfPath, "_SUCCESS").exists(),
      s"IVF fit artifact missing at $ivfPath")
    assert(new java.io.File(
      IngestArtifacts.path(sf, "pq_m8_k16_r3.parquet"), "_SUCCESS")
      .exists(), "PQ codebook artifact missing")
    val fromDisk = spark.read.parquet(ivfPath).orderBy("cell")
      .collect().map(_.getSeq[Long](1).toSeq).toIndexedSeq
    assert(fromDisk == cents,
      "memoized centroids diverge from the persisted artifact")
    val sub = Tables.embeddings(spark, sf)
      .select(col("vec_id"), lit(0).as("m"),
        col("embedding").cast("array<double>").as("e"))
    val refit = IntKMeans.fit(sub, k = 16, rounds = 3, dims = Seq(64))(0)
      .map(_.toSeq)
    assert(refit == cents,
      "persisted artifact diverges from an independent re-fit — the fit " +
        "is no longer a pure function of the data")
  }
}
