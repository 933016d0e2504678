package graft

import org.apache.spark.sql.functions._

import graft.operators.IntKMeans

/** Pins the determinism contract behind the round-11 ANN oracle flips
  * (s03/s04/s13/s15): the integer k-means fit must be a pure function
  * of the DATA — same centroids at any partitioning, every value on the
  * micro-unit grid, init picks drawn from the corpus — because the
  * DuckDB oracle replays the fit from the parquet alone and
  * hash-compares everything downstream of it. */
class IntKMeansSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def corpus(nSub: Int) = {
    val emb = Tables.embeddings(spark, sf)
    if (nSub == 1)
      emb.select(col("vec_id"), lit(0).as("m"),
        col("embedding").cast("array<double>").as("e"))
    else
      emb.select(col("vec_id"), explode(array((0 until nSub).map { m =>
        struct(lit(m).as("m"),
          slice(col("embedding").cast("array<double>"),
            m * (64 / nSub) + 1, 64 / nSub).as("e"))
      }: _*)).as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.e").as("e"))
  }

  test("fit is invariant to partitioning — the order-proof-sums claim") {
    val base = corpus(1)
    val a = IntKMeans.fit(base.repartition(1), 16, 3, Seq(64))
    val b = IntKMeans.fit(base.repartition(13, col("vec_id")), 16, 3, Seq(64))
    val c = IntKMeans.fit(base.orderBy(col("vec_id").desc), 16, 3, Seq(64))
    def flat(r: IndexedSeq[IndexedSeq[Array[Long]]]): Seq[Seq[Long]] =
      r.flatMap(_.map(_.toSeq))
    assert(flat(a) == flat(b), "centroids changed under repartition")
    assert(flat(a) == flat(c), "centroids changed under input order")
  }

  test("fit lands on the micro-unit grid, k centroids per subspace, distinct") {
    val cents = IntKMeans.fit(corpus(4), 8, 2, Seq.fill(4)(16))
    assert(cents.length == 4)
    cents.foreach { cb =>
      assert(cb.length == 8)
      assert(cb.map(_.toSeq).distinct.length == 8,
        "duplicate centroid — Gonzalez must pick distinct seeds")
      cb.foreach(c => assert(c.length == 16))
    }
    // values are plausible micro-units of the [-0.6, 0.6] embedding range
    cents.flatten.flatten.foreach(v => assert(math.abs(v) <= 2000000L))
  }

  test("mixed dims in one lockstep fit == each subspace fitted alone") {
    // the shipped ANN fit's shape: a whole-vector subspace beside sliced
    // ones, each with its own dim, riding the same jobs
    val mixed = corpus(1).union(corpus(4).withColumn("m", col("m") + 1))
    def flat(r: IndexedSeq[IndexedSeq[Array[Long]]]): Seq[Seq[Seq[Long]]] =
      r.map(_.map(_.toSeq))
    val both = IntKMeans.fit(mixed, 16, 3, 64 +: Seq.fill(4)(16))
    val whole = IntKMeans.fit(corpus(1), 16, 3, Seq(64))
    val sliced = IntKMeans.fit(corpus(4), 16, 3, Seq.fill(4)(16))
    assert(both.length == 5)
    assert(flat(both) == flat(whole) ++ flat(sliced),
      "a subspace's centroids changed when fitted beside others")
  }

  test("Gonzalez seed = quantized vector of the lowest vec_id") {
    val emb = Tables.embeddings(spark, sf)
      .orderBy("vec_id").limit(1)
      .select(IntKMeans.quantize(col("embedding").cast("array<double>")))
      .collect()(0).getSeq[Long](0)
    val cents = IntKMeans.fit(corpus(1), 16, 0, Seq(64))
    assert(cents(0)(0).toSeq == emb,
      "cell 0 with zero Lloyd rounds must be the seed data point")
  }

  // ------------------------------------------------ generative proof
  // Plain-Scala model of the documented fit semantics — written from
  // the contract (quantize floor(x·1e6+0.5); Gonzalez seed = lowest id,
  // farthest-first with ties to lowest id, excluded BY ID so duplicate
  // coordinates can seed distinct cells; Lloyd argmin ties to lowest
  // cell; centroid = floorDiv(2·sum+n, 2·n) per dim; empty cell keeps
  // its previous centroid), sharing no Spark machinery with the
  // implementation. This is the same independent-referee pattern as
  // JoinPropertySpec/MisraGriesSpec: the DuckDB oracle replays these
  // semantics too, so a divergence surfaces HERE by name instead of as
  // a cryptic s03/s04 hash mismatch.
  private def modelFit(vecs: Seq[(Long, Seq[Double])], k: Int,
      rounds: Int, dim: Int): IndexedSeq[Seq[Long]] = {
    val q: Map[Long, IndexedSeq[Long]] = vecs.map { case (id, e) =>
      id -> e.map(x => math.floor(x * 1e6 + 0.5).toLong).toIndexedSeq
    }.toMap
    def d2(a: IndexedSeq[Long], b: IndexedSeq[Long]): Long =
      (0 until dim).map { i => val d = a(i) - b(i); d * d }.sum
    var cents = Vector(q(q.keys.min))
    var picked = Set(q.keys.min)
    for (_ <- 2 to k) {
      val next = q.filterNot(kv => picked(kv._1))
        .map { case (id, e) => (cents.map(c => d2(e, c)).min, id) }
        .toSeq.sortBy { case (md, id) => (-md, id) }.head._2
      cents :+= q(next); picked += next
    }
    for (_ <- 1 to rounds) {
      val assign = q.map { case (id, e) =>
        id -> (0 until k).minBy(j => (d2(e, cents(j)), j))
      }
      cents = Vector.tabulate(k) { j =>
        val mem = assign.collect { case (id, c) if c == j => q(id) }.toSeq
        if (mem.isEmpty) cents(j)
        else IndexedSeq.tabulate(dim) { i =>
          val sum = mem.map(_(i)).sum
          Math.floorDiv(2 * sum + mem.size, 2L * mem.size)
        }
      }
    }
    cents.map(_.toSeq)
  }

  test("property: distributed fit == plain-Scala model on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val s = spark
    import s.implicits._
    val dim = 4
    // coordinates snapped to half-micro-units stress the floor(x+0.5)
    // boundary; duplicated rows stress the by-id exclusion and the
    // lowest-cell/lowest-id tie-breaks
    val vecGen = Gen.listOfN(dim,
      Gen.chooseNum(-1200000, 1200000).map(_ / 2e6))
    val corpusGen = for {
      n <- Gen.chooseNum(12, 40)
      vs <- Gen.listOfN(n, vecGen)
      dups <- Gen.chooseNum(0, 5)
    } yield {
      val base = vs.zipWithIndex.map { case (v, i) => (i.toLong, v: Seq[Double]) }
      val duped = base ++ (0 until math.min(dups, base.size)).map(i =>
        (base.size + i).toLong -> base(i)._2)
      duped
    }
    val prop = Prop.forAllNoShrink(corpusGen, Gen.chooseNum(2, 5),
      Gen.chooseNum(0, 3), Gen.chooseNum(1, 7)) { (vecs, k, rounds, parts) =>
      val df = vecs.toDF("vec_id", "e")
        .select(col("vec_id"), lit(0).as("m"), col("e"))
        .repartition(parts)
      val got = IntKMeans.fit(df, k, rounds, Seq(dim))(0).map(_.toSeq)
      val want = modelFit(vecs, k, rounds, dim)
      if (got != want)
        println(s"intkmeans mismatch k=$k rounds=$rounds parts=$parts\n" +
          s"  got:  $got\n  want: $want\n  vecs: ${vecs.take(6)}")
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
