package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, udf}

import graft.operators.{Graph, Rounds}

/** Cached-state hygiene of the graph family. Verify and Bench run every
  * query in one long session, so state a graph query leaves persisted
  * taxes every later query: after a query returns, the only new
  * persisted RDD may be its answer's own local checkpoint, and the
  * CacheManager must hold nothing new — also when the answer fails. */
class GraphStateSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** `numCachedEntries` is `private[sql]`; it is public in bytecode. */
  private def cacheEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm)
      .asInstanceOf[Int]
  }

  /** The RDDs an answer frame is a scan of: its local checkpoint. */
  private def answerRdds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** q120's peel over an in-spec graph that takes several peels per k
    * (the sf0.001 co-purchase graph is stable after one): a 5-clique with
    * a 3-edge path hanging off node 5 (peeled one node per round at
    * k = 2), plus node 7 (degree 2) and node 6 (degree 3 through 7),
    * which survive k = 2 and peel one per round at k = 3. */
  private def kcoresOfCliqueWithPath(): DataFrame = {
    val s = spark
    import s.implicits._
    val clique = for (u <- 1L to 5L; v <- u + 1 to 5L) yield (u, v)
    val tails = Seq((5L, 10L), (10L, 11L), (11L, 12L),
      (1L, 6L), (2L, 6L), (6L, 7L), (3L, 7L))
    Rounds.checkpoint(Graph.kcores((clique ++ tails).toDF("u", "v")))
  }

  private val runs: Seq[(String, () => DataFrame)] = Seq(
    "q73_copurchase_rank", "q82_bfs_levels", "q96_connected_components",
    "q120_kcore", "q152_label_communities", "d03_dedup_minhash_lsh",
    "t20_bpe_tokenize", "s19_graph_walk", "s20_beam_sweep",
    "s22_kcenter_coreset", "q166_abc_xyz")
    .map(n => n -> (() => SparkEntry.queries(n)(spark, sf))) :+
    ("q120's peel of a clique with a path" -> (() => kcoresOfCliqueWithPath()))

  for ((name, run) <- runs)
    test(s"$name frees its cached graph state when it returns") {
      val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
      val cached0 = cacheEntries
      val out = run()
      val added = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
      assert(added.subsetOf(answerRdds(out)),
        s"$name left persisted RDDs ${added -- answerRdds(out)} behind")
      assert(cacheEntries == cached0, s"$name left CacheManager entries")
      assert(out.count() > 0)
    }

  test("a round that throws mid-loop frees every round, start included") {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val cached0 = cacheEntries
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom"); x }
    var rounds = 0
    intercept[Exception] {
      Rounds.iterate(Rounds.cut(spark.range(100).toDF("id")), 5) { (df, _) =>
        rounds += 1
        df.select((if (rounds < 3) col("id") + 1 else boom(col("id"))).as("id"))
      }
    }
    assert(rounds == 3)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds0,
      "a failed loop left persisted RDDs behind")
    assert(cacheEntries == cached0, "a failed loop left CacheManager entries")
  }

  test("a graph query whose answer fails still frees its state") {
    var freed = false
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom"); x }
    val query = Rounds.checkpointed((s, _) =>
      (s.range(3).select(boom(col("id"))), () => freed = true))
    intercept[Exception](query(spark, sf))
    assert(freed, "the interior's free thunk must run when the answer throws")
  }
}
