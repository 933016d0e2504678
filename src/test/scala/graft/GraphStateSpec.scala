package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, udf}

import graft.operators.Graph

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

  for (name <- Seq("q73_copurchase_rank", "q82_bfs_levels",
      "q96_connected_components", "q120_kcore", "q152_label_communities"))
    test(s"$name frees its cached graph state when it returns") {
      val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
      val cached0 = cacheEntries
      val out = SparkEntry.queries(name)(spark, sf)
      val added = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
      assert(added.subsetOf(answerRdds(out)),
        s"$name left persisted RDDs ${added -- answerRdds(out)} behind")
      assert(cacheEntries == cached0, s"$name left CacheManager entries")
      assert(out.count() > 0)
    }

  test("a graph query whose answer fails still frees its state") {
    var freed = false
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom"); x }
    val query = Graph.checkpointed((s, _) =>
      (s.range(3).select(boom(col("id"))), () => freed = true))
    intercept[Exception](query(spark, sf))
    assert(freed, "the interior's free thunk must run when the answer throws")
  }
}
