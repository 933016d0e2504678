package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private def allDefs: Seq[QueryDef] =
    graft.operators.Relational.all ++ graft.operators.Relational2.all ++
      graft.operators.Skew.all ++ graft.operators.Dedup.all ++
      graft.operators.Similarity.all ++ graft.operators.TextAnalysis.all ++
      graft.operators.Multimodal.all ++ graft.operators.Curation.all ++
      graft.operators.Temporal.all ++ graft.operators.Pruning.all ++
      graft.operators.Behavioral.all ++ graft.operators.Relational3.all ++
      graft.operators.Graph.all ++ graft.operators.Bpe.all ++
      graft.operators.AsOf.all ++ graft.operators.Security.all ++
      graft.operators.Statistics.all ++ graft.operators.Quality.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exercises the reference's end-to-end shape (SURVEY.md §7 step 1):
    * envelope read → schema-on-read JSON deser (types.go:152-195 analog) →
    * filter → event-time tumbling window aggregate.
    */
  def entry(spark: SparkSession): DataFrame =
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("k", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .filter(col("value") > 0)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
        sum("k").as("sum_k"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"), col("sum_k"))
      .orderBy("hour", "event_type")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** The queries whose names start with one of `prefixes` (all of them
    * when there are none), sorted by name. Throws, naming them, if any
    * prefix matches no query: a mistyped name must not silently shrink
    * a targeted run. */
  def select(prefixes: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries.toSeq.sortBy(_._1)
    val unknown = prefixes.filterNot(p => all.exists(_._1.startsWith(p)))
    require(unknown.isEmpty,
      s"no query name starts with: ${unknown.mkString(", ")}")
    all.filter { case (n, _) =>
      prefixes.isEmpty || prefixes.exists(n.startsWith) }
  }

  /** The interior of every `QueryDef.checkpointed` query. */
  def interiors: Map[String, QueryDef.Interior] =
    allDefs.flatMap(q => q.interior.map(q.name -> _)).toMap

  /** Ingest-time artifacts (the IVF coarse quantizer, PQ codebooks, and
    * the d03 near-dup cluster labels). In production these are fitted
    * once when data lands and persisted next to it; callers that model
    * a query-only workload (Bench) invoke this up front so per-query
    * timings measure the query path, not ingest. d03 itself still
    * computes the clustering fresh — its benched time measures label
    * propagation, not a cache hit.
    *
    * IVF and PQ share one lockstep k-means (Similarity.annFits), and the
    * labels propagate on their own thread while it runs: both are short
    * driver-bound job chains that leave most cores idle alone. A
    * dedicated thread, not a pool, so it inherits this thread's Spark
    * local properties as they are now. Each part's jobs carry a job
    * description (`ingest: ann fit`, `ingest: d03 labels`) for listeners
    * and event logs. Returns once both are done, even if one failed. */
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    var labelsFailure: Throwable = null // read after join()
    val labels = new Thread(() =>
      try {
        sc.setJobDescription("ingest: d03 labels")
        graft.operators.Dedup.minhashClustersCached(spark, sfDir): Unit
      } catch { case t: Throwable => labelsFailure = t },
      "ingest-d03-labels")
    labels.start()
    try {
      sc.setJobDescription("ingest: ann fit")
      graft.operators.Similarity.annFits(spark, sfDir): Unit
    } finally {
      labels.join()
      sc.setJobDescription(prior)
    }
    if (labelsFailure != null) throw labelsFailure
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
