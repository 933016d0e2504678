package graft

/** Ingest-artifact lifecycle probe — the "second driver" cost story the
  * persisted fits exist for (IngestArtifacts). One run measures the
  * three states a cluster deployment actually passes through, for the
  * two most expensive artifact consumers (s03's IVF fit, d03's label
  * propagation):
  *
  *  1. COLD — point SPARK_GRAFT_ARTIFACTS at a fresh dir before
  *     launching: the first query touch fits/propagates, writes the
  *     artifact, and reads it back (pay once per corpus, ever);
  *  2. ARTIFACT-WARM, MEMO-COLD — a new SparkSession in the same JVM
  *     (spark.newSession() defeats the (session, dir)-keyed memo maps
  *     exactly like a second driver would): the query reads the tiny
  *     parquet table instead of recomputing;
  *  3. MEMO-WARM — the steady state every bench number reports.
  *
  * q01/q03 lead-in absorbs JIT/codegen warmup (the SCALE_PROBE
  * protocol) so state 1 times the fit, not the JVM.
  *
  * Round 14: probes EVERY dir in SPARK_GRAFT_SF_DIRS (comma-separated;
  * default sf0.1) in one JVM, so the lifecycle claim is measured across
  * the scale axis too — first-touch must grow with the fit's documented
  * class (fixed k·(init+rounds) passes over the corpus) while
  * artifact-warm stays ~flat (a tiny-table read). Point the second slot
  * at the 8× probe corpus (scripts/make_scale_probe.py) to extend
  * docs/SCALE_PROBE.md's `_fit_ann` row to the whole lifecycle.
  *
  * Output: one JSON line + artifact_probe.json (root recorded, so a
  * capture can be identified as cold-root or reused-root; one entry per
  * probed dir under "runs"). */
object ArtifactProbe {
  def main(args: Array[String]): Unit = {
    val sfDirs = sys.env.get("SPARK_GRAFT_SF_DIRS")
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1").split(",").toSeq
    val root = sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS",
      s"${System.getProperty("java.io.tmpdir")}/graft-artifacts")
    val spark = Bench.session()
    def run(s: org.apache.spark.sql.SparkSession, name: String,
        sfDir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(s, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      System.gc(); dt
    }
    // JIT/codegen warm-up on artifact-free queries
    run(spark, "q01_pricing_summary", sfDirs.head)
    run(spark, "q03_join_agg", sfDirs.head)

    val runs = sfDirs.map { sfDir =>
      // s03's query path rides the IVF-fit artifact; the d03 QUERY
      // deliberately computes fresh (it IS the oracle-checked clustering
      // operator), so the labels artifact is probed through its actual
      // consumer surface, Dedup.minhashClustersCached (what x07/x09/x10
      // and d10/d15 read).
      def labels(s: org.apache.spark.sql.SparkSession): Double = {
        val t0 = System.nanoTime()
        graft.operators.Dedup.minhashClustersCached(s, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        System.gc(); dt
      }
      val probes: Seq[(String, org.apache.spark.sql.SparkSession => Double)] =
        Seq("s03_sim_ann_ivf" -> (s => run(s, "s03_sim_ann_ivf", sfDir)),
          "d03_cluster_labels" -> (s => labels(s)))
      val results = probes.map { case (name, f) =>
        val cold = f(spark)                // fit + publish + read (if root fresh)
        val second = spark.newSession()    // same JVM, memo-cold, artifact-warm
        val artifactWarm = f(second)
        val memoWarm = f(spark)            // steady state
        (name, cold, artifactWarm, memoWarm)
      }
      val qs = results.map { case (n, c, a, m) =>
        f""""$n":{"first_touch_sec":$c%.3f,"artifact_warm_sec":$a%.3f,"memo_warm_sec":$m%.3f}"""
      }.mkString(",")
      s"""{"sf":"$sfDir",$qs}"""
    }
    val js = s"""{"metric":"artifact_probe","root":"$root","runs":[${runs.mkString(",")}],"generated_at":"${java.time.Instant.now()}"}"""
    println(js)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("artifact_probe.json"), (js + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
