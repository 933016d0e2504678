package graft

/** Times the named queries only (`runMain graft.BenchOne d08... q01...`) —
  * the single-operator feedback loop used while iterating on a plan, with
  * the same session config and noop-sink materialization as Bench.
  *
  * The pseudo-name `_fit_ann` times the ingest-time ANN k-means fit
  * ITSELF (Similarity.annFit: the IVF quantizer and the 8 PQ codebooks
  * in one lockstep IntKMeans.fit, bypassing the artifact/memo caches):
  * normal query timings exclude `prepare`, so the fit's own
  * corpus-linear cost claim needs this dedicated row
  * (docs/SCALE_PROBE.md).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.prepare(spark, sfDir)
    args.foreach {
      case "_calib" =>
        // the Bench calibration probe timed LIVE, so diff_bench --rerun
        // can normalize a re-timed query by the host load at rerun time
        // instead of the stale capture-time weather factor
        val t0 = System.nanoTime()
        spark.range(50000000L).selectExpr("id % 1000 as k", "id as v")
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
          .write.format("noop").mode("overwrite").save()
        println(f"[benchone] _calib ${(System.nanoTime() - t0) / 1e9}%.2fs")
      case "_fit_ann" =>
        // the s03/s04/s13/s15 ANN fit (Gonzalez init = k-1 bounded
        // argmaxes + exact-integer Lloyd rounds over the full corpus) —
        // timed fresh, not through the persisted artifacts, by calling
        // the helper annFits publishes from, so the probe always times
        // the shipped fit, not a stale copy
        val t0 = System.nanoTime()
        graft.operators.Similarity.annFit(spark, sfDir)
        println(f"[benchone] _fit_ann ${(System.nanoTime() - t0) / 1e9}%.2fs")
      case name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[benchone] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
