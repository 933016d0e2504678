package graft

/** Times the named queries only (`runMain graft.BenchOne d08... q01...`) —
  * the single-operator feedback loop used while iterating on a plan, with
  * the same session config and noop-sink materialization as Bench. Each
  * query prints `[benchone] <name> <sec>s`, then its layer record
  * (`Layers`) on its own line: `{"query":"<name>","layers":{...}}`.
  *
  * The pseudo-name `_calib` times Bench's calibration probe live, so
  * `diff_bench.py --rerun` can normalize a re-timed query by the host
  * load at rerun time instead of the stale capture-time weather factor.
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
    val spark = Bench.prepared(sfDir)
    args.foreach { name =>
      val (sec, layers) = Layers.measure(spark)(name match {
        case "_calib" => Bench.noop(Bench.calibration(spark))
        case "_fit_ann" => graft.operators.Similarity.annFit(spark, sfDir): Unit
        case _ => Bench.noop(SparkEntry.queries(name)(spark, sfDir))
      })
      println(f"[benchone] $name $sec%.2fs")
      println(s"""{"query":"$name","layers":${layers.json}}""")
    }
    spark.stop()
  }
}
