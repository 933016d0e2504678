package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args = query-name prefixes for targeted local runs;
    // the driver passes none and dumps everything
    val wanted = SparkEntry.select(args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared posture (incl. the cached-plan AQE flag) from Sessions (r15)
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    wanted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // Loud failure: a parseable stdout line + an _error marker file in
        // the query's output slot, so a throwing query shows up as `err`
        // in the driver's correctness artifact instead of silently
        // vanishing from it.
        println(s"[verify-fail] $name")
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
        val dir = Paths.get(s"$outDir/$name")
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_error"),
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}\n")
      }
    }
    // Jackson escapes backslash, quote and ALL control chars (<0x20) — a
    // tab or CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    def writeJson(file: String, m: Iterable[(String, String)]): Unit =
      new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
        new java.io.File(s"$outDir/$file"), m.toMap.asJava)
    // Always dump the FULL oracle map, even on a targeted (prefix) run:
    // targeted runs usually refresh a couple of query dumps inside a dir
    // holding a full sweep, and a truncated oracle map silently degrades
    // every other query in that dir to a rows-only check on the next
    // whole-dir check_oracle pass.
    writeJson("oracle_sql.json", SparkEntry.oracleSql)
    // Machine-readable failure summary alongside oracle_sql.json.
    writeJson("errors.json", failed)
    if (failed.nonEmpty)
      println(s"[verify] ${failed.size} queries failed: ${failed.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
