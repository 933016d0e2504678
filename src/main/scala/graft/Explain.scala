package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan for the named queries
  * (or all) so scan pushdown (PushedFilters/ReadSchema), join strategies
  * (BroadcastHashJoin vs SortMergeJoin), and WholeStageCodegen coverage
  * can be inspected. Usage: runMain graft.Explain <sfDir> [name ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=============== $n ===============")
      // checkpointed queries end in localCheckpoint — their own plan is
      // a checkpoint scan; dump the pre-checkpoint INTERIOR plan instead
      // so the dump shows the shipped pipeline (r15)
      try SparkEntry.interiors.get(n) match {
        case Some(build) =>
          val (df, free) = build(spark, sfDir)
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          free()
        case None =>
          println(SparkEntry.queries(n)(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
      }
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
