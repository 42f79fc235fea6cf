package graft

/** Plan inspection utility: `runMain graft.Explain <sfDir> <query...>`
  * prints the formatted physical plan of each named query (all queries
  * when none named). Used to keep the plans honest — pushdown reaching
  * the scan, broadcasts where dimensions are small, no stray
  * single-partition windows (the bench also greps its stderr for the
  * WindowExec warning). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    // Bench's session, so the committed PLANS.txt shows the plans the
    // bench actually runs
    val spark = Bench.session(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
