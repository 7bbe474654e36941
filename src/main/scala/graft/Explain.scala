package graft

/** Plan inspector: prints the formatted physical plan of selected queries
  * (all, or those named in args after the sfDir) — the `.explain` review
  * loop the build plan mandates (pushdown, broadcast, shuffle count). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val selected = Harness.select(args.drop(1))
    val spark = Harness.session(Harness.cores)
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
