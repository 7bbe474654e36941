package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage timing attribution for named queries (the optimization round's
  * measurement loop, spark_optimization_guide §1): runs each query through
  * the same noop-sink methodology as Bench, with a stage listener that
  * records per-stage wall time / task count / input / shuffle bytes. Each
  * stage prints its name and, in braces, the operation scopes of its RDDs
  * (e.g. `{Exchange, WholeStageCodegen (2)}`), which map stages back to
  * the SQL operators without the UI. The name alone is the call site that
  * submitted the job: the noop write that runs the query reads
  * "save at Profile.scala:…", and stages AQE submits read
  * "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:…". */
object Profile {
  private case class St(name: String, scopes: Seq[String], ms: Long, tasks: Int,
                        input: Long, shufR: Long, shufW: Long)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <queryKey>...")
    val sfDir = args(0)
    val names = args.drop(1)
    val selected = Harness.select(names)
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt
    val spark = Harness.session(Harness.cores)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        val tm = si.taskMetrics
        val scopes = si.rddInfos.sortBy(_.id)
          .flatMap(org.apache.spark.sql.graft.ConnectorBridge.scopeName).distinct
        stages.add(St(si.name.linesIterator.next(), scopes, ms, si.numTasks,
          tm.inputMetrics.bytesRead,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten))
      }
    })
    names.foreach { n =>
      (1 to reps).foreach { rep =>
        stages.clear()
        Harness.clean(spark)
        val t0 = System.nanoTime()
        selected(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // listener drain
        import scala.jdk.CollectionConverters._
        val ss = stages.asScala.toSeq.sortBy(-_.ms)
        println(f"%n===== $n rep$rep: total $sec%.2f s, ${ss.size} stages, " +
          f"${ss.map(_.ms).sum} stage-ms =====")
        ss.take(30).foreach { s =>
          println(f"${s.ms}%6d ms ${s.tasks}%4d t  in=${s.input / 1024}%8d KB " +
            f"sr=${s.shufR / 1024}%8d KB sw=${s.shufW / 1024}%8d KB  ${s.name} " +
            s.scopes.mkString("{", ", ", "}"))
        }
      }
    }
    spark.stop()
  }
}
