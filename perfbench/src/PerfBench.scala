package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.streaming.{Scored, StreamOps}

/** The JVM half of the benchmark: runs one workload against the engine's
  * public entry points and writes raw measurements as JSON under the work
  * directory. `perfbench/run.py` turns them into metrics and checks.
  *
  * Usage: PerfBench <batch|stream> <work dir> <seconds> <trace 0|1> <seed>
  *          [<data dir> <min passes> <query,query,...>]
  */
object PerfBench {

  // ---------------------------------------------------------------- clock
  // Spans carry epoch milliseconds with sub-millisecond digits, so the
  // benchmark's own spans line up with Spark's listener event times.
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  // ---------------------------------------------------------------- json
  // None values and Option fields that are None are left out of objects.
  def js(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  // --------------------------------------------------------------- spans
  /** One traced interval. `parent` is set where the benchmark knows it;
    * run.py attaches the rest by id keys and by time containment. */
  final case class Span(id: String, name: String, start: Double, end: Double,
      parent: String, attrs: Map[String, Any]) {
    def json: String = js(Map("id" -> id, "name" -> name, "start" -> start,
      "end" -> end, "parent" -> Option(parent), "attrs" -> attrs))
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var tracing = false
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  def span[T](name: String, parent: String, attrs: Map[String, Any] = Map.empty)(body: String => T): T = {
    val id = s"b${ids.incrementAndGet()}"
    val t0 = nowMs
    try body(id) finally if (tracing) spans.add(Span(id, name, t0, nowMs, parent, attrs))
  }

  /** Spark's public listener APIs, turned into spans and counters. */
  final class Tracer extends SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Map[String, Any])]()
    private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
    private val stagePeak = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, (Double, String)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
      jobStart.put(e.jobId, (e.time.toDouble, Map(
        "op" -> prop("perfbench.op"), "phase" -> prop("perfbench.phase"),
        "sql" -> prop("spark.sql.execution.id"), "stream" -> prop("sql.streaming.queryId"),
        "stages" -> e.stageIds)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, attrs) =>
        spans.add(Span(s"j${e.jobId}", "job", t0, e.time.toDouble, null, attrs))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
        .add(m.executorRunTime)
      stagePeak.merge(e.stageId, m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val runs = Option(stageTasks.remove(i.stageId)).map(_.asScala.map(_.longValue).toSeq.sorted)
        .getOrElse(Seq.empty)
      val skew = if (runs.isEmpty || runs(runs.size / 2) == 0) 1.0
                 else runs.last.toDouble / runs(runs.size / 2)
      spans.add(Span(s"s${i.stageId}.${i.attemptNumber()}", "stage",
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
        null, Map("tasks" -> i.numTasks, "run_ms" -> m.executorRunTime,
          "cpu_ms" -> m.executorCpuTime / 1e6, "gc_ms" -> m.jvmGCTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "peak_exec_mem_bytes" -> Option(stagePeak.remove(i.stageId)).map(_.longValue).getOrElse(0L),
          "skew" -> skew, "job_stage" -> i.stageId)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart.put(s.executionId, (s.time.toDouble, s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStart.remove(s.executionId)).foreach { case (t0, plan) =>
          spans.add(Span(s"q${s.executionId}", "sql", t0, s.time.toDouble, null,
            Map("sql" -> s.executionId.toString, "lake_write" -> Lake.isLakeWrite(plan))))
        }
      case _ =>
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val exchanges = try collectWithSubqueries(qe.executedPlan) {
          case x: ShuffleExchangeLike => x }.size catch { case _: Throwable => 0 }
        spans.add(Span(s"p${ids.incrementAndGet()}", "plan",
          ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.endTimeMs).max.toDouble,
          null, Map("plan_ms" -> ph.values.map(_.durationMs).sum, "exchanges" -> exchanges)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Progress of every streaming query; the latency attribution needs it
    * in untraced runs too, so it is always on. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + d.getOrElse("triggerExecution", 0L)
      val ops = p.stateOperators
      val observed = p.observedMetrics.asScala.map { case (k, row) => k -> row.getLong(0) }
      events.add(Map("name" -> Option(p.name).getOrElse(""), "id" -> p.id.toString,
        "batch" -> p.batchId, "start" -> start, "end" -> end,
        "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
        "rows" -> p.numInputRows, "durations" -> d.toMap,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum,
        "observed" -> observed.toMap))
    }
  }

  object Lake {
    private val WriteNodes = Set("AppendData", "OverwriteByExpression", "OverwritePartitionsDynamic",
      "ReplaceData", "WriteDelta", "WriteToDataSourceV2", "AtomicCreateTableAsSelect",
      "AtomicReplaceTableAsSelect", "CreateTableAsSelect", "ReplaceTableAsSelect")
    private val Node = """\s*(\w+) \((\d+)\)""".r

    /** A formatted physical plan whose root writes rows through the
      * engine's lake connector: the root is a data-source write and its
      * own details name a graft table or writer. */
    def isLakeWrite(plan: String): Boolean = {
      val lines = Option(plan).map(_.linesIterator.toSeq).getOrElse(Seq.empty)
      lines.dropWhile(!_.startsWith("== Physical Plan ==")).drop(1).find(_.trim.nonEmpty) match {
        case Some(Node(name, id)) if WriteNodes(name) =>
          lines.dropWhile(!_.startsWith(s"($id) ")).drop(1)
            .takeWhile(l => !l.matches("""\(\d+\) .*""")).exists(_.toLowerCase.contains("graft"))
        case _ => false
      }
    }
  }

  // ------------------------------------------------------------- session
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.extensions", "graft.plans.GraftViewExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def jvmStats(): Map[String, Any] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    Map("peak_heap_mb" -> heapPeak / 1048576.0, "peak_rss_mb" -> hwm / 1024.0,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "tz" -> java.util.TimeZone.getDefault.getID)
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, work, secondsS, traceS, seedS) = args.take(5)
    val seconds = secondsS.toDouble
    tracing = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(Paths.get(work))
    val spark = session(work)
    val progress = new Progress
    spark.streams.addListener(progress)
    if (tracing) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val result = span("run", null, Map("mode" -> mode)) { runId =>
      mode match {
        case "batch" =>
          Batch.run(spark, work, args(5), args(6).toInt, args(7).split(",").toSeq, seconds, jvmStartMs, runId)
        case "stream" =>
          Stream.run(spark, work, seconds, seedS.toLong, jvmStartMs, runId)
      }
    }
    val lakeWalk = Walk.lakes(work)
    // let the listener bus deliver the last events before they are written
    Thread.sleep(if (tracing) 1500 else 200)
    val out = result ++ Map("jvm" -> jvmStats(), "lake_walk" -> lakeWalk,
      "progress" -> progress.events.asScala.toSeq)
    Files.writeString(Paths.get(work, "result.json"), js(out))
    if (tracing) {
      val w = new PrintWriter(new File(work, "spans.jsonl"))
      try spans.asScala.foreach(s => w.println(s.json)) finally w.close()
    }
    spark.stop()
  }

  /** Files and bytes under every lake root the run created; a lake root
    * is a directory holding a `_graft_schema.json` manifest, and a file
    * under a `_`- or `.`-prefixed directory of it is metadata. */
  object Walk {
    def lakes(work: String): Map[String, Any] = {
      val bases = Seq(Paths.get(System.getProperty("java.io.tmpdir")), Paths.get(work, "lakes"))
        .filter(Files.isDirectory(_))
      val roots = bases.flatMap(b => Files.walk(b).iterator().asScala
        .filter(_.getFileName.toString == "_graft_schema.json").map(_.getParent).toSeq).distinct
      val files = roots.flatMap(r => Files.walk(r).iterator().asScala
        .filter(Files.isRegularFile(_)).map(f => (r, f)).toSeq).distinctBy(_._2)
      val (meta, data) = files.partition { case (r, f) =>
        r.relativize(f).iterator().asScala.exists { seg =>
          val n = seg.toString; n.startsWith("_") || n.startsWith(".") }
      }
      Map("roots" -> roots.size, "data_files" -> data.size, "meta_files" -> meta.size,
        "data_bytes" -> data.map(x => Files.size(x._2)).sum, "meta_bytes" -> meta.map(x => Files.size(x._2)).sum)
    }
  }

  // --------------------------------------------------------------- batch
  object Batch {
    /** Order-insensitive digest of a result: row count and a sum of row
      * hashes (reduced so the sum cannot overflow). */
    def digest(df: DataFrame): Seq[Column] = Seq(
      count(lit(1)).as("rows"),
      sum(pmod(xxhash64(to_json(struct(df.columns.map(c => df.col(s"`$c`")): _*))),
        lit(2147483647L))).as("hash"))

    def hygiene(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    private val obsSeq = new java.util.concurrent.atomic.AtomicLong()
    def observed(df: DataFrame): (DataFrame, Observation) = {
      val o = Observation(s"perfbench_digest_${obsSeq.incrementAndGet()}")
      val cols = digest(df)
      (df.observe(o, cols.head, cols.tail: _*), o)
    }
    def digestOf(o: Observation): String = {
      val m = o.get
      s"${m("rows")}:${Option(m("hash")).getOrElse(0L)}"
    }

    /** Builds one query and writes it to the noop sink — the region
      * `graft.Bench` times. Returns (wall ms, output digest, error). */
    def execute(spark: SparkSession, fn: (SparkSession, String) => DataFrame, data: String,
        op: String, parent: String): (Double, String, String) = {
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.op", op)
      span("query", parent, Map("op" -> op)) { qid =>
        val s0 = System.nanoTime()
        try {
          sc.setLocalProperty("perfbench.phase", "construct")
          val df = span("construct", qid, Map("op" -> op)) { _ => fn(spark, data) }
          sc.setLocalProperty("perfbench.phase", "exec")
          val (obsDf, o) = observed(df)
          span("write", qid, Map("op" -> op)) { _ => obsDf.write.format("noop").mode("overwrite").save() }
          val ms = (System.nanoTime() - s0) / 1e6
          (ms, digestOf(o), null)
        } catch { case e: Throwable =>
          ((System.nanoTime() - s0) / 1e6, null, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        } finally sc.setLocalProperty("perfbench.phase", null)
      }
    }

    def run(spark: SparkSession, work: String, data: String, minPasses: Int,
        queries: Seq[String], seconds: Double, jvmStartMs: Double, runId: String): Map[String, Any] = {
      val fns = SparkEntry.queries
      val expected = mutable.LinkedHashMap.empty[String, String]
      val warmErrors = mutable.LinkedHashMap.empty[String, String]
      val warmMs = mutable.LinkedHashMap.empty[String, Double]
      val sessionS = (nowMs - jvmStartMs) / 1000.0
      span("warm", runId) { warmId =>
        // warm pass: each result goes to parquet for the oracle check in
        // run.py, and its digest becomes the value every timed execution
        // of the query must reproduce
        queries.foreach { name =>
          hygiene(spark)
          spark.sparkContext.setLocalProperty("perfbench.op", s"warm:$name")
          val w0 = nowMs
          try {
            val (df, o) = observed(fns(name)(spark, data))
            df.coalesce(1).write.mode("overwrite").parquet(s"$work/results/$name")
            expected(name) = digestOf(o)
          } catch { case e: Throwable =>
            warmErrors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          }
          warmMs(name) = nowMs - w0
        }
        // then two noop passes as the timed ones run them: pass times
        // still fall by a fifth over the first eight passes while the JIT
        // compiles, and a slope inside the measured window would make the
        // median depend on how many passes fit into it
        for (_ <- 0 until 2; name <- queries) {
          hygiene(spark)
          val (_, _, err) = execute(spark, fns(name), data, s"warm:$name", warmId)
          if (err != null) warmErrors.getOrElseUpdate(name, err)
        }
      }
      val setupS = (nowMs - jvmStartMs) / 1000.0
      val oracle = SparkEntry.oracleSql
      Files.writeString(Paths.get(work, "oracle_sql.json"),
        js(queries.flatMap(n => oracle.get(n).map(n -> _)).toMap))
      val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
      val passes = mutable.ArrayBuffer.empty[Double]
      // a pass's time and collector time add up its executions only, so
      // the hygiene between them (and its forced collections) stays out
      var measureGcMs = 0L
      val t0 = nowMs
      while (passes.size < minPasses || (nowMs - t0) / 1000.0 < seconds) {
        val pass = passes.size
        span("pass", runId, Map("pass" -> pass)) { passId =>
          val times = queries.map { name =>
            hygiene(spark)
            val g0 = gcMs()
            val (ms, got, err) = execute(spark, fns(name), data, s"$pass:$name", passId)
            measureGcMs += gcMs() - g0
            samples += Map("pass" -> pass, "query" -> name, "ms" -> ms,
              "digest" -> Option(got), "error" -> Option(err))
            ms
          }
          passes += times.sum / 1000.0
        }
      }
      Map("mode" -> "batch", "setup_s" -> setupS, "passes_s" -> passes, "samples" -> samples,
        "expected" -> expected, "warm_errors" -> warmErrors, "queries" -> queries,
        "measure_gc_ms" -> measureGcMs, "data" -> data,
        "session_s" -> sessionS, "warm_ms" -> warmMs)
    }
  }

  // -------------------------------------------------------------- stream
  /** The paper's live path: seeded telemetry frames → MemoryStream →
    * parseWire → route → dedupQos1 → score → lake, and the same chain
    * through alertTransitions into a second lake. */
  object Stream {
    val Machines = 100
    val BaseTs = 1754980000L
    val RatePerS = 1000       // latency phase: offered frames per second
    val TickMs = 100          // latency phase: one send every TickMs
    val Block = 10000         // capacity phase: frames per offered block
    val DupShare = 0.05       // QoS-1 redeliveries
    val BadShare = 0.02       // malformed frames

    /** Deterministic frame source: the k-th reading belongs to machine
      * k % 100 and carries event time BaseTs + k / 10, so event time runs
      * ten times faster than the frame count and the 10-minute watermark
      * evicts dedup state during a run. */
    final class Gen(seed: Long) {
      private val rng = new Random(seed)
      private var k = 0L
      private val pendingDups = mutable.Queue.empty[(Int, String)]
      var offered, malformed, dups = 0L
      // (machine, ts) of each anomalous reading → the latency tick that first sent it
      val anomalyKeys = mutable.HashMap.empty[(String, Long), Long]

      private def reading(): (String, String, Long, Boolean) = {
        val m = s"NC_Machine_${k % Machines}"
        val ts = BaseTs + k / 10
        val anomaly = rng.nextDouble() < 0.10
        def r2(x: Double) = math.round(x * 100) / 100.0
        val t = r2(65.0 + rng.nextDouble() * 5.0 + (if (anomaly) 15.0 else 0.0))
        val v = r2(1.2 + rng.nextDouble() * 0.3 + (if (anomaly) 2.0 else 0.0))
        k += 1
        (s"""{"machineId":"$m","temperature":$t,"vibration":$v,"timestamp":$ts}""", m, ts, anomaly)
      }

      /** The next n frames on the wire, redeliveries and malformed frames
        * mixed in; `tag` is recorded for frames whose first delivery is
        * anomalous. */
      def next(n: Int, tag: Long): Seq[String] = {
        val out = mutable.ArrayBuffer.empty[String]
        while (out.size < n) {
          if (pendingDups.nonEmpty && pendingDups.head._1 <= out.size) {
            out += pendingDups.dequeue()._2; dups += 1
          } else if (rng.nextDouble() < BadShare) {
            out += (rng.nextInt(3) match {
              case 0 => "not json {"
              case 1 => s"""{"machineId":"NC_Machine_${rng.nextInt(Machines)}","vibration":1.3,"timestamp":${BaseTs + k / 10}}"""
              case _ => s"""{"machineId":"NC_Machine_${rng.nextInt(Machines)}","temperature":66.1,"vibration":"high","timestamp":${BaseTs + k / 10}}"""
            })
            malformed += 1
          } else {
            val (f, m, ts, anomaly) = reading()
            out += f
            if (anomaly) anomalyKeys((m, ts)) = tag
            if (rng.nextDouble() < DupShare) pendingDups.enqueue((out.size + 1 + rng.nextInt(20), f))
          }
        }
        // a redelivery due after this send goes out at the start of the next
        pendingDups.mapInPlace { case (_, f) => (0, f) }
        offered += out.size
        out.toSeq
      }
    }

    def run(spark: SparkSession, work: String, seconds: Double, seed: Long,
        jvmStartMs: Double, runId: String): Map[String, Any] = {
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val lakeIn = MemoryStream[String]
      val alertIn = MemoryStream[String]
      val lakeDir = s"$work/lakes/telemetry"
      val alertDir = s"$work/lakes/alerts"
      val gen = new Gen(seed)
      val all = mutable.ArrayBuffer.empty[String]
      def offer(frames: Seq[String]): Long = {
        all ++= frames
        lakeIn.addData(frames)
        alertIn.addData(frames).asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
      }
      def scored(parsed: DataFrame): DataFrame =
        StreamOps.score(StreamOps.dedupQos1(StreamOps.route(parsed)))
      val (lakeQ, alertQ) = span("construct", runId, Map("op" -> "streams")) { _ =>
        // counters for the ingested = valid + malformed check
        val parsed = StreamOps.parseWire(lakeIn.toDF().observe("ingested", count(lit(1)).as("rows")))
          .observe("valid", count(lit(1)).as("rows"))
        val lake = scored(parsed)
          .writeStream.format("graft.sources.LakeSink").queryName("lake")
          .option("path", lakeDir).option("checkpointLocation", s"$work/checkpoints/lake")
          .outputMode("append").start()
        val alerts = StreamOps.alertTransitions(
            scored(StreamOps.parseWire(alertIn.toDF())).select($"machineId", $"ts", $"severity").as[Scored])
          .writeStream.format("graft.sources.LakeSink").queryName("alerts")
          .option("path", alertDir).option("checkpointLocation", s"$work/checkpoints/alerts")
          .outputMode("append").start()
        (lake, alerts)
      }
      def drain(): Unit = { lakeQ.processAllAvailable(); alertQ.processAllAvailable() }
      // warm-up, counted in set-up: two capacity blocks through both queries
      span("warm", runId) { _ =>
        for (_ <- 0 until 2) { offer(gen.next(Block, -1)); drain() }
      }
      val setupS = (nowMs - jvmStartMs) / 1000.0
      val gc0 = gcMs()

      // latency phase: open loop, one send every TickMs at RatePerS
      val latencyS = seconds / 2
      val perTick = RatePerS * TickMs / 1000
      val nTicks = (latencyS * 1000 / TickMs).toInt
      val ticks = mutable.ArrayBuffer.empty[Map[String, Any]]
      span("latency_phase", runId) { _ =>
        val frames = (0 until nTicks).map(i => gen.next(perTick, i))
        val startMs = nowMs + 50
        frames.zipWithIndex.foreach { case (f, i) =>
          val due = startMs + i * TickMs
          val waitNs = ((due - nowMs) * 1e6).toLong
          if (waitNs > 0) LockSupport.parkNanos(waitNs)
          val sentMs = nowMs
          val off = offer(f)
          ticks += Map("tick" -> i, "offset" -> off, "sched_ms" -> due, "late_ms" -> (sentMs - due),
            "frames" -> f.size)
        }
        drain()
      }
      // capacity phase: closed loop, next block once both queries committed
      val passes = mutable.ArrayBuffer.empty[Double]
      span("capacity_phase", runId) { phaseId =>
        val t0 = nowMs
        while (passes.size < 5 || (nowMs - t0) / 1000.0 < seconds - latencyS) {
          val block = gen.next(Block, -1)
          span("pass", phaseId, Map("pass" -> passes.size)) { _ =>
            val p0 = nowMs
            offer(block); drain()
            passes += (nowMs - p0) / 1000.0
          }
        }
      }
      val gc1 = gcMs()
      val exchanges = Seq(lakeQ, alertQ).map(exchangesOf).sum
      lakeQ.stop(); alertQ.stop()
      val c0 = nowMs
      val check = span("check", runId) { _ => verify(spark, all.toSeq, lakeDir, alertDir) }
      val checkS = (nowMs - c0) / 1000.0
      // ALERT transitions whose frame went out during the latency phase
      val alertTicks = mutable.HashMap.empty[Long, Int]
      check("alert_keys").asInstanceOf[Seq[(String, Long)]].foreach { key =>
        gen.anomalyKeys.get(key).filter(_ >= 0).foreach(t => alertTicks(t) = alertTicks.getOrElse(t, 0) + 1)
      }
      val ticksOut = ticks.map(t => t + ("alerts" -> alertTicks.getOrElse(t("tick").asInstanceOf[Int].toLong, 0)))
      Map("mode" -> "stream", "setup_s" -> setupS, "passes_s" -> passes,
        "pass_frames" -> Block, "ticks" -> ticksOut,
        "counters" -> Map("offered" -> gen.offered, "malformed" -> gen.malformed, "duplicates" -> gen.dups),
        "check" -> (check - "alert_keys"), "exchanges" -> exchanges,
        "measure_gc_ms" -> (gc1 - gc0), "rate_per_s" -> RatePerS,
        "check_s" -> checkS)
    }

    def exchangesOf(q: StreamingQuery): Int = {
      val helper = new AdaptiveSparkPlanHelper {}
      try {
        val exec = q.getClass.getMethod("streamingQuery").invoke(q)
          .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamExecution]
        Option(exec.lastExecution).map(le => helper.collectWithSubqueries(le.executedPlan) {
          case x: ShuffleExchangeLike => x }.size).getOrElse(0)
      } catch { case _: Throwable => 0 }
    }

    /** Both lake tables must equal a batch run of the same operators over
      * every frame sent; also returns the counts run.py checks the
      * stream's counters against. */
    def verify(spark: SparkSession, frames: Seq[String], lakeDir: String,
        alertDir: String): Map[String, Any] = {
      import spark.implicits._
      val parsed = StreamOps.parseWire(frames.toDF("value")).cache()
      val ref = StreamOps.score(StreamOps.dedupQos1(parsed)).cache()
      val refAlerts = StreamOps.alertTransitions(ref.select($"machineId", $"ts", $"severity").as[Scored])
        .toDF().cache()
      val lake = spark.read.format("graft.sources.LakeSink").load(lakeDir)
      val alerts = spark.read.format("graft.sources.LakeSink").load(alertDir)
      // equal tables: same columns and the same order-insensitive digest
      def digest(df: DataFrame): (Seq[String], Long, Long) = {
        val cols = df.columns.sorted.toSeq
        val sorted = df.select(cols.map(c => col(s"`$c`")): _*)
        val d = Batch.digest(sorted)
        val r = sorted.agg(d.head, d.tail: _*).head()
        (cols, r.getLong(0), if (r.isNullAt(1)) 0L else r.getAs[Number](1).longValue)
      }
      val (lakeD, refD) = (digest(lake), digest(ref))
      val (alertD, refAlertD) = (digest(alerts), digest(refAlerts))
      val valid = parsed.count()
      val alertKeys = refAlerts.filter($"severity" === "ALERT")
        .select($"machineId", $"ts".cast("long")).as[(String, Long)].collect().toSeq
      Map("lake_equal" -> (lakeD == refD), "alerts_equal" -> (alertD == refAlertD), "valid" -> valid,
        "unique" -> lakeD._2, "alert_rows" -> alertD._2,
        "alert_keys" -> alertKeys)
    }
  }
}
