package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session builder and key selector of every graft entry point
  * (Bench, Verify, Profile, Explain, the probes and the spec session), so
  * a number from one of them is measured on the session the others use. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Local cores of the entry points: `SPARK_GRAFT_CPUS`, default 32 (the
    * 32-thread local JVM the bench runs in). */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cores]` with one reduce partition per core, UTC session time,
    * no UI, and graft's view extensions (its planner rules and the
    * fork-free checkpoint manager). Returns the active session if one
    * exists, with these runtime confs applied. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftViewExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The queries named by `keys`, or every query when none is named; a
    * typo'd key must not look like a clean pass, so it fails loudly. */
  def select(keys: Iterable[String]): Map[String, Query] = {
    val all = SparkEntry.queries
    val unknown = keys.toSet -- all.keySet
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    if (keys.nonEmpty) all.view.filterKeys(keys.toSet).toMap else all
  }

  /** Bench's per-rep hygiene: drop cached plans and the RDD blocks a
    * previous run left behind, then give their removal a GC window. The
    * unpersist is non-blocking: a blocking one intermittently stalls
    * 15-50 s in local mode. */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def f3(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** The scale and skew probes' loop over the queries named in `names`
    * (all when empty): build the ×f input of every factor they need
    * (`build(f, dir)`), time each query at each of its factors (min of 2
    * clean runs through a noop sink, to damp episodic CPU steal), and
    * print the fitted exponent ln(t_N/t_1)/ln(N/1) per query as one JSON
    * line. */
  def slopes(spark: SparkSession, all: Seq[(String, Seq[Int], Query)], names: Set[String],
      out: String)(build: (Int, String) => Unit): Unit = {
    val queries = if (names.isEmpty) all else all.filter(q => names(q._1))
    queries.flatMap(_._2).distinct.sorted.foreach { f =>
      build(f, s"$out/x$f")
      Console.err.println(s"generated $out/x$f")
    }
    def time(fn: Query, dir: String): Double =
      (1 to 2).map { _ =>
        clean(spark)
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    val rows = queries.map { case (name, fs, fn) =>
      val times = fs.map(f => f -> time(fn, s"$out/x$f"))
      val (f1, t1) = times.head
      val (fN, tN) = times.last
      val slope = math.log(tN / t1) / math.log(fN.toDouble / f1)
      Console.err.println(s"$name: " + times.map { case (f, t) => s"x$f=${f3(t)}s" }
        .mkString(" ") + s" slope=${f3(slope)}")
      s""""$name":{${times.map { case (f, t) => s""""x$f":${f3(t)}""" }.mkString(",")},"slope":${f3(slope)}}"""
    }
    println(rows.mkString("{", ",", "}"))
  }
}
