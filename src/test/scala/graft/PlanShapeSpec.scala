package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import graft.operators.{Relational, Skew, Telemetry, TextOps}

/** Plan-shape regression guards: the scale story is "minimal shuffles,
  * broadcast dims, pushdown" — these specs pin the shuffle counts so a
  * future refactor can't silently regress a single-exchange plan into a
  * multi-shuffle one. Counts are upper bounds on the FINAL (post-AQE)
  * physical plan.
  */
class PlanShapeSpec extends GraftSpec {

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect() // force execution so AQE settles
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def countNodes(df: DataFrame)(pred: SparkPlan => Boolean): Int = {
    var n = 0
    def walk(p: SparkPlan): Unit = {
      if (pred(p)) n += 1
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan) // AQE stages hide children
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(finalPlan(df))
    n
  }

  private def countShuffles(df: DataFrame): Int =
    countNodes(df)(_.isInstanceOf[ShuffleExchangeLike])

  private def countBroadcasts(df: DataFrame): Int =
    countNodes(df)(_.isInstanceOf[BroadcastExchangeLike])

  test("q01 aggregation: one agg exchange + one sort exchange") {
    assert(countShuffles(Relational.q01PricingSummary(spark, sfTiny)) <= 2)
  }

  test("q06 broadcast-dim join: no shuffle for the join itself") {
    val df = Relational.q06BrandRevenue(spark, sfTiny)
    assert(countBroadcasts(df) >= 1)
    assert(countShuffles(df) <= 2) // agg + sort only
  }

  test("t03 compaction: one window shuffle + one sort") {
    assert(countShuffles(Telemetry.t03LatestPerKey(spark, sfTiny)) <= 2)
  }

  test("t07 spike detection: one window shuffle + one sort") {
    assert(countShuffles(Telemetry.t07SpikeDetect(spark, sfTiny)) <= 2)
  }

  test("d04 exact dedup: one hash exchange + one sort") {
    assert(countShuffles(TextOps.d04ExactDedup(spark, sfTiny)) <= 2)
  }

  test("t04 generator twin: zero shuffles (generated scan + sort only)") {
    // range → expressions is scan-local; only the final sort may exchange
    assert(countShuffles(Telemetry.t04GeneratorTwin(spark, sfTiny)) <= 1)
  }

  test("s01 stratified sample: broadcast rate dim, scan-local filter + sort only") {
    val df = graft.operators.Advanced.s01StratifiedSample(spark, sfTiny)
    assert(countBroadcasts(df) >= 1, "rate dimension must broadcast")
    assert(countShuffles(df) <= 1, "only the final sort may exchange")
  }

  test("q31 cohort retention: cohort sizes broadcast back, bounded shuffles") {
    val df = graft.operators.Advanced.q31CohortRetention(spark, sfTiny)
    assert(countBroadcasts(df) >= 1)
    assert(countShuffles(df) <= 6)
  }

  test("t10 date spine: pre-aggregated counts, bounded shuffles") {
    assert(countShuffles(graft.operators.Advanced.t10DateSpine(spark, sfTiny)) <= 3)
  }

  test("q33 percentiles: pinned partial fan-out + one agg exchange + one sort") {
    // r15: a pinned high-cardinality repartition ahead of the percentile
    // aggregate builds the value-buffering partials across the session's
    // parallelism (q46's fix) — one deliberate extra exchange.
    assert(countShuffles(graft.operators.Advanced.q33Percentiles(spark, sfTiny)) == 3)
  }

  test("q28 distribution windows: one window shuffle + one sort") {
    assert(countShuffles(graft.operators.Advanced.q28WindowDistribution(spark, sfTiny)) <= 2)
  }

  test("q35 regression aggregates: pinned partial fan-out + one agg exchange + one sort") {
    // r15: q33's deliberate pinned fan-out ahead of the decimal moments.
    assert(countShuffles(graft.operators.Analytics.q35RegressionAgg(spark, sfTiny)) == 3)
  }

  test("q23 stats aggregates: pinned partial fan-out + one agg exchange + one sort") {
    assert(countShuffles(graft.operators.Analytics.q23StatsAgg(spark, sfTiny)) == 3)
  }

  test("q36 fuzzy match: broadcast build side + pinned probe repartition only") {
    val df = Relational.q36FuzzyMatch(spark, sfTiny)
    assert(countBroadcasts(df) >= 1, "name table must broadcast")
    // probe repartition + top-k sort; the brand join itself must not shuffle
    assert(countShuffles(df) <= 2)
  }

  test("t13 forward fill: one window shuffle + one sort") {
    assert(countShuffles(Telemetry.t13ForwardFill(spark, sfTiny)) <= 2)
  }

  test("t14 UDAF top-k: one aggregation exchange + one sort") {
    assert(countShuffles(Telemetry.t14TopkUdaf(spark, sfTiny)) <= 2)
  }

  test("t15 EWMA: one groupByKey exchange + one sort") {
    assert(countShuffles(Telemetry.t15Ewma(spark, sfTiny)) <= 2)
  }

  test("e01 exact baseline: budgeted query side broadcasts, corpus never shuffles for the join") {
    val df = graft.operators.Similarity.e01CosineTopK(spark, sfTiny)
    assert(countBroadcasts(df) >= 1, "query side must broadcast")
    // window over query_id + final sort; the candidate scan itself streams
    assert(countShuffles(df) <= 2)
  }

  test("IVF family argmin is scan-local (native kernel), not a shuffle or window") {
    // r4 review moved the argmin from a full-relation row_number window to
    // a min/max(struct) aggregate; r15 went further — those aggregates'
    // keys are unique per scored row, so their partial halves could never
    // combine map-side and the exchange carried the whole corpus (vectors
    // riding in the struct) once per assignment pass. The argmin now runs
    // SCAN-LOCALLY against a packed one-row centroid/codebook broadcast
    // through the native graft_argmin_sq / graft_argmax_cos kernels: zero
    // assignment shuffle at any corpus size. Pin the kernel's presence AND
    // the absence of both old shapes (argmin aggregate, full-corpus
    // assignment window); bounded windows — the broadcast-joined probe
    // ranks, tiny codebook init ranks, final per-query rank — remain
    // legitimate.
    import graft.operators.Similarity
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      finalPlan(df).toString
    }
    val e05 = planOf(Similarity.e05IvfAnn(spark, sfTiny))
    val e11 = planOf(Similarity.e11IvfPqAnn(spark, sfTiny))
    val e10 = planOf(Similarity.e10Kmeans(spark, sfTiny))
    val e07 = planOf(Similarity.e07PqQuantize(spark, sfTiny))
    assert(e05.contains("graft_argmax_cos"), "e05 assignment must be the scan-local kernel")
    assert(e11.contains("graft_argmax_cos") && e11.contains("graft_argmin_sq"),
      "e11 coarse + PQ assignments must be the scan-local kernels")
    assert(e10.contains("graft_argmin_sq"), "e10 Lloyd assignment must be the scan-local kernel")
    assert(e07.contains("graft_argmin_sq"), "e07 sub-code argmin must be the scan-local kernel")
    Seq("e05" -> e05, "e11" -> e11, "e10" -> e10, "e07" -> e07).foreach {
      case (n, p) =>
        assert(!p.contains("partial_max(struct(") && !p.contains("partial_min(struct("),
          s"$n must not fall back to the shuffling argmin aggregate")
    }
  }

  test("ANN/d05 query construction runs no Spark jobs (no driver-side sizing passes)") {
    // r3 review: e05/e07 sized their centroid stride with count() and d05
    // probed the vocabulary with distinct().count() — full corpus passes
    // before the query proper. Construction must now be fully lazy.
    // calibrate: a bare parquet read may itself launch a footer/schema job
    // — that is table loading, not a sizing pass, so subtract it
    val a0 = settledJobId
    Tables.embeddings(spark, sfTiny)
    val perEmb = settledJobId - a0
    val b0 = settledJobId
    Tables.documents(spark, sfTiny)
    val perDoc = settledJobId - b0
    val before = settledJobId
    graft.operators.Similarity.e05IvfAnn(spark, sfTiny) // reads embeddings
    graft.operators.Similarity.e07PqQuantize(spark, sfTiny) // reads embeddings
    TextOps.d05JaccardPairs(spark, sfTiny) // reads documents
    val after = settledJobId
    val allowed = 2 * perEmb + perDoc
    assert(after - before <= allowed,
      s"query construction launched ${after - before} job(s); only $allowed table-read job(s) allowed")
  }

  test("ml11 k-fold CV: one grouped moment pass, broadcast weights, bounded exchanges") {
    val df = graft.ml.Maintenance.ml11KfoldCv(spark, sfTiny)
    // fold moments (1) + tot single-partition (1) + fold report agg (1)
    // + final sort (1), slack for AQE reuse
    assert(countShuffles(df) <= 5, s"${countShuffles(df)} shuffles")
    // the totals and the k-row weight table must both broadcast — held-out
    // scoring may never shuffle the corpus on fold
    assert(countBroadcasts(df) >= 2, s"${countBroadcasts(df)} broadcasts")
  }

  test("t17/t18 interval joins: one equi-key join, bounded exchanges") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the range predicate must ride the machine-id equi-join as a post-join
    // condition — NOT degrade to a nested-loop cross product (AQE may pick
    // broadcast-hash vs sort-merge by size; either is the equi-key layout)
    Seq(Telemetry.t17IntervalJoin(spark, sfTiny),
        Telemetry.t18IntervalJoinLeft(spark, sfTiny)).foreach { df =>
      assert(countNodes(df)(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        p.isInstanceOf[CartesianProductExec]) == 0,
        "interval join must not degrade to a nested loop")
      assert(countNodes(df)(_.isInstanceOf[BaseJoinExec]) == 1)
      // two join-input exchanges + the presentation sort at most
      assert(countShuffles(df) <= 3)
    }
  }

  test("d16 decontamination: benchmark set broadcast, never shuffle-joined") {
    val df = graft.operators.Curation.d16Decontaminate(spark, sfTiny)
    assert(countBroadcasts(df) >= 1)
    assert(countNodes(df)(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]) == 0)
  }

  test("d19 domain mix: rate table broadcast, fact side never shuffles before the gate") {
    val df = graft.operators.Curation.d19DomainMix(spark, sfTiny)
    assert(countBroadcasts(df) >= 1)
    // per-source agg (1) + tiny-side exchanges + final sort; the FACT scan
    // feeds the broadcast join with no exchange of its own
    assert(countNodes(df)(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]) == 0)
  }

  test("q41 bloom prefilter: fact side reaches the semi join with zero shuffles") {
    val df = graft.operators.Advanced.q41BloomSemijoin(spark, sfTiny)
    // bloom 1-row broadcast + dim broadcast; shuffles are the final agg +
    // sort plus two exchanges inside the 256-row bloom build (groupBy(w) +
    // the 1-row collect) — nothing on the fact side, which reaches the
    // bloom gate and semi join straight from its scan
    assert(countBroadcasts(df) >= 2)
    assert(countShuffles(df) <= 4)
  }

  test("d31/d34 rule gates: scan-local — only the presentation sort exchanges") {
    assert(countShuffles(TextOps.d31GopherQuality(spark, sfTiny)) <= 1)
    assert(countShuffles(TextOps.d34C4Filters(spark, sfTiny)) <= 1)
  }

  test("e19 embedding kNN: budgeted query side broadcasts, train side never shuffles pre-join") {
    val df = graft.operators.Similarity.e19EmbeddingKnn(spark, sfTiny)
    assert(countBroadcasts(df) >= 1, "the capped test decile must broadcast")
    // query-side TakeOrdered + candidate window + vote agg + sort
    assert(countShuffles(df) <= 5)
  }

  test("s04 balanced sample: salted pre-rank keeps both windows bounded") {
    val df = graft.operators.Advanced.s04BalancedSample(spark, sfTiny)
    // (lang, salt) window + lang window + presentation sort
    assert(countShuffles(df) <= 3)
  }

  test("q100 NOT IN plans the null-aware broadcast anti hash join (no nested loop)") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val df = operators.Relational.q100NullAwareAnti(spark, sfTiny)
    df.collect()
    assert(countNodes(df)(_.isInstanceOf[BroadcastNestedLoopJoinExec]) == 0,
      "NOT IN fell back to the quadratic nested loop")
    assert(countNodes(df) {
      case b: BroadcastHashJoinExec => b.isNullAwareAntiJoin
      case _ => false
    } == 1, "expected exactly one null-aware anti hash join")
  }

  test("q44 merge upsert: one full-outer exchange pair + sort, nothing else") {
    // target + source sides of the full-outer join each exchange once;
    // the presentation sort is the only other shuffle
    assert(countShuffles(graft.operators.Advanced.q44MergeUpsert(spark, sfTiny)) <= 3)
  }

  // -- the live path: the benchmark's two telemetry_stream chains ----------

  test("live path: one JSON parse per plan, one exchange per keyed operator") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.streaming.{Scored, StreamOps}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = graft.operators.TempLakes.dir("graft_live_plan")
    val (lakeIn, alertIn) = (MemoryStream[String], MemoryStream[String])
    def scored(in: MemoryStream[String]): DataFrame =
      StreamOps.score(StreamOps.dedupQos1(StreamOps.route(StreamOps.parseWire(in.toDF()))))
    def start(df: DataFrame, name: String): StreamingQuery =
      df.writeStream.format("graft.sources.LakeSink")
        .option("path", s"$dir/$name").option("checkpointLocation", s"$dir/cp_$name")
        .outputMode("append").start()
    // the last execution must be the data batch, not the watermark-only
    // batch that would follow it
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val lake = start(scored(lakeIn), "lake")
    val alerts = start(StreamOps.alertTransitions(
      scored(alertIn).select($"machineId", $"ts", $"severity").as[Scored]).toDF(), "alerts")
    try {
      val frames = Seq(
        """{"machineId":"m1","temperature":85.0,"vibration":3.5,"timestamp":1754980000}""",
        """{"machineId":"m1","temperature":85.0,"vibration":3.5,"timestamp":1754980000}""",
        """{"machineId":"m2","temperature":66.1,"vibration":"high","timestamp":1754980001}""",
        "not json {")
      lakeIn.addData(frames); alertIn.addData(frames)
      lake.processAllAvailable(); alerts.processAllAvailable()
      def plan(q: StreamingQuery): SparkPlan =
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      def shuffles(p: SparkPlan): Int = p.collect { case x: ShuffleExchangeLike => x }.size
      def parses(p: SparkPlan): Int =
        p.collect { case n => n.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum }.sum
      // (lake exchanges, alert exchanges, lake parses, alert parses): the
      // dedup's (machineId, ts) exchange, plus the machineId exchange of the
      // alert chain's group state; one from_json per plan
      val (l, a) = (plan(lake), plan(alerts))
      assert((shuffles(l), shuffles(a), parses(l), parses(a)) == ((1, 2, 1, 1)), s"$l\n$a")
    } finally {
      lake.stop(); alerts.stop()
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  // -- the partial-aggregate fan-out (Skew.fanOut) -------------------------

  private val fanOutQueries = Seq[Harness.Query](
    graft.operators.Analytics.q23StatsAgg, graft.operators.Analytics.q35RegressionAgg,
    graft.operators.Analytics.q46RobustStats, graft.operators.Analytics.q71WinsorizedStats,
    graft.operators.Analytics.q73EquidepthHist, graft.operators.Advanced.q33Percentiles)

  test("fan-out: a scan with a split per core plans one exchange fewer, same values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    val parts = 2 * spark.sessionState.conf.numShufflePartitions
    try {
      Tables.lineitem(spark, sfTiny).repartition(parts)
        .write.parquet(s"$dir/lineitem.parquet")
      assert(Skew.scanSplits(Tables.lineitem(spark, dir)) >=
        spark.sessionState.conf.numShufflePartitions)
      val many = graft.operators.Analytics.q23StatsAgg(spark, dir)
      assert(countShuffles(many) ==
        countShuffles(graft.operators.Analytics.q23StatsAgg(spark, sfTiny)) - 1)
      assert(many.collect().toSeq ==
        graft.operators.Analytics.q23StatsAgg(spark, sfTiny).collect().toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("fan-out: one file cut into a byte range per core keeps the exchange") {
    // sfTiny's lineitem is one file of one row group: many byte ranges,
    // one working task, so the partials still need the fan-out
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "16k")
    try {
      assert(Tables.lineitem(spark, sfTiny).rdd.getNumPartitions >=
        spark.sessionState.conf.numShufflePartitions)
      assert(Skew.scanSplits(Tables.lineitem(spark, sfTiny)) == 1)
      assert(countShuffles(graft.operators.Analytics.q23StatsAgg(spark, sfTiny)) == 3)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("fan-out: building the six fanned-out queries runs no Spark job") {
    // the decision plans the scan; only the parquet read itself may run
    // its footer job, so calibrate that away as the ANN test does
    val a0 = settledJobId
    Tables.lineitem(spark, sfTiny)
    val perRead = settledJobId - a0
    val before = settledJobId
    fanOutQueries.foreach(_(spark, sfTiny))
    val after = settledJobId
    assert(after - before <= fanOutQueries.size * perRead,
      s"construction launched ${after - before} job(s); only table reads allowed")
  }

  // the classifier panel, then one query per operator file whose function
  // used to end in an eager checkpoint
  private val lazyKeys = Seq("ml22_mcnemar", "ml24_cohen_kappa", "ml27_ensemble_eval",
    "ml34_cochran_q", "ml37_fleiss_kappa", "ml38_krippendorff_alpha",
    "ml39_paired_bootstrap", "q63_attribution", "q51_ks_test", "d33_ppmi_contexts",
    "d35_split_leakage", "m05_lsh_scurve", "ml13_gbt_stumps", "x07_phash_neardup",
    "e24_nprobe_sweep", "t28_downtime_pareto", "d54_sorted_neighborhood")

  test("lazy queries: building the panel and a query per operator file runs only table reads") {
    val queries = Harness.select(lazyKeys)
    val before = settledJobId
    val built = lazyKeys.map(k => k -> queries(k)(spark, sfTiny))
    val after = settledJobId
    // a parquet read runs one footer job, named for its call site in Tables
    val tracker = spark.sparkContext.statusTracker
    def stages(job: Int): Seq[String] = tracker.getJobInfo(job).toSeq
      .flatMap(_.stageIds.toSeq).map(id => tracker.getStageInfo(id).fold("?")(_.name))
    val other = (before + 1 to after).map(stages)
      .filterNot(st => st.nonEmpty && st.forall(_.startsWith("parquet at Tables.scala")))
    assert(other.size == 0,
      s"job(s) beyond table reads, by call site: ${other.flatten.distinct.mkString(", ")}")
    val pinned = built.collect {
      case (k, df) if df.queryExecution.logical.collectFirst { case r: LogicalRDD => r }.nonEmpty => k
    }
    assert(pinned.size == 0, s"plans that scan a LogicalRDD: ${pinned.mkString(", ")}")
  }
}
