package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Curation, Telemetry, TempLakes, TextOps}
import graft.streaming.{EventRec, StreamOps, TokDoc}

/** The streaming differential: replay the REAL events table through the
  * stateful streaming operators in micro-batches and assert the output is
  * bit-identical to the oracle-checked batch twins (t02 hourly rollup,
  * t08 sessionization, t03 latest-per-key — all green in the DuckDB
  * differential). This extends the engine's strongest verification tool
  * to the streaming layer: if the streaming state machinery (window
  * merge, session merge, GroupState carry) dropped, duplicated, or
  * mis-merged anything across batch boundaries, the row sets would
  * diverge and the string-level comparison here would fail loudly.
  *
  * Every test feeds 8 micro-batches (ts-ordered slices of the table), so
  * windows, sessions, and per-key champions MUST carry state across
  * batches — each test asserts that precondition explicitly before
  * comparing. */
class StreamReplaySpec extends GraftSpec {

  /** events at sf0.001 as ts-ordered records, sliced into n micro-batches. */
  private lazy val recs: Seq[EventRec] = {
    import spark.implicits._
    Tables.events(spark, sfTiny)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
      .as[EventRec].collect().toSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
  }
  private lazy val slices: Seq[Seq[EventRec]] = {
    val k = math.ceil(recs.size / 8.0).toInt
    recs.grouped(k).toSeq
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("replayed hourlyRollup is bit-identical to the oracle-green t02 batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // round-robin slicing: at ~1.15 events per (event_type, hour) group in
    // this table, contiguous ts-slices rarely split a group — interleaving
    // guarantees groups span batches AND arrive out of event-time order,
    // both of which Complete-mode windowed state must absorb
    val rr = recs.zipWithIndex.groupBy(_._2 % 8).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    val hourOf = (e: EventRec) => (e.event_type, e.ts.getTime / 3600000L)
    val slicesPerGroup = rr.zipWithIndex
      .flatMap { case (s, i) => s.map(hourOf).distinct.map(g => (g, i)) }
      .groupBy(_._1).map(_._2.map(_._2).distinct.size)
    assert(slicesPerGroup.exists(_ >= 2),
      "slicing must split at least one hour-group across batches")

    val in = MemoryStream[EventRec]
    val out = TempLakes.dir("graft-replay-rollup")
    // foreachBatch parquet sink, Complete mode: every trigger overwrites
    // with the full refreshed state; the final file set IS the rollup —
    // the same parquet-dump shape the Verify differential reads
    val q = StreamOps.hourlyRollup(in.toDF()).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .outputMode("complete").start()
    try {
      rr.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = spark.read.parquet(out)
      .select($"event_type", $"hour", $"n_events", $"avg_value", $"sum_value")
    val batch = Telemetry.t02HourlyRollup(spark, sfTiny)
    assert(canon(streamed) == canon(batch),
      "micro-batched streaming rollup must equal the batch rollup bit-for-bit")
  }

  test("replayed joinWithAlerts equals the oracle-green t17 batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // precondition: the contiguous slicing leaves matches that SPAN batch
    // boundaries — a reading whose 24 h alert window reaches into an
    // earlier slice — so the alert-side join state must survive triggers
    // (23 h bound below keeps the check clear of ms-vs-µs edge rounding)
    val sliceOf: Map[Long, Int] = slices.zipWithIndex
      .flatMap { case (s, i) => s.map(e => e.event_id -> i) }.toMap
    val errs = recs.filter(_.event_type == "error")
    val cross = recs.exists { rr =>
      errs.exists { aa =>
        aa.user_id == rr.user_id &&
        aa.ts.getTime <= rr.ts.getTime &&
        aa.ts.getTime >= rr.ts.getTime - 23L * 3600 * 1000 &&
        sliceOf(aa.event_id) < sliceOf(rr.event_id)
      }
    }
    assert(cross, "slicing must leave at least one cross-batch interval match")

    val inR = MemoryStream[EventRec]
    val inA = MemoryStream[EventRec]
    val readings = inR.toDF()
      .select($"user_id".as("machineId"), $"ts", $"value".as("temperature"))
    val alerts = inA.toDF().filter($"event_type" === "error")
      .select($"user_id".as("machineId"), $"ts",
        Telemetry.severityCol.as("severity"))
    val out = TempLakes.dir("graft-replay-interval")
    // append mode: inner stream-stream joins emit each match exactly once,
    // as soon as both sides have arrived — the parquet append accumulates
    // the full join result across triggers
    val q = StreamOps.joinWithAlerts(readings, alerts, Telemetry.LookbackSpark)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .outputMode("append").start()
    try {
      // both sides advance in lockstep ts order, so neither watermark can
      // evict state the other side still needs
      slices.foreach { s => inR.addData(s: _*); inA.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = spark.read.parquet(out)
      .select($"machineId", $"ts", $"temperature", $"alert_ts", $"severity")
    val batch = Telemetry.t17IntervalJoin(spark, sfTiny)
      .select($"machine_id".as("machineId"), $"ts", $"temperature",
        $"alert_ts", $"severity")
    assert(canon(streamed) == canon(batch),
      "stream-stream interval join must replay to the batch interval join")
  }

  test("replayed left-outer joinWithAlerts equals the oracle-green t18 batch left join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val inR = MemoryStream[EventRec]
    val inA = MemoryStream[EventRec]
    val readings = inR.toDF()
      .select($"user_id".as("machineId"), $"ts", $"value".as("temperature"))
    val alerts = inA.toDF().filter($"event_type" === "error")
      .select($"user_id".as("machineId"), $"ts",
        Telemetry.severityCol.as("severity"))
    val out = TempLakes.dir("graft-replay-left")
    val q = StreamOps.joinWithAlerts(readings, alerts,
        Telemetry.LookbackSpark, "left_outer")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .outputMode("append").start()
    try {
      slices.foreach { s => inR.addData(s: _*); inA.addData(s: _*); q.processAllAvailable() }
      // null-side rows emit only when BOTH watermarks pass the reading's
      // eviction point, and each trigger's watermark derives from the
      // PREVIOUS batch's max event time — hence two far-future sentinel
      // batches (fed to both sides; machineId −1 keeps them filterable)
      val maxTs = recs.last.ts.getTime
      Seq(48L, 96L).zipWithIndex.foreach { case (h, i) =>
        val sentinel = EventRec(-1L, "error",
          new Timestamp(maxTs + h * 3600 * 1000), -1L - i, 0.0)
        inR.addData(sentinel); inA.addData(sentinel); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read.parquet(out)
      .filter($"machineId" >= 0)
      .select($"machineId", $"ts", $"temperature",
        coalesce($"alert_ts", expr("TIMESTAMP '1900-01-01 00:00:00'")).as("alert_ts"),
        coalesce($"severity", lit("none")).as("severity"))
    val batch = Telemetry.t18IntervalJoinLeft(spark, sfTiny)
      .select($"machine_id".as("machineId"), $"ts", $"temperature",
        $"alert_ts", $"severity")
    // precondition: the outer semantics are actually exercised — readings
    // with no alert in their window exist and must surface as null-side
    // emissions in the stream
    val unmatched = batch.filter($"severity" === "none").count()
    assert(unmatched > 0, "corpus must contain alert-free readings")
    assert(streamed.filter($"severity" === "none").count() == unmatched,
      "watermark expiry must emit exactly the unmatched readings")
    assert(canon(streamed) == canon(batch),
      "left-outer stream-stream join must replay to the batch left join")
  }

  test("replayed sessionizeEvents equals the oracle-green t08 batch sessionization") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val batch = Telemetry.t08Sessionize(spark, sfTiny)
    val batchRows = batch.collect()
    // precondition: at least one session straddles a micro-batch cut, so
    // session-window state must merge across batches
    val cuts = slices.init.map(_.last.ts)
    val straddling = batchRows.count { r =>
      val start = r.getAs[Timestamp]("session_start")
      val end = r.getAs[Timestamp]("session_end")
      cuts.exists(c => start.compareTo(c) <= 0 && end.compareTo(c) > 0)
    }
    assert(straddling > 0, "slicing must split at least one session across batches")

    val in = MemoryStream[EventRec]
    val q = StreamOps.sessionizeEvents(in.toDF()).writeStream
      .format("memory").queryName("replay_sessions").outputMode("append").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
      // Append mode emits a session only once the watermark passes its
      // close; two far-future sentinel batches advance the watermark past
      // every real session (watermark is computed from the PREVIOUS
      // batch's max event time, hence two)
      val maxTs = recs.last.ts.getTime
      Seq(6, 7).foreach { h =>
        in.addData(EventRec(-1L, "zz_sentinel",
          new Timestamp(maxTs + h * 3600 * 1000L), -1L, 0.0))
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("replay_sessions")
      .filter($"user_id" >= 0)
      .withColumn("session_id", row_number()
        .over(Window.partitionBy($"user_id").orderBy($"w_start")).cast("long"))
      .select($"user_id", $"session_id", $"n_events",
        $"session_start", $"session_end", $"duration_s")
    assert(canon(streamed) == canon(batch),
      "replayed session windows must equal the batch sessionization")
  }

  test("replayed ewmaStream is bit-identical to the oracle-green t15 batch EWMA") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // precondition: at least one user's readings span ≥2 slices, so the
    // accumulator at the boundary can only come from GroupState carry
    val userSliceSpread = slices.zipWithIndex
      .flatMap { case (s, i) => s.map(e => (e.user_id, i)) }
      .groupBy(_._1).map(_._2.map(_._2).distinct.size)
    assert(userSliceSpread.exists(_ >= 2),
      "slicing must split at least one user's readings across batches")

    val in = MemoryStream[EventRec]
    val q = StreamOps.ewmaStream(in.toDS()).writeStream
      .format("memory").queryName("replay_ewma").outputMode("append").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = spark.table("replay_ewma")
      .select($"user_id", $"ts", $"event_id", $"value", $"ewma")
    val batch = Telemetry.t15Ewma(spark, sfTiny)
      .select($"user_id", $"ts", $"event_id", $"value", $"ewma")
    assert(canon(streamed) == canon(batch),
      "replayed EWMA must equal the batch recurrence bit-for-bit")
  }

  test("replayed anomalyScoreStream is bit-identical to the batch seasonal scorer") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.HourRec
    val hourlyDf = Tables.events(spark, sfTiny)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(graft.operators.Num.ravg($"value", 6).as("x"))
      .select($"event_type", $"h".cast("long").as("hx"), $"x")
      .cache()
    try {
      // batch pass = the model trainer AND the differential's target
      val scored = Telemetry.seasonalScores(
        hourlyDf.select($"event_type", $"hx", $"x".as("y"))).collect()
      val fitted = scored.map(r => (r.getString(0), r.getAs[Long]("hod"),
        r.getAs[Long]("dow")) -> r.getAs[Double]("fitted")).toMap
      val sigma = scored.map(r => r.getString(0) -> r.getAs[Double]("sigma")).toMap
      val hourly = hourlyDf.as[HourRec].collect().toSeq
        .sortBy(h => (h.hx, h.event_type))
      val k = math.ceil(hourly.size / 4.0).toInt

      val in = MemoryStream[HourRec]
      val q = StreamOps.anomalyScoreStream(in.toDS(), fitted, sigma)
        .writeStream.format("memory").queryName("replay_anom")
        .outputMode("append").start()
      try {
        hourly.grouped(k).foreach { s => in.addData(s: _*); q.processAllAvailable() }
      } finally q.stop()

      val streamed = spark.table("replay_anom")
        .select($"event_type", $"hx", $"y", $"fitted", $"score")
      val batch = scored.filter(r => r.getAs[Double]("sigma") > 0.0).map { r =>
        (r.getString(0), r.getAs[Long]("hx"), r.getAs[Double]("y"),
          graft.operators.Num.rD(r.getAs[Double]("fitted"), 6),
          graft.operators.Num.rD(
            r.getAs[Double]("resid") / r.getAs[Double]("sigma"), 6)).toString
      }.sorted.toSeq
      val got = streamed.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)).toString).sorted.toSeq
      assert(got == batch,
        "streamed anomaly scores must equal the batch scorer bit-for-bit")
    } finally hourlyDf.unpersist(blocking = false)
  }

  test("replayed kmvStream reproduces the oracle-green q45 sketch incl. the union row") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // KMV state is a SET of order statistics — micro-batch order cannot
    // matter, and the bounded-state property is exactly what the batch
    // sketch's k-smallest selection promises; '_union' replays the merge law
    val in = MemoryStream[EventRec]
    val q = StreamOps.kmvStream(in.toDS()).writeStream
      .format("memory").queryName("replay_kmv").outputMode("update").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    // final state per key = the max-m update (m only grows), kth_hash
    // breaks saturated-m ties (it only shrinks as smaller hashes arrive)
    val wn = Window.partitionBy($"event_type")
      .orderBy($"m".desc, $"kth_hash".asc)
    val streamed = spark.table("replay_kmv")
      .withColumn("rn", row_number().over(wn)).filter($"rn" === 1)
      .select($"event_type", $"m", $"kth_hash", $"kmv_estimate")
    val batch = Analytics.q45KmvSketch(spark, sfTiny)
      .select($"event_type", $"n_exact", $"kth_hash", $"kmv_estimate")
    val sm = streamed.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val bm = batch.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(sm.keySet == bm.keySet, s"${sm.keySet} vs ${bm.keySet}")
    bm.foreach { case (k, (nExact, kth, est)) =>
      val (m, skth, sest) = sm(k)
      assert(m == math.min(nExact, 64L), s"$k m=$m n_exact=$nExact")
      assert(skth == kth, s"$k kth $skth vs $kth")
      assert(sest == est, s"$k est $sest vs $est")
    }
  }

  test("replayed cusumStream reproduces the oracle-green q56 changepoint rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.HourRec
    // the stream consumes the SAME hourly series q56 aggregates (rounded
    // decimal hourly means), in hx order — how a rollup stage feeds a
    // monitor anyway; the baseline mean is the batch-trained artifact
    val hourlyDf = Tables.events(spark, sfTiny)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(graft.operators.Num.ravg($"value", 6).as("x"))
      .select($"event_type", $"h".cast("long").as("hx"), $"x")
      .cache()
    try {
      val mu = hourlyDf.groupBy($"event_type")
        .agg(graft.operators.Num.ravg($"x", 6).as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val hourly = hourlyDf.as[HourRec].collect().toSeq
        .sortBy(h => (h.hx, h.event_type))
      val k = math.ceil(hourly.size / 4.0).toInt
      val hSlices = hourly.grouped(k).toSeq
      // precondition: at least one type's series spans ≥2 slices, so the
      // running s at the boundary can only come from GroupState carry
      val spread = hSlices.zipWithIndex
        .flatMap { case (s, i) => s.map(h => (h.event_type, i)) }
        .groupBy(_._1).map(_._2.map(_._2).distinct.size)
      assert(spread.exists(_ >= 2),
        "slicing must split at least one type's series across batches")

      val in = MemoryStream[HourRec]
      val q = StreamOps.cusumStream(in.toDS(), mu).writeStream
        .format("memory").queryName("replay_cusum").outputMode("update").start()
      try {
        hSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
      } finally q.stop()

      // Update mode appends one refreshed champion per type per batch;
      // the final answer is the max-n_hours update of each type
      val wn = Window.partitionBy($"event_type").orderBy($"n_hours".desc)
      val streamed = spark.table("replay_cusum")
        .withColumn("rn", row_number().over(wn)).filter($"rn" === 1)
        .select($"event_type", $"n_hours", $"mean_x", $"cp_hour", $"cusum_max")
      val batch = Analytics.q56Cusum(spark, sfTiny)
      assert(canon(streamed) == canon(batch),
        "replayed CUSUM champions must equal the batch changepoint rows")
    } finally hourlyDf.unpersist(blocking = false)
  }

  test("replayed pageHinkleyStream reproduces the oracle-green q111 drift rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.HourRec
    // same hourly series q111 aggregates; NO trained artifact — the
    // running mean adapts inside the fold (the no-prior detector)
    val hourly = Tables.events(spark, sfTiny)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(graft.operators.Num.ravg($"value", 6).as("x"))
      .select($"event_type", $"h".cast("long").as("hx"), $"x")
      .as[HourRec].collect().toSeq.sortBy(h => (h.hx, h.event_type))
    val k = math.ceil(hourly.size / 4.0).toInt
    val hSlices = hourly.grouped(k).toSeq
    // precondition: some type's series spans ≥2 slices — the running
    // (cs, m, min) at the boundary can only come from GroupState carry
    val spread = hSlices.zipWithIndex
      .flatMap { case (s, i) => s.map(h => (h.event_type, i)) }
      .groupBy(_._1).map(_._2.map(_._2).distinct.size)
    assert(spread.exists(_ >= 2),
      "slicing must split at least one type's series across batches")

    val in = MemoryStream[HourRec]
    val q = StreamOps.pageHinkleyStream(in.toDS()).writeStream
      .format("memory").queryName("replay_ph").outputMode("update").start()
    try {
      hSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    val wn = Window.partitionBy($"event_type").orderBy($"n_hours".desc)
    val streamed = spark.table("replay_ph")
      .withColumn("rn", row_number().over(wn)).filter($"rn" === 1)
      .select($"event_type", $"n_hours", $"ph_hour", $"ph_max")
    val batch = Analytics.q111PageHinkley(spark, sfTiny)
    assert(canon(streamed) == canon(batch),
      "replayed Page–Hinkley champions must equal the batch drift rows")
  }

  test("replayed markovStream reproduces the oracle-green q58 transition cells") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // precondition: at least one user's event sequence spans ≥2 slices, so
    // the (prev → curr) pair at the boundary can only come from GroupState
    val userSliceSpread = slices.zipWithIndex
      .flatMap { case (s, i) => s.map(e => (e.user_id, i)) }
      .groupBy(_._1).map(_._2.map(_._2).distinct.size)
    assert(userSliceSpread.exists(_ >= 2),
      "slicing must split at least one user's sequence across batches")

    val in = MemoryStream[EventRec]
    val q = StreamOps.markovStream(in.toDS()).writeStream
      .format("memory").queryName("replay_markov").outputMode("append").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    // cell counts determine q58's p and lift exactly, so cell equality is
    // full equality of the transition matrix
    val streamed = spark.table("replay_markov")
      .groupBy($"src_type", $"dst_type").agg(count(lit(1)).as("n_pairs"))
    val batch = Analytics.q58Markov(spark, sfTiny)
      .select($"src_type", $"dst_type", $"n_pairs")
    assert(canon(streamed) == canon(batch),
      "replayed Markov cells must equal the batch transition matrix")
  }

  /** Replay latestPerKey into `sink`, assert cross-batch state carry, and
    * return the per-key final champions — shared by the default-provider
    * and RocksDB-provider tests so both run the IDENTICAL replay. */
  private def replayLatestFinals(sink: String): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRec]
    val q = StreamOps.latestPerKey(in.toDS()).writeStream
      .format("memory").queryName(sink).outputMode("update").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    val emitted = spark.table(sink).as[EventRec].collect().toSeq
    // precondition: some key's champion was refreshed across batches (the
    // GroupState genuinely carried and updated)
    val refreshed = emitted.groupBy(e => (e.user_id, e.event_type))
      .count(_._2.map(_.event_id).distinct.size >= 2)
    assert(refreshed > 0, "at least one key must update its champion across batches")

    // the final champion per key = the max emission per key (each emission
    // is the running latest, so emissions are monotone per key)
    val ord = Ordering.fromLessThan[EventRec] { (a, b) =>
      val c = a.ts.compareTo(b.ts)
      c < 0 || (c == 0 && a.event_id < b.event_id)
    }
    emitted.groupBy(e => (e.user_id, e.event_type))
      .values.map(_.max(ord)).toSeq.toDF()
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
  }

  test("replayed topkStream converges to the oracle-green t14 batch top-k") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRec]
    val q = StreamOps.topkStream(in.toDS()).writeStream
      .format("memory").queryName("replay_topk").outputMode("update").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    val emitted = spark.table("replay_topk")
    // precondition: some user's champion set grew across batches (> k
    // distinct members ever emitted ⇒ the GroupState genuinely evolved)
    val grew = emitted.select($"user_id", $"value", $"event_id").distinct()
      .groupBy($"user_id").count().filter($"count" > 3).count()
    assert(grew > 0, "at least one user must rotate members through its top-3")
    // every member of the FINAL top-3 was emitted when it first entered
    // the state, so final = top-3 over the distinct emission set
    val w = Window.partitionBy($"user_id")
      .orderBy($"value".desc, $"event_id".asc)
    val finals = emitted.select($"user_id", $"value", $"event_id").distinct()
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"user_id", $"rk", $"value", $"event_id")
    val batch = Telemetry.t14TopkUdaf(spark, sfTiny)
      .select($"user_id", $"rk".cast("int").as("rk"), $"value", $"event_id")
    assert(canon(finals) == canon(batch),
      "streaming top-k state must converge to the batch aggregator exactly")
  }

  test("replayed episodeStream equals the oracle-green t26 batch episodes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRec]
    val q = StreamOps.episodeStream(in.toDS()).writeStream
      .format("memory").queryName("replay_ep").outputMode("append").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
      // flush: a far-future sentinel alert per error-active user closes
      // every real open episode (the sentinel's own episode stays in
      // state, never emitted)
      val users = recs.filter(_.event_type == "error").map(_.user_id).distinct
      val far = new Timestamp(recs.map(_.ts.getTime).max + 10L * 24 * 3600 * 1000)
      in.addData(users.map(u =>
        EventRec(u, "error", far, 900000000L + u, 0.0)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("replay_ep")
      .select($"user_id", $"ep_start", $"ep_end", $"n_alerts")
    // state genuinely coalesced: multi-alert episodes and multi-episode
    // users both exist
    assert(streamed.filter($"n_alerts" >= 2).count() > 0)
    assert(streamed.groupBy($"user_id").count().filter($"count" >= 2).count() > 0)
    val batch = Telemetry.t26EpisodeMerge(spark, sfTiny)
      .select($"user_id", $"ep_start", $"ep_end", $"n_alerts")
    assert(canon(streamed) == canon(batch),
      "streaming episode coalescing must reproduce the batch gaps-and-islands exactly")
  }

  test("dedupEventsStream drops planted cross-batch redeliveries exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // at-least-once simulation: every 7th event is REDELIVERED in the
    // NEXT batch (the crash-retry window) — state must carry across the
    // boundary for the duplicate to be recognized
    val base = recs.take(400)
    val k = 100
    val batches = base.grouped(k).toSeq
    val withDups = batches.zipWithIndex.map { case (b, i) =>
      val redelivered =
        if (i == 0) Seq.empty
        else batches(i - 1).zipWithIndex.collect { case (e, j) if j % 7 == 0 => e }
      b ++ redelivered
    }
    val planted = withDups.map(_.size).sum - base.size
    assert(planted > 0, "need planted redeliveries")

    val in = MemoryStream[EventRec]
    val q = StreamOps.dedupEventsStream(in.toDS()).writeStream
      .format("memory").queryName("replay_dedup_ev").outputMode("append").start()
    try {
      withDups.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()

    val got = spark.table("replay_dedup_ev")
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
    assert(got.count() == base.size.toLong,
      s"expected ${base.size} distinct events, got ${got.count()}")
    assert(canon(got) == base.map(e =>
      org.apache.spark.sql.Row(e.user_id, e.event_type, e.ts, e.event_id, e.value)
        .toString).sorted.toSeq,
      "deduped stream must equal the distinct original set")
  }

  test("episodeStreamTimeout closes episodes by watermark alone, equal to t26") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[EventRec]
    val q = StreamOps.episodeStreamTimeout(in.toDS()).writeStream
      .format("memory").queryName("replay_ep_to").outputMode("append").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
      // flush: ONE junk user's far-future events advance the watermark
      // (derived from the PREVIOUS batch's max — hence two batches) and
      // EventTimeTimeout closes EVERY user's open episode; no per-user
      // sentinel traffic, the difference from episodeStream's flush
      val far = recs.map(_.ts.getTime).max + 10L * 24 * 3600 * 1000
      Seq(0L, 3600000L).foreach { d =>
        in.addData(EventRec(-1L, "error", new Timestamp(far + d), 900000001L, 0.0))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("replay_ep_to")
      .filter($"user_id" >= 0)
      .select($"user_id", $"ep_start", $"ep_end", $"n_alerts")
    assert(streamed.filter($"n_alerts" >= 2).count() > 0)
    val batch = Telemetry.t26EpisodeMerge(spark, sfTiny)
      .select($"user_id", $"ep_start", $"ep_end", $"n_alerts")
    assert(canon(streamed) == canon(batch),
      "watermark-closed episodes must reproduce the batch gaps-and-islands exactly")
  }

  test("replayed latestPerKey converges to the oracle-green t03 batch compaction") {
    import spark.implicits._
    val batch = Telemetry.t03LatestPerKey(spark, sfTiny)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
    assert(canon(replayLatestFinals("replay_latest")) == canon(batch),
      "streaming compaction state must converge to the batch latest-per-key")
  }

  test("the same replay under the RocksDB state store matches the batch twin") {
    import spark.implicits._
    // RocksDB is the state backend a 100 TB deployment runs (bounded-heap,
    // changelog-checkpointed); the differential must hold provider-agnostic
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = Telemetry.t03LatestPerKey(spark, sfTiny)
        .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
      assert(canon(replayLatestFinals("replay_latest_rocks")) == canon(batch),
        "GroupState carry must be identical under the RocksDB provider")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // --- streaming curation: d19/d20 via the SAME shared stage builders ---

  /** d20's exact tokenizer (TextOps.toks) as a public-functions Column. */
  private def nTokCol =
    size(filter(split(trim(col("text")), "\\s+"), t => t =!= ""))

  /** documents at sf0.001 as doc_id-ordered (doc_id, source, lang, n_tok),
    * sliced into 8 micro-batches. */
  private lazy val docSlices: Seq[Seq[(Long, String, String, Int)]] = {
    import spark.implicits._
    val rows = Tables.documents(spark, sfTiny)
      .select($"doc_id", $"source", $"lang", nTokCol.as("n_tok"))
      .as[(Long, String, String, Int)].collect().toSeq.sortBy(_._1)
    val k = math.ceil(rows.size / 8.0).toInt
    rows.grouped(k).toSeq
  }

  test("replayed mixResampleStream equals the oracle-green d19 batch mix") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the rate table is a corpus statistic, trained batch-side with the
    // SAME builder d19 uses and broadcast against the stream
    val rates = Curation.mixRates(spark, Tables.documents(spark, sfTiny))
    val in = MemoryStream[(Long, String, String, Int)]
    val df = in.toDF().toDF("doc_id", "source", "lang", "n_tok")
    val q = StreamOps.mixResampleStream(df, rates).writeStream
      .format("memory").queryName("replay_mix").outputMode("append").start()
    try {
      docSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("replay_mix")
      .select($"doc_id", $"source", $"lang", $"permille")
    val batch = operators.Curation.d19DomainMix(spark, sfTiny)
    assert(canon(streamed) == canon(batch),
      "stream-side LCG acceptance must reproduce the batch mix exactly")
  }

  test("replayed funnelStream equals the batch per-user funnel under out-of-order slicing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // round-robin slices: arrival order is maximally decoupled from event
    // time, so purchases routinely precede their user's signup
    val rr = recs.zipWithIndex.groupBy(_._2 % 8).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    // precondition: the retro-validation path is exercised — some user's
    // purchase arrives in an earlier slice than ANY of their signups
    val firstSliceOf = (pred: EventRec => Boolean) =>
      rr.zipWithIndex.flatMap { case (s, i) =>
        s.filter(pred).map(e => (e.user_id, i)) }
        .groupBy(_._1).map { case (u, xs) => (u, xs.map(_._2).min) }
    val su = firstSliceOf(_.event_type == "signup")
    val pu = firstSliceOf(_.event_type == "purchase")
    assert(pu.exists { case (u, i) => su.get(u).exists(_ > i) },
      "need a purchase arriving before its user's first signup")
    val in = MemoryStream[EventRec]
    val q = StreamOps.funnelStream(in.toDS()).writeStream.format("memory")
      .queryName("replay_funnel").outputMode("update")
      .option("checkpointLocation", TempLakes.dir("funnel-replay")).start()
    try {
      rr.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    // signup minima only decrease and valid-purchase minima only decrease
    // once set, so min-over-emissions = the converged per-user state
    val streamed = spark.table("replay_funnel")
      .groupBy($"user_id")
      .agg(min($"signup_us").as("signup_us"), min($"purchase_us").as("purchase_us"))
      .filter($"signup_us".isNotNull)
    val batch = operators.Advanced.funnelPerUser(
        Tables.events(spark, sfTiny).select($"user_id", $"event_type", $"ts"))
      .select($"user_id", unix_micros($"signup_ts").as("signup_us"),
        unix_micros($"purchase_ts").as("purchase_us"))
    assert(canon(streamed) == canon(batch),
      "streamed funnel state must equal the batch per-user funnel frame")
  }

  test("replayed cmsSketchStream converges to the batch Count-Min cell table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val occ = Tables.documents(spark, sfTiny)
      .select(explode(TextOps.toks(lower($"text"))).as("tok"))
    val toks = occ.as[String].collect().toSeq
    val tokSlices = toks.grouped(math.ceil(toks.size / 8.0).toInt).toSeq
    val in = MemoryStream[String]
    val q = StreamOps.cmsSketchStream(in.toDS()).writeStream
      .format("memory").queryName("replay_cms").outputMode("update")
      .option("checkpointLocation", TempLakes.dir("cms-replay")).start()
    try {
      tokSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    val emitted = spark.table("replay_cms")
    // precondition: cells were re-emitted across micro-batches, i.e. the
    // GroupState counters genuinely carried (one emission per touched
    // cell per batch — far more rows than the 256 final cells)
    assert(emitted.count() > 256,
      "expected multi-batch cell updates, got a single-batch run")
    // counters are monotone, so the converged sketch is the max per cell
    val streamed = emitted.groupBy($"d", $"b").agg(max($"cell").as("cell"))
    val batch = TextOps.cmsCellsOf(occ)
    assert(canon(streamed) == canon(batch),
      "replayed CMS cells must equal the batch sketch bit-for-bit")
    // and the total mass folded equals D × token occurrences
    val mass = streamed.agg(sum($"cell")).collect()(0).getLong(0)
    assert(mass == 4L * toks.size, s"mass $mass vs ${4L * toks.size}")
  }

  test("replayed packStream equals the oracle-green d20 batch packing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // precondition: some (lang, shard) group spans >= 2 micro-batches, so
    // the running-count GroupState genuinely carries across batches
    val shardOf = (r: (Long, String, String, Int)) => (r._3, r._1 / 100L)
    val perSlice = docSlices.map(_.map(shardOf).toSet)
    assert(perSlice.zip(perSlice.tail).exists { case (a, b) => a.intersect(b).nonEmpty },
      "slicing must split at least one shard across batches")

    val in = MemoryStream[TokDoc]
    val q = StreamOps.packStream(in.toDS()).writeStream
      .format("memory").queryName("replay_pack").outputMode("append").start()
    try {
      docSlices.foreach { s =>
        in.addData(s.map(r => TokDoc(r._1, r._3, r._4)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("replay_pack")
      .groupBy($"lang", $"shard", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("seq_tokens"),
        min($"doc_id").as("first_doc"))
    val batch = operators.Curation.d20SeqPacking(spark, sfTiny)
    assert(canon(streamed) == canon(batch),
      "per-shard running-count state must reproduce d20's sequence ids")
  }

  test("streamed mix → pack composition equals the shared batch builders") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sfTiny)
    val rates = Curation.mixRates(spark, docs)
    val in = MemoryStream[(Long, String, String, Int)]
    val df = in.toDF().toDF("doc_id", "source", "lang", "n_tok")
    // one streaming query: stateless broadcast mix, then stateful packing
    val mixed = StreamOps.mixResampleStream(df, rates)
      .select($"doc_id", $"lang", $"n_tok").as[TokDoc]
    val q = StreamOps.packStream(mixed).writeStream
      .format("memory").queryName("replay_mixpack").outputMode("append").start()
    try {
      docSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("replay_mixpack")
      .groupBy($"lang", $"shard", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("seq_tokens"),
        min($"doc_id").as("first_doc"))
    val surv = docs.join(broadcast(rates), $"source" === $"src")
      .filter(Curation.mixAccept)
      .select($"doc_id", $"lang", nTokCol.as("n_tok"))
    val batch = Curation.packSequences(spark, surv)
    assert(canon(streamed) == canon(batch),
      "the streaming curation tail must equal the same batch builders composed")
  }

  test("replayed corpus dedup keeps exactly the d04-core survivors on planted duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the testdata has no exact duplicates (verified: 0 normFp groups with
    // n_copies > 1 at sf0.001/0.01), so plant them: every 12th document is
    // re-ingested under a fresh high doc_id with case/whitespace mangling
    // that normFp must see through. High ids put every copy in a LATER
    // micro-batch than its original, so (a) the dedup state must carry
    // across batches for every planted pair, and (b) no two same-fp rows
    // share a batch — the survivor is decided by state, not by intra-batch
    // processing order.
    val base = Tables.documents(spark, sfTiny).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val maxId = base.map(_._1).max
    // copy only early-position originals: copies sort after maxId (the
    // final slices), so keeping originals out of the tail slice guarantees
    // every (original, copy) pair spans a batch boundary
    val copies = base.take(base.size * 3 / 4).filter(_._1 % 12 == 0).map {
      case (id, t) => (maxId + 1 + id, "  " + t.toUpperCase + "  ") }
    assert(copies.size >= 20, "need a meaningful planted-duplicate count")
    val planted = (base ++ copies).sortBy(_._1)
    val k = math.ceil(planted.size / 8.0).toInt
    val slices = planted.grouped(k).toSeq
    // precondition (b): no fingerprint collides inside a single slice
    val fpOf = (t: String) => t.trim.toLowerCase.replaceAll("\\s+", " ")
    assert(slices.forall(s => s.map(r => fpOf(r._2)).distinct.size == s.size),
      "planted copies must land in different micro-batches than originals")

    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dedupCorpusStream(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("replay_dedup")
      .outputMode("append").start()
    try {
      slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("replay_dedup").select($"doc_id")
    val plantedDf = planted.toDF("doc_id", "text")
    val batch = TextOps.dedupCore(plantedDf)
    // the streaming survivor set IS the batch min-id survivor set, and
    // every planted copy was deduplicated away
    assert(canon(streamed) == canon(batch.select($"kept_doc_id".as("doc_id"))),
      "first-arrival streaming dedup must keep d04's min-id survivors")
    assert(spark.table("replay_dedup").count() == base.size.toLong)
    assert(batch.filter($"n_copies" > 1).count() == copies.size.toLong)
  }

  test("replayed ivfAssignStream equals e05's batch list assignment") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the quantizer is a corpus statistic, trained batch-side over the
    // snapshot (e05's hash-rank centroids) and packed into one broadcast
    // row — the model artifact for streaming index maintenance
    val one = operators.Similarity.ivfCentroidsOneRow(spark, sfTiny)
      .localCheckpoint(true)
    val vecs = Tables.embeddings(spark, sfTiny)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toSeq.sortBy(_._1)
    val k = math.ceil(vecs.size / 8.0).toInt
    val in = MemoryStream[(Long, Seq[Float])]
    val df = in.toDF().toDF("vec_id", "embedding")
    val q = StreamOps.ivfAssignStream(df, one).writeStream
      .format("memory").queryName("replay_ivf").outputMode("append").start()
    try {
      vecs.grouped(k).foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("replay_ivf").select($"vec_id", $"cid")
    val batch = operators.Similarity.ivfBatchAssignments(spark, sfTiny)
    // scan-local fold argmin ≡ batch max(struct) argmin, bit for bit —
    // every vector routed to the same inverted list the batch build chose
    assert(canon(streamed) == canon(batch),
      "streaming list assignment must reproduce the batch quantizer exactly")
    // and the stream actually exercised multiple lists
    assert(spark.table("replay_ivf").select($"cid").distinct().count() > 1)
  }

  test("replayed bpeEncodeStream equals the oracle-green d32 batch encoding") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the merge table is a corpus statistic, trained batch-side with the
    // SAME trainer the batch query uses (d27 over the snapshot), pivoted
    // to one row and materialized once — the broadcast model artifact
    val one = TextOps.mergesOneRow(
      TextOps.d27BpeTrain(spark, sfTiny), TextOps.BpeMerges)
      .localCheckpoint(true)
    val texts = Tables.documents(spark, sfTiny)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq.sortBy(_._1)
    val k = math.ceil(texts.size / 8.0).toInt
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q = StreamOps.bpeEncodeStream(df, one).writeStream
      .format("memory").queryName("replay_bpe").outputMode("append").start()
    try {
      texts.grouped(k).foreach { s => in.addData(s: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("replay_bpe")
      .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens", $"chars_per_token")
    val batch = TextOps.d32BpeEncode(spark, sfTiny)
    assert(canon(streamed) == canon(batch),
      "scan-local streaming encode must reproduce the batch explode→agg exactly")
  }
}
