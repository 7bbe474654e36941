package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Telemetry, TempLakes}
import graft.streaming.{EventRec, StreamOps}

/** The crash-recovery differential: the production property a streaming
  * deployment actually needs is not "a continuous replay matches batch"
  * (StreamReplaySpec) but "a replay that is KILLED at a micro-batch
  * boundary and RESTARTED from its checkpoint still matches batch" —
  * exactly-once output across restarts. Reference delivery semantics are
  * at-least-once with managed-service retries
  * (reference IoTSimulator.java:55 re-publish loop,
  * phase3-kinesis-s3.yaml:86-89 Firehose retry config); the engine must
  * therefore prove (a) aggregation state recovers from the checkpoint,
  * (b) GroupState recovers, and (c) a REDELIVERED batch — re-executed
  * because the crash landed between the offset log and the commit log —
  * does not duplicate sink output (the file sink's metadata log dedups).
  *
  * Each test stops a real StreamingQuery, starts a NEW query on the SAME
  * checkpoint + the same MemoryStream (whose offsets the checkpoint
  * recorded), and asserts bit-equality with the oracle-green batch twin.
  */
class StreamRecoverySpec extends GraftSpec {

  /** events at sf0.001, ts-ordered. */
  private lazy val recs: Seq[EventRec] = {
    import spark.implicits._
    Tables.events(spark, sfTiny)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
      .as[EventRec].collect().toSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
  }

  /** Round-robin 8-slicing: every slice spans the full time range, so
    * post-restart batches carry events OLDER than pre-restart state —
    * lost state becomes observable instead of being masked by time order. */
  private lazy val rr: Seq[Seq[EventRec]] =
    recs.zipWithIndex.groupBy(_._2 % 8).toSeq.sortBy(_._1).map(_._2.map(_._1))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("hourlyRollup killed at a batch boundary and restarted from checkpoint equals t02") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val hourOf = (e: EventRec) => (e.event_type, e.ts.getTime / 3600000L)
    val groupSlices = rr.zipWithIndex
      .flatMap { case (s, i) => s.map(hourOf).distinct.map(g => (g, i)) }
      .groupBy(_._1).map { case (g, xs) => (g, xs.map(_._2).distinct.toSet) }
    // preconditions that make state loss observable:
    //  (a) a group ENTIRELY pre-stop — its presence in the final Complete
    //      output can only come from recovered aggregation state
    //  (b) a group SPANNING the stop — its count is correct only if the
    //      recovered partial aggregate merges with post-restart events
    assert(groupSlices.exists(_._2.forall(_ <= 3)),
      "need an hour-group fed entirely before the kill")
    assert(groupSlices.exists(g => g._2.exists(_ <= 3) && g._2.exists(_ >= 4)),
      "need an hour-group spanning the kill boundary")

    val in = MemoryStream[EventRec]
    val out = TempLakes.dir("graft-recover-rollup")
    val ckpt = TempLakes.dir("graft-recover-rollup-ckpt")
    def start() = StreamOps.hourlyRollup(in.toDF()).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()

    val q1 = start()
    try rr.take(4).foreach { s => in.addData(s: _*); q1.processAllAvailable() }
    finally q1.stop() // the kill: state + offsets survive only in ckpt
    val q2 = start()
    try rr.drop(4).foreach { s => in.addData(s: _*); q2.processAllAvailable() }
    finally q2.stop()

    val streamed = spark.read.parquet(out)
      .select($"event_type", $"hour", $"n_events", $"avg_value", $"sum_value")
    val batch = Telemetry.t02HourlyRollup(spark, sfTiny)
    assert(canon(streamed) == canon(batch),
      "restarted Complete-mode rollup must equal the batch rollup bit-for-bit")
  }

  test("latestPerKey GroupState survives a kill/restart and never regresses") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val keyOf = (e: EventRec) => (e.user_id, e.event_type)
    val ord = Ordering.fromLessThan[EventRec] { (a, b) =>
      val c = a.ts.compareTo(b.ts)
      c < 0 || (c == 0 && a.event_id < b.event_id)
    }
    // precondition: for some key, the pre-stop champion is NEWER than a
    // post-stop event of the same key — if the restart lost GroupState,
    // the first post-restart emission for that key would REGRESS to the
    // older event and the monotonicity assertion below would fail
    val preChamp = rr.take(4).flatten.groupBy(keyOf).map { case (k, v) => (k, v.max(ord)) }
    val regressable = rr.drop(4).flatten.exists(e =>
      preChamp.get(keyOf(e)).exists(c => ord.lt(e, c)))
    assert(regressable, "need a post-restart event older than its key's pre-stop champion")

    val in = MemoryStream[EventRec]
    val out = TempLakes.dir("graft-recover-latest")
    val ckpt = TempLakes.dir("graft-recover-latest-ckpt")
    def start() = StreamOps.latestPerKey(in.toDS()).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventRec], bid: Long) =>
        batch.toDF().withColumn("batch_id", lit(bid))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()

    val q1 = start()
    try rr.take(4).foreach { s => in.addData(s: _*); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try rr.drop(4).foreach { s => in.addData(s: _*); q2.processAllAvailable() }
    finally q2.stop()

    val emitted = spark.read.parquet(out)
    // monotonicity across the restart: each key's champion emissions only
    // move forward in (ts, event_id) — the recovered state, not the batch
    // contents, decides every post-restart emission
    val perKey = emitted
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value", $"batch_id")
      .collect()
      .groupBy(r => (r.getLong(0), r.getString(1)))
    perKey.foreach { case (_, rows) =>
      val inOrder = rows.sortBy(_.getLong(5))
      inOrder.zip(inOrder.tail).foreach { case (a, b) =>
        val c = a.getTimestamp(2).compareTo(b.getTimestamp(2))
        assert(c < 0 || (c == 0 && a.getLong(3) <= b.getLong(3)),
          s"champion regressed across batches for key ${(a.getLong(0), a.getString(1))}")
      }
    }
    // convergence: the final champion per key equals the batch compaction
    val finals = emitted
      .withColumn("rk", row_number().over(
        Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts".desc, $"event_id".desc)))
      .filter($"rk" === 1)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
    val batch = Telemetry.t03LatestPerKey(spark, sfTiny)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
    assert(canon(finals) == canon(batch),
      "restarted GroupState compaction must converge to the batch latest-per-key")
  }

  test("kmvStream sorted-set state survives a kill/restart and converges to q45") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.KmvOut
    // KMV state is order-independent, so this test may slice by USER:
    // users in the first half then never reappear, making state loss
    // observable. Precondition: for some key, a member of the FINAL
    // k-smallest set arrives ONLY before the kill while the key keeps
    // receiving rows after it — a restart that lost the sorted set could
    // never re-learn that member, so kth_hash/estimate would diverge
    val byUser = recs.sortBy(e => (e.user_id, e.ts.getTime, e.event_id))
    val ku = math.ceil(byUser.size / 8.0).toInt
    val uSlices = byUser.grouped(ku).toSeq
    def keyRows(rows: Seq[EventRec]) =
      rows.flatMap(e => Seq((e.event_type, e.user_id), ("_union", e.user_id)))
    val preU = keyRows(uSlices.take(4).flatten).groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).toSet }
    val postU = keyRows(uSlices.drop(4).flatten).groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).toSet }
    val finalSet = keyRows(recs).groupBy(_._1).map { case (k, xs) =>
      k -> xs.map(_._2).distinct
        .map(u => (StreamOps.h60Scala(u.toString), u)).sorted.take(64)
    }
    val observable = finalSet.exists { case (k, set) =>
      postU.contains(k) && set.exists { case (_, u) =>
        preU.getOrElse(k, Set.empty).contains(u) && !postU(k).contains(u) }
    }
    assert(observable,
      "need a final sketch member that arrives only before the kill")

    val in = MemoryStream[EventRec]
    val out = TempLakes.dir("graft-recover-kmv")
    val ckpt = TempLakes.dir("graft-recover-kmv-ckpt")
    def start() = StreamOps.kmvStream(in.toDS()).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KmvOut], bid: Long) =>
        batch.toDF().withColumn("batch_id", lit(bid))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()

    val q1 = start()
    try uSlices.take(4).foreach { s => in.addData(s: _*); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try uSlices.drop(4).foreach { s => in.addData(s: _*); q2.processAllAvailable() }
    finally q2.stop()

    // final state per key = max-m update, kth_hash breaking saturated ties
    val finals = spark.read.parquet(out)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"m".desc, $"kth_hash".asc)))
      .filter($"rn" === 1)
      .select($"event_type", $"m", $"kth_hash", $"kmv_estimate")
    val sm = finals.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val bm = graft.operators.Analytics.q45KmvSketch(spark, sfTiny)
      .select($"event_type", $"n_exact", $"kth_hash", $"kmv_estimate")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(sm.keySet == bm.keySet)
    bm.foreach { case (k, (nExact, kth, est)) =>
      val (m, skth, sest) = sm(k)
      assert(m == math.min(nExact, 64L), s"$k m=$m n_exact=$nExact")
      assert(skth == kth && sest == est, s"$k ($skth,$sest) vs ($kth,$est)")
    }
  }

  test("a redelivered final batch is deduplicated by the file sink's commit log") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // ts-contiguous slices (the session test's slicing): sessions close as
    // the watermark advances, Append mode, REAL parquet file sink — the
    // sink whose _spark_metadata log carries the exactly-once contract
    val k = math.ceil(recs.size / 8.0).toInt
    val slices = recs.grouped(k).toSeq
    val in = MemoryStream[EventRec]
    val out = TempLakes.dir("graft-recover-sessions")
    val ckpt = TempLakes.dir("graft-recover-sessions-ckpt")
    def start() = StreamOps.sessionizeEvents(in.toDF()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try {
      slices.foreach { s => in.addData(s: _*); q1.processAllAvailable() }
      // two far-future sentinels flush every real session past the
      // watermark (it derives from the PREVIOUS batch's max event time)
      val maxTs = recs.last.ts.getTime
      Seq(6, 7).foreach { h =>
        in.addData(EventRec(-1L, "zz_sentinel",
          new Timestamp(maxTs + h * 3600 * 1000L), -1L, 0.0))
        q1.processAllAvailable()
      }
    } finally q1.stop()

    val committed = canon(spark.read.parquet(out))

    // simulate the crash window at-least-once delivery leaves open: the
    // offset log recorded the final batch but the COMMIT log did not —
    // on restart the engine must RE-EXECUTE that batch (redelivery) and
    // the file sink must skip it as already committed
    val commits = Paths.get(ckpt, "commits")
    val last = Files.list(commits).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(last)
    // the local ChecksumFs keeps a .N.crc sidecar; it must go with the
    // commit or the re-commit's rename collides
    val crc = last.resolveSibling("." + last.getFileName.toString + ".crc")
    Files.deleteIfExists(crc)

    val q2 = start()
    try q2.processAllAvailable() // re-runs the redelivered batch
    finally q2.stop()

    assert(Files.exists(last), "the redelivered batch must re-commit")
    val afterRedelivery = canon(spark.read.parquet(out))
    assert(afterRedelivery == committed,
      "the file sink must deduplicate the redelivered batch (exactly-once output)")

    // and the recovered output still equals the oracle-green batch twin
    val streamed = spark.read.parquet(out)
      .filter($"user_id" >= 0)
      .withColumn("session_id", row_number()
        .over(Window.partitionBy($"user_id").orderBy($"w_start")).cast("long"))
      .select($"user_id", $"session_id", $"n_events",
        $"session_start", $"session_end", $"duration_s")
    val batch = Telemetry.t08Sessionize(spark, sfTiny)
    assert(canon(streamed) == canon(batch),
      "post-redelivery file-sink content must equal the batch sessionization")
  }

  test("left-outer joinWithAlerts killed at a batch boundary resumes to t18 exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // contiguous ts-ordered slices (the interval-join replay shape: both
    // watermarks advance in lockstep, so neither side evicts state the
    // other still needs)
    val slices = { val k = math.ceil(recs.size / 8.0).toInt; recs.grouped(k).toSeq }
    // precondition: a match SPANNING the kill — its alert arrives before
    // the stop, its reading after the restart; that pairing can only come
    // from recovered join state (23 h bound keeps clear of edge rounding)
    val sliceOf: Map[Long, Int] = slices.zipWithIndex
      .flatMap { case (s, i) => s.map(e => e.event_id -> i) }.toMap
    val errs = recs.filter(_.event_type == "error")
    val crossKill = recs.exists { r0 =>
      errs.exists { a =>
        a.user_id == r0.user_id &&
        a.ts.getTime <= r0.ts.getTime &&
        a.ts.getTime >= r0.ts.getTime - 23L * 3600 * 1000 &&
        sliceOf(a.event_id) < 4 && sliceOf(r0.event_id) >= 4
      }
    }
    assert(crossKill, "need a match whose alert precedes the kill and reading follows it")

    val inR = MemoryStream[EventRec]
    val inA = MemoryStream[EventRec]
    val out = TempLakes.dir("graft-recover-join")
    val ckpt = TempLakes.dir("graft-recover-join-ckpt")
    def start() = {
      val readings = inR.toDF()
        .select($"user_id".as("machineId"), $"ts", $"value".as("temperature"))
      val alerts = inA.toDF().filter($"event_type" === "error")
        .select($"user_id".as("machineId"), $"ts",
          Telemetry.severityCol.as("severity"))
      StreamOps.joinWithAlerts(readings, alerts,
          Telemetry.LookbackSpark, "left_outer")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    val q1 = start()
    try slices.take(4).foreach { s =>
      inR.addData(s: _*); inA.addData(s: _*); q1.processAllAvailable()
    } finally q1.stop() // the kill: buffered join state + pending
                        // null-side readings survive only in ckpt
    val q2 = start()
    try {
      slices.drop(4).foreach { s =>
        inR.addData(s: _*); inA.addData(s: _*); q2.processAllAvailable()
      }
      // flush pending null-side rows: watermark derives from the PREVIOUS
      // batch's max event time — two far-future sentinel batches
      val maxTs = recs.last.ts.getTime
      Seq(48L, 96L).zipWithIndex.foreach { case (h, i) =>
        val sentinel = EventRec(-1L, "error",
          new Timestamp(maxTs + h * 3600 * 1000), -1L - i, 0.0)
        inR.addData(sentinel); inA.addData(sentinel); q2.processAllAvailable()
      }
    } finally q2.stop()

    val streamed = spark.read.parquet(out)
      .filter($"machineId" >= 0)
      .select($"machineId", $"ts", $"temperature",
        coalesce($"alert_ts", expr("TIMESTAMP '1900-01-01 00:00:00'")).as("alert_ts"),
        coalesce($"severity", lit("none")).as("severity"))
    val batch = Telemetry.t18IntervalJoinLeft(spark, sfTiny)
      .select($"machine_id".as("machineId"), $"ts", $"temperature",
        $"alert_ts", $"severity")
    // the outer semantics survive the restart: watermark expiry after the
    // kill must emit EXACTLY the unmatched readings — including readings
    // buffered as pending null-side rows when the query died
    val unmatched = batch.filter($"severity" === "none").count()
    assert(unmatched > 0, "corpus must contain alert-free readings")
    assert(streamed.filter($"severity" === "none").count() == unmatched,
      "recovered watermark expiry must emit exactly the unmatched readings")
    assert(canon(streamed) == canon(batch),
      "killed-and-restarted left-outer join must equal the batch left join bit-for-bit")
  }
}
