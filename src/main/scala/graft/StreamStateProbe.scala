package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{EventRec, StreamOps}

/** Streaming-layer skew probe: replays a SKEWED, TIME-EXTENDED event
  * stream through the stateful streaming operators and records the peak
  * state-store size — turning "watermark eviction bounds state" into a
  * measured number, the streaming analog of [[SkewProbe]].
  *
  * Construction: events at the given sf, 90 % of rows forced onto ONE
  * user (the hot-key case), replicated ×f by EXTENDING event time (each
  * replica shifts ts by the corpus span, ids stay unique) and fed in
  * constant-size ts-ordered micro-batches. A ×4 stream therefore carries
  * 4× the rows over 4× the time at the SAME event rate — if watermark /
  * timeout eviction works, peak state depends on the rate and the
  * watermark horizon, NOT the stream length: the state-rows slope over f
  * should be ≈ 0. An operator that leaks state (never evicts) would show
  * slope ≈ 1 — state proportional to everything ever seen.
  *
  * Probed: dedupEventsStream (dropDuplicatesWithinWatermark — state is
  * the id set within the 1 h watermark), episodeStreamTimeout
  * (EventTimeTimeout GroupState — state is one row per user with an open
  * episode; the 90 % hot user holds ONE row no matter how many events it
  * absorbs). One-off diagnostic (earlier results in
  * `git show 0a8f65e:CLAUDE.md`), run via
  * `tools/stream_state_probe.sh`.
  */
object StreamStateProbe {
  private val IdOffset = 100000000L

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cores)
    import spark.implicits._

    val recs0: Seq[EventRec] = Tables.events(spark, base)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
      .as[EventRec].collect().toSeq
      .sortBy(e => (e.ts.getTime, e.event_id))
    val span = recs0.last.ts.getTime - recs0.head.ts.getTime + 3600000L

    // 90 % of events onto one hot user; replica k shifts time by k·span
    def skewed(f: Int): Seq[EventRec] =
      (0 until f).flatMap { k =>
        recs0.map { e =>
          val uid = if (e.event_id % 10L < 9L) 1L else e.user_id
          EventRec(uid, e.event_type,
            new Timestamp(e.ts.getTime + k * span),
            e.event_id + k * IdOffset, e.value)
        }
      }

    /** Feed `rows` in constant-size ts-ordered batches; return the peak
      * state rows and bytes across all progress reports. */
    def replay(rows: Seq[EventRec],
        startQ: MemoryStream[EventRec] => StreamingQuery): (Long, Long) = {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[EventRec]
      val q = startQ(in)
      var peakRows = 0L
      var peakBytes = 0L
      try {
        rows.grouped(12500).foreach { s =>
          in.addData(s: _*)
          q.processAllAvailable()
          Option(q.lastProgress).foreach { p =>
            val r = p.stateOperators.map(_.numRowsTotal).sum
            val b = p.stateOperators.map(_.memoryUsedBytes).sum
            if (r > peakRows) peakRows = r
            if (b > peakBytes) peakBytes = b
          }
        }
      } finally q.stop()
      (peakRows, peakBytes)
    }

    def noopSink[T](ds: org.apache.spark.sql.Dataset[T], mode: String) =
      ds.writeStream.format("noop").outputMode(mode).start()

    val ops: Seq[(String, Seq[EventRec] => (Long, Long))] = Seq(
      ("dedupEventsStream", rows =>
        replay(rows, in => noopSink(StreamOps.dedupEventsStream(in.toDS()), "append"))),
      ("episodeStreamTimeout", rows =>
        replay(rows, in => noopSink(StreamOps.episodeStreamTimeout(in.toDS()), "append"))))

    val out = ops.map { case (name, run) =>
      val (r1, b1) = run(skewed(1))
      val (r4, b4) = run(skewed(4))
      val slope = math.log(r4.toDouble / r1.toDouble) / math.log(4.0)
      Console.err.println(s"$name: x1 peak ${r1} rows/${b1} B, " +
        s"x4 peak ${r4} rows/${b4} B, state-rows slope ${Harness.f3(slope)}")
      s""""$name":{"x1_rows":$r1,"x4_rows":$r4,"x1_bytes":$b1,"x4_bytes":$b4,"slope":${Harness.f3(slope)}}"""
    }
    println(out.mkString("{", ",", "}"))
    spark.stop()
  }
}
