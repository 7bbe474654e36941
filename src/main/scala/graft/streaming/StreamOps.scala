package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Telemetry wire record (FIXTURES.md §1; `IoTSimulator.java:63-75`). */
case class Telemetry(machineId: String, temperature: Double,
  vibration: Double, timestamp: Long)

/** Scored record flowing to the alert stage. */
case class Scored(machineId: String, ts: java.sql.Timestamp, severity: String)

/** Alert transition emitted by the suppression operator. */
case class Transition(machineId: String, ts: java.sql.Timestamp,
  severity: String, previous: String)

/** One event-stream record, shaped like the `events` table — the payload
  * of the latest-per-key compactor (t03's streaming twin). */
case class EventRec(user_id: Long, event_type: String, ts: java.sql.Timestamp,
  event_id: Long, value: Double)

/** Tokenized document flowing into the streaming packer. */
case class TokDoc(doc_id: Long, lang: String, n_tok: Int)

/** Sequence assignment emitted by the streaming packer. */
case class PackedDoc(doc_id: Long, lang: String, shard: Long, seq_id: Long,
  n_tok: Int)

/** One Count-Min cell emitted by the streaming frequency sketch. */
case class CmsCell(d: Int, b: Int, cell: Long)

/** One ranked row emitted by the streaming top-k compactor. */
case class TopkOut(user_id: Long, rk: Int, value: Double, event_id: Long)

/** One closed alert episode emitted by the streaming coalescer. */
case class EpisodeOut(user_id: Long, ep_start: Long, ep_end: Long,
  n_alerts: Long)

/** Open-episode state carried by the streaming coalescer. */
case class EpisodeSt(start: Long, maxEnd: Long, n: Long)

/** Per-user funnel state carried by the streaming funnel: earliest signup
  * micros, earliest valid purchase micros, and the purchases that arrived
  * BELOW the current signup minimum (they become valid retroactively if an
  * even earlier signup shows up — the out-of-order case). */
case class FunnelSt(signupUs: Option[Long], bestUs: Option[Long],
  pendingUs: List[Long])

/** Running per-user funnel emitted each micro-batch (micros; purchase
  * null until a valid one exists). */
case class FunnelOut(user_id: Long, signup_us: Option[Long],
  purchase_us: Option[Long])

/** One (src → dst) transition emitted by the streaming Markov miner. */
case class PairOut(user_id: Long, src_type: String, dst_type: String)

/** Per-user EWMA state: the RAW (unrounded) running smoothed value —
  * rounding happens only at emission, exactly like the batch twin. */
case class KmvOut(event_type: String, m: Long, kth_hash: Long,
  kmv_estimate: Double)

case class HourRec(event_type: String, hx: Long, x: Double)
case class CusumSt(s: Double, maxAbs: Double, cpHx: Long, n: Long)
case class CusumOut(event_type: String, n_hours: Long, mean_x: Double,
  cp_hour: Long, cusum_max: Double)

/** Per-type Page–Hinkley state in EXACT MICRO-UNITS (1e-6, the batch
  * twin's DECIMAL(38,6) accumulation as integers): running sum of x,
  * the PH accumulator m, its prefix min, and the PH champion. */
case class PhSt(n: Long, csM: Long, mM: Long, mMinM: Long,
  phMaxM: Long, phHx: Long)
case class PhOut(event_type: String, n_hours: Long, ph_hour: Long,
  ph_max: Double)

case class AnomalyOut(event_type: String, hx: Long, y: Double,
  fitted: Double, score: Double)

case class EwmaSt(acc: Double)

/** One smoothed reading emitted by the streaming EWMA denoiser. */
case class EwmaOut(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
  value: Double, ewma: Double)

/** Per-key HyperLogLog state carried by the streaming distinct sketch:
  * 256 registers + the raw row count. */
case class HllState(regs: Array[Byte], n: Long)

/** Running estimate emitted by the streaming distinct sketch. */
case class HllEstimate(key: String, n_rows: Long, estimate: Double)

/** Structured Streaming layer (SURVEY.md §2.1/§3, build-plan step 6): the
  * reference's live path — simulator → broker → router → buffered lake
  * sink, and subscriber → parse → score → alert — as streaming queries
  * over the exact same expression logic the batch operators use.
  *
  * Reference citations:
  *   - S1 simulator (`IoTSimulator.java:153-184`): rate source at
  *     rowsPerSecond=1, U(65,70)°C / U(1.2,1.5) mm/s, p=0.10 anomaly spike
  *     of (+15°C, +2.0 mm/s), epoch-seconds timestamps.
  *   - P1/P2/P3 JSON round trip + malformed-drop
  *     (`realtime_inference.py:101-114`): to_json / from_json PERMISSIVE +
  *     null-filter — the stream survives bad records.
  *   - S4 router (`phase2-iot-kinesis.yaml:61-66`): the IoT rule's
  *     `SELECT *`; each keyed operator downstream brings its own exchange.
  *   - S5 Firehose sink (`phase3-kinesis-s3.yaml:84-89`): 300-s
  *     processing-time trigger, gzip, time-bucketed partition paths,
  *     checkpointed (at-least-once, matching Firehose semantics).
  *   - QoS-1 dedup (SURVEY.md §2.4 stateful row): at-least-once delivery
  *     means duplicates; `withWatermark + dropDuplicates` bounds the state.
  *   - alert suppression: flatMapGroupsWithState emits only severity
  *     *transitions* per machine — the stateful-streaming showcase.
  *
  * Scale: every stateful operator keys by machineId, so state partitions
  * across executors with the shuffle; watermarks bound state size; the
  * sink trigger controls file count (the 100 TB small-files defense).
  */
object StreamOps {

  val telemetrySchema: StructType = StructType(Seq(
    StructField("machineId", StringType),
    StructField("temperature", DoubleType),
    StructField("vibration", DoubleType),
    StructField("timestamp", LongType)))

  /** S1 — synthetic telemetry source: rate stream shaped like the
    * simulator. rand(seed) is per-row deterministic given the offset. */
  def simulatorStream(s: SparkSession, rowsPerSecond: Int = 1): DataFrame = {
    val base = s.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    val anomaly = rand(7L) < 0.10
    base.select(
      lit("NC_Machine_AC").as("machineId"),
      (lit(65.0) + rand(11L) * 5.0 +
        when(anomaly, 15.0).otherwise(0.0)).as("temperature"),
      (lit(1.2) + rand(13L) * 0.3 +
        when(anomaly, 2.0).otherwise(0.0)).as("vibration"),
      unix_timestamp(col("timestamp")).as("timestamp"))
  }

  /** P1 — serialize to the wire format (field order = class order, as
    * Gson does in `IoTSimulator.java:156`). */
  def toWire(df: DataFrame): DataFrame =
    df.select(to_json(struct(
      col("machineId"), col("temperature"),
      col("vibration"), col("timestamp"))).as("value"))

  /** P2/P3 — parse each frame once, validate, drop malformed; the stream
    * stays alive. A null or unparseable frame inlines to a row of nulls,
    * which the temperature/vibration null filter drops. */
  def parseWire(df: DataFrame): DataFrame =
    // the Generate is a barrier: the optimizer inlines from_json into pushed filters
    df.select(inline(array(from_json(col("value"), telemetrySchema))))
      .filter(col("temperature").isNotNull && col("vibration").isNotNull)
      .select(col("machineId"), col("temperature"), col("vibration"),
        timestamp_seconds(col("timestamp")).as("ts"))

  /** S4 — router: the IoT rule's identity projection. Key co-location is
    * left to each keyed operator's own exchange. */
  def route(df: DataFrame): DataFrame = df.select(col("*"))

  /** M5 + P6 — threshold scoring + alert classification. */
  def score(df: DataFrame): DataFrame = {
    val pred = (col("temperature") >= 80.0) && (col("vibration") >= 3.0)
    df.withColumn("severity", when(pred, "ALERT").otherwise("NORMAL"))
      .withColumn("message", concat(
        col("severity"), lit(" machine="), col("machineId"),
        lit(" temp="), format_number(col("temperature"), 2),
        lit(" vib="), format_number(col("vibration"), 2)))
  }

  /** Corpus exact-dedup on ingest: first-arrival survivor per normalized
    * text fingerprint (d04's `normFp`, the SHARED builder — so the stream
    * twin cannot drift from the oracle-green batch dedup). When documents
    * arrive in doc_id order this keeps exactly d04's min-id survivors
    * (StreamReplaySpec asserts it on a planted-duplicate corpus). No
    * watermark: content fingerprints never expire, so state is one 16-byte
    * hash per DISTINCT document — the batch dedup's hash table made
    * incremental. At 100 TB the state store shards this by fingerprint
    * across executors; bound it with a TTL key (ingest-day in the dedup
    * key) if the dedup contract is windowed rather than global. */
  def dedupCorpusStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.operators.TextOps.normFp(col("text")))
      .dropDuplicates("fp")
      .drop("fp")

  /** QoS-1 dedup: at-least-once duplicates dropped within the watermark. */
  def dedupQos1(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    df.withWatermark("ts", watermark).dropDuplicates("machineId", "ts")

  /** QoS-1 dedup, redelivery-bounded form: dropDuplicatesWithinWatermark
    * guarantees dedup for duplicates arriving within the watermark delay
    * OF EACH OTHER (broker redelivery skew), rather than keying state on
    * exact event-time equality — state is evicted once a record's
    * event time passes out of the watermark, so state size is bounded by
    * the delay × arrival rate regardless of key cardinality. Note the key
    * still includes ts: a redelivery that REGENERATES its timestamp forms
    * a new key and is NOT dropped — the benefit here is bounded state and
    * tolerance for skewed arrival of identical events, not id-free dedup.
    * (For regenerated-timestamp redeliveries, key on a message id.) */
  def dedupQos1Within(df: DataFrame, delay: String = "10 minutes"): DataFrame =
    df.withWatermark("ts", delay).dropDuplicatesWithinWatermark("machineId", "ts")

  /** event-time tumbling window aggregate (the Firehose 300-s buffer as a
    * declarative window). */
  def tumblingStats(df: DataFrame, width: String = "5 minutes"): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .groupBy(col("machineId"), window(col("ts"), width))
      .agg(count(lit(1)).as("n"), avg("temperature").as("avg_temp"),
        max("vibration").as("max_vib"))

  /** sliding window variant (10-min window every 1 min). */
  def slidingStats(df: DataFrame): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .groupBy(col("machineId"), window(col("ts"), "10 minutes", "1 minute"))
      .agg(count(lit(1)).as("n"), avg("temperature").as("avg_temp"))

  /** session windows: incident grouping with a 5-min gap. */
  def sessionStats(df: DataFrame): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .groupBy(col("machineId"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))

  // --- replay twins: the streaming differential ------------------------
  // Each operator below is the streaming form of an oracle-checked batch
  // query (t02/t08/t03), built from the SAME shared aggregate builders, so
  // StreamReplaySpec can replay the events table through it in
  // micro-batches and assert the output is bit-identical to the batch
  // answer — extending the DuckDB differential to the streaming layer.

  /** t02's streaming twin — event-time 1-hour tumbling rollup per
    * event_type. The shared decimal aggregate policy
    * (`Telemetry.rollupAggs`) makes the result independent of summation
    * order, so ANY micro-batching of the stream reproduces the batch
    * rollup bit-for-bit (double sums would drift in the last ulp).
    * Complete mode: windowed state merges across batches; for 1-hour
    * windows `window.start ≡ date_trunc('hour', ts)`, the batch grouping
    * key. */
  def hourlyRollup(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(graft.operators.Telemetry.rollupAggs.head,
        graft.operators.Telemetry.rollupAggs.tail: _*)
      .select(col("event_type"), col("window.start").as("hour"),
        col("n_events"), col("avg_value"), col("sum_value"))

  /** t08's streaming twin — 4-hour-gap sessionization as session windows
    * over user_id, with t08's shared per-session aggregates
    * (`Telemetry.sessionAggs`). Append mode + watermark: a session closes
    * (and is emitted exactly once) when the watermark passes its end —
    * sessions whose events straddle micro-batches merge in state first.
    * Boundary semantics match the batch rule (`gap > 14400 s` starts a
    * new session) because session windows are half-open: an event exactly
    * 4 h after the previous one does NOT overlap its window. */
  def sessionizeEvents(df: DataFrame, delay: String = "10 minutes"): DataFrame =
    df.withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), "4 hours"))
      .agg(graft.operators.Telemetry.sessionAggs.head,
        graft.operators.Telemetry.sessionAggs.tail: _*)
      .select(col("user_id"), col("session_window.start").as("w_start"),
        col("n_events"), col("session_start"), col("session_end"),
        col("duration_s"))

  /** d19's streaming form — mixture resampling over a document stream:
    * the rate table is trained batch-side ([[graft.operators.Curation
    * .mixRates]] over a corpus snapshot — rates are corpus statistics, not
    * stream state) and broadcast against the stream; the acceptance test
    * is the same scan-local LCG ([[graft.operators.Curation.mixAccept]]).
    * Stateless: the stream side never shuffles and needs no watermark —
    * the production shape for "apply a trained sampling policy live". */
  def mixResampleStream(stream: DataFrame, rates: DataFrame): DataFrame =
    stream.join(broadcast(rates), col("source") === col("src"))
      .filter(graft.operators.Curation.mixAccept)
      .drop("src")

  /** d32's streaming form — BPE-tokenize a document stream with a
    * batch-trained merge table (the "train offline, tokenize live" shape,
    * mixResampleStream's sibling: the model artifact is corpus statistics,
    * not stream state): [[graft.operators.TextOps.mergesOneRow]]'s 1-row
    * pivot of the d27-learned merges joins the stream broadcast-side, and
    * each document is encoded SCAN-LOCALLY — the per-word merge replay
    * ([[graft.operators.TextOps.bpeCountCol]], shared with the batch d32)
    * runs inside higher-order folds over the token array, so the batch
    * plan's explode → groupBy(doc_id) collapses to per-row expressions.
    * Stateless, no watermark, no shuffle; emits d32's exact schema. */
  def bpeEncodeStream(stream: DataFrame, merges1row: DataFrame): DataFrame = {
    import graft.operators.TextOps
    import graft.operators.Num.r
    val rounds = TextOps.BpeMerges
    val tk = filter(TextOps.toks(lower(col("text"))), w => w.rlike("^[a-z0-9]+$"))
    stream.withColumn("__j", lit(1))
      .join(broadcast(merges1row.withColumn("__j", lit(1))), "__j")
      .withColumn("tk", tk)
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_words"),
        aggregate(col("tk"), lit(0L), (a, w) => a + length(w)).as("n_chars"),
        aggregate(col("tk"), lit(0L),
          (a, w) => a + TextOps.bpeCountCol(w, rounds).cast("long")).as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        r(col("n_chars") / col("n_bpe_tokens"), 4))
  }

  /** e05's streaming index-maintenance half — route arriving vectors to
    * the batch-trained IVF coarse quantizer's inverted lists: the shape a
    * live 100 TB vector corpus needs (the quantizer trains offline over a
    * snapshot, new vectors are assigned in-stream; bpeEncodeStream's
    * train-batch/apply-stream pattern, with the model artifact =
    * [[graft.operators.Similarity.ivfCentroidsOneRow]]'s cid-ordered
    * centroid array packed into ONE broadcast row). The argmin is
    * SCAN-LOCAL: a fold over the centroid array with a strict-`>`
    * comparison reproduces e05's max(struct(ccos, −cid)) tie-break
    * (highest cosine, lowest cid — the fold meets lower cids first), and
    * the dot product is the same graft_dot kernel with the same
    * left-to-right summation, so assignments are bit-equal to the batch
    * quantizer's. Stateless, no watermark, no shuffle. */
  def ivfAssignStream(stream: DataFrame, cents1row: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions
    VectorExpressions.register(stream.sparkSession)
    stream.withColumn("__j", lit(1))
      .join(broadcast(cents1row.withColumn("__j", lit(1))), "__j")
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(VectorExpressions.dot(col("v"), col("v"))))
      .withColumn("best",
        aggregate(col("cents"),
          struct(lit(Double.NegativeInfinity).as("ccos"), lit(-1).as("cid")),
          (acc, c) => {
            val ccos = VectorExpressions.dot(col("v"), c.getField("cv")) /
              (col("nrm") * c.getField("cnrm"))
            when(ccos > acc.getField("ccos"),
              struct(ccos.as("ccos"), c.getField("cid").as("cid")))
              .otherwise(acc)
          }))
      .select(col("vec_id"), col("best.cid").as("cid"))
  }

  /** d20's streaming form — fixed-budget sequence packing as
    * flatMapGroupsWithState: per (lang, shard-of-100-docs) the state is
    * ONE running token count; each micro-batch folds its docs in doc_id
    * order and emits their sequence assignments
    * (`seq_id = (cum − n_tok) div` [[graft.operators.Curation.PackBudget]],
    * d20's exact rule). Requires shard-monotone replay (doc_id order
    * within a shard across batches), which is how a packing stage consumes
    * an ordered lake anyway. State is O(1) per shard and shards are
    * bounded (100 docs), so state size tracks ACTIVE shards only — the
    * streaming twin of d20's bounded-window story. */
  def packStream(ds: Dataset[TokDoc]): Dataset[PackedDoc] = {
    import ds.sparkSession.implicits._
    val budget = graft.operators.Curation.PackBudget
    ds.groupByKey(d => (d.lang, d.doc_id / 100L))
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((lang, shard), rows: Iterator[TokDoc], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            cum += d.n_tok
            PackedDoc(d.doc_id, lang, shard, (cum - d.n_tok) / budget, d.n_tok)
          }
          state.update(cum)
          out.iterator
      }
  }

  /** t14's streaming twin — per-user running top-3 readings via the SAME
    * [[graft.functions.TopKAggregator]] state machine held in GroupState:
    * each micro-batch folds its rows through the aggregator's reduce and
    * re-emits the refreshed ranking for keys it touched (Update mode,
    * latestPerKey's shape). Because reduce/merge/finish are literally the
    * batch aggregator's methods, the streaming state machine CANNOT drift
    * from the oracle-checked batch top-k — one implementation, two
    * execution modes. State is ≤ k (value, event_id) pairs per user:
    * bounded by key cardinality × k, the streaming heavy-hitter-safe
    * top-k (a windowed rank would buffer whole partitions). */
  def topkStream(ds: Dataset[EventRec]): Dataset[TopkOut] = {
    import ds.sparkSession.implicits._
    val agg = new graft.functions.TopKAggregator(3)
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Double, Long)], TopkOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid: Long, rows: Iterator[EventRec], state: GroupState[List[(Double, Long)]]) =>
          val st = rows.foldLeft(state.getOption.getOrElse(agg.zero)) {
            (b, e) => agg.reduce(b, (e.value, e.event_id))
          }
          state.update(st)
          agg.finish(st).iterator.zipWithIndex.map { case ((v, eid), i) =>
            TopkOut(uid, i + 1, v, eid)
          }
      }
  }

  /** t26's streaming twin — alert-episode coalescing as GroupState: per
    * user the state is the one OPEN episode (start, running max end,
    * count); an arriving error event either extends it (start ≤ maxEnd,
    * t26's running-max rule in online form) or CLOSES it — the closed
    * episode is emitted (Append) and a fresh one opens. Requires
    * st-monotone replay per user (how an ordered event lake streams
    * anyway, packStream's precondition); the final open episode flushes
    * with a far-future sentinel alert. Integer epoch-second arithmetic
    * (getTime/1000 floor ≡ unix_timestamp). State is O(1) per user —
    * the continuously-coalescing pager view of t26. */
  def episodeStream(ds: Dataset[EventRec]): Dataset[EpisodeOut] = {
    import ds.sparkSession.implicits._
    ds.filter(_.event_type == "error")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EpisodeSt, EpisodeOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid: Long, rows: Iterator[EventRec], state: GroupState[EpisodeSt]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[EpisodeOut]
          sorted.foreach { e =>
            val s0 = e.ts.getTime / 1000L
            val e0 = s0 + 3600L
            st match {
              case Some(ep) if s0 <= ep.maxEnd =>
                st = Some(EpisodeSt(ep.start, math.max(ep.maxEnd, e0), ep.n + 1))
              case Some(ep) =>
                out += EpisodeOut(uid, ep.start, ep.maxEnd, ep.n)
                st = Some(EpisodeSt(s0, e0, 1L))
              case None =>
                st = Some(EpisodeSt(s0, e0, 1L))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** [[episodeStream]]'s watermark-driven variant — the same t26
    * coalescing state machine, but open episodes are closed by
    * `GroupStateTimeout.EventTimeTimeout` instead of a later event: the
    * timeout is armed at the episode's running max end, so once the
    * WATERMARK passes the point where any overlapping alert could still
    * arrive, the episode emits — no per-user sentinel traffic, the
    * mechanism a production pager actually uses to close quiet
    * incidents (one global watermark advance flushes every user). The
    * timeout timestamp is clamped above the current watermark (Spark
    * rejects an already-passed timeout; closing later than maxEnd only
    * delays emission, never changes content). Replay ≡ t26 bit-equal
    * with a single junk-user flush event (StreamReplaySpec). */
  def episodeStreamTimeout(ds: Dataset[EventRec]): Dataset[EpisodeOut] = {
    import ds.sparkSession.implicits._
    ds.filter(_.event_type == "error")
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EpisodeSt, EpisodeOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid: Long, rows: Iterator[EventRec], state: GroupState[EpisodeSt]) =>
          if (state.hasTimedOut) {
            val closed = state.getOption
              .map(ep => EpisodeOut(uid, ep.start, ep.maxEnd, ep.n))
            state.remove()
            closed.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[EpisodeOut]
            sorted.foreach { e =>
              val s0 = e.ts.getTime / 1000L
              val e0 = s0 + 3600L
              st match {
                case Some(ep) if s0 <= ep.maxEnd =>
                  st = Some(EpisodeSt(ep.start, math.max(ep.maxEnd, e0), ep.n + 1))
                case Some(ep) =>
                  out += EpisodeOut(uid, ep.start, ep.maxEnd, ep.n)
                  st = Some(EpisodeSt(s0, e0, 1L))
                case None =>
                  st = Some(EpisodeSt(s0, e0, 1L))
              }
            }
            st.foreach { ep =>
              state.update(ep)
              state.setTimeoutTimestamp(
                math.max(ep.maxEnd * 1000L, state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
  }

  /** Redelivery dedup — the consumer-side answer to the reference's
    * at-least-once delivery (`IoTSimulator.java:55` re-publish loop,
    * Firehose retries in `phase3-kinesis-s3.yaml:86-89`): duplicate
    * event_ids arriving within the watermark horizon are dropped by
    * Spark's built-in `dropDuplicatesWithinWatermark` (bounded state —
    * keys expire once the watermark passes them, unlike a plain
    * dropDuplicates whose state grows forever; the 1-hour horizon is
    * the redelivery window the upstream retry policy bounds). Replay
    * with planted cross-batch redeliveries ≡ the distinct original set
    * (StreamReplaySpec). */
  def dedupEventsStream(ds: Dataset[EventRec]): Dataset[EventRec] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .as[EventRec]
  }

  /** t03's streaming twin — lake compaction as a stateful running
    * maximum: per (user_id, event_type) keep the latest event (ties by
    * event_id, the batch tie-break), emitting the refreshed champion each
    * micro-batch (Update mode). State is ONE row per key — bounded by key
    * cardinality, not stream length — and partitions across executors
    * with the groupByKey shuffle, which is the 100 TB story: a
    * continuously-compacted latest-view over any number of machines. */
  def latestPerKey(ds: Dataset[EventRec]): Dataset[EventRec] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[EventRec, EventRec](GroupStateTimeout.NoTimeout()) {
        (_, rows: Iterator[EventRec], state: GroupState[EventRec]) =>
          val best = (state.getOption.iterator ++ rows).reduce { (a, b) =>
            val c = a.ts.compareTo(b.ts) // Timestamp.compareTo is nanos-exact
            if (c > 0 || (c == 0 && a.event_id >= b.event_id)) a else b
          }
          state.update(best)
          best
      }
  }

  /** q58's streaming twin — first-order Markov transition mining as
    * GroupState: per user the state is just the LAST event seen (one
    * record per user — bounded by key cardinality, not stream length);
    * each arriving event emits the (prev → curr) pair, with batch rows
    * applied in the batch twin's (ts, event_id) order. Appended pairs,
    * aggregated downstream (or by the replay spec), reproduce q58's
    * transition cells exactly when each user's events arrive in time
    * order across batches — the precondition StreamReplaySpec asserts.
    * The 100 TB story matches t03's compactor: per-user state shards
    * across executors with the groupByKey shuffle. */
  def markovStream(ds: Dataset[EventRec]): Dataset[PairOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[EventRec, PairOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[EventRec], state: GroupState[EventRec]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[PairOut]
          var prev = state.getOption
          sorted.foreach { e =>
            prev.foreach(p => out += PairOut(uid, p.event_type, e.event_type))
            prev = Some(e)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** t15's streaming twin — EWMA (α = 0.2) per device stream as
    * GroupState: the state is ONE double (the raw running accumulator),
    * each arriving reading folds y = 0.2·x + 0.8·y (the IDENTICAL IEEE
    * literals and op order as the batch recurrence, seeded with the first
    * reading) and emits the r6-rounded value — so a replay in per-key
    * time order is bit-equal to the oracle-checked t15, which the
    * StreamReplaySpec differential asserts. The accumulator stays RAW in
    * state (the batch twin rounds only its output column); batch rows
    * are applied in the twin's (ts, event_id) order. 100 TB story:
    * per-device O(1) state sharded by the groupByKey shuffle — the
    * always-on denoiser in front of t05/t06-style alerting. */
  def ewmaStream(ds: Dataset[EventRec]): Dataset[EwmaOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaSt, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[EventRec], state: GroupState[EwmaSt]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var st = state.getOption
          val out = sorted.map { e =>
            val acc = st match {
              case None    => e.value
              case Some(p) => 0.2 * e.value + 0.8 * p.acc
            }
            st = Some(EwmaSt(acc))
            EwmaOut(uid, e.ts, e.event_id, e.value, graft.operators.Num.rD(acc, 6))
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** t29's streaming twin — the deseasonalized anomaly monitor in its
    * deployed form (cusumStream/ivfAssignStream's train-batch/
    * apply-stream pattern): the seasonal profile — RAW fitted value per
    * (type, hod, dow) cell and residual sigma per type, both from the
    * oracle-checked batch pass ([[graft.operators.Telemetry
    * .seasonalScores]]) — is the closure-captured model artifact, and
    * each arriving hourly point scores scan-locally with the IDENTICAL
    * IEEE ops and integer hod/dow arithmetic as the batch scorer, so the
    * replay is bit-equal to the batch scored frame (StreamReplaySpec).
    * Stateless, no watermark, no shuffle — the always-on pager view of
    * t29. Cells unseen in training emit nothing (no expectation exists
    * to deviate from). */
  def anomalyScoreStream(ds: Dataset[HourRec],
      fitted: Map[(String, Long, Long), Double],
      sigma: Map[String, Double]): Dataset[AnomalyOut] = {
    import ds.sparkSession.implicits._
    ds.flatMap { h =>
      val hod = (h.hx / 3600L) % 24L
      val dow = ((h.hx / 86400L) + 3L) % 7L
      for {
        f <- fitted.get((h.event_type, hod, dow))
        sg <- sigma.get(h.event_type) if sg > 0.0
      } yield AnomalyOut(h.event_type, h.hx, h.x,
        graft.operators.Num.rD(f, 6),
        graft.operators.Num.rD((h.x - f) / sg, 6))
    }
  }

  /** q45's streaming twin — the KMV distinct sketch with its defining
    * property actually exercised: state per key is the [[graft.operators
    * .Analytics.KmvK]] smallest distinct (h60(user), user) pairs — a
    * BOUNDED sorted set, however long the stream runs (the order-
    * statistics member of the streaming sketch trio: distinctSketch =
    * HLL registers, cmsSketchStream = CMS counters, kmvStream = KMV
    * order statistics). Every event also feeds the '_union' key, so the
    * streamed union sketch IS the merged sketch and q45's set-operation
    * merge law replays too. Below k the sketch is exact (it holds every
    * distinct value, estimate = m); at k the estimate is the batch
    * formula from the identical k-th hash — so the replay is bit-equal
    * to oracle-green q45 on (kth_hash, kmv_estimate), which
    * StreamReplaySpec asserts. Update mode, champions refreshed per
    * batch; keys shard across executors with the groupByKey shuffle. */
  def kmvStream(ds: Dataset[EventRec]): Dataset[KmvOut] = {
    import ds.sparkSession.implicits._
    val k = graft.operators.Analytics.KmvK
    val num = graft.operators.Analytics.KmvNum
    ds.flatMap(e => Seq((e.event_type, e.user_id), ("_union", e.user_id)))
      .groupByKey(_._1)
      .mapGroupsWithState[List[(Long, Long)], KmvOut](GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[List[(Long, Long)]]) =>
          var st = state.getOption.getOrElse(Nil)
          rows.foreach { case (_, uid) =>
            val p = (h60Scala(uid.toString), uid)
            if (!st.contains(p)) {
              val merged = (p :: st).sorted
              st = if (merged.size > k) merged.take(k) else merged
            }
          }
          state.update(st)
          val m = st.size.toLong
          val kth = if (st.isEmpty) 0L else st.map(_._1).max
          val est = if (m < k) m.toDouble else num / kth.toDouble
          KmvOut(key, m, kth, graft.operators.Num.rD(est, 2))
      }
  }

  /** q56's streaming twin — the CUSUM drift monitor in its deployed
    * form (train-batch/apply-stream, bpeEncodeStream/ivfAssignStream's
    * pattern): the baseline mean per event_type is trained OFFLINE by
    * the oracle-checked batch pass (q56's rounded per-type mean — the
    * tiny model artifact, captured by the closure like a broadcast), and
    * the stream folds each arriving hourly point into s += (x − mean),
    * tracking the running |s| champion. The fold order is the batch
    * window's ROWS-frame accumulation order (hx ascending), and the
    * strict-`>` champion update reproduces the batch
    * max(struct(abs_s, −hx)) tie-break (earliest hour wins ties), so a
    * per-type hx-monotone replay lands bit-equal to q56's final row —
    * StreamReplaySpec asserts exactly that on the max-n_hours update.
    * State is O(1) per type (Update mode, one refreshed champion row per
    * type per micro-batch); at 100 TB types shard across executors with
    * the groupByKey shuffle. */
  def cusumStream(ds: Dataset[HourRec],
                  baseline: Map[String, Double]): Dataset[CusumOut] = {
    import ds.sparkSession.implicits._
    ds.filter(h => baseline.contains(h.event_type))
      .groupByKey(_.event_type)
      .mapGroupsWithState[CusumSt, CusumOut](GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[HourRec], state: GroupState[CusumSt]) =>
          val mean = baseline(et)
          var st = state.getOption
            .getOrElse(CusumSt(0.0, Double.NegativeInfinity, Long.MinValue, 0L))
          rows.toSeq.sortBy(_.hx).foreach { h =>
            val s2 = st.s + (h.x - mean)
            val a2 = math.abs(s2)
            st = if (a2 > st.maxAbs) CusumSt(s2, a2, h.hx, st.n + 1)
            else CusumSt(s2, st.maxAbs, st.cpHx, st.n + 1)
          }
          state.update(st)
          CusumOut(et, st.n, mean, st.cpHx, graft.operators.Num.rD(st.maxAbs, 6))
      }
  }

  /** q111's streaming twin — the Page–Hinkley drift monitor in its
    * deployed form, and unlike [[cusumStream]] it needs NO trained
    * artifact: the mean adapts as points arrive (the no-prior sequential
    * detector), so the whole monitor is one GroupState fold. Each
    * arriving hourly point replays the batch windows' arithmetic in hx
    * order — cs += x; x̄ = round(cs/n) (re-rounded each step, `Num.rD` =
    * the batch `Num.r`); m += x − x̄ − δ; PH = m − min-so-far — and the
    * strict-`>` champion update reproduces the batch
    * max(struct(ph, −hx)) earliest-hour tie-break, so a per-type
    * hx-monotone replay lands bit-equal to q111's final rows
    * (StreamReplaySpec asserts it on the max-n_hours update). State is
    * O(1) per type (Update mode); types shard across executors with the
    * groupByKey shuffle. */
  def pageHinkleyStream(ds: Dataset[HourRec]): Dataset[PhOut] = {
    import ds.sparkSession.implicits._
    val deltaM = math.rint(graft.operators.Analytics.PhDelta * 1e6).toLong
    // 6-dp doubles → exact micro-integers (the batch DECIMAL(38,6) fold
    // as Long arithmetic: order-independent, nothing to straddle)
    def micros(x: Double): Long = math.rint(x * 1e6).toLong
    ds.groupByKey(_.event_type)
      .mapGroupsWithState[PhSt, PhOut](GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[HourRec], state: GroupState[PhSt]) =>
          var st = state.getOption.getOrElse(
            PhSt(0L, 0L, 0L, Long.MaxValue, Long.MinValue, Long.MinValue))
          rows.toSeq.sortBy(_.hx).foreach { h =>
            val n2 = st.n + 1
            val csM2 = st.csM + micros(h.x)
            // the batch x̄ step verbatim: CAST(cs AS DOUBLE) / i, rounded
            val xbar = graft.operators.Num.rD(csM2 / 1e6 / n2, 6)
            val mM2 = st.mM + (micros(h.x) - micros(xbar) - deltaM)
            val mMin2 = math.min(st.mMinM, mM2)
            val phM = mM2 - mMin2
            st =
              if (phM > st.phMaxM) PhSt(n2, csM2, mM2, mMin2, phM, h.hx)
              else PhSt(n2, csM2, mM2, mMin2, st.phMaxM, st.phHx)
          }
          state.update(st)
          PhOut(et, st.n, st.phHx,
            graft.operators.Num.rD(st.phMaxM / 1e6, 6))
      }
  }

  /** stateful alert suppression: emit only severity transitions per
    * machine (consecutive identical severities are suppressed). */
  def alertTransitions(ds: Dataset[Scored]): Dataset[Transition] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.machineId)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (machineId: String, rows: Iterator[Scored], state: GroupState[String]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.severity))
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          var prev = state.getOption.getOrElse("")
          sorted.foreach { r =>
            if (r.severity != prev) {
              out += Transition(machineId, r.ts, r.severity, if (prev.isEmpty) "NONE" else prev)
              prev = r.severity
            }
          }
          if (prev.nonEmpty) state.update(prev)
          out.iterator
      }
  }

  /** Executor-side Scala twin of `DedupLsh.h60` (top 60 bits = first 15
    * hex chars of the md5) — shared by the streaming HLL and CMS sketches
    * so their bucket layout is bit-identical to the batch Column form
    * (the replay specs assert exactly that). */
  private[graft] def h60Scala(value: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** Fold one value into 256 HLL registers — the q40 construction
    * (md5-rank 60-bit hash, register = low 8 bits, ρ = leading-zero rank
    * of the remaining 52 bits). Shared by the streaming sketch and its
    * batch twin so StreamOpsSpec can assert bit-equality. */
  private[graft] def hllUpdate(regs: Array[Byte], value: String): Unit = {
    val h = h60Scala(value)
    val idx = (h % 256).toInt
    val w = h >>> 8 // 52-bit window
    val rho = if (w == 0L) 53 else java.lang.Long.numberOfLeadingZeros(w) - 11
    if (rho > regs(idx)) regs(idx) = rho.toByte
  }

  /** HLL point estimate over 256 registers (α·m²/Σ2^−M with the
    * linear-counting small-range branch — q40's estimator). */
  private[graft] def hllEstimate(regs: Array[Byte]): Double = {
    val m = 256
    val alpha = 0.7213 / (1 + 1.079 / m)
    var s = 0.0
    var v = 0
    regs.foreach { r => s += math.pow(2.0, -r.toDouble); if (r == 0) v += 1 }
    val raw = alpha * m * m / s
    if (v > 0 && raw <= 2.5 * m) m * math.log(m.toDouble / v) else raw
  }

  /** Stateful streaming distinct-count sketch: per-key HLL registers
    * carried in GroupState, each micro-batch folding its (key, value)
    * rows into the registers and emitting the refreshed running estimate
    * (Update mode). State is 256 bytes per key — bounded no matter how
    * long the stream runs, which is what makes the sketch (not a distinct
    * set) THE streaming distinct-count representation; the identical
    * register layout is what HLL++ merges shard-wise at 100 TB. */
  def distinctSketch(ds: Dataset[(String, String)]): Dataset[HllEstimate] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState[HllState, HllEstimate](GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[HllState]) =>
          val st = state.getOption.getOrElse(HllState(Array.fill[Byte](256)(0), 0L))
          var n = st.n
          rows.foreach { r => hllUpdate(st.regs, r._2); n += 1 }
          val next = HllState(st.regs, n)
          state.update(next)
          HllEstimate(key, n, hllEstimate(next.regs))
      }
  }

  /** t12's streaming twin — per-user conversion funnel as GroupState: the
    * earliest signup and the earliest purchase at-or-after it, maintained
    * purely with min-over-set algebra so the result is independent of how
    * the event stream is sliced into micro-batches AND of arrival order
    * within a batch (StreamReplaySpec replays round-robin — maximally
    * out of order — and asserts bit-equality with the batch
    * `funnelPerUser` frame the oracle-checked t12 aggregates). The subtle
    * state is `pendingUs`: a purchase BELOW the current signup minimum is
    * not discarded, because a yet-earlier signup can make it valid
    * retroactively; it is re-examined whenever the signup minimum drops.
    * State is two longs + the pre-signup purchase backlog (bounded by
    * out-of-orderness, zero in a ts-ordered stream). */
  def funnelStream(events: Dataset[EventRec]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSt, FunnelOut](GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[EventRec], state: GroupState[FunnelSt]) =>
          val st = state.getOption.getOrElse(FunnelSt(None, None, Nil))
          val batch = rows.toSeq
          def us(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          val sNew = (st.signupUs.toSeq ++
            batch.filter(_.event_type == "signup").map(e => us(e.ts)))
            .reduceOption(_ min _)
          val candidates = st.pendingUs ++
            batch.filter(_.event_type == "purchase").map(e => us(e.ts))
          val (valid, pending) = sNew match {
            case Some(s0) => candidates.partition(_ >= s0)
            case None => (Nil, candidates)
          }
          val best = (st.bestUs.toSeq ++ valid).reduceOption(_ min _)
          state.update(FunnelSt(sNew, best, pending))
          FunnelOut(uid, sNew, best)
      }
  }

  /** Stateful streaming Count-Min sketch over a token stream — d21's
    * streaming twin: each token occurrence folds into the same
    * [[graft.operators.TextOps.CmsD]]×[[graft.operators.TextOps.CmsW]]
    * salted-h60 cells the batch sketch uses, with one running Long per
    * cell carried in GroupState and the refreshed cell emitted every
    * micro-batch (Update mode). State is the fixed 256-cell grid no
    * matter how long the stream runs — the property that makes CMS (not
    * an exact count table) THE streaming frequency representation; the
    * same cells merge shard-wise by addition at 100 TB. Because cell
    * updates are commutative integer sums, ANY micro-batching of the
    * corpus converges to the batch sketch exactly — StreamReplaySpec
    * asserts bit-equality against d21's cell table. */
  def cmsSketchStream(toks: Dataset[String]): Dataset[CmsCell] = {
    import toks.sparkSession.implicits._
    val (cd, cw) = (graft.operators.TextOps.CmsD, graft.operators.TextOps.CmsW)
    toks
      .flatMap(t => (0 until cd).map(d =>
        (d, (h60Scala(s"$d:" + t) % cw).toInt)))
      .groupByKey(identity)
      .mapGroupsWithState[Long, CmsCell](GroupStateTimeout.NoTimeout()) {
        (key: (Int, Int), rows: Iterator[(Int, Int)], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          CmsCell(key._1, key._2, c)
      }
  }

  /** The telemetry data-quality metric set shared by the batch and
    * streaming observation paths: row count, physically-impossible
    * temperature readings, anomaly count. One definition so the two
    * layers can never monitor different things. */
  private[graft] def qualityMetrics: Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    sum(when(col("temperature") < -40.0 || col("temperature") > 150.0, 1L)
      .otherwise(0L)).as("n_out_of_range"),
    sum(col("is_anomaly").cast("long")).as("n_anomalies"))

  /** In-flight data-quality observation (Spark's `observe` API): the
    * metrics are computed AS the rows flow through the plan — no second
    * pass, no extra scan, no action of their own. On a stream they
    * surface per micro-batch in `StreamingQueryProgress.observedMetrics`
    * (the counters a production pipeline exports to its monitoring
    * system); in batch, attach an `Observation` to the same
    * [[qualityMetrics]]. Spec-pinned equal to a direct aggregation. */
  def withQualityObservation(df: DataFrame,
      name: String = "graft_quality"): DataFrame =
    df.observe(name, qualityMetrics.head, qualityMetrics.tail: _*)

  /** stream-static enrichment: telemetry joined to a (small) machine
    * dimension — the dimension is broadcast to every task, so the stream
    * side never shuffles and no streaming state is kept. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame): DataFrame =
    stream.join(broadcast(dim), Seq("machineId"), "left")

  /** stream-stream interval join: each reading picks up alerts for the
    * same machine from the trailing 5 minutes. Both sides carry
    * watermarks so the join state is bounded (rows outside
    * watermark + interval are evicted) — the canonical correlated-streams
    * operator; state partitions by the equi-key machineId. */
  def joinWithAlerts(readings: DataFrame, alerts: DataFrame,
      lookback: String = "INTERVAL 5 MINUTES",
      joinType: String = "inner"): DataFrame = {
    val r = readings.withWatermark("ts", "10 minutes").alias("r")
    val a = alerts
      .withColumnRenamed("ts", "alert_ts")
      .withWatermark("alert_ts", "10 minutes").alias("a")
    r.join(a,
      expr(s"""r.machineId = a.machineId AND
              a.alert_ts BETWEEN r.ts - $lookback AND r.ts"""),
      joinType)
      .select(col("r.machineId").as("machineId"), col("r.ts").as("ts"),
        col("r.temperature").as("temperature"),
        col("a.alert_ts").as("alert_ts"), col("a.severity").as("severity"))
  }

  /** foreachBatch lake compactor: per micro-batch, drop QoS-1 duplicates
    * and append to the lake — the escape hatch when a sink needs logic no
    * declarative writer has (idempotent upserts, multi-table fan-out).
    * Dedup here is within-batch; cross-batch dedup belongs to
    * [[dedupQos1]] upstream. */
  def foreachBatchCompact(df: DataFrame, path: String,
    checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.dropDuplicates("machineId", "ts")
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(path)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())

  /** The reference sink's buffer interval: Firehose flushes every 300 s
    * (`phase3-kinesis-s3.yaml:86-88` IntervalInSeconds: 300) — the latency
    * bound the published "≤ 5 min to the lake" claim rests on. Named so
    * StreamOpsSpec can pin it. */
  val FirehoseTrigger: Trigger = Trigger.ProcessingTime("300 seconds")

  /** S5 — buffered, compressed, time-partitioned lake sink: 300-s
    * processing-time trigger ≈ Firehose's 300-s buffer; gzip ≈ its
    * CompressionFormat; date/hour partition columns ≈ its prefix paths;
    * checkpointing gives the same at-least-once contract. */
  def bufferedLakeSink(df: DataFrame, path: String, checkpoint: String,
    trigger: Trigger = FirehoseTrigger): DataStreamWriter[org.apache.spark.sql.Row] =
    df.withColumn("date", to_date(col("ts")))
      .withColumn("hour", hour(col("ts")))
      .writeStream
      .format("json")
      .option("compression", "gzip")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("date", "hour")
      .trigger(trigger)
      .outputMode(OutputMode.Append())
}
