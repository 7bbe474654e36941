package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Num._

/** Telemetry semantics of the reference pipeline, re-expressed Spark-first
  * (SURVEY.md §2.1–§2.3), exercised over the driver's `events` table (the
  * telemetry-analog stream table) and a deterministic twin of the
  * reference's synthetic training-data generator.
  *
  * Reference citations:
  *   - generator twin t04: `/root/reference/generate_historical_data.py:33-64`
  *     (10 000 rows, 1-min cadence, 5%% anomalies without replacement,
  *     normal temp ~N(68,3) / vib ~N(1.8,0.3) clipped ≥0, anomaly temp
  *     U(80,100) / vib U(3,5)).
  *   - threshold scoring t05: the data's exact decision rule
  *     (SURVEY.md §2.3 M5) — anomaly ⇔ temp ≥ 80 ∧ vib ≥ 3 — evaluated as a
  *     confusion matrix reproducing `README.md:106-108` precision/recall.
  *   - alert formatting t06: `realtime_inference.py:125-139` (P6).
  *   - JSON parse-and-drop t01: `realtime_inference.py:101-114` (P2/P3).
  *   - per-key compaction t03: QoS-1 at-least-once delivery
  *     (`IoTSimulator.java:55`) means the lake holds duplicates; compaction
  *     keeps the latest record per key (SURVEY.md §3.1).
  *   - windowed aggregation t02: the Firehose 300-s processing-time buffer
  *     (`phase3-kinesis-s3.yaml:86-88`) as an event-time tumbling window.
  *   - spike detection t07 / sessionization t08: the lag/session shapes
  *     from SURVEY.md §2.4 (window functions, stateful streaming rows).
  *
  * Determinism: the twin replaces numpy RNG with a splittable LCG evaluated
  * as pure integer/double arithmetic, identical in Spark and DuckDB (no
  * engine rand()); normals are Irwin–Hall (sum of 12 uniforms − 6), again
  * pure arithmetic. Distribution parameters match the reference; the stream
  * of random bits does not (numpy MT19937 is not reproducible in SQL).
  *
  * Scale: every query here is shuffle-minimal — t01/t06 are scan-local
  * (zero shuffles), t02 one aggregation exchange, t03/t07/t08 one window
  * shuffle on the partition key (user_id), the twin is a generated scan
  * (`spark.range`) that parallelizes perfectly across executors.
  */
object Telemetry {

  private[graft] val TwinRows  = 10000L
  private[graft] val TwinEpoch = 1767225600L // 2026-01-01 00:00:00 UTC

  /** k-th uniform stream: LCG over (id + k·10007), pure bigint arithmetic
    * then one exact int→double division. Identical in both engines. */
  private def uCol(id: Column, k: Int): Column =
    (((id + lit(k.toLong * 10007L)) * lit(1103515245L) + lit(12345L)) % lit(2147483648L))
      .cast("double") / lit(2147483648.0)

  private def uSql(k: Int): String =
    s"(CAST(((id + ${k.toLong * 10007L}) * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483648.0)"

  /** Irwin–Hall standard normal: Σ₁₂ u − 6, summed in declared order. */
  private def zCol(id: Column, base: Int): Column =
    (0 until 12).map(j => uCol(id, base + j)).reduce(_ + _) - lit(6.0)

  private def zSql(base: Int): String =
    "(" + (0 until 12).map(j => uSql(base + j)).mkString(" + ") + " - 6.0)"

  private def anomCond(id: Column): Column = (id * lit(48271L)) % lit(100L) < lit(5L)
  private val anomCondSql = "((id * 48271) % 100) < 5"

  /** t04 — deterministic generator twin (P8/P9/P10). Exactly 500/10000
    * anomalies: 48271 is coprime to 100, so id→(id·48271)%100 is a bijection
    * on each block of 100 ids → exactly 5 hits per block (the
    * without-replacement exact-count semantics of
    * `generate_historical_data.py:47-51`). */
  def twin(s: SparkSession): DataFrame = {
    val id = col("id")
    s.range(TwinRows).toDF("id").select(
      id,
      timestamp_seconds(lit(TwinEpoch) + id * lit(60L)).as("ts"),
      lit("NC_Machine_AC").as("machine_id"),
      anomCond(id).cast("int").as("is_anomaly"),
      r(when(anomCond(id), lit(80.0) + lit(20.0) * uCol(id, 100))
        .otherwise(lit(68.0) + lit(3.0) * zCol(id, 0)), 6).as("temperature"),
      r(when(anomCond(id), lit(3.0) + lit(2.0) * uCol(id, 101))
        .otherwise(greatest(lit(1.8) + lit(0.3) * zCol(id, 12), lit(0.0))), 6).as("vibration"))
  }

  val twinSql: String =
    s"""SELECT id,
       make_timestamp((1767225600 + id * 60) * 1000000) AS ts,
       'NC_Machine_AC' AS machine_id,
       CAST($anomCondSql AS INTEGER) AS is_anomaly,
       ${rSql(s"CASE WHEN $anomCondSql THEN 80.0 + 20.0 * ${uSql(100)} ELSE 68.0 + 3.0 * ${zSql(0)} END", 6)} AS temperature,
       ${rSql(s"CASE WHEN $anomCondSql THEN 3.0 + 2.0 * ${uSql(101)} ELSE greatest(1.8 + 0.3 * ${zSql(12)}, 0.0) END", 6)} AS vibration
       FROM range(10000) t(id)"""

  def t04GeneratorTwin(s: SparkSession, dir: String): DataFrame =
    twin(s).orderBy(col("id"))

  val t04Sql: String = s"SELECT * FROM ($twinSql) ORDER BY id"

  /** t01 — JSON parse + field extraction + malformed-drop
    * (`realtime_inference.py:101-114`): pull `k` out of the props JSON
    * string, cast, drop nulls. Scan-local, zero shuffles. */
  def t01JsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id", $"event_type",
        get_json_object($"props", "$.k").cast("int").as("k"), $"value")
      .filter($"k".isNotNull)
      .orderBy($"event_id")
  }

  val t01Sql: String =
    """SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, value
       FROM events
       WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
       ORDER BY event_id"""

  /** t02 — event-time tumbling window aggregation (the Firehose 300-s
    * buffer as a declarative 1-hour window): per event_type per hour.
    * Batch twin of `window(ts, "1 hour")`; expressed via date_trunc so the
    * oracle is identical. One aggregation exchange. */
  def t02HourlyRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
      .agg(rollupAggs.head, rollupAggs.tail: _*)
      .orderBy($"event_type", $"hour")
  }

  /** t02's aggregate list, shared with the streaming twin
    * (`StreamOps.hourlyRollup`): the decimal sum/avg policy makes the
    * result independent of summation order, which is what lets a
    * micro-batched replay reproduce the batch rollup bit-for-bit. */
  private[graft] def rollupAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_events"),
    ravg(col("value"), 4).as("avg_value"),
    rsum(col("value"), 2).as("sum_value"))

  val t02Sql: String =
    s"""SELECT event_type, date_trunc('hour', ts) AS hour,
       count(*) AS n_events,
       ${ravgSql("value", 4)} AS avg_value,
       ${rsumSql("value", 2)} AS sum_value
       FROM events
       GROUP BY event_type, date_trunc('hour', ts)
       ORDER BY event_type, hour"""

  /** t03 — lake compaction / at-least-once dedup: latest event per
    * (user_id, event_type), ties broken by event_id. One window shuffle. */
  def t03LatestPerKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
      .orderBy($"user_id", $"event_type")
  }

  val t03Sql: String =
    """SELECT user_id, event_type, ts, event_id, value FROM (
         SELECT user_id, event_type, ts, event_id, value,
                row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) t
       WHERE rn = 1
       ORDER BY user_id, event_type"""

  /** t05 — threshold scoring + evaluation (M5 + M3): score the twin with
    * the exact rule temp≥80 ∧ vib≥3, emit the confusion matrix and
    * precision/recall (reproduces the reference's 1.00/1.00 on separable
    * data, `README.md:106-108`). Single-row result, map-side combine. */
  def t05ThresholdEval(s: SparkSession, dir: String): DataFrame = {
    val pred = (col("temperature") >= 80.0) && (col("vibration") >= 3.0)
    val anom = col("is_anomaly") === 1
    twin(s).agg(
      sum(when(pred && anom, 1L).otherwise(0L)).as("tp"),
      sum(when(pred && !anom, 1L).otherwise(0L)).as("fp"),
      sum(when(!pred && anom, 1L).otherwise(0L)).as("fn"),
      sum(when(!pred && !anom, 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        r(col("tp") / (col("tp") + col("fp")), 6).as("precision"),
        r(col("tp") / (col("tp") + col("fn")), 6).as("recall"))
  }

  val t05Sql: String = {
    val pred = "(temperature >= 80.0 AND vibration >= 3.0)"
    // CAST AS BIGINT: DuckDB sum(int) returns HUGEINT (int128 → pandas
    // object), Spark emits int64 — the driver's dtype-sensitive hash
    // diverges without the cast (r1 red)
    s"""SELECT tp, fp, fn, tn,
       ${rSql("tp / (tp + fp)", 6)} AS precision,
       ${rSql("tp / (tp + fn)", 6)} AS recall
       FROM (SELECT
         CAST(sum(CASE WHEN $pred AND is_anomaly = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN $pred AND is_anomaly = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT $pred AND is_anomaly = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN NOT $pred AND is_anomaly = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         FROM ($twinSql)) m"""
  }

  /** t06 — alert classifier expression (P6, `realtime_inference.py:125-139`):
    * severity label + formatted message per scored record. String building
    * uses cast(round(x)) not printf — Java's %.2f rounds HALF_UP, C's
    * rounds half-even, so printf is not oracle-safe. Scan-local. */
  def t06AlertFormat(s: SparkSession, dir: String): DataFrame = {
    val pred = (col("temperature") >= 80.0) && (col("vibration") >= 3.0)
    twin(s).select(
      col("id"),
      when(pred, lit("ALERT")).otherwise(lit("NORMAL")).as("severity"),
      concat(
        when(pred, lit("ALERT")).otherwise(lit("NORMAL")),
        lit(" machine="), col("machine_id"),
        lit(" temp="), r(col("temperature"), 2).cast("string"),
        lit(" vib="), r(col("vibration"), 2).cast("string")).as("message"))
      .orderBy(col("id"))
  }

  val t06Sql: String = {
    val pred = "(temperature >= 80.0 AND vibration >= 3.0)"
    s"""SELECT id,
       CASE WHEN $pred THEN 'ALERT' ELSE 'NORMAL' END AS severity,
       concat(CASE WHEN $pred THEN 'ALERT' ELSE 'NORMAL' END,
              ' machine=', machine_id,
              ' temp=', CAST(${rSql("temperature", 2)} AS VARCHAR),
              ' vib=', CAST(${rSql("vibration", 2)} AS VARCHAR)) AS message
       FROM ($twinSql)
       ORDER BY id"""
  }

  /** t07 — spike detection via lag (Δvalue vs previous event per user,
    * SURVEY.md §2.4 window-functions row). One window shuffle on user_id. */
  def t07SpikeDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("delta", r($"value" - lag($"value", 1, 0.0).over(w), 2))
      .withColumn("is_spike", (abs($"delta") >= 15.0).cast("int"))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val t07Sql: String =
    s"""SELECT user_id, ts, event_id, value,
       ${rSql("value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id)", 2)} AS delta,
       CAST(abs(${rSql("value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id)", 2)}) >= 15.0 AS INTEGER) AS is_spike
       FROM events
       ORDER BY user_id, ts, event_id"""

  /** t08 — sessionization (session_window batch twin): a new session starts
    * after a >4 h gap; sessions aggregated per user. Gap comparison uses
    * epoch seconds (µs precision) — identical in both engines. Two window
    * passes over one user_id shuffle, then one aggregation. */
  def t08Sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapS = 14400.0
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("gap",
        when(lag($"ts", 1).over(w).isNull ||
          ($"ts".cast("double") - lag($"ts", 1).over(w).cast("double")) > gapS, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum($"gap").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(sessionAggs.head, sessionAggs.tail: _*)
      .orderBy($"user_id", $"session_id")
  }

  /** t08's per-session aggregate list, shared with the streaming twin
    * (`StreamOps.sessionizeEvents`) so both layers summarize a session
    * identically. */
  private[graft] def sessionAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_events"),
    min(col("ts")).as("session_start"),
    max(col("ts")).as("session_end"),
    floor(max(col("ts")).cast("double") - min(col("ts")).cast("double"))
      .cast("long").as("duration_s"))

  val t08Sql: String =
    """WITH g AS (
         SELECT user_id, ts, event_id,
           CASE WHEN lag(ts, 1) OVER w IS NULL
                  OR (epoch(ts) - epoch(lag(ts, 1) OVER w)) > 14400.0
                THEN 1 ELSE 0 END AS gap
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), sess AS (
         SELECT user_id, ts,
           -- BIGINT cast: DuckDB windowed sum(int) is HUGEINT → pandas
           -- object; Spark emits int64 (r1 driver-red without it)
           CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM g)
       SELECT user_id, session_id, count(*) AS n_events,
         min(ts) AS session_start, max(ts) AS session_end,
         CAST(floor(epoch(max(ts)) - epoch(min(ts))) AS BIGINT) AS duration_s
       FROM sess
       GROUP BY user_id, session_id
       ORDER BY user_id, session_id"""

  // --- t19: Kaplan–Meier survival over session durations --------------------

  /** t19 — Kaplan–Meier survival estimate of session duration with right
    * censoring: sessions still plausibly open at the data horizon (ending
    * within one session gap of the global max end) are censored — they
    * contribute to the risk sets without counting as endings, the estimator
    * every retention/durability analysis needs once the observation window
    * is finite. Builds on t08's session construction ([[t08Sessionize]]).
    *
    * S(t) = Π_\{t'≤t\} (1 − d/n) is computed as exp of a running ln-sum over
    * the tiny distinct-duration axis (the d10/d33 ln-parity family; the
    * running window accumulates in pinned order, the q08 precedent). The
    * terminal time point can have d = n (hazard 1) — guarded on both
    * engines (DuckDB ln(0) raises) and reported as survival 0.
    *
    * Scale shape: one user_id shuffle for sessionization (t08), one
    * map-side-combinable count per duration; everything after is
    * (distinct durations)-sized, where the single-task global window is
    * the right plan. */
  def t19KaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kaplanMeier(t08Sessionize(s, dir).select($"session_end", $"duration_s"),
      14400.0)
  }

  /** The censoring-aware risk table over (session_end, duration_s): per
    * distinct duration, total/observed/censored counts plus the
    * at-risk count n_risk (suffix sum over the duration axis) — the
    * shared state both survival estimators (t19 Kaplan–Meier, t24
    * Nelson–Aalen) read. Rows without observed events are dropped (they
    * only feed risk sets). */
  private def riskTable(sess: DataFrame, gapS: Double): DataFrame = {
    val s = sess.sparkSession
    import s.implicits._
    val horizon = sess.agg(max($"session_end").as("tmax"))
    val at = sess.crossJoin(broadcast(horizon))
      .select($"duration_s".as("dur"),
        ($"session_end".cast("double") > $"tmax".cast("double") - gapS)
          .cast("long").as("cens"))
      .groupBy($"dur")
      .agg(count(lit(1)).as("c_all"), sum(lit(1L) - $"cens").as("c_obs"),
        sum($"cens").as("c_cens"))
    // global-window AUDIT (r15): the frame is `at` = one row per DISTINCT
    // session duration (integer-second axis bounded by the session span,
    // not corpus rows); the KM/NA at-risk sweep is inherently a sorted
    // prefix over that axis.
    val wDesc = Window.orderBy($"dur".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    at.withColumn("n_risk", sum($"c_all").over(wDesc))
      .filter($"c_obs" > 0)
  }

  /** t19's core over an explicit (session_end, duration_s) relation —
    * exposed so the spec can plant durations with a hand-computed curve. */
  private[graft] def kaplanMeier(sess: DataFrame, gapS: Double): DataFrame = {
    val s = sess.sparkSession
    import s.implicits._
    val wAsc = Window.orderBy($"dur".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    riskTable(sess, gapS)
      .withColumn("lnterm",
        when($"c_obs" === $"n_risk", lit(0.0)) // hazard 1 → overridden below
          .otherwise(log(lit(1.0) - $"c_obs".cast("double") / $"n_risk".cast("double"))))
      .withColumn("lsum", sum($"lnterm").over(wAsc))
      .select($"dur".as("duration_s"), $"n_risk",
        $"c_obs".as("n_events"), $"c_cens".as("n_censored"),
        when($"c_obs" === $"n_risk", lit(0.0))
          .otherwise(r(exp($"lsum"), 6)).as("survival"))
      .orderBy($"duration_s")
  }

  /** t24 — Nelson–Aalen cumulative hazard over the same censored session
    * durations (Nelson 1972, Aalen 1978): H(t) = Σ_\{t'≤t\} d/n with its
    * standard-error estimate sqrt(Σ d/n²) and the Fleming–Harrington
    * survival exp(−H) — the hazard-scale view t19's product-limit curve
    * can't give (hazard increments are additive, so confidence bands and
    * hazard-ratio comparisons read directly off H). Shares t19's entire
    * risk-table construction ([[riskTable]] / the survivalCtes SQL
    * block); only the accumulated term differs (d/n instead of
    * ln(1 − d/n) — no zero guard needed: d = n is hazard 1, finite).
    * Running sums accumulate over the pinned duration order (the q08
    * precedent). Same scale shape as t19. */
  def t24NelsonAalen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nelsonAalen(t08Sessionize(s, dir).select($"session_end", $"duration_s"),
      14400.0)
  }

  /** t24's core — exposed for the hand-computed spec. */
  private[graft] def nelsonAalen(sess: DataFrame, gapS: Double): DataFrame = {
    val s = sess.sparkSession
    import s.implicits._
    val wAsc = Window.orderBy($"dur".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    riskTable(sess, gapS)
      .withColumn("hterm", $"c_obs".cast("double") / $"n_risk".cast("double"))
      .withColumn("vterm", $"c_obs".cast("double") /
        ($"n_risk".cast("double") * $"n_risk".cast("double")))
      .withColumn("hsum", sum($"hterm").over(wAsc))
      .withColumn("vsum", sum($"vterm").over(wAsc))
      .select($"dur".as("duration_s"), $"n_risk",
        $"c_obs".as("n_events"), $"c_cens".as("n_censored"),
        r($"hsum", 6).as("cum_hazard"),
        r(sqrt($"vsum"), 6).as("hazard_se"),
        r(exp(-$"hsum"), 6).as("surv_fh"))
      .orderBy($"duration_s")
  }

  /** The shared survival CTE block: t08's sessionization → censored
    * duration risk table; ends in rk(dur, c_obs, c_cens, n_risk) with
    * rows lacking observed events still present (the WHERE c_obs > 0
    * lives in each estimator's tail). Shared by t19 and t24. */
  private val survivalCtesSql: String =
    """g AS (
         SELECT user_id, ts, event_id,
           CASE WHEN lag(ts, 1) OVER w IS NULL
                  OR (epoch(ts) - epoch(lag(ts, 1) OVER w)) > 14400.0
                THEN 1 ELSE 0 END AS gap
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), sess AS (
         SELECT user_id, ts,
           CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM g),
       sd AS (SELECT max(ts) AS session_end,
           CAST(floor(epoch(max(ts)) - epoch(min(ts))) AS BIGINT) AS dur
         FROM sess GROUP BY user_id, session_id),
       hz AS (SELECT max(session_end) AS tmax FROM sd),
       tg AS (SELECT dur,
           CASE WHEN epoch(session_end) > epoch(tmax) - 14400.0
                THEN 1 ELSE 0 END AS cens
         FROM sd CROSS JOIN hz),
       at AS (SELECT dur, count(*) AS c_all,
           CAST(sum(1 - cens) AS BIGINT) AS c_obs,
           CAST(sum(cens) AS BIGINT) AS c_cens
         FROM tg GROUP BY dur),
       rk AS (SELECT dur, c_obs, c_cens,
           CAST(sum(c_all) OVER (ORDER BY dur DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
         FROM at)"""

  val t24Sql: String =
    s"""WITH $survivalCtesSql,
       hv AS (SELECT dur, n_risk, c_obs, c_cens,
           CAST(c_obs AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hterm,
           CAST(c_obs AS DOUBLE) / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)) AS vterm
         FROM rk WHERE c_obs > 0),
       cm AS (SELECT dur, n_risk, c_obs, c_cens,
           sum(hterm) OVER (ORDER BY dur ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hsum,
           sum(vterm) OVER (ORDER BY dur ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vsum
         FROM hv)
       SELECT dur AS duration_s, n_risk, c_obs AS n_events, c_cens AS n_censored,
         ${rSql("hsum", 6)} AS cum_hazard,
         ${rSql("sqrt(vsum)", 6)} AS hazard_se,
         ${rSql("exp(-hsum)", 6)} AS surv_fh
       FROM cm ORDER BY duration_s"""

  val t19Sql: String =
    s"""WITH $survivalCtesSql,
       ev AS (SELECT dur, n_risk, c_obs, c_cens,
           CASE WHEN c_obs = n_risk THEN 0.0
                ELSE ln(1.0 - CAST(c_obs AS DOUBLE) / CAST(n_risk AS DOUBLE)) END AS lnterm
         FROM rk WHERE c_obs > 0),
       cm AS (SELECT dur, n_risk, c_obs, c_cens,
           sum(lnterm) OVER (ORDER BY dur ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum
         FROM ev)
       SELECT dur AS duration_s, n_risk, c_obs AS n_events, c_cens AS n_censored,
         CASE WHEN c_obs = n_risk THEN 0.0 ELSE ${rSql("exp(lsum)", 6)} END AS survival
       FROM cm ORDER BY duration_s"""

  /** t09 — JSON-payload statistics: extract props.k per event type and
    * aggregate count / mean / exact interpolated median+p90 / extremes.
    * Spark `percentile` and DuckDB `quantile_cont` share the (n−1)·p
    * interpolation rule, so values agree bit-for-bit under r6. */
  def t09PropsStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", get_json_object($"props", "$.k").cast("int").as("k"))
      .filter($"k".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        ravg($"k", 4).as("avg_k"),
        r(expr("percentile(k, 0.5D)"), 6).as("median_k"),
        r(expr("percentile(k, 0.9D)"), 6).as("p90_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val t09Sql: String =
    s"""SELECT event_type, count(*) AS n,
       ${ravgSql("k", 4)} AS avg_k,
       ${rSql("quantile_cont(k, 0.5)", 6)} AS median_k,
       ${rSql("quantile_cont(k, 0.9)", 6)} AS p90_k,
       min(k) AS min_k,
       max(k) AS max_k
       FROM (SELECT event_type,
               CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k
             FROM events) t
       WHERE k IS NOT NULL
       GROUP BY event_type
       ORDER BY event_type"""

  /** t13 — forward fill (LOCF): repair sensor dropouts by carrying the
    * last observed value forward per device stream — the standard
    * timeseries gap-repair operator (the reference's subscriber assumes
    * lossy QoS-0/1 delivery, `realtime_inference.py:87`). Dropouts are
    * simulated deterministically (every 7th event id), then
    * last(ignoreNulls) over an unbounded-preceding ROWS frame restores
    * them. One window shuffle on user_id — same scale shape as t07. */
  def t13ForwardFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id",
        when($"event_id" % 7 === 0, lit(null)).otherwise($"value").as("v_raw"))
      .withColumn("v_fill", last($"v_raw", ignoreNulls = true).over(w))
      .withColumn("was_filled", ($"v_raw".isNull && $"v_fill".isNotNull).cast("int"))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val t13Sql: String =
    """WITH g AS (
         SELECT user_id, ts, event_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v_raw
         FROM events)
       SELECT user_id, ts, event_id, v_raw,
         last_value(v_raw IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
         CAST(v_raw IS NULL AND last_value(v_raw IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL AS INTEGER) AS was_filled
       FROM g
       ORDER BY user_id, ts, event_id"""

  /** t25 — linear-interpolation gap repair (t13's LOCF sibling — LOCF
    * holds a stale reading flat through a dropout, interpolation draws
    * the line a slowly-moving physical signal actually followed): same
    * deterministic dropout simulation (every 7th event id), each missing
    * value rebuilt from the last/next surviving neighbors weighted by
    * time distance; edges (no neighbor on one side) degrade to
    * LOCF/NOCB, fill_kind labels observed/interpolated/edge/unfillable.
    * Equal-timestamp neighbors (nx = px) fall back to LOCF so no
    * division blows up. Two ROWS-frame windows on the same (user_id)
    * shuffle — t13's exact scale shape. */
  def t25GapInterpolate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gapInterpolate(Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id",
        when($"event_id" % 7 === 0, lit(null)).otherwise($"value").as("v_raw")))
  }

  /** t25's core over (user_id, ts, event_id, v_raw) — exposed for the
    * hand-computed line spec. */
  private[graft] def gapInterpolate(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val wp = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    ev
      .withColumn("pv", last($"v_raw", ignoreNulls = true).over(wp))
      .withColumn("px",
        last(when($"v_raw".isNotNull, $"ts".cast("double")), ignoreNulls = true).over(wp))
      .withColumn("nv", first($"v_raw", ignoreNulls = true).over(wn))
      .withColumn("nx",
        first(when($"v_raw".isNotNull, $"ts".cast("double")), ignoreNulls = true).over(wn))
      .select($"user_id", $"ts", $"event_id", $"v_raw",
        when($"v_raw".isNotNull, $"v_raw")
          .when($"pv".isNotNull && $"nv".isNotNull && $"nx" > $"px",
            r($"pv" + ($"nv" - $"pv") *
              (($"ts".cast("double") - $"px") / ($"nx" - $"px")), 6))
          .otherwise(coalesce($"pv", $"nv")).as("v_interp"),
        when($"v_raw".isNotNull, 0)
          .when($"pv".isNotNull && $"nv".isNotNull && $"nx" > $"px", 1)
          .when($"pv".isNotNull || $"nv".isNotNull, 2)
          .otherwise(3).as("fill_kind"))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val t25Sql: String =
    s"""WITH g AS (SELECT user_id, ts, event_id,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v_raw
       FROM events),
       f AS (SELECT user_id, ts, event_id, v_raw,
           last_value(v_raw IGNORE NULLS) OVER wp AS pv,
           last_value(CASE WHEN v_raw IS NOT NULL THEN epoch(ts) END IGNORE NULLS) OVER wp AS px,
           first_value(v_raw IGNORE NULLS) OVER wn AS nv,
           first_value(CASE WHEN v_raw IS NOT NULL THEN epoch(ts) END IGNORE NULLS) OVER wn AS nx
         FROM g
         WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           wn AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
       SELECT user_id, ts, event_id, v_raw,
         CASE WHEN v_raw IS NOT NULL THEN v_raw
              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nx > px
                THEN ${rSql("pv + (nv - pv) * ((epoch(ts) - px) / (nx - px))", 6)}
              ELSE coalesce(pv, nv) END AS v_interp,
         CASE WHEN v_raw IS NOT NULL THEN 0
              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nx > px THEN 1
              WHEN pv IS NOT NULL OR nv IS NOT NULL THEN 2
              ELSE 3 END AS fill_kind
       FROM f ORDER BY user_id, ts, event_id"""

  /** t26 — alert-episode coalescing: every error event opens a 1-hour
    * alert interval; overlapping/touching intervals per user merge into
    * EPISODES (classic gaps-and-islands: a new episode starts where the
    * interval's start exceeds the running max end of everything before
    * it — NOT the previous row's end, which would split episodes a long
    * interval still covers). The pager-dedup view t22's heartbeat audit
    * and q63's attribution windows both presuppose: one incident, one
    * row, however many raw alerts it contains. Integer epoch-second
    * arithmetic throughout (floor(epoch) ↔ unix_timestamp, the t19
    * pairing). One user_id window shuffle, then a per-episode rollup. */
  def t26EpisodeMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    episodeMerge(Tables.events(s, dir).filter($"event_type" === "error")
      .select($"user_id", $"event_id", unix_timestamp($"ts").as("st"))
      .withColumn("en", $"st" + 3600L))
  }

  /** t26's core over (user_id, event_id, st, en) intervals — exposed for
    * the hand-laid chain/gap spec. */
  private[graft] def episodeMerge(iv: DataFrame): DataFrame = {
    val s = iv.sparkSession
    import s.implicits._
    val ord = Window.partitionBy($"user_id").orderBy($"st", $"event_id")
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv
      .withColumn("pmax", max($"en").over(wPrev))
      .withColumn("newep",
        ($"pmax".isNull || $"st" > $"pmax").cast("int"))
      .withColumn("ep", sum($"newep").over(wRun))
      .groupBy($"user_id", $"ep")
      .agg(min($"st").as("ep_start"), max($"en").as("ep_end"),
        count(lit(1)).as("n_alerts"))
      .withColumn("duration_s", $"ep_end" - $"ep_start")
      .orderBy($"user_id", $"ep")
  }

  val t26Sql: String =
    """WITH a AS (SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS st,
         CAST(floor(epoch(ts)) AS BIGINT) + 3600 AS en
       FROM events WHERE event_type = 'error'),
       m AS (SELECT user_id, event_id, st, en,
           max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         FROM a),
       f AS (SELECT user_id, event_id, st, en,
           CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS newep
         FROM m),
       g AS (SELECT user_id, st, en,
           CAST(sum(newep) OVER (PARTITION BY user_id ORDER BY st, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ep
         FROM f)
       SELECT user_id, ep, min(st) AS ep_start, max(en) AS ep_end,
         count(*) AS n_alerts, max(en) - min(st) AS duration_s
       FROM g GROUP BY user_id, ep
       ORDER BY user_id, ep"""

  /** t27 — reliability report over t26's alert episodes: MTTR (mean
    * episode duration = time-to-recover), MTBF (mean gap from an
    * episode's end to the next episode's start within a user stream),
    * and availability = uptime/(uptime + downtime) — the SRE numbers an
    * incident pipeline reports once t26 has turned raw alerts into
    * incidents. Gaps come from one lead over the per-user episode order
    * (episodes are disjoint by construction, so gaps are positive);
    * all inputs are exact integers, means decimal. One global summary
    * row. Scale shape: t26's plan plus an episode-count-sized window
    * and one aggregate. */
  def t27Reliability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ep")
    val ep = t26EpisodeMerge(s, dir)
      .withColumn("next_start", lead($"ep_start", 1).over(w))
      .withColumn("gap", $"next_start" - $"ep_end")
    ep.agg(count(lit(1)).as("n_episodes"),
        countDistinct($"user_id").as("n_users"),
        ravg($"duration_s", 2).as("mttr_s"),
        ravg($"gap", 2).as("mtbf_s"),
        dsum($"gap").as("up"), dsum($"duration_s").as("down"))
      .select($"n_episodes", $"n_users", $"mttr_s", $"mtbf_s",
        r($"up" / ($"up" + $"down"), 6).as("availability"))
  }

  val t27Sql: String =
    s"""WITH ep AS (SELECT user_id, ep, ep_start, ep_end, n_alerts,
         duration_s FROM ($t26Sql) t),
       g AS (SELECT user_id, ep_start, ep_end, duration_s,
           lead(ep_start, 1) OVER (PARTITION BY user_id ORDER BY ep)
             - ep_end AS gap
         FROM ep)
       SELECT count(*) AS n_episodes,
         count(DISTINCT user_id) AS n_users,
         ${ravgSql("duration_s", 2)} AS mttr_s,
         ${ravgSql("gap", 2)} AS mtbf_s,
         ${rSql(s"${dsumSql("gap")} / (${dsumSql("gap")} + ${dsumSql("duration_s")})", 6)} AS availability
       FROM g"""

  /** t28 — downtime Pareto over t26's episodes: the top-20 users by
    * total episode downtime with each one's share and the running
    * cumulative share of corpus downtime (the "which 20 % of machines
    * cause 80 % of incidents" table an SRE triages from; t27 reports the
    * fleet averages, t28 names the offenders; d48's attribution
    * discipline on the reliability axis). Top-k via orderBy+limit (the
    * TakeOrdered plan — never a full-user rank window), cumulation rides
    * the 20-row frame, the denominator is one broadcast total row.
    * All-integer durations; shares rounded. */
  def t28DowntimePareto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    downtimePareto(t26EpisodeMerge(s, dir).select($"user_id", $"duration_s"))
  }

  /** t28's core over (user_id, duration_s) episode rows — exposed for the
    * hand-shared Pareto spec. */
  private[graft] def downtimePareto(ep: DataFrame): DataFrame = {
    val s = ep.sparkSession
    import s.implicits._
    val per = ep.groupBy($"user_id")
      .agg(count(lit(1)).as("n_episodes"), sum($"duration_s").as("downtime_s"))
      .cache() // feeds the total and the top-k
    val tot = per.agg(sum($"downtime_s").as("tot_down"))
    val top = per.orderBy($"downtime_s".desc, $"user_id".asc).limit(20)
    val w = Window.orderBy($"downtime_s".desc, $"user_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(tot))
      .filter($"tot_down" > 0)
      .withColumn("cum_down", sum($"downtime_s").over(w))
      .select(row_number().over(
          Window.orderBy($"downtime_s".desc, $"user_id".asc)).as("rk"),
        $"user_id", $"n_episodes", $"downtime_s",
        r($"downtime_s".cast("double") / $"tot_down".cast("double"), 6).as("share"),
        r($"cum_down".cast("double") / $"tot_down".cast("double"), 6).as("cum_share"))
      .orderBy($"rk")
  }

  val t28Sql: String =
    s"""WITH ep AS (SELECT user_id, duration_s FROM ($t26Sql) t),
       per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_episodes,
           CAST(sum(duration_s) AS BIGINT) AS downtime_s
         FROM ep GROUP BY user_id),
       tot AS (SELECT CAST(sum(downtime_s) AS BIGINT) AS tot_down FROM per),
       top AS (SELECT user_id, n_episodes, downtime_s FROM per
         ORDER BY downtime_s DESC NULLS LAST, user_id ASC LIMIT 20),
       cm AS (SELECT user_id, n_episodes, downtime_s, tot_down,
           CAST(sum(downtime_s) OVER (ORDER BY downtime_s DESC NULLS LAST,
             user_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_down,
           row_number() OVER (ORDER BY downtime_s DESC NULLS LAST,
             user_id ASC) AS rk
         FROM top CROSS JOIN tot WHERE tot_down > 0)
       SELECT CAST(rk AS INTEGER) AS rk, user_id, n_episodes, downtime_s,
         ${rSql("CAST(downtime_s AS DOUBLE) / CAST(tot_down AS DOUBLE)", 6)} AS share,
         ${rSql("CAST(cum_down AS DOUBLE) / CAST(tot_down AS DOUBLE)", 6)} AS cum_share
       FROM cm ORDER BY rk"""

  /** t29 — deseasonalized anomaly scan: q62 flags raw hourly outliers,
    * but telemetry has STRUCTURE — a 3 a.m. lull is not an anomaly and a
    * mild value at peak hour may be. t29 removes q59's additive
    * hour-of-day × day-of-week profile first (fitted = m + eh + ed,
    * computed over the hourly mean series itself), scores residuals in
    * residual-sigma units, and always reports the top-3 |score| hours
    * per type (q62's no-empty-result rule). hod/dow come from pure
    * integer epoch arithmetic — (hx/3600) mod 24 and (hx/86400 + 3)
    * mod 7, Monday = 0 — so no calendar function parity is ever needed.
    *
    * Scale shape: one map-side-combinable hourly rollup; profile tables
    * live on the (type × 24/7) axes, scoring is scan-local against
    * broadcasts, the final rank window rides per-type hours. */
  def t29SeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    seasonalAnomaly(Tables.events(s, dir)
      .groupBy($"event_type",
        unix_timestamp(date_trunc("hour", $"ts")).as("hx"))
      .agg(ravg($"value", 6).as("y")))
  }

  /** t29's scored frame (event_type, hx, hod, dow, y, fitted, resid,
    * sigma) BEFORE the top-3 ranking — exposed as the batch side of the
    * streaming anomaly-monitor differential (fitted/resid stay RAW; the
    * output queries round). */
  private[graft] def seasonalScores(hourly: DataFrame): DataFrame = {
    val s = hourly.sparkSession
    import s.implicits._
    val h = hourly
      .withColumn("hod", expr("(hx div 3600) % 24"))
      .withColumn("dow", expr("((hx div 86400) + 3) % 7"))
      .cache() // feeds the mean, both profiles, and the scoring pass
    val tot = h.groupBy($"event_type").agg(davg($"y").as("m"))
    val eh = h.groupBy($"event_type", $"hod").agg(davg($"y").as("mh"))
      .join(broadcast(tot), "event_type")
      .select($"event_type", $"hod", ($"mh" - $"m").as("eh"))
    val ed = h.groupBy($"event_type", $"dow").agg(davg($"y").as("md"))
      .join(broadcast(tot), "event_type")
      .select($"event_type", $"dow", ($"md" - $"m").as("ed"))
    val fr = h
      .join(broadcast(eh), Seq("event_type", "hod"))
      .join(broadcast(ed), Seq("event_type", "dow"))
      .join(broadcast(tot), "event_type")
      .withColumn("fitted", $"m" + $"eh" + $"ed")
      .withColumn("resid", $"y" - $"fitted")
      .cache() // feeds sigma and the scored ranking
    val sg = fr.groupBy($"event_type")
      .agg(sqrt(davg($"resid" * $"resid")).as("sigma"))
    fr.join(broadcast(sg), "event_type")
      .select($"event_type", $"hx", $"hod", $"dow", $"y",
        $"fitted", $"resid", $"sigma")
  }

  /** t29's core over an explicit (event_type, hx, y) hourly series —
    * exposed so the spec can plant a periodic signal with one planted
    * break the raw-outlier view cannot see. */
  private[graft] def seasonalAnomaly(hourly: DataFrame): DataFrame = {
    val s = hourly.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy(abs($"resid" / $"sigma").desc, $"hx".asc)
    seasonalScores(hourly)
      .filter($"sigma" > 0)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"event_type", $"rk", $"hx", $"hod", $"dow", $"y",
        r($"fitted", 6).as("fitted"), r($"resid" / $"sigma", 6).as("score"))
      .orderBy($"event_type", $"rk")
  }

  val t29Sql: String =
    s"""WITH h AS MATERIALIZED (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS y
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       hh AS (SELECT event_type, hx, y, (hx // 3600) % 24 AS hod,
         ((hx // 86400) + 3) % 7 AS dow FROM h),
       tot AS (SELECT event_type, ${davgSql("y")} AS m FROM hh GROUP BY 1),
       eh AS (SELECT hh.event_type, hod, ${davgSql("y")} - min(t.m) AS eh
         FROM hh JOIN tot t ON t.event_type = hh.event_type
         GROUP BY hh.event_type, hod),
       ed AS (SELECT hh.event_type, dow, ${davgSql("y")} - min(t.m) AS ed
         FROM hh JOIN tot t ON t.event_type = hh.event_type
         GROUP BY hh.event_type, dow),
       fr AS MATERIALIZED (SELECT hh.event_type, hx, hh.hod, hh.dow, y,
           m + eh + ed AS fitted, y - (m + eh + ed) AS resid
         FROM hh JOIN eh ON eh.event_type = hh.event_type AND eh.hod = hh.hod
                 JOIN ed ON ed.event_type = hh.event_type AND ed.dow = hh.dow
                 JOIN tot ON tot.event_type = hh.event_type),
       sg AS (SELECT event_type, sqrt(${davgSql("resid * resid")}) AS sigma
         FROM fr GROUP BY event_type),
       rk AS (SELECT fr.event_type, hx, hod, dow, y, fitted, resid, sigma,
           row_number() OVER (PARTITION BY fr.event_type
             ORDER BY abs(resid / sigma) DESC NULLS LAST, hx ASC) AS rk
         FROM fr JOIN sg ON sg.event_type = fr.event_type
         WHERE sigma > 0)
       SELECT event_type, CAST(rk AS INTEGER) AS rk, hx, hod, dow, y,
         ${rSql("fitted", 6)} AS fitted, ${rSql("resid / sigma", 6)} AS score
       FROM rk WHERE rk <= 3
       ORDER BY event_type, rk"""

  // --- t30: log-rank test between session-duration groups --------------------

  /** Shared log-rank term algebra over per-time columns (da, db, ra,
    * rb): pooled deaths/at-risk, group-A expectation, hypergeometric
    * variance — one text per engine. */
  private val LrD = "(CAST(da + db AS DOUBLE))"
  private val LrN = "(CAST(ra + rb AS DOUBLE))"
  private val LrEa = s"($LrD * CAST(ra AS DOUBLE) / $LrN)"
  private val LrV =
    s"($LrD * (CAST(ra AS DOUBLE) / $LrN) * (1.0 - CAST(ra AS DOUBLE) / $LrN) * (($LrN - $LrD) / ($LrN - 1.0)))"

  /** t30 — the log-rank test (Mantel 1966) between two session-duration
    * populations split by h60(user) parity (the survival A/B test: t19
    * ESTIMATES each curve, t24 its hazard — t30 answers whether two
    * curves DIFFER beyond chance, censoring-correct, which no mean/
    * median duration comparison is): at every event time, observed
    * group-A deaths vs the pooled-hazard expectation d·n_A/n and the
    * hypergeometric variance; Z = (O − E)/√ΣV, χ² = Z². Same censoring
    * rule and duration axis as t19 (the 4-h horizon); every input is an
    * exact integer until the fixed-order term algebra. A hash split
    * should accept the null — the audit that the test and the split are
    * both sound.
    *
    * Scale shape: t08's sessionization + ONE (dur)-axis aggregation
    * carrying both groups as conditional sums + duration-axis windows. */
  def t30LogRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    logRank(t08Sessionize(s, dir)
      .select(when(DedupLsh.h60($"user_id".cast("string")) % 2 === 0, "a")
          .otherwise("b").as("grp"),
        $"session_end", $"duration_s"), 14400.0)
  }

  /** t30's core over (grp ∈ {a,b}, session_end, duration_s) — exposed
    * for the hand-computed four-event spec. */
  private[graft] def logRank(sess: DataFrame, gapS: Double): DataFrame = {
    val s = sess.sparkSession
    import s.implicits._
    val horizon = sess.agg(max($"session_end").as("tmax"))
    val at = sess.crossJoin(broadcast(horizon))
      .select($"grp", $"duration_s".as("dur"),
        ($"session_end".cast("double") > $"tmax".cast("double") - gapS)
          .cast("long").as("cens"))
      .groupBy($"dur")
      .agg(sum(when($"grp" === "a", 1L).otherwise(0L)).as("ca"),
        sum(when($"grp" === "b", 1L).otherwise(0L)).as("cb"),
        sum(when($"grp" === "a" && $"cens" === 0, 1L).otherwise(0L)).as("da"),
        sum(when($"grp" === "b" && $"cens" === 0, 1L).otherwise(0L)).as("db"))
      .cache() // feeds the totals and the at-risk windows
    val tot = at.agg(sum($"ca").as("n_sessions_a"), sum($"cb").as("n_sessions_b"),
      sum($"da").as("events_a"), sum($"db").as("events_b"))
    // global-window AUDIT (r15): frame = distinct-duration axis (riskTable's
    // bound note applies).
    val wDesc = Window.orderBy($"dur".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = at
      .withColumn("ra", sum($"ca").over(wDesc))
      .withColumn("rb", sum($"cb").over(wDesc))
      .filter($"da" + $"db" > 0)
      .select($"da",
        expr(LrEa).as("ea"),
        when(expr(LrN) > 1.0, expr(LrV)).otherwise(lit(0.0)).as("v"))
      .agg(sum($"da").as("oa"), dsum($"ea").as("easum"), dsum($"v").as("vsum"))
    tot.crossJoin(broadcast(st))
      .filter($"vsum" > 0)
      .select($"n_sessions_a", $"n_sessions_b", $"events_a", $"events_b",
        r($"oa".cast("double") - $"easum", 6).as("o_minus_e"),
        r($"vsum", 6).as("var_sum"),
        r(($"oa".cast("double") - $"easum") / sqrt($"vsum"), 6).as("z"),
        r((($"oa".cast("double") - $"easum") / sqrt($"vsum")) *
          (($"oa".cast("double") - $"easum") / sqrt($"vsum")), 6).as("chi2"))
  }

  val t30Sql: String =
    s"""WITH g AS (
         SELECT user_id, ts, event_id,
           CASE WHEN lag(ts, 1) OVER w IS NULL
                  OR (epoch(ts) - epoch(lag(ts, 1) OVER w)) > 14400.0
                THEN 1 ELSE 0 END AS gap
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), sess AS (
         SELECT user_id, ts,
           CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM g),
       sd AS (SELECT user_id, max(ts) AS session_end,
           CAST(floor(epoch(max(ts)) - epoch(min(ts))) AS BIGINT) AS dur
         FROM sess GROUP BY user_id, session_id),
       hz AS (SELECT max(session_end) AS tmax FROM sd),
       tg AS (SELECT CASE WHEN ${DedupLsh.h60Sql("user_id::VARCHAR")} % 2 = 0
                THEN 'a' ELSE 'b' END AS grp, dur,
           CASE WHEN epoch(session_end) > epoch(tmax) - 14400.0
                THEN 1 ELSE 0 END AS cens
         FROM sd CROSS JOIN hz),
       at AS MATERIALIZED (SELECT dur,
           CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb,
           CAST(sum(CASE WHEN grp = 'a' AND cens = 0 THEN 1 ELSE 0 END) AS BIGINT) AS da,
           CAST(sum(CASE WHEN grp = 'b' AND cens = 0 THEN 1 ELSE 0 END) AS BIGINT) AS db
         FROM tg GROUP BY dur),
       tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_sessions_a,
           CAST(sum(cb) AS BIGINT) AS n_sessions_b,
           CAST(sum(da) AS BIGINT) AS events_a,
           CAST(sum(db) AS BIGINT) AS events_b
         FROM at),
       rk AS (SELECT dur, da, db,
           CAST(sum(ca) OVER (ORDER BY dur DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ra,
           CAST(sum(cb) OVER (ORDER BY dur DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rb
         FROM at),
       st AS (SELECT CAST(sum(da) AS BIGINT) AS oa,
           ${dsumSql(LrEa)} AS easum,
           ${dsumSql(s"CASE WHEN $LrN > 1.0 THEN $LrV ELSE 0.0 END")} AS vsum
         FROM rk WHERE da + db > 0)
       SELECT n_sessions_a, n_sessions_b, events_a, events_b,
         ${rSql("CAST(oa AS DOUBLE) - easum", 6)} AS o_minus_e,
         ${rSql("vsum", 6)} AS var_sum,
         ${rSql("(CAST(oa AS DOUBLE) - easum) / sqrt(vsum)", 6)} AS z,
         ${rSql("((CAST(oa AS DOUBLE) - easum) / sqrt(vsum)) * ((CAST(oa AS DOUBLE) - easum) / sqrt(vsum))", 6)} AS chi2
       FROM tot CROSS JOIN st WHERE vsum > 0"""

  /** t14 — single-pass top-k per key via the typed [[graft.functions.TopKAggregator]]
    * (Aggregator[IN,BUF,OUT]): top-3 readings per user. Unlike the
    * window-rank form (q07), the aggregator ships at most k rows per
    * group per partition through the shuffle — the heavy-hitter-safe
    * top-k at 100 TB (a window sorts entire partitions). Output is
    * exploded to scalar rows (driver-safe) and oracle-checked against
    * the window twin: tie-break (value DESC, event_id ASC) matches the
    * aggregator's ordering, so the two forms agree bit-for-bit. */
  def t14TopkUdaf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKAggregator(3).toColumn
    Tables.events(s, dir)
      .select($"user_id", $"value", $"event_id")
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("topk"))
      .toDF("user_id", "topk")
      .select($"user_id", posexplode($"topk"))
      .select($"user_id", ($"pos" + 1).as("rk"),
        $"col._1".as("value"), $"col._2".as("event_id"))
      .orderBy($"user_id", $"rk")
  }

  val t14Sql: String =
    """SELECT user_id, rk, value, event_id FROM (
         SELECT user_id, value, event_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rk
         FROM events) t
       WHERE rk <= 3
       ORDER BY user_id, rk"""

  /** t15 — exponential smoothing (EWMA, α = 0.2) per device stream: the
    * classic telemetry denoiser (y_i = α·x_i + (1−α)·y_{i−1}, seeded with
    * the first reading). A sequential per-key recurrence is the textbook
    * fit for the typed `flatMapGroups` API: state is O(1) per group, each
    * group sorts in memory (per-device streams are bounded), groups
    * partition across executors on the one groupByKey shuffle. The DuckDB
    * oracle runs the SAME recurrence as a recursive CTE — both engines
    * execute the identical IEEE sequence 0.2·x + 0.8·acc step by step, so
    * values are bit-identical before the r6 rounding (a window-sum closed
    * form would NOT be: (1−α)^(−i) spans 13 orders of magnitude). */
  def t15Ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, java.sql.Timestamp, Long, Double)]) =>
        // sort key carries the full µs precision (getTime truncates to ms)
        val rows = it.toArray.sortBy(r => (r._2.getTime / 1000, r._2.getNanos, r._3))
        var acc = 0.0
        var first = true
        rows.iterator.map { r =>
          acc = if (first) { first = false; r._4 } else 0.2 * r._4 + 0.8 * acc
          (uid, r._2, r._3, r._4, acc)
        }
      }
      .toDF("user_id", "ts", "event_id", "value", "ewma_raw")
      .withColumn("ewma", r($"ewma_raw", 6)).drop("ewma_raw")
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val t15Sql: String =
    s"""WITH RECURSIVE s AS (
         SELECT user_id, ts, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events),
       rec AS (
         SELECT user_id, ts, event_id, value, rn, value AS ewma_raw
         FROM s WHERE rn = 1
         UNION ALL
         SELECT s.user_id, s.ts, s.event_id, s.value, s.rn,
           0.2 * s.value + 0.8 * rec.ewma_raw
         FROM s JOIN rec ON s.user_id = rec.user_id AND s.rn = rec.rn + 1)
       SELECT user_id, ts, event_id, value, ${rSql("ewma_raw", 6)} AS ewma
       FROM rec
       ORDER BY user_id, ts, event_id"""

  // --- t17: interval join — batch twin of the stream-stream join ---------

  /** t17's trailing lookback. The streaming operator's reference default is
    * 5 minutes ([[graft.streaming.StreamOps.joinWithAlerts]]); the twin
    * runs 24 h because this corpus emits ~1 error per machine-day — the
    * window must sit inside the data's inter-event cadence to exercise
    * cross-batch matches. Spark / DuckDB spellings of the same interval. */
  private[graft] val LookbackSpark = "INTERVAL 24 HOURS"
  private[graft] val LookbackSql = "INTERVAL 24 HOUR"

  /** Value-thresholded severity — shared by t17's batch alert derivation
    * and the StreamReplaySpec streaming side, so the twins can't drift. */
  private[graft] def severityCol: Column =
    when(col("value") >= 10.0, "crit").otherwise("warn")

  /** Alert derivation for t17: error events become alerts. */
  private[graft] def alertsFrom(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "error")
      .select(col("user_id").as("a_machine_id"), col("event_id").as("a_event_id"),
        col("ts").as("alert_ts"), severityCol.as("severity"))

  /** t17 — interval (event-time range) join: every reading picks up the
    * same machine's alerts from the trailing [[LookbackSpark]] — the batch
    * twin of the stream-stream join
    * [[graft.streaming.StreamOps.joinWithAlerts]], giving that stateful
    * operator an oracle-checked differential target (StreamReplaySpec
    * replays both sides and asserts bit-equality). Executes as a
    * sort-merge join on the machine equi-key with the range predicate as
    * a post-join filter; the key's cardinality grows with the fleet
    * (1 500 machines at sf0.1), so the shuffle spreads at scale. Output
    * keyed by the (reading, alert) event-id pair — globally unique, the
    * total order the driver hash needs. */
  def t17IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val r0 = ev.select($"user_id".as("machine_id"), $"event_id".as("r_event_id"),
      $"ts", $"value".as("temperature"))
    r0.join(alertsFrom(ev), $"machine_id" === $"a_machine_id" &&
        $"alert_ts" >= $"ts" - expr(LookbackSpark) && $"alert_ts" <= $"ts")
      .select($"machine_id", $"r_event_id", $"ts", $"temperature",
        $"a_event_id", $"alert_ts", $"severity")
      .orderBy($"r_event_id", $"a_event_id")
  }

  /** Readings/alerts CTE pair + join condition shared by t17 and t18 —
    * the twins differ only in join type and null-side coalescing. */
  private val raCtes: String =
    """r AS (SELECT user_id AS machine_id, event_id AS r_event_id, ts,
           value AS temperature FROM events),
       a AS (SELECT user_id AS a_machine_id, event_id AS a_event_id,
           ts AS alert_ts,
           CASE WHEN value >= 10.0 THEN 'crit' ELSE 'warn' END AS severity
         FROM events WHERE event_type = 'error')"""
  private val raCond: String =
    s"machine_id = a_machine_id AND alert_ts BETWEEN ts - $LookbackSql AND ts"

  val t17Sql: String =
    s"""WITH $raCtes
       SELECT machine_id, r_event_id, ts, temperature, a_event_id, alert_ts,
         severity
       FROM r JOIN a ON $raCond
       ORDER BY r_event_id, a_event_id"""

  /** t18 — LEFT OUTER interval join: t17 plus the readings that saw NO
    * alert in their trailing window, emitted with sentinel alert columns
    * (q34's coalesce convention — the driver hash can't take nulls in
    * sort keys). This is the batch twin of the left-outer stream-stream
    * join, whose null-side emission is watermark-driven state expiry —
    * StreamReplaySpec replays it and asserts bit-equality, the one outer
    * streaming behavior the differential didn't cover. Same sort-merge
    * equi-key layout as t17. */
  def t18IntervalJoinLeft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val r0 = ev.select($"user_id".as("machine_id"), $"event_id".as("r_event_id"),
      $"ts", $"value".as("temperature"))
    r0.join(alertsFrom(ev), $"machine_id" === $"a_machine_id" &&
        $"alert_ts" >= $"ts" - expr(LookbackSpark) && $"alert_ts" <= $"ts", "left")
      .select($"machine_id", $"r_event_id", $"ts", $"temperature",
        coalesce($"a_event_id", lit(-1L)).as("a_event_id"),
        coalesce($"alert_ts", expr("TIMESTAMP '1900-01-01 00:00:00'")).as("alert_ts"),
        coalesce($"severity", lit("none")).as("severity"))
      .orderBy($"r_event_id", $"a_event_id")
  }

  val t18Sql: String =
    s"""WITH $raCtes
       SELECT machine_id, r_event_id, ts, temperature,
         coalesce(a_event_id, -1) AS a_event_id,
         coalesce(alert_ts, TIMESTAMP '1900-01-01 00:00:00') AS alert_ts,
         coalesce(severity, 'none') AS severity
       FROM r LEFT JOIN a ON $raCond
       ORDER BY r_event_id, a_event_id"""

  // --- t22: sensor heartbeat / liveness audit -------------------------------

  /** t22 — heartbeat audit per device stream (the fleet-health scan a
    * predictive-maintenance deployment runs before trusting its data):
    * per user_id, event count, mean and max inter-event gap, time since
    * the last event relative to the corpus clock (max ts — in-plan 1-row
    * broadcast, no wall clock so the audit is deterministic), and two
    * flags — `gappy` (max gap > 4× the stream's own mean gap: a feed
    * that stalls and recovers) and `stale` (silent for > 2× its mean gap
    * at corpus end: likely dead). Gaps are integer epoch-µs from one
    * lag window; ratios are IEEE on integer-derived doubles.
    *
    * Scale shape: one shuffle on user_id for the lag window + the
    * per-user aggregate; the 1-row clock broadcasts. */
  def t22Heartbeat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    heartbeat(Tables.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("tu"), $"event_id"))
  }

  /** t22's core over an explicit (user_id, tu, event_id) relation —
    * exposed so the spec can plant a stalling and a dead stream. */
  private[graft] def heartbeat(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tu", $"event_id")
    val gaps = ev
      .withColumn("gap", $"tu" - lag($"tu", 1).over(w))
      .cache() // feeds the per-user aggregate and the corpus clock
    val clock = gaps.agg(max($"tu").as("t_end"))
    gaps.crossJoin(broadcast(clock))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        count($"gap").as("n_gaps"),
        dsum($"gap".cast("double")).as("sum_gap"),
        max($"gap").as("max_gap_us"),
        min($"t_end" - $"tu").as("silent_us"))
      .filter($"n_gaps" > 0)
      // flags compare against the ROUNDED mean so the threshold the
      // report shows is the threshold the flags used (and both engines
      // compare identical doubles)
      .withColumn("mean_gap_us", r($"sum_gap" / $"n_gaps".cast("double"), 2))
      .select($"user_id", $"n_events", $"mean_gap_us",
        $"max_gap_us", $"silent_us",
        ($"max_gap_us".cast("double") > lit(4.0) * $"mean_gap_us").cast("int").as("gappy"),
        ($"silent_us".cast("double") > lit(2.0) * $"mean_gap_us").cast("int").as("stale"))
      .orderBy($"user_id")
  }

  val t22Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tu, event_id FROM events),
       g AS MATERIALIZED (SELECT user_id, tu,
           tu - lag(tu, 1) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS gap
         FROM ev),
       clock AS (SELECT max(tu) AS t_end FROM g),
       ag AS (SELECT user_id, count(*) AS n_events, count(gap) AS n_gaps,
           ${dsumSql("CAST(gap AS DOUBLE)")} AS sum_gap,
           max(gap) AS max_gap_us, min(t_end - tu) AS silent_us
         FROM g CROSS JOIN clock GROUP BY user_id),
       m AS (SELECT user_id, n_events, max_gap_us, silent_us,
           sum_gap / CAST(n_gaps AS DOUBLE) AS mean_gap_us
         FROM ag WHERE n_gaps > 0)
       SELECT user_id, n_events, ${rSql("mean_gap_us", 2)} AS mean_gap_us,
         max_gap_us, silent_us,
         CAST(CAST(max_gap_us AS DOUBLE) > 4.0 * ${rSql("mean_gap_us", 2)} AS INTEGER) AS gappy,
         CAST(CAST(silent_us AS DOUBLE) > 2.0 * ${rSql("mean_gap_us", 2)} AS INTEGER) AS stale
       FROM m ORDER BY user_id"""

  // --- t23: single-changepoint scan over the hourly series ----------------

  /** Shared split-cost texts over exact BIGINTs (sk/st = prefix/total sums
    * of the 1e6-scaled rounded hourly means, k/tt = split index / series
    * length): between-segment sum-of-squares gain of splitting after k,
    * f(k) − S²/T (the constant Σx² cancels, so no squared-value sums are
    * ever formed), descaled back to value² units. */
  private val CpMeanL = "CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0"
  private val CpMeanR =
    "CAST(st - sk AS DOUBLE) / CAST(tt - k AS DOUBLE) / 1000000.0"
  private val CpGain =
    "(CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) + " +
      "CAST(st - sk AS DOUBLE) * CAST(st - sk AS DOUBLE) / CAST(tt - k AS DOUBLE) - " +
      "CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(tt AS DOUBLE)) / 1000000000000.0"

  /** t23 — level-shift changepoint detection: per event_type, the single
    * split of the hourly mean series that maximizes the between-segment
    * sum-of-squares reduction (binary segmentation's first step, the
    * CUSUM-family offline twin of t07/q62's pointwise outlier scans —
    * those find one wild hour; this finds "the metric moved and stayed
    * moved"). Exactness: the rounded hourly means are scaled to integers
    * (floor(x·10⁶ + 0.5) — both engines' cast of an integral double
    * agrees), so every prefix sum is a BIGINT and the gain formula is
    * one shared expression over exact-integer-derived doubles; the
    * argmax ranks on the ROUNDED gain with the split index as
    * tie-break. Σx² cancels out of the argmax, so no overflow-prone
    * squared-value sums exist anywhere.
    *
    * Scale shape: one map-side-combinable rollup touches events; the
    * candidate scan is a per-type window over the hour series, which
    * grows with time, not volume (t21's argument). */
  def t23Changepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    changepoint(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(ravg($"value", 6).as("x"))
      .select($"event_type", $"h".cast("long").as("hx"), $"x"))
  }

  /** t23's core over an explicit (event_type, hx, x) series — exposed so
    * the spec can plant a clean step and a constant series. */
  private[graft] def changepoint(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"hx")
    val pre = series
      .withColumn("xi", floor($"x" * 1000000.0 + 0.5).cast("bigint"))
      .withColumn("k", row_number().over(w).cast("bigint"))
      .withColumn("sk", sum($"xi").over(w))
      .cache() // feeds both tot and the candidate join
    val tot = pre.groupBy($"event_type")
      .agg(count(lit(1)).as("tt"), sum($"xi").as("st"))
    pre.join(broadcast(tot), "event_type")
      .filter($"k" < $"tt")
      .withColumn("gain", r(expr(CpGain), 6))
      .withColumn("rk", row_number().over(Window.partitionBy($"event_type")
        .orderBy($"gain".desc_nulls_last, $"k".asc)))
      .filter($"rk" === 1)
      .select($"event_type", $"tt".as("t_hours"), $"k".as("split_k"),
        $"hx".as("split_hx"),
        r(expr(CpMeanL), 6).as("mean_left"),
        r(expr(CpMeanR), 6).as("mean_right"),
        r(expr(s"($CpMeanR) - ($CpMeanL)"), 6).as("shift"),
        $"gain")
      .orderBy($"event_type")
  }

  val t23Sql: String =
    s"""WITH h AS (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS x
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       p AS (SELECT event_type, hx,
           CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS xi
         FROM h),
       seq AS (SELECT event_type, hx, xi,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY hx) AS BIGINT) AS k,
           CAST(sum(xi) OVER (PARTITION BY event_type ORDER BY hx) AS BIGINT) AS sk
         FROM p),
       tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS tt,
           CAST(sum(xi) AS BIGINT) AS st
         FROM p GROUP BY event_type),
       cand AS (SELECT q.event_type, hx, k, sk, tt, st,
           ${rSql(CpGain, 6)} AS gain
         FROM seq q JOIN tot USING (event_type) WHERE k < tt),
       rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
           ORDER BY gain DESC NULLS LAST, k ASC) AS rk
         FROM cand)
       SELECT event_type, tt AS t_hours, k AS split_k, hx AS split_hx,
         ${rSql(CpMeanL, 6)} AS mean_left, ${rSql(CpMeanR, 6)} AS mean_right,
         ${rSql(s"($CpMeanR) - ($CpMeanL)", 6)} AS shift, gain
       FROM rk WHERE rk = 1
       ORDER BY event_type"""

  // --- t21: multi-window SLO burn rate ------------------------------------

  /** t21 — SRE multi-window burn-rate alerting (Google SRE Workbook ch. 5)
    * over the hourly error series: per hour, the error share in the
    * trailing 1 h / 6 h / 24 h RANGE windows relative to the corpus-wide
    * baseline rate (self-calibrating burn = windowed rate ÷ overall
    * rate), and the two-window alert flag (fast ≥ 2× AND slow ≥ 1.5× —
    * the pattern that pages quickly on real incidents yet ignores blips).
    * Integer-hour RANGE frames (t11's time-RANGE shape on the rollup
    * series); all rates are integer-derived IEEE ratios.
    *
    * Scale shape: one map-side-combinable hourly rollup touches events;
    * the windows run over the hour series, which grows with TIME, not
    * volume. */
  def t21BurnRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    burnRate(Tables.events(s, dir)
      .select((date_trunc("hour", $"ts").cast("long") / 3600).cast("long").as("hx"),
        ($"event_type" === "error").cast("long").as("is_err")))
  }

  /** t21's core over an explicit (hx, is_err) relation — exposed so the
    * spec can plant an incident hour inside a quiet baseline. */
  private[graft] def burnRate(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val hourly = ev.groupBy($"hx")
      .agg(count(lit(1)).as("n"), sum($"is_err").as("e"))
    val base = ev.agg(count(lit(1)).as("nn"), sum($"is_err").as("ee"))
      .select(($"ee".cast("double") / $"nn".cast("double")).as("base_rate"))
    // global-window AUDIT (r15): frame = one row per hour (calendar axis).
    def win(h: Int) = Window.orderBy($"hx").rangeBetween(-(h - 1), 0)
    def burn(h: Int) =
      r((sum($"e").over(win(h)).cast("double") /
        sum($"n").over(win(h)).cast("double")) / $"base_rate", 6)
    hourly.crossJoin(broadcast(base))
      .select($"hx", $"n".as("n_events"), $"e".as("n_errors"),
        burn(1).as("burn_1h"), burn(6).as("burn_6h"), burn(24).as("burn_24h"))
      .withColumn("alert",
        ($"burn_1h" >= 2.0 && $"burn_6h" >= 1.5).cast("int"))
      .orderBy($"hx")
  }

  val t21Sql: String = {
    def burn(h: Int) =
      rSql("(CAST(sum(e) OVER (ORDER BY hx RANGE BETWEEN " + (h - 1) +
        " PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(sum(n) OVER (ORDER BY hx RANGE BETWEEN " +
        (h - 1) + " PRECEDING AND CURRENT ROW) AS DOUBLE)) / base_rate", 6)
    s"""WITH ev AS (SELECT CAST(CAST(epoch(date_trunc('hour', ts)) AS BIGINT) / 3600 AS BIGINT) AS hx,
         CAST(event_type = 'error' AS BIGINT) AS is_err FROM events),
       hourly AS (SELECT hx, count(*) AS n, CAST(sum(is_err) AS BIGINT) AS e
         FROM ev GROUP BY hx),
       base AS (SELECT CAST(sum(is_err) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS base_rate
         FROM ev),
       b AS (SELECT hx, n, e,
           ${burn(1)} AS burn_1h, ${burn(6)} AS burn_6h, ${burn(24)} AS burn_24h
         FROM hourly CROSS JOIN base)
       SELECT hx, n AS n_events, e AS n_errors, burn_1h, burn_6h, burn_24h,
         CAST(burn_1h >= 2.0 AND burn_6h >= 1.5 AS INTEGER) AS alert
       FROM b ORDER BY hx"""
  }

  // --- t34: native session_window sessionization ---------------------------

  /** t34 — sessionization through Spark's NATIVE `session_window`
    * operator (t08 builds sessions by hand with lag/sum windows — the
    * portable gaps-and-islands shape; t34 exercises the built-in
    * session-merging aggregate the engine ships, the one that also
    * drives streaming session state): 30-minute gap sessions per user,
    * window end = last event + gap per the operator's contract. The
    * oracle is the gaps-and-islands formulation of the SAME semantics
    * (new session exactly when the gap to the previous event reaches
    * 30 min), so the native operator is differentially checked against
    * its textbook definition.
    *
    * Scale shape: session_window plans as a per-user sort + merge inside
    * the aggregate — one shuffle on user_id, no self-join, state bounded
    * per user. (user_id, session_start) is a total order: sessions of a
    * user are disjoint. */
  def t34SessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  val t34Sql: String =
    """WITH m AS (SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       FROM events),
       f AS (SELECT user_id, ts,
         CASE WHEN prev IS NULL
                OR epoch(ts) - epoch(prev) >= 1800 THEN 1 ELSE 0 END AS brk
       FROM m),
       g AS (SELECT user_id, ts,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
       FROM f)
       SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
       FROM g GROUP BY user_id, sid
       ORDER BY user_id, session_start"""

  // --- t32: OEE (overall equipment effectiveness) --------------------------

  /** t32 — OEE, the canonical maintenance KPI (Nakajima's TPM formulation:
    * OEE = availability × performance × quality), per user/machine stream:
    *
    *   - availability = uptime share of the observed horizon (first event
    *     → last event + the 1 h alert window), downtime = t26's merged
    *     error-episode durations — the SAME episodes the incident pipeline
    *     reports, so the two KPIs can't drift;
    *   - performance = the stream's event rate relative to the best
    *     observed rate in the fleet (rate ratios on ROUNDED rates — the
    *     q33 parity path for the argmax-free fleet max);
    *   - quality = non-error share of events.
    *
    * All inputs are exact integers (epoch seconds, counts, episode
    * durations); every ratio is a fixed-order IEEE division of those
    * integers, so the whole KPI mirrors bit-for-bit. One events
    * aggregation + t26's episode plan + a 1-row fleet-max broadcast.
    *
    * Scale shape: per-user aggregates on the uniform user key, episode
    * machinery is t26's (window over per-user error streams), the fleet
    * max is a 1-row broadcast — linear in events at any scale. */
  def t32Oee(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    oeeReport(
      Tables.events(s, dir)
        .select($"user_id", unix_timestamp($"ts").as("es"),
          ($"event_type" === "error").cast("long").as("is_err")),
      t26EpisodeMerge(s, dir))
  }

  /** t32's core over explicit (user_id, es, is_err) events and a
    * (user_id, …, duration_s) episode frame — exposed for the planted
    * hand-computed OEE spec. */
  private[graft] def oeeReport(ev: DataFrame, episodes: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val per = ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"is_err").as("n_errors"),
        min($"es").as("t0"), max($"es").as("t1"))
      .withColumn("span_s", $"t1" + 3600L - $"t0")
    val down = episodes
      .groupBy($"user_id").agg(sum($"duration_s").as("down_s"))
    val base = per.join(down, Seq("user_id"), "left")
      .withColumn("down_s", coalesce($"down_s", lit(0L)))
      .withColumn("avail",
        r(($"span_s" - $"down_s").cast("double") / $"span_s".cast("double"), 6))
      .withColumn("rate",
        r($"n_events".cast("double") / ($"span_s".cast("double") / 3600.0), 6))
      .withColumn("quality",
        r(($"n_events" - $"n_errors").cast("double") / $"n_events".cast("double"), 6))
    val mx = base.agg(max($"rate").as("max_rate"))
    base.crossJoin(broadcast(mx))
      .withColumn("perf", r($"rate" / $"max_rate", 6))
      .select($"user_id", $"n_events", $"n_errors", $"down_s", $"span_s",
        $"avail", $"perf", $"quality",
        r($"avail" * $"perf" * $"quality", 6).as("oee"))
      .orderBy($"user_id")
  }

  val t32Sql: String =
    s"""WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(event_type = 'error' AS BIGINT) AS is_err FROM events),
       per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_err) AS BIGINT) AS n_errors,
           min(es) AS t0, max(es) AS t1,
           max(es) + 3600 - min(es) AS span_s
         FROM ev GROUP BY user_id),
       dn AS (SELECT user_id, CAST(sum(duration_s) AS BIGINT) AS down_s
         FROM ($t26Sql) t GROUP BY user_id),
       b AS (SELECT p.user_id, n_events, n_errors,
           coalesce(down_s, 0) AS down_s, span_s,
           ${rSql("CAST(span_s - coalesce(down_s, 0) AS DOUBLE) / CAST(span_s AS DOUBLE)", 6)} AS avail,
           ${rSql("CAST(n_events AS DOUBLE) / (CAST(span_s AS DOUBLE) / 3600.0)", 6)} AS rate,
           ${rSql("CAST(n_events - n_errors AS DOUBLE) / CAST(n_events AS DOUBLE)", 6)} AS quality
         FROM per p LEFT JOIN dn ON dn.user_id = p.user_id),
       mx AS (SELECT max(rate) AS max_rate FROM b)
       SELECT user_id, n_events, n_errors, down_s, span_s, avail,
         ${rSql("rate / max_rate", 6)} AS perf, quality,
         ${rSql(s"avail * (${rSql("rate / max_rate", 6)}) * quality", 6)} AS oee
       FROM b CROSS JOIN mx
       ORDER BY user_id"""

  // --- t31: DSv2 write-path round trip ------------------------------------

  /** t31 — the generator twin written THROUGH the DSv2 write connector
    * ([[graft.sources.LakeSink]]: task-staged gzip JSON, driver commit
    * coordination — the reference's buffered fault-tolerant S3 sink,
    * `phase3-kinesis-s3.yaml:81-89`) and read back from the committed
    * lake files. Oracle = t04's: the round trip must be value-exact
    * through serialize → commit → parse, so the whole write path sits
    * under the DuckDB differential, not just its specs.
    *
    * Scale shape: the write is embarrassingly parallel (each task streams
    * its own gzip file; the driver sees only O(#tasks) renames), the read
    * is a parallel JSON scan. */
  def t31SinkRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = TempLakes.dir("graft_t31_lake")
    val t = twin(s)
    t.write.format("graft.sources.LakeSink").mode("overwrite").save(out)
    // read back THROUGH the connector: the commit-time manifest supplies
    // the schema, LakeSinkScan parses the committed gzip JSON-lines — the
    // round trip exercises BOTH halves of the DSv2 surface
    s.read.format("graft.sources.LakeSink").load(out)
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t31Sql: String = t04Sql

  /** t33 — the PARTITIONED write path under the differential: the twin
    * written through [[graft.sources.LakeSink]] with Hive-style
    * `d=<date>/hr=<hour>/` dynamic partition directories (the reference
    * sink's date/hour prefix layout, `phase3-kinesis-s3.yaml:84`) and
    * read back via Spark partition discovery (the user schema pins the
    * restored partition-column types). Oracle = the twin + its derived
    * partition columns, so dir-name round-tripping of BOTH a date and an
    * int partition value is hash-checked.
    *
    * Scale shape: dynamic partitioning with one open stream per
    * partition value per task; partition values move to directory names
    * (readable with partition pruning — LakeSinkSpec pins
    * PartitionFilters), rows carry only data columns. */
  def t33PartitionedSink(s: SparkSession, dir: String): DataFrame = {
    val out = TempLakes.dir("graft_t33_lake")
    val t = twin(s)
      .withColumn("d", to_date(col("ts")))
      .withColumn("hr", hour(col("ts")))
    t.write.format("graft.sources.LakeSink")
      .option("partitionCols", "d,hr").mode("overwrite").save(out)
    // connector read: partition values come back from the k=v directory
    // names (decoded once per file by LakeSinkPartitionReader), data
    // columns from the committed rows — both under the same differential
    s.read.format("graft.sources.LakeSink").load(out)
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t33Sql: String =
    s"""SELECT *, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(hour(ts) AS INTEGER) AS hr
       FROM ($twinSql) ORDER BY id"""

  /** t35 — partition-level DELETE through the whole DSv2 stack: the twin
    * is CTAS'd into a date-partitioned [[graft.sources.GraftCatalog]] lake
    * table (`writeTo.partitionedBy(d).create()`), one day is dropped with
    * SQL `DELETE FROM graft.lake.… WHERE d = …` (LakeSink's
    * `SupportsDelete` — a metadata delete: whole matching partition files
    * vanish, no row is read), and the read-back must equal the oracle's
    * filtered twin. Catalog + connector + delete contract under one
    * differential.
    *
    * Scale shape: the delete is O(#files in the partition) driver-side
    * renames-worth of work — the Hive/Iceberg DROP PARTITION contract;
    * non-partition predicates are refused at planning, never
    * half-applied. */
  def t35PartitionDelete(s: SparkSession, dir: String): DataFrame = {
    // a fresh lake root per invocation: bench reps re-run the CTAS
    val lakeRoot = TempLakes.catalog(s, "t35")
    val t = twin(s).withColumn("d", to_date(col("ts")))
    t.writeTo("graft_t35.lake.t35").partitionedBy(col("d")).create()
    s.sql("DELETE FROM graft_t35.lake.t35 WHERE d = CAST('2026-01-03' AS DATE)")
    s.table("graft_t35.lake.t35")
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t35Sql: String =
    s"""SELECT *, CAST(date_trunc('day', ts) AS DATE) AS d
       FROM ($twinSql)
       WHERE CAST(date_trunc('day', ts) AS DATE) <> DATE '2026-01-03'
       ORDER BY id"""

  /** t36 — STREAMING write into a catalog table: the DSv2 telemetry
    * source streamed with `Trigger.AvailableNow` (4 read-limit-sized
    * micro-batches) through `writeStream.toTable("graft.lake.…")` — the
    * analyzer resolves the NAME via [[graft.sources.GraftCatalog]], the
    * epochs commit through LakeSink's exactly-once protocol, and the
    * read-back must equal t04's generator oracle bit-for-bit. This is the
    * reference's live path (device stream → named lake table the
    * dashboards query, `docs/phase3-kinesis-s3.md`) end-to-end under the
    * differential.
    *
    * Scale shape: source admission and sink commit are both
    * O(#tasks)-per-epoch driver work; the table is immediately queryable
    * by name mid-stream (readers see only committed epochs). */
  def t36StreamToTable(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t36")
    val ckpt = TempLakes.dir("graft_t36_ckpt")
    s.sql(s"CREATE TABLE graft_t36.lake.t36 (${twin(s).schema.toDDL})")
    val q = s.readStream.format("graft.sources.TelemetrySource")
      .option("rows", TwinRows.toString).option("rowsPerBatch", "2500").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft_t36.lake.t36")
    q.awaitTermination()
    s.table("graft_t36.lake.t36").orderBy(col("id"))
  }

  val t36Sql: String = t04Sql

  /** t38 — STREAMING read FROM a catalog lake table
    * (`spark.readStream.table("graft.lake.…")` —
    * [[graft.sources.LakeSinkMicroBatchStream]]): offsets are committed-
    * file-set snapshots (the FileStreamSource pattern as a DSv2 stream),
    * so the tail reads exactly the files each micro-batch discovers and a
    * checkpoint restart replays the same difference. The twin is CTAS'd
    * into the lake, tailed with AvailableNow into a memory sink, and the
    * drained stream must equal t04's generator oracle — closing the
    * connector matrix: batch read/write, streaming write, streaming READ.
    * GraftCatalogSpec pins the incremental contract (appends between two
    * checkpointed drains arrive exactly once). */
  def t38StreamFromTable(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t38")
    val ckpt = TempLakes.dir("graft_t38_ckpt")
    val t = twin(s)
    t.writeTo("graft_t38.lake.t38").create()
    val mem = "graft_t38_" + java.util.UUID.randomUUID.toString.take(8)
    val q = s.readStream.table("graft_t38.lake.t38")
      .writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = s.table(mem)
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
      .localCheckpoint(true)
    s.catalog.dropTempView(mem)
    out
  }

  val t38Sql: String = t04Sql

  /** t37 — MERGE INTO through the whole row-level DSv2 stack
    * ([[graft.sources.LakeSinkRowLevelOperation]]: group-based
    * ReplaceData — Spark reads the affected committed files, computes
    * their post-merge content, the connector swaps them): the twin is
    * CTAS'd into a catalog lake table, a source view updates every
    * id ≡ 0 (mod 7) row's temperature (+5.0) and inserts 100 shifted new
    * rows, and the read-back must equal the oracle's CASE/UNION
    * restatement of the same merge. The upsert semantics q44 models as a
    * batch full-outer twin now run as REAL SQL MERGE against a REAL
    * connector.
    *
    * Scale shape: rewrite cost ∝ the affected group set (all files here —
    * every file holds a matched id; a partition-scoped merge rewrites
    * only matching partitions, spec-pinned in GraftCatalogSpec). */
  def t37MergeInto(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t37")
    val t = twin(s)
    t.writeTo("graft_t37.lake.t37").create()
    val updates = t.filter(col("id") % 7 === 0)
      .withColumn("temperature", col("temperature") + lit(5.0))
    val inserts = t.filter(col("id") < 100)
      .withColumn("id", col("id") + lit(TwinRows))
    updates.unionAll(inserts).createOrReplaceTempView("graft_t37_src")
    s.sql("""MERGE INTO graft_t37.lake.t37 t USING graft_t37_src s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET temperature = s.temperature
             WHEN NOT MATCHED THEN INSERT *""")
    s.table("graft_t37.lake.t37")
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t37Sql: String =
    s"""WITH t AS MATERIALIZED ($twinSql)
       SELECT id, ts, machine_id, is_anomaly,
         CASE WHEN id % 7 = 0 THEN temperature + 5.0 ELSE temperature END AS temperature,
         vibration
       FROM t
       UNION ALL
       SELECT id + $TwinRows AS id, ts, machine_id, is_anomaly, temperature, vibration
       FROM t WHERE id < 100
       ORDER BY id"""

  /** t39 — TIME TRAVEL under the differential
    * ([[graft.sources.LakeSinkSnapshotTable]] via `VERSION AS OF`): the
    * twin is CTAS'd into a catalog lake table (version 1), a decoy batch
    * of id-shifted rows is appended (version 2 — present in every LIVE
    * read), and the query returns `VERSION AS OF 1`, which must equal
    * t04's generator oracle exactly: the snapshot planned the RECORDED
    * file list, not the directory. The reference lake's "reprocess
    * yesterday's objects" role (`docs/phase3-kinesis-s3.md`) as a
    * first-class versioned-manifest read.
    *
    * Scale shape: a snapshot read plans O(#recorded files) with zero
    * directory walking — the versioned-manifest contract; same per-file
    * task parallelism as a live read. */
  def t39TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t39")
    val t = twin(s)
    t.writeTo("graft_t39.lake.t39").create() // version 1
    t.filter(col("id") < 500).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t39.lake.t39").append() // version 2 (decoy rows)
    s.sql("SELECT * FROM graft_t39.lake.t39 VERSION AS OF 1")
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t39Sql: String = t04Sql

  /** t40 — COMPACTION losslessness under the differential
    * ([[graft.sources.LakeMaintenance.compact]] — the OPTIMIZE
    * bin-packing contract): the twin is CTAS'd into a DATE-partitioned
    * lake table (32 write tasks × days → many small gzip files per
    * partition directory, the reference sink's exact pathology:
    * one object per flush interval, `phase3-kinesis-s3.yaml:84`),
    * compacted to ONE file per partition, and read back — rows must
    * hash-equal the oracle's twin+partition-column restatement, proving
    * the rewrite moved every byte and invented none. LakeVersionSpec
    * additionally pins the file-count drop and pre-compaction snapshot
    * readability.
    *
    * Scale shape: merges run executor-side, one task per oversized
    * partition dir; the driver commit is O(#files) renames; recorded
    * versions keep the pre-compaction state readable until VACUUM. */
  def t40Compaction(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t40")
    val t = twin(s).withColumn("d", to_date(col("ts")))
    t.writeTo("graft_t40.lake.t40").partitionedBy(col("d")).create()
    graft.sources.LakeMaintenance.compact(s, s"$lakeRoot/t40")
    s.table("graft_t40.lake.t40")
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t40Sql: String =
    s"""SELECT *, CAST(date_trunc('day', ts) AS DATE) AS d
       FROM ($twinSql) ORDER BY id"""

  /** t41 — the version CHANGE FEED under the differential
    * ([[graft.sources.LakeVersions.changes]] — the Delta-CDF/Iceberg
    * incremental-read role): the twin is CTAS'd (version 1), a shifted
    * batch is appended (version 2), and the query returns the v1→v2
    * change feed — which must be exactly the appended rows tagged
    * `'insert'` (an append adds files and removes none; the
    * rewrite/delete legs are spec-pinned by LakeVersionSpec's diff law:
    * snapshot(from) − deletes + inserts ≡ snapshot(to)).
    *
    * Scale shape: the diff is a driver-side set difference of two
    * recorded name lists; the read plans O(changed files) — incremental
    * consumers never rescan the table. */
  def t41VersionChanges(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t41")
    val t = twin(s)
    t.writeTo("graft_t41.lake.t41").create() // version 1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t41.lake.t41").append() // version 2
    graft.sources.LakeVersions.changes(s, s"$lakeRoot/t41", 1L, 2L)
      .select((t.schema.fieldNames.toIndexedSeq :+ "_change_type").map(col): _*)
      .orderBy(col("id"))
  }

  val t41Sql: String =
    s"""SELECT id + ${10L * TwinRows} AS id, ts, machine_id, is_anomaly,
         temperature, vibration, 'insert' AS _change_type
       FROM ($twinSql) WHERE id < 700 ORDER BY id"""

  /** t42 — COUNT(*) from commit-time metadata under the differential
    * (the version record's row counts + LakeSinkAggScan — the
    * footer-row-count role parquet gets for free and gzip JSON does
    * not have): the twin is CTAS'd DATE-partitioned (version 1), a
    * shifted batch appended (version 2, counts recorded), one partition
    * metadata-DELETEd (version 3, counts dropped with the retired
    * files), and the query answers a global count plus a
    * partition-filtered count — both completely pushed (LakeCountsSpec
    * pins `graft-lake-agg` in the plan and zero residual aggregation),
    * both hash-checked against DuckDB's full recount of the same
    * arithmetic. This is the "dashboard row-count without touching
    * S3" contract.
    *
    * Scale shape: the pushed count is O(#kept files) driver-side map
    * lookups — zero bytes decompressed, zero tasks launched; a table
    * with any unrecorded live file falls back to scanning, never a
    * guess. */
  def t42CountPushdown(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t42")
    val t = twin(s).withColumn("d", to_date(col("ts")))
    t.writeTo("graft_t42.lake.t42").partitionedBy(col("d")).create() // v1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t42.lake.t42").append() // v2
    s.sql("DELETE FROM graft_t42.lake.t42 WHERE d = CAST('2026-01-03' AS DATE)") // v3
    val lake = s.table("graft_t42.lake.t42")
    val all = lake.agg(count(lit(1)).as("n")).withColumn("scope", lit("all"))
    val day2 = lake.filter(col("d") === lit(java.sql.Date.valueOf("2026-01-02")))
      .agg(count(lit(1)).as("n")).withColumn("scope", lit("day2"))
    all.unionAll(day2).select(col("scope"), col("n")).orderBy(col("scope"))
  }

  val t42Sql: String =
    s"""WITH tw AS (SELECT id, ts FROM ($twinSql)),
       lk AS (SELECT id, ts FROM tw
              UNION ALL SELECT id + ${10L * TwinRows}, ts FROM tw WHERE id < 700),
       kept AS (SELECT * FROM lk
                WHERE CAST(date_trunc('day', ts) AS DATE) <> DATE '2026-01-03')
       SELECT 'all' AS scope, count(*) AS n FROM kept
       UNION ALL
       SELECT 'day2' AS scope, count(*) AS n FROM kept
       WHERE CAST(date_trunc('day', ts) AS DATE) = DATE '2026-01-02'
       ORDER BY scope"""

  /** t43 — per-file column STATISTICS under the differential
    * ([[graft.sources.LakeSinkStats]] — the parquet-footer/Iceberg-manifest
    * stats role for the gzip JSON lake): the twin is CTAS'd id-range-
    * clustered into 8 files; the query mixes (a) min/max aggregates that
    * answer COMPLETELY from the version record's per-file stats
    * (LakeStatsSpec pins `graft-lake-agg` + zero residual aggregation)
    * with (b) filtered aggregates whose scans SKIP the files whose
    * [lo, hi] provably cannot match (LakeStatsSpec pins the skip counts)
    * — every value hash-checked against DuckDB's full recount, proving
    * metadata answers and skipping change I/O, never semantics.
    *
    * Scale shape: min/max are O(#files) driver folds with zero bytes
    * read; the banded count opens only the band's files — on a
    * range-clustered 100 TB lake that is the difference between a point
    * lookup and a table scan. */
  def t43StatsMetrics(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t43")
    twin(s).repartitionByRange(8, col("id")).writeTo("graft_t43.lake.t43").create()
    val t = s.table("graft_t43.lake.t43")
    def one(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), col(df.columns(0)).cast("double").as("value"))
    one("cnt_band", t.filter(col("id").between(2500, 4499)).agg(count(lit(1))))
      .unionAll(one("max_id", t.agg(max(col("id")))))
      .unionAll(one("max_temp", t.agg(max(col("temperature")))))
      .unionAll(one("min_id", t.agg(min(col("id")))))
      .unionAll(one("min_temp", t.agg(min(col("temperature")))))
      .unionAll(one("min_vib_hi", t.filter(col("id") >= 8000).agg(min(col("vibration")))))
      .orderBy(col("metric"))
  }

  val t43Sql: String =
    s"""WITH tw AS ($twinSql)
       SELECT 'cnt_band' AS metric, CAST(count(*) AS DOUBLE) AS value
         FROM tw WHERE id BETWEEN 2500 AND 4499
       UNION ALL SELECT 'max_id', CAST(max(id) AS DOUBLE) FROM tw
       UNION ALL SELECT 'max_temp', max(temperature) FROM tw
       UNION ALL SELECT 'min_id', CAST(min(id) AS DOUBLE) FROM tw
       UNION ALL SELECT 'min_temp', min(temperature) FROM tw
       UNION ALL SELECT 'min_vib_hi', min(vibration) FROM tw WHERE id >= 8000
       ORDER BY metric"""

  /** t44 — Z-ORDER rewrite under the differential
    * ([[graft.sources.LakeMaintenance.zorder]] — the OPTIMIZE ZORDER BY
    * contract): the twin lands id-clustered (so a temperature/vibration
    * box filter can skip nothing), is z-order-rewritten on
    * (temperature, vibration) — the whole unpartitioned table is one
    * scope, its files replaced through the lake's rewrite commit
    * ([[graft.sources.LakeSinkFiles.commitRewrite]]) — and the query
    * returns every row of an axis-aligned box: hash-equal to DuckDB
    * evaluating the same box on the generator arithmetic, proving the
    * rewrite moved every row and invented none. LakeStatsSpec pins the
    * plan-side payoff (post-zorder box scans skip most files; rows
    * bit-identical; stats coverage kept).
    *
    * Scale shape: the rewrite is one full shuffle, amortized over every
    * subsequent selective read; the box read itself opens O(matching
    * z-range files). */
  def t44Zorder(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t44")
    twin(s).repartitionByRange(8, col("id")).writeTo("graft_t44.lake.t44").create()
    graft.sources.LakeMaintenance.zorder(s, s"$lakeRoot/t44",
      Seq("temperature", "vibration"), 8)
    s.table("graft_t44.lake.t44")
      .filter(col("temperature").between(66.0, 68.0) &&
        col("vibration").between(1.6, 1.9))
      .select(twin(s).schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t44Sql: String =
    s"""SELECT * FROM ($twinSql)
       WHERE temperature BETWEEN 66.0 AND 68.0
         AND vibration BETWEEN 1.6 AND 1.9
       ORDER BY id"""

  /** t45 — per-partition ROLLUP from metadata under the differential
    * (GROUP BY partition column + count/min/max completely pushed —
    * [[graft.sources.LakeSinkScanBuilder]]'s grouped metaRows): the twin
    * lands DATE-partitioned; `SELECT d, count(*), min(temperature),
    * max(temperature) GROUP BY d` answers one row per partition directory
    * by summing that directory's count-ledger rows and folding its stats
    * intervals — zero data files opened (LakeStatsSpec pins the plan:
    * `graft-lake-agg … groups=N`, no HashAggregate) — hash-checked
    * against DuckDB's full per-day recount. This is the reference's
    * daily-dashboard query (`docs/phase3-kinesis-s3.md` — per-day object
    * counts over the S3 lake) as pure metadata arithmetic.
    *
    * Scale shape: a group IS a set of whole files, so the rollup is
    * O(#files) driver work at any row scale — the Iceberg
    * manifest-aggregation contract. */
  def t45PartitionRollup(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t45")
    twin(s).withColumn("d", to_date(col("ts")))
      .writeTo("graft_t45.lake.t45").partitionedBy(col("d")).create()
    s.table("graft_t45.lake.t45").groupBy(col("d"))
      .agg(count(lit(1)).as("n"),
        min(col("temperature")).as("tmin"), max(col("temperature")).as("tmax"))
      .orderBy(col("d"))
  }

  val t45Sql: String =
    s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n,
         min(temperature) AS tmin, max(temperature) AS tmax
       FROM ($twinSql) GROUP BY 1 ORDER BY d"""

  /** t46 — SHOW PARTITIONS under the differential
    * ([[graft.sources.LakeSinkTable]]'s SupportsPartitionManagement — the
    * Hive/Iceberg partition-catalog DDL surface): the twin lands
    * DATE-partitioned, one partition is DROPPED via `ALTER TABLE … DROP
    * PARTITION` (metadata-only retire, a version transition —
    * LakeVersionSpec pins snapshot readability and partial-spec
    * listings), and the query returns the catalog's partition listing —
    * which must equal DuckDB recomputing the surviving distinct days from
    * the generator arithmetic.
    *
    * Scale shape: listing is a distinct over decoded directory names —
    * O(#files) driver work, zero data reads; the drop retires O(files in
    * partition) names. */
  def t46ShowPartitions(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t46")
    twin(s).withColumn("d", to_date(col("ts")))
      .writeTo("graft_t46.lake.t46").partitionedBy(col("d")).create()
    s.sql("ALTER TABLE graft_t46.lake.t46 DROP PARTITION (d = '2026-01-04')")
    s.sql("SHOW PARTITIONS graft_t46.lake.t46").orderBy(col("partition"))
  }

  val t46Sql: String =
    s"""SELECT DISTINCT 'd=' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
         AS partition
       FROM ($twinSql)
       WHERE CAST(date_trunc('day', ts) AS DATE) <> DATE '2026-01-04'
       ORDER BY partition"""

  /** t47 — DYNAMIC PARTITION OVERWRITE under the differential
    * ([[graft.sources.LakeSinkWriteBuilder]] SupportsDynamicOverwrite —
    * the Hive dynamic-overwrite / Delta replaceWhere tier): the twin
    * lands DATE-partitioned, then one day's rows are re-written through
    * `writeTo(...).overwritePartitions()` with shifted ids — the commit
    * retires exactly the touched day's files and promotes the
    * replacements (LakeVersionSpec pins that the untouched partitions'
    * files survive bit-identically and the pre-overwrite snapshot stays
    * readable). The read-back must hash-equal DuckDB composing
    * (all-but-day ∪ shifted-day) from the generator arithmetic — the
    * idempotent daily-backfill contract every partitioned lake needs.
    *
    * Scale shape: a backfill rewrites O(files of the touched partitions),
    * never the table; the commit is the ordinary O(#renames) protocol. */
  def t47DynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t47")
    val t = twin(s).withColumn("d", to_date(col("ts")))
    t.writeTo("graft_t47.lake.t47").partitionedBy(col("d")).create() // v1
    t.filter(col("d") === lit(java.sql.Date.valueOf("2026-01-02")))
      .withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t47.lake.t47").overwritePartitions() // v2: replaces ONLY d=2026-01-02
    s.table("graft_t47.lake.t47")
      .select((twin(s).schema.fieldNames.toIndexedSeq :+ "d").map(col): _*)
      .orderBy(col("id"))
  }

  val t47Sql: String =
    s"""WITH tw AS (SELECT *, CAST(date_trunc('day', ts) AS DATE) AS d FROM ($twinSql))
       SELECT * FROM tw WHERE d <> DATE '2026-01-02'
       UNION ALL
       SELECT id + ${10L * TwinRows} AS id, ts, machine_id, is_anomaly,
         temperature, vibration, d
       FROM tw WHERE d = DATE '2026-01-02'
       ORDER BY id"""

  /** t48 — the `.partitions` METADATA TABLE under the differential
    * ([[graft.sources.LakeMetadataTables]] — Iceberg's metadata-table
    * observability): the twin lands DATE-partitioned and
    * `SELECT partition, rows FROM graft_t48.lake.t48.partitions` must equal
    * DuckDB recomputing the per-day rollup from the generator arithmetic
    * — proving the counts ledger's per-directory sums against ground
    * truth (file counts are task-layout-dependent and stay spec-side;
    * partition names and row counts are deterministic).
    *
    * Scale shape: the listing is the same O(#files) driver metadata walk
    * the scan planner does; zero data files opened. */
  def t48MetaPartitions(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t48")
    twin(s).withColumn("d", to_date(col("ts")))
      .writeTo("graft_t48.lake.t48").partitionedBy(col("d")).create()
    s.sql("SELECT partition, rows FROM graft_t48.lake.t48.partitions")
      .orderBy(col("partition"))
  }

  val t48Sql: String =
    s"""SELECT 'd=' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
         AS partition,
       count(*) AS rows
       FROM ($twinSql) GROUP BY 1 ORDER BY partition"""

  /** t49 — NULL COUNTS in the stats ledger under the differential
    * ([[graft.sources.LakeSinkStats]] r10 extension: per-file per-column
    * null counts beside [lo, hi]): the twin gains a nullable derived
    * column (`v` = vibration, NULLed for id < 2500 when id ≡ 0 mod 3)
    * and lands id-range-clustered into 8 files; the query mixes
    * (a) `count(v)` answered COMPLETELY from metadata as
    * Σ per file (rows − nulls) — the counts ledger × the stats ledger —
    * with (b) an `IS NULL`-filtered count whose scan SKIPS every file
    * whose recorded null count is zero (ids ≥ 2500 cluster into files
    * with no nulls; LakeStatsSpec pins the skip), plus the min/max
    * metadata folds over the nullable column. Every value is
    * hash-checked against DuckDB's full recount — metadata answers and
    * null-driven skipping change I/O, never semantics.
    *
    * Scale shape: `count(col)` on a 100 TB lake is O(#files) driver
    * arithmetic (the Iceberg null_value_counts contract); an IS NULL
    * audit over a mostly-complete column opens only the files that
    * actually hold nulls. */
  def t49NullLedger(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t49")
    val _ = lakeRoot
    twin(s)
      .withColumn("v", when(col("id") < 2500 && col("id") % 3 === 0,
        lit(null).cast("double")).otherwise(col("vibration")))
      .repartitionByRange(8, col("id"))
      .writeTo("graft_t49.lake.t49").create()
    val t = s.table("graft_t49.lake.t49")
    def one(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), col(df.columns(0)).cast("double").as("value"))
    one("cnt_all", t.agg(count(lit(1))))
      .unionAll(one("cnt_null_band", t.filter(col("v").isNull && col("id") < 5000)
        .agg(count(lit(1)))))
      .unionAll(one("cnt_v", t.agg(count(col("v")))))
      .unionAll(one("max_v", t.agg(max(col("v")))))
      .unionAll(one("min_v", t.agg(min(col("v")))))
      .orderBy(col("metric"))
  }

  val t49Sql: String =
    s"""WITH tw AS (SELECT *,
         CASE WHEN id < 2500 AND id % 3 = 0 THEN NULL ELSE vibration END AS v
       FROM ($twinSql))
       SELECT 'cnt_all' AS metric, CAST(count(*) AS DOUBLE) AS value FROM tw
       UNION ALL SELECT 'cnt_null_band', CAST(count(*) AS DOUBLE)
         FROM tw WHERE v IS NULL AND id < 5000
       UNION ALL SELECT 'cnt_v', CAST(count(v) AS DOUBLE) FROM tw
       UNION ALL SELECT 'max_v', max(v) FROM tw
       UNION ALL SELECT 'min_v', min(v) FROM tw
       ORDER BY metric"""

  /** t50 — MERGE-ON-READ row-level DELETE under the differential
    * ([[graft.sources.LakeSinkDeltaDeleteOperation]] r10: positional
    * delete VECTORS, the Iceberg positional-delete / Delta
    * deletion-vector tier): the twin is CTAS'd id-range-clustered into 8
    * files, a non-partition DELETE (`id % 97 = 3` — rows in EVERY file)
    * runs as a delta write that records (file, position) pairs in the
    * vector ledger WITHOUT rewriting a single data file (LakeVersionSpec
    * pins same-files-same-bytes), and the read-back — the vector-filtered
    * scan — must hash-equal DuckDB evaluating the same predicate on the
    * generator arithmetic. The scan-side vector cursor is what's under
    * test: ~103 hidden rows scattered across all 8 files.
    *
    * Scale shape: the DELETE writes O(deleted) ledger bytes + one
    * version record (no write amplification); reads pay one sorted-
    * cursor check per scanned row of affected files until compaction
    * materializes. */
  def t50MorDelete(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t50")
    val _ = lakeRoot
    val t = twin(s)
    t.repartitionByRange(8, col("id")).writeTo("graft_t50.lake.t50").create() // v1
    s.sql("DELETE FROM graft_t50.lake.t50 WHERE id % 97 = 3") // v2: vectors only
    s.table("graft_t50.lake.t50")
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t50Sql: String =
    s"""SELECT * FROM ($twinSql) WHERE NOT (id % 97 = 3) ORDER BY id"""

  /** t51 — STREAMING UPSERT into a lake table (the canonical CDC
    * pattern: `foreachBatch` + SQL MERGE — Delta's streaming-upsert
    * recipe, run against THIS connector's row-level-operation tier): the
    * telemetry stream drains in 4 AvailableNow micro-batches, each batch
    * MERGEs on `key = id mod 4000` (consecutive 2500-row batches keep
    * source keys unique per MERGE, later epochs overwrite earlier ones),
    * so the final table is last-writer-wins per key — which the oracle
    * restates as the max-id row per key over the generator arithmetic.
    * Streaming admission, epoch ordering, catalog resolution inside
    * foreachBatch, and 4 sequential copy-on-write MERGE commits all sit
    * under one hash check.
    *
    * Scale shape: each MERGE rewrites only the group files its batch's
    * keys touch; the stream side is bounded per epoch by admission
    * control — the standard continuous-ingest upsert topology. */
  def t51StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t51")
    val _ = lakeRoot
    val t = twin(s)
    s.sql(s"CREATE TABLE graft_t51.lake.t51 (${t.schema.toDDL}, key BIGINT)")
    val q = s.readStream.format("graft.sources.TelemetrySource")
      .option("rows", TwinRows.toString).option("rowsPerBatch", "2500").load()
      .withColumn("key", col("id") % 4000)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.createOrReplaceTempView("graft_t51_src")
        batch.sparkSession.sql(
          """MERGE INTO graft_t51.lake.t51 t USING graft_t51_src s
             ON t.key = s.key
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_t51.lake.t51")
      .select((Seq("key") ++ t.schema.fieldNames).map(col): _*)
      .orderBy(col("key"))
  }

  val t51Sql: String =
    s"""WITH tw AS (SELECT *, id % 4000 AS key FROM ($twinSql)),
       m AS (SELECT key, max(id) AS id FROM tw GROUP BY key)
       SELECT t.key, t.id, t.ts, t.machine_id, t.is_anomaly,
         t.temperature, t.vibration
       FROM tw t JOIN m ON t.key = m.key AND t.id = m.id
       ORDER BY t.key"""

  /** t52 — METADATA-ANSWERED TIME TRAVEL under the differential
    * (every version record carries its files' counts, stats and delete
    * vectors — [[graft.sources.LakeSinkFiles.recordVersion]]): the twin
    * is CTAS'd DATE-partitioned
    * (version 1) and a shifted batch appended (version 2); the query
    * answers count/min/max against BOTH snapshots via `VERSION AS OF` —
    * each pushed completely to its OWN version's recorded facts
    * (LakeVersionSpec pins the `graft-lake-agg` plan, the frozen-history
    * law under a later merge-on-read DELETE, and the legacy-record scan
    * fallback) — hash-checked against DuckDB recomputing both states
    * from the generator arithmetic. Time-travel dashboards get the same
    * quarter-second metadata answers as live reads (the r10 probe
    * measured 1.8–4.4 s full scans here).
    *
    * Scale shape: a snapshot aggregate is O(#recorded files) driver
    * arithmetic over the version record itself — zero data files opened,
    * zero directory walking, at any row scale. */
  def t52SnapshotAgg(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t52")
    val _ = lakeRoot
    val t = twin(s).withColumn("d", to_date(col("ts")))
    t.writeTo("graft_t52.lake.t52").partitionedBy(col("d")).create() // v1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t52.lake.t52").append() // v2
    def snap(v: Int): DataFrame =
      s.sql(s"""SELECT 'v$v' AS scope, count(*) AS n, min(id) AS lo,
                max(id) AS hi, max(temperature) AS tmax
                FROM graft_t52.lake.t52 VERSION AS OF $v""")
    snap(1).unionAll(snap(2)).orderBy(col("scope"))
  }

  val t52Sql: String =
    s"""WITH tw AS (SELECT id, temperature FROM ($twinSql)),
       lk AS (SELECT * FROM tw
              UNION ALL SELECT id + ${10L * TwinRows}, temperature
              FROM tw WHERE id < 700)
       SELECT 'v1' AS scope, count(*) AS n, min(id) AS lo, max(id) AS hi,
         max(temperature) AS tmax
       FROM tw
       UNION ALL
       SELECT 'v2', count(*), min(id), max(id), max(temperature) FROM lk
       ORDER BY scope"""

  /** Run `body` with session confs pinned, restoring them afterwards —
    * `body` must materialize (e.g. by an eager checkpoint) whatever plans
    * under the pins, since restoring must not replan it. Captures the
    * EXPLICIT setting only: `getOption` surfaces a conf's REGISTERED
    * DEFAULT (true for `v2.bucketing.enabled` on this engine), so a naive
    * getOption→restore would re-write the default as an explicit value
    * and permanently flip every later scan in the session (measured as a
    * cross-suite DPP failure); a conf unset before the call is unset
    * again. */
  private def withConfs[T](s: SparkSession, pins: (String, String)*)(body: => T): T = {
    val prev = pins.map { case (k, _) =>
      k -> (if (org.apache.spark.sql.internal.SQLConf.get.contains(k))
        Some(s.conf.get(k)) else None)
    }
    try {
      pins.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** t53 — BUCKET-TRANSFORM partitioning + storage-partitioned join under
    * the differential (r11: [[graft.sources.LakePart]] hidden
    * `bucket(n, col)` partitioning — the Iceberg bucket transform):
    * customer and orders land in lake tables BUCKETED 8 ways on the
    * customer key (`c_custkey_bucket=<id>/` dirs; the source column stays
    * in the rows), and the query joins them ON THE SOURCE KEY under
    * `v2.bucketing.enabled` — the scan reports
    * `KeyGroupedPartitioning(bucket(8, c_custkey))`, both sides resolve
    * the SAME catalog bucket function, and the join runs with zero
    * shuffle exchanges (GraftCatalogSpec pins the exchange-free plan and
    * the shuffled-plan row equality). The HASH is layout-only: the
    * output must equal DuckDB's plain join of the parquet sources —
    * partition-layout-invariance is the correctness claim.
    *
    * Scale shape: this is what SPJ exists for at 100 TB — identity dirs
    * cannot serve a high-cardinality join key (one dir per value); the
    * bucket transform gives co-located, shuffle-free fact-dim joins at a
    * fixed directory fan-out. */
  def t53BucketJoin(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t53")
    val _ = lakeRoot
    Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      .writeTo("graft_t53.lake.cust")
      .partitionedBy(bucket(8, col("c_custkey"))).create()
    Tables.orders(s, dir)
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
      .writeTo("graft_t53.lake.ord")
      .partitionedBy(bucket(8, col("c_custkey"))).create()
    // SPJ mode vetoes runtime filtering, so the pin must not outlive the query
    withConfs(s, "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      s.table("graft_t53.lake.cust")
        .join(s.table("graft_t53.lake.ord"), Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_ok"))
        .orderBy(col("c_mktsegment"))
        // the SPJ plan materializes under the pinned conf; restoring the
        // session conf afterwards must not replan it
        .localCheckpoint(true)
    }
  }

  val t53Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(o_orderkey) AS BIGINT) AS sum_ok
       FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** t54 — SCHEMA EVOLUTION (RENAME/DROP COLUMN) under the differential
    * (r11: [[graft.sources.GraftCatalog.alterTable]] metadata-only
    * evolution — renames recorded as name-history ALIASES, drops as an
    * ignored-fields set, zero file rewrites): documents land in a lake
    * table under the ORIGINAL column names (half the corpus), the `lang`
    * column is RENAMED to `language` and `source` DROPPED via ALTER
    * TABLE, the other half is appended under the NEW name — and the
    * read-back must hash-equal DuckDB's plain restatement: pre-rename
    * files serve their `lang` bytes AS `language` through the alias map,
    * dropped bytes stay invisible, both file generations under one
    * logical schema. GraftCatalogSpec pins the time-travel side
    * (pre-evolution snapshots keep pre-evolution names) and the
    * name-reuse refusal.
    *
    * Scale shape: a rename/drop on a 100 TB lake is one manifest write +
    * one version record — the Iceberg metadata-only evolution contract;
    * readers pay a per-file constant alias lookup, never a rewrite. */
  def t54SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t54")
    val _ = lakeRoot
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    d.filter(col("doc_id") % 2 === 0)
      .writeTo("graft_t54.lake.t54").create() // v1: old names
    s.sql("ALTER TABLE graft_t54.lake.t54 RENAME COLUMN lang TO language") // v2
    s.sql("ALTER TABLE graft_t54.lake.t54 DROP COLUMN source") // v3
    d.filter(col("doc_id") % 2 === 1)
      .withColumnRenamed("lang", "language").drop("source")
      .writeTo("graft_t54.lake.t54").append() // v4: new names
    s.table("graft_t54.lake.t54").orderBy(col("doc_id"))
  }

  val t54Sql: String =
    """SELECT doc_id, lang AS language, n_chars
       FROM documents ORDER BY doc_id"""

  /** t55 — STREAMING change-data feed under the differential
    * (r11: [[graft.sources.LakeCdfMicroBatchStream]] — the Delta
    * `readChangeFeed` streaming contract: offsets are VERSION IDS, each
    * micro-batch replays [[graft.sources.LakeVersions.changes]]' legs for
    * its version range, rows tagged `_change_type`/`_commit_version`):
    * the twin is CTAS'd (v1), a shifted batch appended (v2), and every
    * `id ≡ 0 (mod 97)` row deleted merge-on-read (v3 — vectors only, so
    * the delete legs are exactly the deleted ROWS, layout-invariant);
    * the whole history is then drained through `readStream` with
    * `maxFilesPerTrigger=1` (several micro-batches, versions admitted
    * whole) into a memory sink. The drained feed must hash-equal
    * DuckDB's restatement: every live row as an `'insert'` at its
    * arrival version, every deleted row again as a `'delete'` at v3.
    * LakeCdfSpec pins the kill/restart exactly-once contract and the
    * d58 streaming-twin equivalence.
    *
    * Scale shape: an offset is ONE integer (vs the file-set stream's
    * name list); batch planning diffs recorded manifests driver-side —
    * O(changed files) read per batch, never a table rescan. The version
    * log IS the ingestion queue. */
  def t55StreamCdf(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t55")
    val ckpt = TempLakes.dir("graft_t55_ckpt")
    val t = twin(s)
    t.writeTo("graft_t55.lake.t55").create() // v1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t55.lake.t55").append() // v2
    s.sql("DELETE FROM graft_t55.lake.t55 WHERE id % 97 = 0") // v3: mor vectors
    val mem = "graft_t55_" + java.util.UUID.randomUUID.toString.take(8)
    val q = s.readStream.format(classOf[graft.sources.LakeSink].getName)
      .option("readChangeFeed", "true")
      .option("maxFilesPerTrigger", "1") // one version per micro-batch
      .load(s"$lakeRoot/t55")
      .writeStream.format("memory").queryName(mem)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = s.table(mem)
      .select((t.schema.fieldNames.toIndexedSeq ++
        Seq("_change_type", "_commit_version")).map(col): _*)
      .orderBy(col("id"), col("_change_type"))
      .localCheckpoint(true)
    s.catalog.dropTempView(mem)
    out
  }

  val t55Sql: String =
    s"""WITH tw AS MATERIALIZED ($twinSql),
       lk AS (SELECT *, CAST(1 AS BIGINT) AS v FROM tw
              UNION ALL
              SELECT id + ${10L * TwinRows}, ts, machine_id, is_anomaly,
                temperature, vibration, CAST(2 AS BIGINT) FROM tw
              WHERE id < 700)
       SELECT id, ts, machine_id, is_anomaly, temperature, vibration,
         'insert' AS _change_type, v AS _commit_version FROM lk
       UNION ALL
       SELECT id, ts, machine_id, is_anomaly, temperature, vibration,
         'delete' AS _change_type, CAST(3 AS BIGINT) AS _commit_version
       FROM lk WHERE id % 97 = 0
       ORDER BY id, _change_type"""

  /** t56 — TYPE-WIDENING schema evolution under the differential
    * (r11: `ALTER COLUMN … TYPE` in [[graft.sources.GraftCatalog]]
    * `alterTable` — the Iceberg promotion set, int→bigint/float→double,
    * METADATA-ONLY): half the documents land with an INT key (v1), the
    * column is widened to BIGINT (v2), and the other half is appended
    * with keys shifted past 2³¹ (v3) — values an int column cannot hold,
    * so the widening is load-bearing, not cosmetic. The read-back must
    * hash-equal DuckDB's plain BIGINT restatement: pre-widening files
    * re-parse their int text into the wider type exactly (the JSON wire
    * format is typeless decimal text — the reason this evolution needs
    * zero rewrites), both file generations under one logical schema.
    * GraftCatalogSpec pins the rest: files byte-identical across the
    * DDL, min/max stats pushdown folding int-recorded and long-recorded
    * bounds together, pre-widening snapshots keeping the narrow type,
    * and the non-widening refusal.
    *
    * Scale shape: a widening on a 100 TB lake is one manifest write +
    * one version record; readers pay nothing (the text parse was
    * type-dispatched already). */
  def t56TypeWidening(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t56")
    val _ = lakeRoot
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    d.filter(col("doc_id") % 2 === 0)
      .withColumn("k", col("doc_id").cast("int"))
      .select(col("k"), col("lang"), col("n_chars"))
      .writeTo("graft_t56.lake.t56").create() // v1: k is INT
    s.sql("ALTER TABLE graft_t56.lake.t56 ALTER COLUMN k TYPE BIGINT") // v2
    d.filter(col("doc_id") % 2 === 1)
      .withColumn("k", col("doc_id") + lit(5000000000L)) // > Int.MaxValue
      .select(col("k"), col("lang"), col("n_chars"))
      .writeTo("graft_t56.lake.t56").append() // v3: k is BIGINT
    s.table("graft_t56.lake.t56").orderBy(col("k"))
  }

  val t56Sql: String =
    """SELECT CAST(doc_id AS BIGINT) AS k, lang, n_chars FROM documents
       WHERE doc_id % 2 = 0
       UNION ALL
       SELECT doc_id + 5000000000, lang, n_chars FROM documents
       WHERE doc_id % 2 = 1
       ORDER BY k"""

  /** t57 — CDC TABLE REPLICATION end-to-end (r11: the Delta "replicate a
    * table via its change feed" recipe, closing the loop t51 (CDC write)
    * + t55 (CDC read) bracket): a SOURCE lake table accumulates real DML
    * history — CTAS (v1), append (v2), merge-on-read DELETE (v3, vector
    * legs), copy-on-write UPDATE (v4, whole-file delete+insert legs with
    * carried rows) — and a streaming CDF reader replays it into a
    * REPLICA via `foreachBatch`: per version IN ORDER, delete legs MERGE
    * … WHEN MATCHED THEN DELETE on the key, insert legs append (a cow
    * rewrite's carried rows delete-then-reinsert, converging exactly).
    * The replica must hash-equal DuckDB's restatement of the FINAL
    * source state — proving inserts, row-level deletes, and rewrites all
    * replicate through the feed. Versions admit whole (never split
    * across batches), so per-batch version ordering is total.
    *
    * Scale shape: the replica consumes O(changed files) per version and
    * each MERGE rewrites only the group files its keys touch — continuous
    * replication cost tracks the CHANGE RATE, not table size. */
  def t57CdcReplicate(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t57")
    val ckpt = TempLakes.dir("graft_t57_ckpt")
    // r15 perf (guide §6 small files): twin() inherits range()'s default
    // parallelism, so each commit sprayed ~32 ten-KB files — every lake
    // scan paid ~70 tiny-file tasks and the CDF replay admitted ~9
    // micro-batches of pure per-file overhead. The fixture is fixed-size
    // (TwinRows rows), so a constant 4-file layout (~2500 rows/file) is
    // honest file sizing, not a core-count tune; rows, versions and the
    // replica hash are unchanged (multi-batch whole-version admission
    // still exercised: >8 changed files across the commits ⇒ ≥2 batches,
    // and LakeCdfSpec pins the admission law independently).
    val t = twin(s).repartition(4, col("id"))
    t.writeTo("graft_t57.lake.src").create() // v1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t57.lake.src").append() // v2
    s.sql("DELETE FROM graft_t57.lake.src WHERE id % 89 = 0") // v3: mor vectors
    s.sql("""UPDATE graft_t57.lake.src
             SET temperature = temperature + 1.0 WHERE id % 13 = 0""") // v4: cow
    t.limit(0).writeTo("graft_t57.lake.rep").create() // empty replica
    val q = s.readStream.format(classOf[graft.sources.LakeSink].getName)
      .option("readChangeFeed", "true")
      .option("maxFilesPerTrigger", "8") // several batches; versions whole
      .load(s"$lakeRoot/src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        // one pinned evaluation: the per-version filters below would
        // otherwise replay the CDF scan once per action
        val b = batch.localCheckpoint(true)
        val versions = b.select(col("_commit_version")).distinct()
          .collect().map(_.getLong(0)).sorted
        versions.foreach { v =>
          val dels = b.filter(col("_commit_version") === v &&
            col("_change_type") === "delete").select(col("id"))
          if (!dels.isEmpty) {
            dels.createOrReplaceTempView("graft_t57_dels")
            ss.sql("""MERGE INTO graft_t57.lake.rep r USING graft_t57_dels d
                      ON r.id = d.id WHEN MATCHED THEN DELETE""")
          }
          val ins = b.filter(col("_commit_version") === v &&
            col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          if (!ins.isEmpty) ins.writeTo("graft_t57.lake.rep").append()
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_t57.lake.rep")
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t57Sql: String =
    s"""WITH tw AS MATERIALIZED ($twinSql),
       lk AS (SELECT * FROM tw
              UNION ALL
              SELECT id + ${10L * TwinRows}, ts, machine_id, is_anomaly,
                temperature, vibration FROM tw WHERE id < 700),
       kept AS (SELECT * FROM lk WHERE id % 89 <> 0)
       SELECT id, ts, machine_id, is_anomaly,
         CASE WHEN id % 13 = 0 THEN temperature + 1.0 ELSE temperature END
           AS temperature,
         vibration
       FROM kept ORDER BY id"""

  /** t58 — sorted storage-partitioned join under the differential (r11:
    * [[graft.sources.LakeSinkScan]]'s `SupportsReportOrdering` over the
    * version record's sort claims): customer and orders land BUCKETED 8
    * ways on the customer key AND `sortBy`-sorted on it (the clustered
    * write leaves ONE internally-sorted file per bucket dir), so under
    * `v2.bucketing.enabled` the merge join on the source key plans with
    * ZERO exchanges and ZERO sorts — the fully co-located layout a
    * 100 TB fact-fact join wants (Iceberg's write-ordered tables;
    * GraftCatalogSpec pins the exchange-free sort-free plan and the
    * unsorted-append invalidation). The HASH is layout-invariant: the
    * result must equal DuckDB's plain join of the parquet sources.
    *
    * Scale shape: the join cost is one streaming merge pass per bucket
    * pair — no shuffle bytes, no sort memory; the ledger claim is sound
    * by construction (only `sortBy` batch commits record entries, so
    * compaction/streaming/DML files never carry a false claim). */
  def t58SortedSpj(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t58")
    val _ = lakeRoot
    Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      .writeTo("graft_t58.lake.cust")
      .partitionedBy(bucket(8, col("c_custkey")))
      .option("sortBy", "c_custkey").create()
    Tables.orders(s, dir)
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      .writeTo("graft_t58.lake.ord")
      .partitionedBy(bucket(8, col("c_custkey")))
      .option("sortBy", "c_custkey").create()
    withConfs(s, "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      s.table("graft_t58.lake.cust")
        .join(s.table("graft_t58.lake.ord"), Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          graft.operators.Num.rsum(col("o_totalprice"), 4).as("revenue"))
        .orderBy(col("c_mktsegment"))
        .localCheckpoint(true) // materialize under the pinned conf (t53)
    }
  }

  val t58Sql: String =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
         ${graft.operators.Num.rsumSql("o_totalprice", 4)} AS revenue
       FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** t59 — RESTORE TABLE under the differential (r11:
    * [[graft.sources.LakeMaintenance.restore]] — the Delta RESTORE
    * contract: roll the live table back to a recorded version AS A NEW
    * COMMIT): the twin is CTAS'd (v1), a decoy batch appended (v2),
    * every id ≡ 0 (mod 97) row merge-on-read DELETEd (v3), and the
    * table RESTORED to version 1 (v4) — the read-back must equal t04's
    * generator oracle exactly: the appended files retired, the retired
    * nothing returned (v1's files never left), and v3's delete vectors
    * UNDONE (the live delete ledger reset to v1's empty state — the
    * subtle leg: a restore that kept post-target vectors would silently
    * hide rows v1 owns). LakeVersionSpec pins the rest: history moves
    * forward, rolled-over snapshots stay readable, roll-FORWARD works,
    * metadata pushdown answers for the restored state, vacuum makes a
    * version non-restorable loudly.
    *
    * Scale shape: O(changed files) renames + one version record —
    * the accidental-damage undo button at any scale. */
  def t59Restore(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t59")
    val t = twin(s)
    t.writeTo("graft_t59.lake.t59").create() // v1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t59.lake.t59").append() // v2
    s.sql("DELETE FROM graft_t59.lake.t59 WHERE id % 97 = 0") // v3: mor vectors
    graft.sources.LakeMaintenance.restore(s"$lakeRoot/t59", 1L) // v4
    s.table("graft_t59.lake.t59")
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  val t59Sql: String = t04Sql

  /** t60 — TEMPORAL hidden partitioning under the differential (r12:
    * [[graft.sources.LakePart]] `days(ts)`/`hours`/`months`/`years`
    * transforms — the Iceberg hidden-partitioning contract the
    * reference's own sink approximates with time-bucketed S3 prefixes,
    * `phase3-kinesis-s3.yaml:84-85`): events land in a lake table
    * `PARTITIONED BY (days(ts))` (UTC `ts_day=YYYY-MM-DD` dirs; ts
    * itself stays a data column), and the query filters a PLAIN ts range
    * — no materialized date column — then aggregates per day. The scan
    * prunes to exactly the matching day dirs at planning (GraftCatalog-
    * Spec pins skippedFiles and the zero-exchange day-key SPJ; Property-
    * Spec pins the key/dir/interval laws). The HASH is layout-invariant:
    * the result must equal DuckDB's restatement over the raw parquet.
    *
    * Scale shape: time-series telemetry at 100 TB partitions by day —
    * a dashboard's `ts BETWEEN` opens O(days asked), not O(table), with
    * zero user-visible partitioning columns. */
  def t60TemporalPartition(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t60")
    val _ = lakeRoot
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .writeTo("graft_t60.lake.ev")
      .partitionedBy(org.apache.spark.sql.functions.days(col("ts"))).create()
    s.table("graft_t60.lake.ev")
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .select(col("ts").cast("long").as("es"), col("user_id"), col("value"))
      .select(expr("es div 86400").as("day_idx"), col("user_id"), col("value"))
      .groupBy(col("day_idx"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Num.rsum(col("value"), 6).as("sum_v"))
      .orderBy(col("day_idx"))
  }

  val t60Sql: String =
    s"""SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day_idx,
         count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         ${Num.rsumSql("value", 6)} AS sum_v
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
         AND ts < TIMESTAMP '2024-01-15 00:00:00'
       GROUP BY 1 ORDER BY day_idx"""

  /** t61 — WRITE-TIME CHECK CONSTRAINTS under the differential (r12:
    * [[graft.sources.LakeSinkTable.constraints]] — the Delta
    * invariants/constraints role through Spark's native V2 constraint
    * API): the twin's table is created WITH a CHECK constraint, a second
    * is ADDed post-hoc (validating every existing row), a VIOLATING
    * insert is then attempted and MUST abort with zero table mutation
    * (the staged-commit sweep — asserted inside the query), and the
    * read-back must still equal t04's generator oracle exactly.
    * GraftCatalogSpec pins the rest: NULL passes (SQL CHECK semantics),
    * DROP lifts enforcement, ADD over violating data refuses, renames of
    * constrained columns refuse.
    *
    * Scale shape: enforcement rides the write tasks (the engine injects
    * the predicate into the write plan), so a bad upstream batch fails
    * BEFORE commit at any scale — no RESTORE needed to undo it. */
  def t61CheckConstraint(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t61")
    val _ = lakeRoot
    s.sql(
      """CREATE TABLE graft_t61.lake.t61
         (id BIGINT, ts TIMESTAMP, machine_id STRING, is_anomaly INT,
          temperature DOUBLE, vibration DOUBLE,
          CONSTRAINT trange CHECK (temperature BETWEEN -100 AND 300))
         USING graft""")
    twin(s).writeTo("graft_t61.lake.t61").append()
    // post-hoc ADD validates the 10k existing rows before accepting
    s.sql("ALTER TABLE graft_t61.lake.t61 ADD CONSTRAINT vnn CHECK (vibration >= 0)")
    // a violating batch must abort with ZERO mutation — half the batch
    // being valid must not matter (all-or-nothing task/job abort)
    val violated =
      try {
        s.sql(
          """INSERT INTO graft_t61.lake.t61 VALUES
             (90001, timestamp'2026-01-01 00:00:00', 'NC_Machine_AC', 0, 20.0, 1.0),
             (90002, timestamp'2026-01-01 00:01:00', 'NC_Machine_AC', 0, 999.0, 1.0)""")
        false
      } catch {
        case t: Throwable =>
          // ANY failure would green this require while enforcement is
          // broken (nothing lands either way) — only a rejection whose
          // root message NAMES the violated constraint counts as proof
          val rootMsg = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
          require(rootMsg.contains("trange") || rootMsg.contains("CHECK"),
            s"t61: insert failed for a NON-constraint reason: ${rootMsg.take(300)}")
          true
      }
    require(violated, "t61: a violating insert must fail")
    s.table("graft_t61.lake.t61")
      .select(col("id"), col("ts"), col("machine_id"), col("is_anomaly"),
        col("temperature"), col("vibration"))
      .orderBy(col("id"))
  }

  val t61Sql: String = t04Sql

  /** t62 — PER-FILE BLOOM FILTERS under the differential (r12:
    * [[graft.sources.LakeSinkStats]]'s opt-in `bloomFilterColumns` — the
    * parquet column-index / Delta bloomFilter role): documents land
    * UNCLUSTERED across 8 files (every file's [lo, hi] straddles every
    * needle — bounds can never skip), each file carrying a Bloom filter
    * on `doc_id`, and the query is a point lookup `doc_id IN (…)`. The
    * filters ride the stats ledger (all commit hooks, snapshots,
    * compaction folds); LakeStatsSpec pins the skip counts (needle opens
    * 1 file of 4, control opens all) and PropertySpec pins the soundness
    * law (a skipped file provably lacks the needle — no false
    * negatives). The HASH is layout-invariant: the lookup must equal
    * DuckDB's plain restatement.
    *
    * Scale shape: a needle lookup on an unclustered high-cardinality key
    * opens O(matching files) instead of O(table) — the metadata is
    * O(#files) bits, the standard point-lookup answer at 100 TB. */
  def t62BloomLookup(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t62")
    val _ = lakeRoot
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartition(8, col("doc_id"))
      .writeTo("graft_t62.lake.docs")
      .option("bloomFilterColumns", "doc_id")
      .create()
    s.table("graft_t62.lake.docs")
      .filter(col("doc_id").isin(3L, 17L, 41L))
      .orderBy(col("doc_id"))
  }

  val t62Sql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
       WHERE doc_id IN (3, 17, 41) ORDER BY doc_id"""

  /** t63 — `mergeSchema` AUTO-EVOLUTION under the differential (r12:
    * [[graft.sources.LakeSinkFiles.reconcileManifest]] — the Delta
    * `mergeSchema` write option): the twin's first half lands WITHOUT
    * the vibration column, the second half appends WITH it under
    * `.option("mergeSchema", "true")` — the append auto-ADD-COLUMNs
    * through the same evolution state ALTER TABLE maintains (nullable;
    * pre-evolution files null-fill on read; rename-alias/dropped name
    * reuse still refused; a superset append WITHOUT the option still
    * refuses — LakeSinkSpec pins both). The read-back must hash-equal
    * DuckDB's restatement with vibration NULL on the first half.
    *
    * Scale shape: schema drift in a landing zone is one manifest write
    * per evolving commit — no rewrite, no manual DDL race between
    * producers and the pipeline. */
  def t63MergeSchema(s: SparkSession, dir: String): DataFrame = {
    val out = TempLakes.dir("graft_t63_lake")
    val t = twin(s)
    val half = TwinRows / 2
    t.filter(col("id") < half)
      .select(col("id"), col("ts"), col("machine_id"), col("temperature"))
      .write.format("graft.sources.LakeSink").mode("append").save(out)
    t.filter(col("id") >= half)
      .select(col("id"), col("ts"), col("machine_id"), col("temperature"),
        col("vibration"))
      .write.format("graft.sources.LakeSink").mode("append")
      .option("mergeSchema", "true").save(out)
    s.read.format("graft.sources.LakeSink").load(out).orderBy(col("id"))
  }

  val t63Sql: String =
    s"""SELECT id, ts, machine_id, temperature,
         CASE WHEN id >= ${TwinRows / 2} THEN vibration END AS vibration
       FROM ($twinSql) ORDER BY id"""

  /** t64 — PARTITION-SPEC EVOLUTION under the differential (r12:
    * [[graft.sources.LakeMaintenance.evolvePartitionSpec]] — the Iceberg
    * REPLACE PARTITION FIELD contract, hidden transforms only): half the
    * events land day-partitioned, the spec evolves `days(ts)` →
    * `hours(ts)` (pure metadata, a version transition), the other half
    * appends under the HOURLY layout — and t60's exact filtered
    * aggregate must hash-equal the same DuckDB restatement over the raw
    * parquet: the mixed-generation layout is invisible to results, and
    * the plain-ts pruning works against BOTH generations' dirs
    * (LakeVersionSpec pins the skippedFiles counts, the pre-evolution
    * snapshot spec, SHOW PARTITIONS on the active spec, SPJ stand-down,
    * and the identity refusal).
    *
    * Scale shape: re-partitioning a 100 TB table is ONE manifest write —
    * old files readable in place, new files under the new layout;
    * the first thing a daily table needs when it outgrows daily dirs. */
  def t64PartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t64")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    ev.filter(col("event_id") % 2 === 0)
      .writeTo("graft_t64.lake.ev")
      .partitionedBy(org.apache.spark.sql.functions.days(col("ts"))).create()
    graft.sources.LakeMaintenance.evolvePartitionSpec(s"$lakeRoot/ev",
      Seq("hours(ts)"))
    ev.filter(col("event_id") % 2 === 1)
      .writeTo("graft_t64.lake.ev").append()
    s.table("graft_t64.lake.ev")
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .select(col("ts").cast("long").as("es"), col("user_id"), col("value"))
      .select(expr("es div 86400").as("day_idx"), col("user_id"), col("value"))
      .groupBy(col("day_idx"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Num.rsum(col("value"), 6).as("sum_v"))
      .orderBy(col("day_idx"))
  }

  /** Identical text to [[t60Sql]]: the mixed-spec layout must be
    * result-invisible. */
  val t64Sql: String = t60Sql

  /** t65 — STREAMING writes into a TEMPORAL-partitioned lake table (r12:
    * the days(ts) transform under the exactly-once streaming sink — the
    * reference's Firehose time-bucketed-prefix topology,
    * `phase3-kinesis-s3.yaml:84-85`, with real transactional semantics):
    * the telemetry stream lands in `PARTITIONED BY (days(ts))` across
    * four AvailableNow micro-batches — every epoch's writer derives UTC
    * day dirs from the rows' OWN timestamps (shared LakePart arithmetic)
    * under the deterministic-name + commit-marker exactly-once protocol
    * — and the read-back must equal t04's generator oracle. The query
    * itself asserts the hidden day layout exists.
    *
    * Scale shape: this is the reference lake's real shape at 100 TB —
    * telemetry streaming into day dirs continuously, day-scoped reads
    * opening O(asked days), compaction per day dir. */
  def t65StreamTemporal(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t65")
    val ckpt = TempLakes.dir("graft_t65_ckpt")
    s.sql(s"CREATE TABLE graft_t65.lake.t65 (${twin(s).schema.toDDL}) " +
      "PARTITIONED BY (days(ts))")
    val q = s.readStream.format("graft.sources.TelemetrySource")
      .option("rows", TwinRows.toString).option("rowsPerBatch", "2500").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft_t65.lake.t65")
    q.awaitTermination()
    // the hidden layout really is day directories
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(s"$lakeRoot/t65"))
    val dayDirs =
      try {
        val it = ls.iterator()
        var n = 0
        while (it.hasNext) {
          if (it.next().getFileName.toString.startsWith("ts_day=")) n += 1
        }
        n
      } finally ls.close()
    require(dayDirs >= 2, s"t65: expected day dirs, found $dayDirs")
    s.table("graft_t65.lake.t65").orderBy(col("id"))
  }

  val t65Sql: String = t04Sql

  /** t66 — INCREMENTAL VIEW MAINTENANCE over the change feed (r12 — the
    * Delta Live Tables / materialized-view role): a per-(day, anomaly)
    * aggregate is maintained from the v1 SNAPSHOT plus the SIGNED CDF
    * legs of every later commit — insert legs add, delete legs subtract
    * — WITHOUT ever rescanning the live table. count and the decimal
    * temperature sum form an abelian group, so the signed fold is
    * EXACTLY the aggregate of the final state (the diff law
    * `snapshot(1) − deletes + inserts ≡ snapshot(last)` lifted through
    * the aggregation); the mutation script is t57's (append + mor
    * DELETE + cow UPDATE), and the oracle is the DIRECT restatement of
    * the final table — the IVM result must hash-equal a recompute.
    *
    * Scale shape: refreshing a 100 TB table's dashboard aggregate costs
    * O(changed files) per refresh, never a table scan — the standard
    * incremental-materialization argument, here with exact decimal
    * arithmetic instead of approximate re-aggregation. */
  def t66IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t66")
    val t = twin(s)
    t.writeTo("graft_t66.lake.t66").create() // v1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t66.lake.t66").append() // v2
    s.sql("DELETE FROM graft_t66.lake.t66 WHERE id % 89 = 0") // v3: mor vectors
    s.sql("""UPDATE graft_t66.lake.t66
             SET temperature = temperature + 1.0 WHERE id % 13 = 0""") // v4: cow
    val path = s"$lakeRoot/t66"
    val last = graft.sources.LakeSinkFiles.listVersions(path).last
    val base = s.sql("SELECT * FROM graft_t66.lake.t66 VERSION AS OF 1")
      .withColumn("sgn", lit(1L))
    val deltas = graft.sources.LakeVersions.changes(s, path, 1, last)
      .withColumn("sgn",
        when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
      .drop("_change_type")
    base.unionByName(deltas)
      .select(col("ts").cast("long").as("es"), col("is_anomaly"),
        col("temperature"), col("sgn"))
      .select(expr("es div 86400").as("day_idx"), col("is_anomaly"),
        col("temperature"), col("sgn"))
      .groupBy(col("day_idx"), col("is_anomaly"))
      .agg(sum(col("sgn")).as("n_rows"),
        Num.r(sum((col("temperature") * col("sgn")).cast("decimal(38,10)"))
          .cast("double"), 6).as("sum_temp"))
      .orderBy(col("day_idx"), col("is_anomaly"))
  }

  /** The oracle recomputes the FINAL state directly — the IVM fold must
    * agree with a full recompute bit-for-bit. */
  val t66Sql: String =
    s"""WITH tw AS MATERIALIZED ($twinSql),
       lk AS (SELECT * FROM tw
              UNION ALL
              SELECT id + ${10L * TwinRows}, ts, machine_id, is_anomaly,
                temperature, vibration FROM tw WHERE id < 700),
       kept AS (SELECT * FROM lk WHERE id % 89 <> 0),
       fin AS (SELECT ts, is_anomaly,
         CASE WHEN id % 13 = 0 THEN temperature + 1.0 ELSE temperature END
           AS temperature
       FROM kept)
       SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day_idx,
         is_anomaly, CAST(count(*) AS BIGINT) AS n_rows,
         ${Num.rsumSql("temperature", 6)} AS sum_temp
       FROM fin GROUP BY 1, 2 ORDER BY day_idx, is_anomaly"""

  /** t67 — BATCH change-feed reads (r12: `spark.read` +
    * `readChangeFeed`/`startingVersion`/`endingVersion` — the Delta
    * batch-CDF option parity; [[graft.sources.LakeCdfScan]] now serves
    * the SAME leg planner both ways): t55's mutation script (append +
    * mor DELETE), then ONE batch read plans the whole `(0, latest]`
    * range at once — and must hash-equal t55's per-micro-batch drained
    * stream restatement exactly (same legs, same tags; LakeCdfSpec pins
    * endingVersion sub-ranges ≡ per-version batch changes and the
    * vacuum-gap refusal on the batch path too).
    *
    * Scale shape: an incremental backfill over N commits is one batch
    * job planning O(changed files) legs driver-side — no checkpoint
    * machinery needed when the consumer is a one-shot job. */
  def t67BatchCdf(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t67")
    val t = twin(s)
    t.writeTo("graft_t67.lake.t67").create() // v1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t67.lake.t67").append() // v2
    s.sql("DELETE FROM graft_t67.lake.t67 WHERE id % 97 = 0") // v3: mor vectors
    def read(opts: (String, String)*): DataFrame = {
      var r = s.read.format(classOf[graft.sources.LakeSink].getName)
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(s"$lakeRoot/t67")
        .select((t.schema.fieldNames.toIndexedSeq ++
          Seq("_change_type", "_commit_version")).map(col): _*)
        .orderBy(col("id"), col("_change_type"))
    }
    // r13: the TIMESTAMP range forms bracket the same commits — the
    // [v1 instant, v3 instant] window must plan the identical leg set
    // (LakeCdfSpec pins sub-windows, the before-all-history empty range,
    // the both-forms refusal, and the ending-options-on-a-stream refusal)
    def at(v: Long): Long = java.nio.file.Files.getLastModifiedTime(
      graft.sources.LakeSinkFiles.versionsDir(s"$lakeRoot/t67")
        .resolve(graft.sources.LakeSinkFiles.versionName(v))).toMillis
    val byVersion = read("startingVersion" -> "1")
    val byTimestamp = read("startingTimestamp" -> at(1L).toString,
      "endingTimestamp" -> at(3L).toString)
    require(byTimestamp.exceptAll(byVersion).isEmpty &&
      byVersion.exceptAll(byTimestamp).isEmpty,
      "t67: the timestamp window must plan the same legs as the version range")
    byVersion
  }

  /** Identical text to [[t55Sql]]: the one-shot batch range read must
    * reproduce the drained stream bit-for-bit. */
  val t67Sql: String = t55Sql

  /** t68 — STREAMING incremental view maintenance (r12 — t66's
    * continuously-maintained twin, the Delta Live Tables topology):
    * the same aggregate is kept live by a `readChangeFeed` stream whose
    * every micro-batch MERGEs its SIGNED per-group deltas into a
    * materialized lake table (insert legs add, delete legs subtract —
    * counts as BIGINTs, the temperature sum as exact MICRO-unit integers,
    * the q111 micro-integer-state lesson: the source values are 6-dp
    * decimals, so ×10⁶ round-trips exactly and the running state never
    * re-orders float additions). After the drain the materialized table
    * must hash-equal the direct recompute (t66's oracle verbatim) —
    * stream-maintained ≡ batch-folded ≡ recomputed, the full IVM
    * triangle.
    *
    * Scale shape: each refresh costs O(changed files) read + an
    * aggregate-table-sized MERGE — the dashboard stays current without
    * ever rescanning the 100 TB source. */
  def t68StreamIvm(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t68")
    val ckpt = TempLakes.dir("graft_t68_ckpt")
    val _ = lakeRoot
    val t = twin(s).repartition(4, col("id")) // r15: t57's fixture file sizing
    t.writeTo("graft_t68.lake.src").create() // v1
    t.filter(col("id") < 700).withColumn("id", col("id") + lit(10L * TwinRows))
      .writeTo("graft_t68.lake.src").append() // v2
    s.sql("DELETE FROM graft_t68.lake.src WHERE id % 89 = 0") // v3: mor vectors
    s.sql("""UPDATE graft_t68.lake.src
             SET temperature = temperature + 1.0 WHERE id % 13 = 0""") // v4: cow
    s.sql("""CREATE TABLE graft_t68.lake.agg
             (day_idx BIGINT, is_anomaly INT, n_rows BIGINT, sum_micro BIGINT)
             USING graft""")
    val q = s.readStream.format(classOf[graft.sources.LakeSink].getName)
      .option("readChangeFeed", "true")
      .option("maxFilesPerTrigger", "4") // several refreshes; versions whole
      .load(s"$lakeRoot/src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val d = batch.localCheckpoint(true) // one pinned evaluation (t57)
        d.select(col("ts").cast("long").as("es"), col("is_anomaly"),
            col("temperature"),
            when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
              .as("sgn"))
          .select(expr("es div 86400").as("day_idx"), col("is_anomaly"),
            (round(col("temperature") * lit(1000000.0)).cast("long") * col("sgn"))
              .as("micro"), col("sgn"))
          .groupBy(col("day_idx"), col("is_anomaly"))
          .agg(sum(col("sgn")).as("dn"), sum(col("micro")).as("dm"))
          .createOrReplaceTempView("graft_t68_deltas")
        ss.sql("""MERGE INTO graft_t68.lake.agg a USING graft_t68_deltas d
                  ON a.day_idx = d.day_idx AND a.is_anomaly = d.is_anomaly
                  WHEN MATCHED THEN UPDATE SET
                    n_rows = a.n_rows + d.dn, sum_micro = a.sum_micro + d.dm
                  WHEN NOT MATCHED THEN INSERT
                    (day_idx, is_anomaly, n_rows, sum_micro)
                    VALUES (d.day_idx, d.is_anomaly, d.dn, d.dm)""")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_t68.lake.agg")
      .select(col("day_idx"), col("is_anomaly"), col("n_rows"),
        Num.r(col("sum_micro").cast("double") / lit(1000000.0), 6).as("sum_temp"))
      .orderBy(col("day_idx"), col("is_anomaly"))
  }

  /** Identical text to [[t66Sql]]: the stream-maintained table must
    * equal the direct recompute. */
  val t68Sql: String = t66Sql

  /** t69 — STREAMING `mergeSchema` AUTO-EVOLUTION under the differential
    * (r13: the r12 refusal lifted — `LakeSinkWrite.toStreaming` now routes
    * the option into the streaming commit's reconcileManifest, the same
    * path batch appends evolve through): the twin's first half STREAMS
    * into the lake WITHOUT the vibration column; the pipeline restarts on
    * the SAME checkpoint with the upstream evolved (vibration present)
    * under `.option("mergeSchema", "true")` — the first committed epoch
    * of the evolved run auto-ADD-COLUMNs (nullable, pre-evolution files
    * null-fill), and exactly-once holds across the restart (LakeSinkSpec
    * pins kill/restart bit-equality, redelivery-never-evolves, and the
    * without-option refusal). Read-back must hash-equal t63's DuckDB
    * restatement: vibration NULL on the first half.
    *
    * Scale shape: a long-running ingest pipeline whose upstream gains a
    * column evolves IN PLACE at restart — one manifest write at one
    * epoch, no stop/batch-evolve/restart dance, no file rewrite. */
  def t69StreamEvolve(s: SparkSession, dir: String): DataFrame = {
    val out = TempLakes.dir("graft_t69_lake")
    val ckpt = TempLakes.dir("graft_t69_ckpt")
    val half = TwinRows / 2
    def run(avail: Long, wide: Boolean): Unit = {
      val base = s.readStream.format("graft.sources.TelemetrySource")
        .option("rows", avail.toString).option("rowsPerBatch", "2500").load()
      val proj =
        if (wide) base.select(col("id"), col("ts"), col("machine_id"),
          col("temperature"), col("vibration"))
        else base.select(col("id"), col("ts"), col("machine_id"),
          col("temperature"))
      val q = proj.writeStream.format(classOf[graft.sources.LakeSink].getName)
        .option("path", out).option("checkpointLocation", ckpt)
        .option("mergeSchema", wide.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(half.toLong, wide = false)
    run(TwinRows.toLong, wide = true)
    s.read.format(classOf[graft.sources.LakeSink].getName).load(out)
      .orderBy(col("id"))
  }

  /** Identical text to [[t63Sql]]: the streaming evolution must land the
    * same table the batch mergeSchema lands. */
  val t69Sql: String = t63Sql

  /** t70 — CDC REPLICATION ACROSS SCHEMA EVOLUTION (r13: the DML flank of
    * the evolution story — `MERGE … WITH SCHEMA EVOLUTION`, Spark 4.1's
    * native clause resolved through the `AUTOMATIC_SCHEMA_EVOLUTION`
    * capability into [[graft.sources.GraftCatalog.alterTable]]): the
    * SOURCE table gains a column mid-history (create narrow → ALTER TABLE
    * ADD COLUMNS → wide append → mor DELETE), and a t57-style streaming
    * CDF replica FOLLOWS the evolution — the replica was deployed
    * pre-evolution (narrow schema) and its per-version insert MERGE
    * carries WITH SCHEMA EVOLUTION, so the first evolved leg auto-adds
    * the column instead of breaking the pipeline. Pre-evolution insert
    * legs null-fill the added column through the CDF reader (the typed
    * scanner reads by the live schema; absent keys are NULL). The replica
    * must hash-equal DuckDB's restatement of the final source state.
    *
    * Scale shape: a long-lived CDC pipeline survives upstream DDL with
    * ZERO manual intervention — one manifest write on the replica at the
    * evolving MERGE, cost still O(changed files) per version. */
  def t70CdcEvolve(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t70")
    val ckpt = TempLakes.dir("graft_t70_ckpt")
    val t = twin(s).repartition(4, col("id")) // r15: t57's fixture file sizing
    val half = TwinRows / 2
    val narrow = t.select(col("id"), col("ts"), col("machine_id"),
      col("temperature"))
    narrow.filter(col("id") < half).writeTo("graft_t70.lake.src").create() // v1
    s.sql("ALTER TABLE graft_t70.lake.src ADD COLUMNS (vibration DOUBLE)")
    t.filter(col("id") >= half)
      .select(col("id"), col("ts"), col("machine_id"), col("temperature"),
        col("vibration"))
      .writeTo("graft_t70.lake.src").append() // v2: wide
    s.sql("DELETE FROM graft_t70.lake.src WHERE id % 89 = 0") // v3: mor vectors
    narrow.limit(0).writeTo("graft_t70.lake.rep").create() // PRE-evolution replica
    val q = s.readStream.format(classOf[graft.sources.LakeSink].getName)
      .option("readChangeFeed", "true")
      .option("maxFilesPerTrigger", "8")
      .load(s"$lakeRoot/src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val b = batch.localCheckpoint(true) // one pinned evaluation (t57)
        val versions = b.select(col("_commit_version")).distinct()
          .collect().map(_.getLong(0)).sorted
        versions.foreach { v =>
          val dels = b.filter(col("_commit_version") === v &&
            col("_change_type") === "delete").select(col("id"))
          if (!dels.isEmpty) {
            dels.createOrReplaceTempView("graft_t70_dels")
            ss.sql("""MERGE INTO graft_t70.lake.rep r USING graft_t70_dels d
                      ON r.id = d.id WHEN MATCHED THEN DELETE""")
          }
          val ins = b.filter(col("_commit_version") === v &&
            col("_change_type") === "insert")
            .drop("_change_type", "_commit_version")
          if (!ins.isEmpty) {
            ins.createOrReplaceTempView("graft_t70_ins")
            ss.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_t70.lake.rep r
                      USING graft_t70_ins i ON r.id = i.id
                      WHEN NOT MATCHED THEN INSERT *""")
          }
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_t70.lake.rep")
      .select(col("id"), col("ts"), col("machine_id"), col("temperature"),
        col("vibration"))
      .orderBy(col("id"))
  }

  val t70Sql: String =
    s"""SELECT id, ts, machine_id, temperature,
         CASE WHEN id >= ${TwinRows / 2} THEN vibration END AS vibration
       FROM ($twinSql) WHERE id % 89 <> 0 ORDER BY id"""

  /** t71 — NDV LEDGER → COST-BASED BROADCAST under the differential
    * (r13: [[graft.sources.LakeSinkStats]]'s opt-in `ndvColumns` — the
    * parquet distinct_count / Delta column-stats role): events land in a
    * lake table with per-file HLL registers on `user_id`/`event_id`; the
    * scan's `estimateStatistics` folds them (elementwise max — exact for
    * any pruned subset) into V2 `columnStats`, so under
    * `spark.sql.cbo.enabled` the equality-filtered build side estimates
    * rows/NDV instead of its full scan size and the join plans as a
    * BroadcastHashJoin (asserted in-query; LakeStatsSpec pins the
    * control leg: the same join WITHOUT registers stays sort-merge, the
    * estimates land within 10%, and compaction's fold preserves them).
    * The HASH is estimate-invariant: the result must equal DuckDB's
    * plain restatement.
    *
    * Scale shape: join ORDER and broadcast decisions on a 100 TB lake
    * stop flying blind for one Base64 register set per (file, column) —
    * the decision input is driver-side metadata, zero data reads. */
  def t71NdvBroadcast(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t71")
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.format(classOf[graft.sources.LakeSink].getName)
      .mode("append").option("ndvColumns", "user_id,event_id")
      .save(s"$lakeRoot/t71")
    withConfs(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "65536") {
      val fact = s.read.format(classOf[graft.sources.LakeSink].getName)
        .load(s"$lakeRoot/t71")
      val dim = fact.filter(col("user_id") === 7L).select(col("event_id"))
      val joined = fact.join(dim, "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), Num.rsum(col("value"), 6).as("sum_v"))
        .orderBy(col("event_type"))
      val out = joined.localCheckpoint(true) // pin before the conf restore
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        s"t71: the NDV estimate must broadcast the filtered side:\n${plan.take(900)}")
      out
    }
  }

  /** t72 — PARTITION-SCOPED Z-ORDER under the differential (r13:
    * [[graft.sources.LakeMaintenance.zorder]]'s `partitions` scope —
    * the `OPTIMIZE … WHERE … ZORDER BY` compose): events land
    * day-partitioned (`days(ts)`), then ONE day's directory is
    * z-clustered on (user_id, value) through the rewrite commit
    * compaction shares — untouched days' files survive bit-identically, ledgers
    * hand off per directory, the pre-rewrite snapshot stays readable
    * (LakeStatsSpec pins the byte-identity, the skip-rate improvement,
    * and the identity-column/unknown-key refusals). The aggregate below
    * is t60's and the HASH is layout-invariant: clustering one
    * partition must not move a single value.
    *
    * Scale shape: you z-order YESTERDAY'S partition when its stream
    * closes — one partition-sized shuffle instead of a table-sized one;
    * the other 100 TB of days are not even listed. */
  def t72ScopedZorder(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t72")
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .writeTo("graft_t72.lake.ev")
      .partitionedBy(org.apache.spark.sql.functions.days(col("ts"))).create()
    val (fin, fout) = graft.sources.LakeMaintenance.zorder(s, s"$lakeRoot/ev",
      Seq("user_id", "value"), 4, Map("ts_day" -> "2024-01-08"))
    require(fin >= 1 && fout >= 1, s"t72: scope must rewrite ($fin -> $fout)")
    s.table("graft_t72.lake.ev")
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .select(col("ts").cast("long").as("es"), col("user_id"), col("value"))
      .select(expr("es div 86400").as("day_idx"), col("user_id"), col("value"))
      .groupBy(col("day_idx"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Num.rsum(col("value"), 6).as("sum_v"))
      .orderBy(col("day_idx"))
  }

  /** Identical text to [[t60Sql]]: the scoped rewrite must be
    * result-invisible. */
  val t72Sql: String = t60Sql

  /** t73 — SHALLOW CLONE under the differential (r13:
    * [[graft.sources.LakeMaintenance.clone]] — the Delta SHALLOW CLONE
    * role with a hard-link ownership rule: every live file links into
    * the clone, so each table owns its OWN directory entries and an
    * inode lives while either references it): the twin table is cloned,
    * then the SOURCE is deleted-from, updated, compacted, and FULLY
    * vacuumed — and the clone must still hash-equal t04's generator
    * oracle exactly (LakeVersionSpec pins the shared-inode zero-copy
    * claim, ledger carry, both independence directions, and the
    * existing-destination refusal).
    *
    * Scale shape: branching a 100 TB table for an experiment is
    * O(#files) driver-side link calls and ZERO data bytes; no vacuum
    * coordination debt between the branches, ever. */
  def t73ShallowClone(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t73")
    twin(s).writeTo("graft_t73.lake.src").create()
    val n = graft.sources.LakeMaintenance.clone(s, s"$lakeRoot/src", s"$lakeRoot/cl")
    require(n >= 1, "t73: clone must link at least one file")
    // mutate + compact + FULLY vacuum the source — the clone keeps the
    // original bytes through its own directory entries
    s.sql("DELETE FROM graft_t73.lake.src WHERE id % 3 = 0")
    s.sql("UPDATE graft_t73.lake.src SET temperature = 0.0 WHERE id % 5 = 0")
    graft.sources.LakeMaintenance.compact(s, s"$lakeRoot/src")
    graft.sources.LakeMaintenance.vacuum(s"$lakeRoot/src")
    s.table("graft_t73.lake.cl").orderBy(col("id"))
  }

  /** Identical text to [[t04Sql]]: the clone must be the pre-mutation
    * source, bit for bit. */
  val t73Sql: String = t04Sql

  /** t74 — SQL-CALLABLE MAINTENANCE under the differential (r13:
    * [[graft.sources.GraftProcedures]] — Spark 4.1's native
    * ProcedureCatalog, the Iceberg `CALL cat.system.…` contract): the
    * twin lands in two commits, then the WHOLE maintenance cycle runs
    * from pure SQL — `CALL …compact`, a mor DELETE, `CALL …restore`
    * back to the compacted version, `CALL …vacuum(keep_last => 2)` —
    * and the read-back must still equal t04's generator oracle exactly
    * (GraftCatalogSpec pins the per-procedure result rows, scoped
    * compaction, CALL-clone independence, SHOW PROCEDURES, and the
    * unknown-procedure/missing-table refusals).
    *
    * Scale shape: maintenance is SCHEDULED work — an orchestrator
    * speaking SQL runs the compact/vacuum cadence with no JVM access;
    * this is the operational surface over the existing engine. */
  def t74CallMaintenance(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t74")
    val _ = lakeRoot
    val t = twin(s)
    t.filter(col("id") % 2 === 0).writeTo("graft_t74.lake.t74").create() // v1
    t.filter(col("id") % 2 === 1).writeTo("graft_t74.lake.t74").append() // v2
    s.sql("CALL graft_t74.system.compact('t74')") // v3
    s.sql("DELETE FROM graft_t74.lake.t74 WHERE id % 7 = 0") // v4: mor vectors
    s.sql("CALL graft_t74.system.restore('t74', 3)") // v5: deletion undone
    // CALL-driven Z-ORDER joins the cycle (r14, verdict #6): result-row
    // counts pinned exactly — the pre-zorder state is one compacted
    // file, the rewrite lands the requested two
    val z = s.sql(
      "CALL graft_t74.system.zorder('t74', 'temperature,vibration', n_files => 2)")
      .collect()
    require(z.length == 1 && z(0).getInt(0) == 1 && z(0).getInt(1) == 2,
      s"t74: zorder counts must be (1 -> 2), got ${z.mkString(";")}")
    s.sql("CALL graft_t74.system.vacuum('t74', keep_last => 2)")
    s.table("graft_t74.lake.t74").orderBy(col("id"))
  }

  /** Identical text to [[t04Sql]]: the CALL-driven cycle must be
    * data-invisible. */
  val t74Sql: String = t04Sql

  /** t75 — TABLE PROPERTIES as per-table write defaults (r13: stored
    * TBLPROPERTIES in [[graft.sources.LakeManifest]]'s `props`, the
    * manifest's `tblprops` field — the Delta table-properties role;
    * previously the engine silently DROPPED them): the table is created once with
    * `graft.ndvColumns`, every PLAIN catalog append inherits the NDV
    * registers (no per-write options anywhere), and t71's CBO broadcast
    * flip works off the property-configured ledger alone (asserted
    * in-query). GraftCatalogSpec pins SHOW TBLPROPERTIES round-trip,
    * SET/UNSET, DDL-time validation of graft.* keys, the
    * dangling-reference RENAME refusal, explicit-option override, and
    * property travel through clones.
    *
    * Scale shape: ledger configuration is declared ONCE at CREATE and
    * every writer (batch/streaming/CTAS) inherits it — at 100 TB you
    * cannot rely on every producer passing the right options. */
  def t75PropsDefaults(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t75")
    val _ = lakeRoot
    s.sql("""CREATE TABLE graft_t75.lake.ev
             (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)
             TBLPROPERTIES ('graft.ndvColumns'='user_id,event_id')""")
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .writeTo("graft_t75.lake.ev").append() // plain append, zero options
    withConfs(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "65536") {
      val fact = s.table("graft_t75.lake.ev")
      val dim = fact.filter(col("user_id") === 7L).select(col("event_id"))
      val joined = fact.join(dim, "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), Num.rsum(col("value"), 6).as("sum_v"))
        .orderBy(col("event_type"))
      val out = joined.localCheckpoint(true)
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        s"t75: property-inherited NDV must broadcast the filtered side:\n${plan.take(900)}")
      out
    }
  }

  /** Identical text to [[t71Sql]]: the property-configured ledger must
    * produce the same answer the per-write options produce. */
  lazy val t75Sql: String = t71Sql

  val t71Sql: String =
    s"""SELECT e.event_type, count(*) AS n_events,
         ${Num.rsumSql("e.value", 6)} AS sum_v
       FROM events e
       JOIN (SELECT event_id FROM events WHERE user_id = 7) d
         ON e.event_id = d.event_id
       GROUP BY e.event_type ORDER BY e.event_type"""

  /** The two stored-view layers of t76, as text shared verbatim between
    * the Spark CREATE VIEW statements and the DuckDB oracle's CTEs —
    * composition through the catalog cannot drift from the inline SQL. */
  private def t76CleanOver(tbl: String): String =
    s"SELECT user_id, event_type, value FROM $tbl WHERE user_id % 5 <> 0"
  private def t76RollupOver(src: String): String =
    s"""SELECT event_type, count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         CAST(${Num.rsumSql("value", 6)} AS DOUBLE) AS sum_v
       FROM $src GROUP BY event_type"""

  /** t76 — STORED VIEWS under the differential (r14:
    * [[graft.sources.GraftViews]] through Spark 4.1's native ViewCatalog
    * API + the graft.plans.GraftViewRules wiring — the API ships with
    * ZERO engine consumers, so the parser hook routes the DDL and a
    * resolution rule substitutes the stored text): the events table
    * lands in a temp lake, TWO stacked views are created from pure SQL
    * (filter view, then an aggregate view with stored column aliases
    * over it), and a query through the TOP view must hash-equal the
    * fully-inlined text over the raw parquet. GraftViewSpec pins SHOW
    * VIEWS, nesting, OR REPLACE, drop/rename dependency refusals, cycle
    * refusal, the table/view shared name space, and the evolution
    * contract (added base columns flow; renamed ones fail loudly).
    *
    * Scale shape: a view is O(bytes of SQL) catalog state — the
    * substituted plan gets the SAME pushdown/pruning the inline text
    * gets (the spec pins the filter reaching the scan), so the 100 TB
    * cost model of a query does not change by being named. */
  def t76StoredView(s: SparkSession, dir: String): DataFrame = {
    // view resolution lives in session EXTENSIONS (spark.sql.extensions
    // is read once at session build — it cannot be set per query like
    // the catalog confs): fail with the remedy instead of a confusing
    // ResolveSessionCatalog error if the session lacks them (review r14;
    // Verify/Bench/Explain and the test session all set the conf)
    require(s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.isInstanceOf[graft.plans.GraftViewSqlParser],
      "t76 needs the view extensions: build the session with " +
        ".config(\"spark.sql.extensions\", \"graft.plans.GraftViewExtensions\")")
    val lakeRoot = TempLakes.catalog(s, "t76")
    val _ = lakeRoot
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .writeTo("graft_t76.lake.ev").create()
    s.sql(s"CREATE VIEW graft_t76.lake.v_clean AS ${t76CleanOver("graft_t76.lake.ev")}")
    s.sql(s"CREATE VIEW graft_t76.lake.v_rollup AS ${t76RollupOver("graft_t76.lake.v_clean")}")
    s.sql("""SELECT event_type, n_events, n_users, sum_v
             FROM graft_t76.lake.v_rollup ORDER BY event_type""")
  }

  /** The same two layers inlined as CTEs over the raw events table. */
  lazy val t76Sql: String =
    s"""WITH v_clean AS (${t76CleanOver("events")}),
         v_rollup AS (${t76RollupOver("v_clean")})
       SELECT event_type, n_events, n_users, sum_v
       FROM v_rollup ORDER BY event_type"""

  /** t77 — COLUMN DEFAULT VALUES under the differential (r14: Spark
    * 4.1's SUPPORT_COLUMN_DEFAULT_VALUE wired to the manifest's
    * `defaults` field): slice A of events lands BEFORE the column
    * exists (its files never carry `tag` — the scanner's EXISTS-default
    * fill serves 'legacy' at read), `ALTER TABLE ADD COLUMN tag STRING
    * DEFAULT 'legacy'` evolves the table, slice B arrives through a SQL
    * INSERT that OMITS the column (the engine folds the CURRENT default
    * into the plan — materialized in files), and slice C appends
    * explicit per-row tags. The grouped read-back must equal the CASE
    * reconstruction over raw parquet. LakeDefaultsSpec pins the exact
    * fill values, explicit-null preservation, CDF legs carrying the
    * default, compaction/ledger soundness (fresh stats see the FILL,
    * not nulls), rename/widening travel, and the SET DEFAULT /
    * partition-default refusals.
    *
    * Scale shape: backfill semantics as METADATA — declaring a default
    * rewrites zero of the 100 TB of pre-evolution files, yet every
    * reader (batch, CDF, constraint validation, compaction stats) sees
    * the declared value. */
  def t77ColumnDefaults(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t77")
    val _ = lakeRoot
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 3 === 0)
      .writeTo("graft_t77.lake.ev").create() // v1: files without 'tag'
    s.sql("ALTER TABLE graft_t77.lake.ev ADD COLUMN tag STRING DEFAULT 'legacy'")
    s.sql(s"""INSERT INTO graft_t77.lake.ev (event_id, user_id, event_type, value)
              SELECT event_id, user_id, event_type, value
              FROM parquet.`$dir/events.parquet` WHERE event_id % 3 = 1""")
    ev.filter(col("event_id") % 3 === 2)
      .withColumn("tag", concat(lit("t:"), col("event_type")))
      .writeTo("graft_t77.lake.ev").append()
    s.table("graft_t77.lake.ev")
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Num.rsum(col("value"), 6).as("sum_v"))
      .orderBy(col("tag"))
  }

  /** t81 — MERGE … WHEN NOT MATCHED BY SOURCE under the differential
    * (r14, beyond the verdict): the full three-clause MERGE a replica
    * SYNC job runs — matched rows UPDATE, source-only rows INSERT, and
    * target rows the source no longer carries DELETE — through the
    * connector's group-based ReplaceData (Spark rewrites all three
    * clauses into one replace; the BY SOURCE leg is the one t37 didn't
    * exercise). The target starts as a SKEWED superset (stale values on
    * a third of rows, a stale tail the source dropped), the source is
    * the clean half — post-MERGE the table must equal the source
    * exactly, which only holds if all three legs fired.
    *
    * Scale shape: same as t37 — the rewrite touches exactly the file
    * groups holding matched/target-only rows; pushed predicates shrink
    * the group set, untouched files survive bit-identically. */
  def t81MergeBySource(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t81")
    val _ = lakeRoot
    val t = twin(s)
    // target: ids < 3/4 of the twin, a third of them with STALE values
    t.filter(col("id") % 4 =!= 3)
      .withColumn("temperature",
        when(col("id") % 3 === 0, lit(0.0)).otherwise(col("temperature")))
      .writeTo("graft_t81.lake.t81").create()
    // source: the even-id half of the TRUE twin
    t.filter(col("id") % 2 === 0).createOrReplaceTempView("graft_t81_src")
    s.sql("""MERGE INTO graft_t81.lake.t81 t USING graft_t81_src s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *
             WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    s.table("graft_t81.lake.t81")
      .select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy(col("id"))
  }

  /** The replica-sync law: after the three-clause MERGE the table IS the
    * source. */
  val t81Sql: String =
    s"""WITH t AS MATERIALIZED ($twinSql)
       SELECT id, ts, machine_id, is_anomaly, temperature, vibration
       FROM t WHERE id % 2 = 0 ORDER BY id"""

  /** t82 — ANALYZE TABLE stats backfill under the differential (r14:
    * [[graft.sources.LakeMaintenance.analyze]] behind BOTH SQL surfaces —
    * Spark's native `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`
    * (rerouted by the parser hook: the engine's own AnalyzeColumn plan is
    * session-catalog-only) and `CALL graft.system.analyze`): the table is
    * created with ZERO stats options — the retrofit case every warehouse
    * hits — then ANALYZE backfills NDV registers over the already-written
    * files with one linear pass, and t71's CBO broadcast flip must work
    * off the RETROFITTED ledger (asserted in-query). The second in-query
    * pin is idempotence: a CALL requesting the SAME coverage reports
    * (0 analyzed, all skipped) — re-running ANALYZE is a metadata no-op.
    * GraftAnalyzeSpec pins bounds/hist/bloom backfill, the coverage
    * union, snapshot isolation (pre-analyze versions keep their recorded
    * ledgers), and the partition-column/NOSCAN/view refusals.
    *
    * Scale shape: the CBO is only as good as its ledger coverage, and a
    * table loaded before anyone set `graft.ndvColumns` has none —
    * ANALYZE retrofits exactly the uncovered files (one distributed
    * linear pass, no rewrite), instead of "reload 100 TB with the right
    * options". */
  def t82AnalyzeTable(s: SparkSession, dir: String): DataFrame = {
    // ANALYZE routing lives in the parser hook (see t76's remedy note)
    require(s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.isInstanceOf[graft.plans.GraftViewSqlParser],
      "t82 needs the view extensions: build the session with " +
        ".config(\"spark.sql.extensions\", \"graft.plans.GraftViewExtensions\")")
    val lakeRoot = TempLakes.catalog(s, "t82")
    val _ = lakeRoot
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .writeTo("graft_t82.lake.ev").create() // zero stats options
    s.sql("ANALYZE TABLE graft_t82.lake.ev COMPUTE STATISTICS " +
      "FOR COLUMNS user_id, event_id")
    val a = s.sql(
      "CALL graft_t82.system.analyze('ev', ndv_cols => 'user_id,event_id')")
      .collect()
    require(a.length == 1 && a(0).getInt(0) == 0 && a(0).getInt(1) >= 1,
      s"t82: re-analyze must skip every covered file, got ${a.mkString(";")}")
    withConfs(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "65536") {
      val fact = s.table("graft_t82.lake.ev")
      val dim = fact.filter(col("user_id") === 7L).select(col("event_id"))
      val joined = fact.join(dim, "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), Num.rsum(col("value"), 6).as("sum_v"))
        .orderBy(col("event_type"))
      val out = joined.localCheckpoint(true)
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        s"t82: ANALYZE-retrofitted NDV must broadcast the filtered side:\n${plan.take(900)}")
      out
    }
  }

  /** Identical text to [[t71Sql]]: statistics may only change PLANS. */
  lazy val t82Sql: String = t71Sql

  /** t80 — NAMED VERSION REFS (TAGS) under the differential (r14,
    * verdict #10 stretch: [[graft.sources.LakeMaintenance.tag]] — the
    * Iceberg tag / Delta named-snapshot role, vacuum interaction
    * designed first): the twin lands as v1, `CALL graft.system.tag`
    * pins it under 'golden', a cow DELETE then RETIRES v1's files, and
    * a FULL `CALL …vacuum` sweeps everything untagged — yet
    * `VERSION AS OF 'golden'` must still hash-equal t04's generator
    * oracle exactly (the tag pinned both the record and the retired
    * bytes; LakeVersionSpec pins name≡number resolution on catalog AND
    * path forms, post-vacuum value-exactness, immutability/shadow-name/
    * missing-version refusals, and drop_tag → reclaim → re-tag).
    *
    * Scale shape: a tag is one ledger entry — pinning a 100 TB snapshot
    * for audit/repro costs zero copied bytes and zero vacuum
    * coordination; consumers address it by NAME, not by hunting commit
    * ids. */
  def t80VersionTags(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t80")
    val _ = lakeRoot
    twin(s).writeTo("graft_t80.lake.t80").create() // v1
    s.sql("CALL graft_t80.system.tag('t80', 'golden')") // pin the latest (v1)
    s.sql("DELETE FROM graft_t80.lake.t80 WHERE id % 3 = 0") // v2: retires v1 files
    s.sql("CALL graft_t80.system.vacuum('t80')") // full wipe except latest + tag
    s.sql("SELECT * FROM graft_t80.lake.t80 VERSION AS OF 'golden'")
      .orderBy(col("id"))
  }

  /** Identical text to [[t04Sql]]: the tagged snapshot is the
    * pre-mutation twin, bit for bit, through a full vacuum. */
  val t80Sql: String = t04Sql

  /** t79 — HISTOGRAM COLUMN STATISTICS under the differential (r14: the
    * per-file aligned-grid histograms of [[graft.sources.LakeSinkStats]],
    * served as equi-height bins through `columnStats().histogram()`): a
    * SKEWED key column (90% one hot value) lands via the
    * `graft.histogramColumns` table property, and the in-query requires
    * pin the configured effect at every scale — the optimizer's hot-key
    * row estimate lands within 2× of the true count (NDV alone is ~45×
    * under), and the hot-slice self-join stays OFF the broadcast path
    * (the misestimate-guard; LakeStatsSpec pins the misled NDV-only
    * control leg, the range estimate, the compaction fold, and the
    * string-axis refusal; PropertySpec pins the exact merge law). The
    * HASH is estimate-invariant: statistics may only change plans.
    *
    * Scale shape: selectivity estimation is O(buckets) driver-side
    * metadata folded over the PRUNED file set — at 100 TB the difference
    * between broadcasting 90% of a fact table and sort-merging it is the
    * difference between an OOM'd driver and a plan. */
  def t79HistogramStats(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t79")
    val _ = lakeRoot
    s.sql("""CREATE TABLE graft_t79.lake.ev
             (event_id BIGINT, sk BIGINT, event_type STRING, value DOUBLE)
             TBLPROPERTIES ('graft.histogramColumns'='sk',
                            'graft.ndvColumns'='sk')""")
    Tables.events(s, dir)
      .select(col("event_id"),
        when(col("event_id") % 10 =!= 0, lit(7L))
          .otherwise(lit(100L) + col("user_id") % 50).as("sk"),
        col("event_type"), col("value"))
      .writeTo("graft_t79.lake.ev").append()
    // 4096: small enough that the INFORMED hot-slice size (~20 B/row x
    // >=900 rows at sf0.001) stays above it at every scale, while the
    // NDV-only misestimate (~20 rows) would dive under it — the spec's
    // control leg pins that misled broadcast
    withConfs(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "4096") {
      val fact = s.table("graft_t79.lake.ev")
      val hot = fact.filter(col("sk") === 7L)
      val truth = hot.count()
      val est = hot.queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(BigInt(-1))
      require(est >= truth / 2 && est <= truth * 2,
        s"t79: histogram hot-key estimate $est vs truth $truth (>2x off)")
      val joined = fact.join(
        hot.select(col("event_id"), col("sk").as("sk2")), "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), Num.rsum(col("value"), 6).as("sum_v"))
        .orderBy(col("event_type"))
      val out = joined.localCheckpoint(true)
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastHashJoin"),
        s"t79: the histogram must keep the hot slice off the broadcast " +
          s"path:\n${plan.take(900)}")
      out
    }
  }

  /** The skewed-key join reconstructed over raw parquet. */
  lazy val t79Sql: String =
    s"""WITH f AS (SELECT event_id, event_type, value,
           CASE WHEN event_id % 10 <> 0 THEN 7
                ELSE 100 + user_id % 50 END AS sk
         FROM events)
       SELECT f.event_type, count(*) AS n_events,
         ${Num.rsumSql("f.value", 6)} AS sum_v
       FROM f JOIN (SELECT event_id FROM f WHERE sk = 7) h
         ON f.event_id = h.event_id
       GROUP BY f.event_type ORDER BY f.event_type"""

  /** t78 — IDEMPOTENT WRITER COMMITS under the differential (r14:
    * Delta's `txnAppId`/`txnVersion` pair on [[graft.sources.LakeSink]]
    * batch appends): each half of events is appended TWICE with the same
    * (appId, version) — the foreachBatch crash-replay shape — and the
    * replays must be observable NO-OPS (asserted in-query: exactly two
    * committed versions) leaving zero duplicate rows. The mechanism is
    * the streaming-epoch trick applied to batch writes: deterministic
    * (appId, version, partition) file names make a crash-interrupted
    * commit CONVERGE on re-promote, and a `txn-<app>-<version>` marker
    * written last makes a completed commit's replay discard before
    * touching anything. LakeSinkSpec pins the no-op (zero dup rows AND
    * no new version record), the crash-before-marker convergence, the
    * planted foreachBatch crash-replay, and the refusals (lone option,
    * non-append modes, streaming writes, unsafe appId).
    *
    * Scale shape: a replayed ingestion job against a 100 TB table is a
    * metadata no-op — one marker stat — instead of a silent double-load
    * that only a full-table dedup could undo. */
  def t78IdempotentAppend(s: SparkSession, dir: String): DataFrame = {
    val lakeRoot = TempLakes.catalog(s, "t78")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    def appendTxn(v: Long, df: DataFrame): Unit =
      df.write.format("graft.sources.LakeSink").mode("append")
        .option("txnAppId", "loader").option("txnVersion", v.toString)
        .save(s"$lakeRoot/ev")
    appendTxn(1, ev.filter(col("event_id") % 2 === 0))
    appendTxn(1, ev.filter(col("event_id") % 2 === 0)) // crash replay: no-op
    appendTxn(2, ev.filter(col("event_id") % 2 === 1))
    appendTxn(2, ev.filter(col("event_id") % 2 === 1)) // replayed too
    val vs = graft.sources.LakeSinkFiles.listVersions(s"$lakeRoot/ev")
    require(vs.size == 2,
      s"t78: replays must be version-invisible — expected 2 commits, got ${vs.size}")
    s.table("graft_t78.lake.ev").orderBy(col("event_id"))
  }

  /** Raw projection — the doubled loads must be invisible. */
  val t78Sql: String =
    "SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id"

  /** The default reconstructed as a CASE over the raw table. */
  lazy val t77Sql: String =
    s"""SELECT CASE WHEN event_id % 3 = 2 THEN concat('t:', event_type)
                    ELSE 'legacy' END AS tag,
         count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         ${Num.rsumSql("value", 6)} AS sum_v
       FROM events GROUP BY 1 ORDER BY tag"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t82_analyze_table" -> (t82AnalyzeTable _),
    "t81_merge_by_source" -> (t81MergeBySource _),
    "t80_version_tags" -> (t80VersionTags _),
    "t79_histogram_stats" -> (t79HistogramStats _),
    "t78_idempotent_append" -> (t78IdempotentAppend _),
    "t77_column_defaults" -> (t77ColumnDefaults _),
    "t76_stored_view" -> (t76StoredView _),
    "t75_props_defaults" -> (t75PropsDefaults _),
    "t74_call_maintenance" -> (t74CallMaintenance _),
    "t73_shallow_clone" -> (t73ShallowClone _),
    "t72_scoped_zorder" -> (t72ScopedZorder _),
    "t71_ndv_broadcast" -> (t71NdvBroadcast _),
    "t70_cdc_evolve" -> (t70CdcEvolve _),
    "t69_stream_evolve" -> (t69StreamEvolve _),
    "t68_stream_ivm" -> (t68StreamIvm _),
    "t67_batch_cdf" -> (t67BatchCdf _),
    "t66_incremental_agg" -> (t66IncrementalAgg _),
    "t65_stream_temporal" -> (t65StreamTemporal _),
    "t64_partition_evolution" -> (t64PartitionEvolution _),
    "t63_merge_schema" -> (t63MergeSchema _),
    "t62_bloom_lookup" -> (t62BloomLookup _),
    "t61_check_constraint" -> (t61CheckConstraint _),
    "t60_temporal_partition" -> (t60TemporalPartition _),
    "t59_restore" -> (t59Restore _),
    "t58_sorted_spj" -> (t58SortedSpj _),
    "t57_cdc_replicate" -> (t57CdcReplicate _),
    "t56_type_widening" -> (t56TypeWidening _),
    "t55_stream_cdf" -> (t55StreamCdf _),
    "t54_schema_evolution" -> (t54SchemaEvolution _),
    "t53_bucket_join" -> (t53BucketJoin _),
    "t52_snapshot_agg" -> (t52SnapshotAgg _),
    "t51_stream_upsert" -> (t51StreamUpsert _),
    "t50_mor_delete" -> (t50MorDelete _),
    "t49_null_ledger" -> (t49NullLedger _),
    "t48_meta_partitions" -> (t48MetaPartitions _),
    "t47_dynamic_overwrite" -> (t47DynamicOverwrite _),
    "t46_show_partitions" -> (t46ShowPartitions _),
    "t45_partition_rollup" -> (t45PartitionRollup _),
    "t43_stats_metrics" -> (t43StatsMetrics _),
    "t44_zorder" -> (t44Zorder _),
    "t42_count_pushdown" -> (t42CountPushdown _),
    "t39_time_travel" -> (t39TimeTravel _),
    "t40_compaction" -> (t40Compaction _),
    "t41_version_changes" -> (t41VersionChanges _),
    "t33_partitioned_sink" -> (t33PartitionedSink _),
    "t34_session_window" -> (t34SessionWindow _),
    "t35_partition_delete" -> (t35PartitionDelete _),
    "t36_stream_to_table" -> (t36StreamToTable _),
    "t37_merge_into" -> (t37MergeInto _),
    "t38_stream_from_table" -> (t38StreamFromTable _),
    "t31_sink_roundtrip" -> (t31SinkRoundtrip _),
    "t32_oee" -> (t32Oee _),
    "t23_changepoint" -> (t23Changepoint _),
    "t22_heartbeat" -> (t22Heartbeat _),
    "t21_burn_rate" -> (t21BurnRate _),
    "t17_interval_join" -> (t17IntervalJoin _),
    "t18_interval_join_left" -> (t18IntervalJoinLeft _),
    "t15_ewma" -> (t15Ewma _),
    "t14_topk_udaf" -> (t14TopkUdaf _),
    "t13_forward_fill" -> (t13ForwardFill _),
    "t01_json_extract" -> (t01JsonExtract _),
    "t02_hourly_rollup" -> (t02HourlyRollup _),
    "t03_latest_per_key" -> (t03LatestPerKey _),
    "t04_generator_twin" -> (t04GeneratorTwin _),
    "t05_threshold_eval" -> (t05ThresholdEval _),
    "t06_alert_format" -> (t06AlertFormat _),
    "t07_spike_detect" -> (t07SpikeDetect _),
    "t08_sessionize" -> (t08Sessionize _),
    "t19_kaplan_meier" -> (t19KaplanMeier _),
    "t24_nelson_aalen" -> (t24NelsonAalen _),
    "t25_gap_interpolate" -> (t25GapInterpolate _),
    "t26_episode_merge" -> (t26EpisodeMerge _),
    "t27_reliability" -> (t27Reliability _),
    "t28_downtime_pareto" -> (t28DowntimePareto _),
    "t29_seasonal_anomaly" -> (t29SeasonalAnomaly _),
    "t30_logrank" -> (t30LogRank _),
    "t09_props_stats" -> (t09PropsStats _))

  val oracles: Map[String, String] = Map(
    "t82_analyze_table" -> t82Sql,
    "t81_merge_by_source" -> t81Sql,
    "t80_version_tags" -> t80Sql,
    "t79_histogram_stats" -> t79Sql,
    "t78_idempotent_append" -> t78Sql,
    "t77_column_defaults" -> t77Sql,
    "t76_stored_view" -> t76Sql,
    "t75_props_defaults" -> t75Sql,
    "t74_call_maintenance" -> t74Sql,
    "t73_shallow_clone" -> t73Sql,
    "t72_scoped_zorder" -> t72Sql,
    "t71_ndv_broadcast" -> t71Sql,
    "t70_cdc_evolve" -> t70Sql,
    "t69_stream_evolve" -> t69Sql,
    "t68_stream_ivm" -> t68Sql,
    "t67_batch_cdf" -> t67Sql,
    "t66_incremental_agg" -> t66Sql,
    "t65_stream_temporal" -> t65Sql,
    "t64_partition_evolution" -> t64Sql,
    "t63_merge_schema" -> t63Sql,
    "t62_bloom_lookup" -> t62Sql,
    "t61_check_constraint" -> t61Sql,
    "t60_temporal_partition" -> t60Sql,
    "t59_restore" -> t59Sql,
    "t58_sorted_spj" -> t58Sql,
    "t57_cdc_replicate" -> t57Sql,
    "t56_type_widening" -> t56Sql,
    "t55_stream_cdf" -> t55Sql,
    "t54_schema_evolution" -> t54Sql,
    "t53_bucket_join" -> t53Sql,
    "t52_snapshot_agg" -> t52Sql,
    "t51_stream_upsert" -> t51Sql,
    "t50_mor_delete" -> t50Sql,
    "t49_null_ledger" -> t49Sql,
    "t48_meta_partitions" -> t48Sql,
    "t47_dynamic_overwrite" -> t47Sql,
    "t46_show_partitions" -> t46Sql,
    "t45_partition_rollup" -> t45Sql,
    "t43_stats_metrics" -> t43Sql,
    "t44_zorder" -> t44Sql,
    "t42_count_pushdown" -> t42Sql,
    "t39_time_travel" -> t39Sql,
    "t40_compaction" -> t40Sql,
    "t41_version_changes" -> t41Sql,
    "t33_partitioned_sink" -> t33Sql,
    "t34_session_window" -> t34Sql,
    "t35_partition_delete" -> t35Sql,
    "t36_stream_to_table" -> t36Sql,
    "t37_merge_into" -> t37Sql,
    "t38_stream_from_table" -> t38Sql,
    "t31_sink_roundtrip" -> t31Sql,
    "t32_oee" -> t32Sql,
    "t23_changepoint" -> t23Sql,
    "t22_heartbeat" -> t22Sql,
    "t21_burn_rate" -> t21Sql,
    "t17_interval_join" -> t17Sql,
    "t18_interval_join_left" -> t18Sql,
    "t15_ewma" -> t15Sql,
    "t14_topk_udaf" -> t14Sql,
    "t13_forward_fill" -> t13Sql,
    "t01_json_extract" -> t01Sql,
    "t02_hourly_rollup" -> t02Sql,
    "t03_latest_per_key" -> t03Sql,
    "t04_generator_twin" -> t04Sql,
    "t05_threshold_eval" -> t05Sql,
    "t06_alert_format" -> t06Sql,
    "t07_spike_detect" -> t07Sql,
    "t08_sessionize" -> t08Sql,
    "t19_kaplan_meier" -> t19Sql,
    "t24_nelson_aalen" -> t24Sql,
    "t25_gap_interpolate" -> t25Sql,
    "t26_episode_merge" -> t26Sql,
    "t27_reliability" -> t27Sql,
    "t28_downtime_pareto" -> t28Sql,
    "t29_seasonal_anomaly" -> t29Sql,
    "t30_logrank" -> t30Sql,
    "t09_props_stats" -> t09Sql)
}
